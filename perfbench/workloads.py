"""The benchmark's workloads. All are closed loop with one client: each
operation starts when the previous one has finished.

Each workload function takes a :class:`Ctx` and a size, runs set-up,
the measured phase and the correctness gates, and returns a
:class:`Result`. With a tracer in the context, the layers are wrapped
(see ``trace.py``) and the per-layer figures are filled in too.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from dexspark import gen, oracle, stream
from dexspark.config import EngineConfig
from dexspark.lake import LakeTable
from dexspark.operators.corpus import CorpusConfig
from dexspark.operators.corpus_sync import CorpusPipeline
from dexspark.schema import sequences_schema
from dexspark.stream import CdcEngine

from . import gates, qdata
from .host import ProcessMeter, Workdir
from .trace import Codegen, TracedFileIO, Tracer, patched_functions, planning_ms, wrap_method

# The production tail bench.py measures: merge-on-read MERGE with
# compaction once a bucket's delta depth reaches 8, plus snapshot
# retention as a long-running tail needs. Retention keeps more
# snapshots than one run commits, because the corpus refresh at the end
# of stream_tail reads the table's changes since its creation.
COMPACT_EVERY = 8
VACUUM_KEEP_LAST = 16
ANOMALY_PCT = 5
HOT_PCT = 20


@dataclass
class Ctx:
    spark: object
    work: Workdir
    seed: int
    jvm_pid: int
    tracer: Tracer | None = None


@dataclass
class Result:
    setup_s: list[float]
    op_s: list[float]
    work_s: float
    peak_rss_mb: float
    cpu_s: float
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    # per-layer figures, traced runs only
    layers: dict = field(default_factory=dict)
    # (start, end) epoch seconds of the measured phase, for the event log
    windows: list[tuple[float, float]] = field(default_factory=list)


def _engine_config(buckets: int) -> EngineConfig:
    return EngineConfig(
        num_buckets=buckets,
        merge_mode="mor",
        compact_every=COMPACT_EVERY,
        vacuum_keep_last=VACUUM_KEEP_LAST,
    )


def _io(ctx: Ctx):
    return TracedFileIO(ctx.tracer) if ctx.tracer else None


def _new_table(ctx: Ctx, name: str, docs: int, max_len: int, buckets: int) -> LakeTable:
    table = LakeTable.create(
        ctx.spark, ctx.work.path(name), sequences_schema(), num_buckets=buckets, io=_io(ctx)
    )
    table.overwrite(gen.base_sequences(ctx.spark, n_docs=docs, seed=ctx.seed, max_len=max_len))
    return table


def _base_state(ctx: Ctx, docs: int, max_len: int) -> dict[str, dict]:
    return oracle.state_from_rows(
        gen.base_sequences(ctx.spark, n_docs=docs, seed=ctx.seed, max_len=max_len).collect()
    )


def _write_binlog(ctx: Ctx, path: str, events: int, docs: int, epochs: int, max_len: int) -> list[str]:
    """One ndjson file per epoch, so one file is one trigger or window.
    The files' mtimes follow epoch order, as a sequential producer's
    would: the file source reads in mtime order, and the engine expects
    epochs to arrive in order (EngineConfig.epoch_marker_lag)."""
    files = gen.write_binlog(
        gen.change_events(
            ctx.spark,
            n_events=events,
            n_docs=docs,
            n_epochs=epochs,
            seed=ctx.seed,
            max_len=max_len,
            hot_pct=HOT_PCT,
            anomaly_pct=ANOMALY_PCT,
        ),
        path,
        files_per_epoch=1,
    )
    t0 = time.time() - len(files)
    for i, f in enumerate(files):
        os.utime(f, (t0 + i, t0 + i))
    return files


def _hot_skewed_keys(seed: int, docs: int, n: int) -> list[str]:
    """Lookup keys with the generator's skew: HOT_PCT% on the hottest
    1% of keys, the rest over the generator's whole key space (twice
    the base table, so some keys are absent)."""
    rng = random.Random(seed)
    hot = max(1, docs // 100)
    return [
        "doc%08d" % (rng.randrange(hot) if rng.randrange(100) < HOT_PCT else rng.randrange(2 * docs))
        for _ in range(n)
    ]


def _table_footprint(table: LakeTable) -> dict:
    m = table.manifest()
    files = [os.path.join(table.root, rel) for fs in m["buckets"].values() for rel in fs]
    depth = max(table.mor_buckets().values(), default=0)
    return {
        "lake.mor_depth_at_read": depth,
        "lake.files_live": len(files),
        "lake.bytes_live": sum(os.path.getsize(p) for p in files),
    }


def _quarantine_rows(ctx: Ctx, engine: CdcEngine) -> int:
    if not os.path.isdir(engine.quarantine_path):
        return 0
    return ctx.spark.read.parquet(engine.quarantine_path).count()


# ------------------------------------------------------------- tracing


def _trace_engine(tracer: Tracer, engine: CdcEngine, table: LakeTable) -> None:
    def batch_figures(sp, m):
        sp["attrs"].update(
            events_seen=m.events_seen,
            events_applied=m.events_applied,
            rejects=m.rejects,
            rows_merged=m.rows_merged,
            phase_ms=dict(m.phase_ms),
        )

    wrap_method(tracer, engine, "apply_batch", "stream", "stream.apply_batch", batch_figures)
    for method in ("merge", "compact", "vacuum", "mark_epochs"):
        wrap_method(tracer, table, method, "lake", f"lake.{method}")


def _lineage_patch(tracer: Tracer):
    return patched_functions(
        tracer,
        stream,
        {
            "write_quarantine": ("lineage", "lineage.write_quarantine"),
            "write_lineage_rows": ("lineage", "lineage.write_lineage_rows"),
        },
    )


def _cdc_layers(tracer: Tracer, ops: int, window: tuple[float, float]) -> dict:
    """stream / lake / lake.io / lineage figures from the spans that
    started inside ``window``, per operation where the metric is a time
    or a call count."""

    def named(name):
        return tracer.named(name, window)

    def total(name):
        return tracer.total(name, window)

    batches = named("stream.apply_batch")
    seen = sum(b["attrs"].get("events_seen", 0) for b in batches)
    applied = sum(b["attrs"].get("events_applied", 0) for b in batches)

    def phase(name):
        return sum(b["attrs"].get("phase_ms", {}).get(name, 0) for b in batches) / ops

    return {
        "stream.apply_s": total("stream.apply_batch") / ops,
        "stream.phase.scan_validate_dedup_ms": phase("scan_validate_dedup"),
        "stream.phase.merge_and_quarantine_ms": phase("merge_and_quarantine"),
        "stream.phase.sinks_ms": phase("sinks"),
        "stream.events_seen": seen,
        "stream.events_applied": applied,
        "stream.rejects": sum(b["attrs"].get("rejects", 0) for b in batches),
        "stream.rows_merged": sum(b["attrs"].get("rows_merged", 0) for b in batches),
        "stream.applied_ratio": applied / seen if seen else 0.0,
        "lake.merge_s": total("lake.merge") / ops,
        "lake.compact_s": total("lake.compact") / ops,
        "lake.compactions": len(named("lake.compact")),
        "lake.vacuum_s": total("lake.vacuum") / ops,
        "lake.mark_epochs_s": total("lake.mark_epochs") / ops,
        "lake.io.put_if_absent_calls": len(named("lake.io.put_if_absent")) / ops,
        "lake.io.put_if_absent_s": total("lake.io.put_if_absent") / ops,
        "lake.io.read_text_calls": len(named("lake.io.read_text")) / ops,
        "lake.io.list_dir_calls": len(named("lake.io.list_dir")) / ops,
        "lake.io.delete_calls": len(named("lake.io.delete")) / ops,
        "lineage.write_quarantine_s": total("lineage.write_quarantine") / ops,
        "lineage.write_lineage_rows_s": total("lineage.write_lineage_rows") / ops,
    }


# ----------------------------------------------------------- stream_tail


@dataclass(frozen=True)
class StreamSize:
    docs: int = 2_000
    # fewer than COMPACT_EVERY triggers: the reads meet MOR depth 4
    epochs: int = 4
    events_per_epoch: int = 500
    max_len: int = 64
    # 500 docs a bucket
    buckets: int = 4
    setups: int = 3
    lookups: int = 2
    scans: int = 1
    seq_len: int = 256


CORPUS_SPLITS = {"train": 1.0}
# The stages CorpusPipeline.sync reports in ``phase_sec``.
CORPUS_PHASES = (
    "window_read",
    "quality_exact",
    "near_dup",
    "decon_split_tokenize",
    "pack_write",
    "state_commits",
    "maintenance",
)


def stream_tail(ctx: Ctx, size: StreamSize) -> Result:
    """Resume a tail after an outage: replay a backlog of small epochs
    through the Structured Streaming tail, one epoch per trigger, then
    read the table it left (point lookups with the generator's key
    skew, full scans).

    A traced run then also refreshes the training corpus from the
    table's changes with one ``CorpusPipeline.sync`` over the token
    column, outside the measured phase (see :func:`_corpus_refresh`)."""
    spark, tracer = ctx.spark, ctx.tracer
    events = size.epochs * size.events_per_epoch
    binlog = ctx.work.path("binlog")
    files = _write_binlog(ctx, binlog, events, size.docs, size.epochs, size.max_len)

    setup_s = []
    for i in range(size.setups):
        t0 = time.monotonic()
        table = _new_table(ctx, f"table-{i}", size.docs, size.max_len, size.buckets)
        engine = CdcEngine(spark, table, ctx.work.path(f"warehouse-{i}"), _engine_config(size.buckets))
        setup_s.append(time.monotonic() - t0)
    keys = _hot_skewed_keys(ctx.seed, size.docs, size.lookups)

    if tracer:
        _trace_engine(tracer, engine, table)
        codegen = Codegen(spark)
        tracer.reset()
        cg0 = codegen.read()
    lookups, lookup_s, scan_s = [], [], []
    with ProcessMeter(ctx.jvm_pid) as meter, (_lineage_patch(tracer) if tracer else contextlib.nullcontext()):
        w0 = time.time()
        t0 = time.monotonic()
        with _span(tracer, "sstream", "sstream.tail"):
            q = engine.run_stream(
                binlog, ctx.work.path("checkpoint"), available_now=True, max_files_per_trigger=1
            )
            q.awaitTermination()
            engine.flush_epoch_markers()
        tail_s = time.monotonic() - t0
        w_tail = time.time()
        if tracer:
            cg1 = codegen.read()
            footprint = _table_footprint(table)
        for key in keys:
            t1 = time.monotonic()
            with _span(tracer, "lake", "lake.lookup"):
                rows = table.lookup(key).collect()
            lookup_s.append(time.monotonic() - t1)
            lookups.append((key, rows))
        for _ in range(size.scans):
            t1 = time.monotonic()
            with _span(tracer, "lake", "lake.read"):
                table.read().write.format("noop").mode("overwrite").save()
            scan_s.append(time.monotonic() - t1)
        work_s = time.monotonic() - t0

    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    trigger_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]

    expected = gates.expected_cdc(files, _base_state(ctx, size.docs, size.max_len))
    final_rows = table.read().collect()
    failures = gates.check_cdc(expected, final_rows, _quarantine_rows(ctx, engine))
    failed = len(trigger_s) if failures else 0
    if len(trigger_s) != size.epochs:
        failures.append(f"{len(trigger_s)} triggers ran, expected one per epoch ({size.epochs})")
        failed += 1
    for key, rows in lookups:
        bad = gates.check_lookup(expected.state, key, rows)
        failures += bad
        failed += bool(bad)
    if len(final_rows) != len(expected.state):
        failed += size.scans

    res = Result(
        setup_s=setup_s,
        op_s=trigger_s,
        work_s=work_s,
        peak_rss_mb=meter.peak_mb,
        cpu_s=meter.cpu_s,
        attempted=len(trigger_s) + len(lookups) + size.scans,
        failed=failed,
        failures=failures,
        info={
            "events": events,
            "triggers": len(trigger_s),
            "events_per_s": events / tail_s,
            "tail_s": tail_s,
            "batch_p50_s": statistics.median(trigger_s),
            "batch_max_s": max(trigger_s),
            "lookup_p50_s": statistics.median(lookup_s),
            "scan_p50_s": statistics.median(scan_s),
        },
        windows=[(w0, w_tail)],
    )
    if tracer:
        ops = len(trigger_s)
        layers = _cdc_layers(tracer, ops, (w0, w_tail))
        layers.update(footprint)
        layers["lake.read_s"] = statistics.median(scan_s)
        layers["lake.lookup_s"] = statistics.median(lookup_s)
        layers["lineage.quarantine_rows"] = expected.quarantined
        for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            layers[f"sstream.{key}_ms"] = statistics.median(
                p["durationMs"].get(key, 0) for p in progress
            )
        layers["spark.codegen_compiles"] = (cg1[0] - cg0[0]) / ops
        layers["spark.codegen_compile_ms"] = (cg1[1] - cg0[1]) / ops
        corpus, bad = _corpus_refresh(ctx, table, {r["doc_id"] for r in final_rows}, size.seq_len)
        layers.update(corpus)
        res.failures += bad
        res.failed += bool(bad)
        res.attempted += 1
        res.layers = layers
        res.info["ops"] = ops
    return res


def _corpus_refresh(ctx: Ctx, table: LakeTable, source_keys: set[str], seq_len: int):
    """Fold the table's whole change history into a new packed corpus
    (the corpus bootstrap) with one ``CorpusPipeline.sync``, traced, and
    check the packs. Only traced runs pay for it: one cold sync costs
    about as much as the rest of the workload, and the untraced runs
    must fit the benchmark's time budget. Its figures are per-layer
    metrics; no end-to-end metric includes it."""
    tracer = ctx.tracer
    pipe = CorpusPipeline(
        ctx.spark,
        table,
        ctx.work.path("corpus"),
        config=CorpusConfig(seq_len=seq_len, eos_id=0, splits=CORPUS_SPLITS),
    )

    def sync_figures(sp, report):
        sp["attrs"].update(
            phase_sec=dict(report["phase_sec"]),
            window_docs=report["stages"]["window_docs"],
            accepted=report["stages"]["accepted"],
        )

    wrap_method(tracer, pipe, "sync", "corpus_sync", "corpus_sync.sync", sync_figures)
    pipe.sync()
    (sync,) = tracer.named("corpus_sync.sync")
    layers = {"corpus_sync.sync_s": sync["end"] - sync["start"]}
    for stage in CORPUS_PHASES:
        layers[f"corpus_sync.phase.{stage}_s"] = sync["attrs"]["phase_sec"].get(stage, 0.0)
    docs, accepted = sync["attrs"]["window_docs"], sync["attrs"]["accepted"]
    layers["corpus_sync.window_docs"] = docs
    layers["corpus_sync.accepted"] = accepted
    layers["corpus_sync.accept_ratio"] = accepted / docs if docs else 0.0
    return layers, gates.check_corpus(pipe, CORPUS_SPLITS, source_keys)


def _span(tracer: Tracer | None, layer: str, name: str):
    return tracer.span(layer, name) if tracer else contextlib.nullcontext()


# ----------------------------------------------------------- query_suite


@dataclass(frozen=True)
class SuiteSize:
    tables: qdata.QuerySize = qdata.QuerySize()
    bpe_merges: int = 300
    setups: int = 3


def suite_ops() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE) + ["bpe_encode"]


def query_suite(ctx: Ctx, size: SuiteSize) -> Result:
    """The bench.py headline queries plus the BPE encode, once each in a
    fresh JVM, over tables generated from the seed. Each operation
    collects its result, which is then checked against its oracle."""
    from dexspark.operators.bpe import bpe_encode, learn_bpe
    from dexspark.queries import ORACLE_SQL, QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    setup_s = []
    for i in range(size.setups):
        t0 = time.monotonic()
        data = ctx.work.path(f"tables-{i}")
        qdata.write(data, ctx.seed, size.tables)
        docs = spark.read.parquet(os.path.join(data, "bpe_docs.parquet"))
        merges = learn_bpe(docs, num_merges=size.bpe_merges)
        setup_s.append(time.monotonic() - t0)

    def frame(name):
        if name == "bpe_encode":
            return bpe_encode(docs, merges)
        return QUERIES[name](spark, data)

    ops = suite_ops()
    if tracer:
        codegen = Codegen(spark)
        tracer.reset()
    op_s: dict[str, float] = {}
    results: dict[str, tuple[list, list]] = {}
    layers: dict[str, float] = {}
    with ProcessMeter(ctx.jvm_pid) as meter:
        w0 = time.time()
        for name in ops:
            t0 = time.monotonic()
            if tracer:
                cg0 = codegen.read()
                with tracer.span("queries", f"queries.{name}"):
                    df = frame(name)
                    layers[f"queries.{name}.planning_ms"] = planning_ms(df)
                    rows = df.collect()
                cg1 = codegen.read()
                layers[f"queries.{name}.codegen_compile_ms"] = cg1[1] - cg0[1]
                layers["spark.codegen_compiles"] = layers.get("spark.codegen_compiles", 0) + cg1[0] - cg0[0]
                layers["spark.codegen_compile_ms"] = layers.get("spark.codegen_compile_ms", 0) + cg1[1] - cg0[1]
            else:
                df = frame(name)
                rows = df.collect()
            op_s[name] = time.monotonic() - t0
            results[name] = (df.columns, rows)
        w1 = time.time()

    con = gates.duckdb_views(data)
    failures, failed = [], 0
    for name in ops:
        if name == "bpe_encode":
            texts = pq.read_table(os.path.join(data, "bpe_docs.parquet")).to_pydict()
            bad = gates.check_bpe(dict(zip(texts["doc_id"], texts["text"])), merges, results[name][1])
        else:
            bad = gates.check_query(con, ORACLE_SQL[name], *results[name])
        failures += [f"{name}: {b}" for b in bad]
        failed += bool(bad)
    con.close()

    res = Result(
        setup_s=setup_s,
        op_s=list(op_s.values()),
        work_s=sum(op_s.values()),
        peak_rss_mb=meter.peak_mb,
        cpu_s=meter.cpu_s,
        attempted=len(ops),
        failed=failed,
        failures=failures,
        info={"query_suite_s": sum(op_s.values())},
        windows=[(w0, w1)],
    )
    if tracer:
        layers.update({f"queries.{n}_s": t for n, t in op_s.items()})
        layers["spark.codegen_compiles"] /= len(ops)
        layers["spark.codegen_compile_ms"] /= len(ops)
        res.layers = layers
        res.info["ops"] = len(ops)
    return res


WORKLOADS = {
    "stream_tail": (stream_tail, StreamSize()),
    "query_suite": (query_suite, SuiteSize()),
}

"""Multi-table routing: one change log fanned out to N CdcEngines.

The reference runs ONE pipeline per upload container; a production
CDC tail often demultiplexes a single binlog into several target
tables (per tenant, per source system, per doc-id shard). The naive
composition — run N independent engines over the same log with a
pre-filter each — falls short in two ways, one about cost and one
about exactly-once bookkeeping:

1. **Unshared, serialized per-route work.** The router overlaps the
   per-route applies in a bounded driver pool, reads the batch epoch
   set off the log layout instead of a dedicated scan, and can
   materialize the parsed batch ONCE (``share_scan=True``,
   ``localCheckpoint``) so every route filters in-memory blocks.
   Measured on this host (BENCH.md routed A/B): re-scanning a
   page-cached log beats materializing it, so batch replay defaults
   to parallel re-scan (1.36x over independent engines) while the
   streaming path keeps the shared scan (a foreachBatch micro-batch
   re-read re-lists the source); both strategies are one flag apart
   for sources where the economics flip (remote/decompressed logs,
   large route counts).
2. **Stuck watermarks on quiet routes.** An engine only learns an
   epoch from the events it SEES; a route that received no events of
   epoch E would keep E in its out-of-order tail forever (manifest +
   already-committed predicate growing with stream lifetime). The
   router computes the batch's epoch set once and passes it to every
   route as ``extra_epochs`` (see :meth:`CdcEngine.apply_batch`):
   epochs that routed zero events to a table are recorded there as
   manifest-only marker commits (``LakeTable.mark_epochs``), so all
   routes' watermarks advance in step and stay O(1).

Routing is a deterministic Column expression over the parsed envelope
(``doc_id``, ``payload.*``, ``op``, ...). Events whose route value is
NULL or matches no route (malformed envelopes, corrupt doc_ids) go to
the ``default`` route when one is named, else to a router-level
quarantine sink (``<warehouse>/_router/unrouted``) with the same
epoch-partitioned dynamic-overwrite idempotence as the engines' own
quarantines — redelivery rewrites identical content in place.

Reference parity: the reference fans one upload event out to one
pipeline (FnDecompressorEntry.kt:41-51 routes by container); this is
the N-target generalization a multi-tenant deployment needs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .events import open_binlog
from .lineage import write_quarantine
from .stream import BatchMetrics, CdcEngine, start_tail
from .validate import FAIL_COL


class RoutedEngine:
    """Fan one parsed change-event batch out to named CdcEngines.

    ``routes``: name -> CdcEngine (each with its own LakeTable and
    sinks; typically rooted at ``<warehouse>/<name>``).
    ``route_expr``: Column (or SQL string) evaluated over the parsed
    envelope; its STRING value selects the route by name. Must be
    deterministic — it is evaluated once per route filter over the
    same checkpointed batch.
    ``default``: route name that also receives NULL / unmatched route
    values; ``None`` sends those rows to the router quarantine.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        routes: dict[str, CdcEngine],
        route_expr: Column | str,
        default: str | None = None,
        max_parallel_routes: int = 4,
        unrouted_retention_epochs: int = 0,
        rules=None,
    ):
        if not routes:
            raise ValueError("RoutedEngine needs at least one route")
        if default is not None and default not in routes:
            raise ValueError(f"default route {default!r} not in routes")
        self.spark = spark
        self.routes = dict(routes)
        self.default = default
        self._route_col = (
            F.expr(route_expr) if isinstance(route_expr, str) else route_expr
        ).cast("string")
        self.unrouted_path = os.path.join(warehouse, "_router", "unrouted")
        # routes write DISJOINT tables/sinks, so their per-batch applies
        # can overlap via driver threads (Spark job submission is
        # thread-safe; the fair scheduler interleaves their stages).
        # Bounded: each in-flight route holds its aggregate's
        # localCheckpoint blocks, so unbounded fan-out trades memory
        # for no additional throughput once executors are saturated.
        self.max_parallel_routes = max(1, int(max_parallel_routes))
        # retention for the unrouted sink (the engine sinks' own
        # sink_retention_epochs analogue): keep the last N epoch
        # partitions under the MIN route watermark; 0 = keep forever
        self.unrouted_retention_epochs = int(unrouted_retention_epochs)
        # optional RuleSet whose portal templates render the router's
        # own "unrouted:<route>" reasons (validate.render_portal_reasons
        # via the write_quarantine seam); each route's engine renders
        # its reasons through its OWN config.rules
        self.rules = rules

    # ------------------------------------------------------------ one batch

    def _matched(self) -> Column:
        return self._route_col.isin(list(self.routes))

    def apply_batch(
        self,
        parsed: DataFrame,
        defer_boundary: bool = False,
        extra_epochs: list[int] | None = None,
        share_scan: bool = True,
        fresh_filters: dict | None = None,
    ) -> dict[str, BatchMetrics]:
        """Apply one micro-batch through every route exactly-once.

        ``share_scan=True`` (the streaming default): the parsed batch
        is checkpointed eagerly and each route's filter (plus the
        epoch collect and the unrouted write) reads the materialized
        blocks — ONE source scan however many routes there are.
        ``share_scan=False``: each route re-scans the source under its
        own filter; with the parallel route pool the scans overlap, and
        on a page-cached / columnar source this measured FASTER than
        paying the full-batch materialization (BENCH.md routed A/B —
        the same trade the engine's own aggregate made). Prefer
        sharing when the source is expensive to re-read (remote log,
        heavy decompression) or the route count is large.

        The batch's non-negative epoch set is passed to every route as
        ``extra_epochs`` so a route that saw none of an epoch's events
        still commits its marker (deferred uniformly under
        ``defer_boundary`` — a split epoch defers on ALL routes,
        whether or not they saw rows). Callers that already know the
        set (``apply_binlog`` reads it off the epoch file names) pass
        it in; otherwise it costs one batch_epoch-only pass over the
        batch."""
        batch = parsed.localCheckpoint(eager=True) if share_scan else parsed
        rc = self._route_col
        if extra_epochs is not None:
            epochs = sorted({int(e) for e in extra_epochs if int(e) >= 0})
        else:
            epochs = sorted(
                int(r[0])
                for r in batch.select("batch_epoch")
                .where(F.col("batch_epoch") >= 0)
                .distinct()
                .collect()
            )
        def _one(name: str, eng: CdcEngine) -> BatchMetrics:
            pred = rc.eqNullSafe(F.lit(name))
            if name == self.default:
                pred = pred | ~self._matched() | rc.isNull()
            return eng.apply_batch(
                batch.filter(pred),
                defer_boundary=defer_boundary,
                extra_epochs=epochs,
                fresh_filter=(fresh_filters or {}).get(name),
            )

        out: dict[str, BatchMetrics] = {}
        if self.max_parallel_routes == 1 or len(self.routes) == 1:
            for name, eng in self.routes.items():
                out[name] = _one(name, eng)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.max_parallel_routes, len(self.routes))
            ) as pool:
                futs = {
                    name: pool.submit(_one, name, eng)
                    for name, eng in self.routes.items()
                }
                for name, fut in futs.items():
                    out[name] = fut.result()
        if self.default is None:
            self._write_unrouted(batch)
            self._expire_unrouted()
        self._pin_consistent_frontier()
        return out

    def _expire_unrouted(self) -> None:
        """Unrouted-sink retention (``unrouted_retention_epochs``):
        expire epoch partitions older than the last N epochs under the
        MINIMUM route watermark — an epoch no route could still be
        waiting on. Expired rows are gone for ``reprocess_unrouted``
        too, so size N to the route-change / replay window (the same
        contract as the engines' sink retention). The ``-1`` fallback
        partition (NULL/negative epochs — malformed lines) is never
        expired by construction (``expire_epoch_partitions`` skips
        negative partitions)."""
        keep = self.unrouted_retention_epochs
        if keep <= 0:
            return
        from .lineage import expire_epoch_partitions

        watermark = min(e.table.epoch_state()[0] for e in self.routes.values())
        cutoff = watermark - keep + 1
        if cutoff > 0:
            expire_epoch_partitions(self.unrouted_path, cutoff)

    # ------------------------------------------------- cross-shard reads

    @property
    def _pin_path(self) -> str:
        return os.path.join(
            os.path.dirname(self.unrouted_path), "consistent.json"
        )

    def _pin_consistent_frontier(self) -> None:
        """Record every route's table version AFTER the whole fan-out
        applied — the read-consistency pin. Per-route exactly-once
        already makes a mid-fan-out crash self-heal (redelivery applies
        only the routes that missed), but between crash and redelivery
        the shards sit at DIFFERENT batch frontiers; readers that need
        a cross-shard-consistent view pin to the last version set that
        a completed fan-out published (atomic os.replace, monotone:
        a crash before the pin just leaves readers one batch behind)."""
        import json

        pin = {n: e.table.current_version() for n, e in self.routes.items()}
        p = self._pin_path
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": pin}, f)
        os.replace(tmp, p)

    def consistent_read(self) -> dict[str, DataFrame]:
        """Per-route DataFrames pinned at the last COMPLETE fan-out's
        version set — a cross-shard-consistent snapshot even while a
        batch is mid-apply or a crashed batch awaits redelivery.
        Requires the pinned versions to still be inside each route's
        vacuum retention (size vacuum_keep_last to at least a few
        batches on routed tables). Falls back to current versions when
        no pin exists (no batch has completed yet)."""
        import json

        try:
            with open(self._pin_path) as f:
                pin = json.load(f)["versions"]
        except OSError:
            return {n: e.table.read() for n, e in self.routes.items()}
        return {
            n: e.table.read(version=int(pin[n])) if n in pin else e.table.read()
            for n, e in self.routes.items()
        }

    def _write_unrouted(self, batch: DataFrame) -> None:
        """Router-level quarantine for rows no route claims.

        Epoch-partitioned dynamic overwrite (same sink contract as the
        engines' quarantines): a redelivered batch rewrites the same
        partitions with identical content. NULL / negative epochs fold
        into the ``-1`` fallback partition — unlike the engine's
        content-hashed fallback these rows were never deduped, so the
        partition must be stable across redeliveries of the SAME files
        rather than unique per batch; the overwrite granularity is the
        whole fallback partition either way."""
        unrouted = batch.filter(~self._matched() | self._route_col.isNull()).select(
            "raw",
            "doc_id",
            F.array(
                F.concat(
                    F.lit("unrouted:"),
                    F.coalesce(self._route_col, F.lit("null")),
                )
            ).alias(FAIL_COL),
            F.when(F.col("batch_epoch") >= 0, F.col("batch_epoch"))
            .otherwise(F.lit(-1))
            .alias("batch_epoch"),
        )
        write_quarantine(unrouted, self.unrouted_path, self.rules)

    def reprocess_unrouted(self, run_quarantine_replay: bool = True) -> dict:
        """Dead-letter replay after the routing table changed (a route
        added, the expression corrected, a default named): re-parse the
        unrouted sink's raw lines, hand each row that NOW matches a
        route to that route's engine QUARANTINE (raw + epoch
        preserved), rewrite the sink to the still-unmatched remainder,
        and (by default) run each affected engine's
        ``reprocess_quarantine`` so recovered events reach the tables
        under its validation + stale-ordering guards — one recovery
        path, not two.

        Crash contract: the quarantine handoff happens BEFORE the sink
        rewrite, so a crash between them re-hands-off on rerun —
        at-least-once in the safe direction (recovered duplicates are
        state no-ops under last-writer-wins; still-failing duplicates
        stay visible rather than vanishing). Maintenance op: run while
        the routed stream is paused, like ``reprocess_quarantine``."""
        import shutil

        from .events import parse_envelopes

        path = self.unrouted_path
        old = path + ".reprocess-old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)  # crash recovery: restore parked sink
        try:
            q = self.spark.read.parquet(path)
        except Exception:  # sink never written
            return {"rerouted": {}, "still_unrouted": 0, "replay": {}}
        any_engine = next(iter(self.routes.values()))
        parsed = parse_envelopes(
            q.select("raw"), any_engine.payload_schema
        ).localCheckpoint(eager=True)
        rc = self._route_col
        rerouted: dict[str, int] = {}
        for name, eng in self.routes.items():
            pred = rc.eqNullSafe(F.lit(name))
            if name == self.default:
                pred = pred | ~self._matched() | rc.isNull()
            from .validate import render_portal_reasons

            sub = parsed.filter(pred).select(
                "raw",
                "doc_id",
                # rendered through the DESTINATION engine's rule-set:
                # the handoff row lands in that engine's quarantine
                render_portal_reasons(
                    F.array(
                        F.concat(F.lit("unrouted:rerouted:"), F.lit(name))
                    ),
                    eng.config.rules,
                ).alias(FAIL_COL),
                F.when(F.col("batch_epoch") >= 0, F.col("batch_epoch"))
                .otherwise(F.lit(-1))
                .alias("batch_epoch"),
            )
            n = sub.count()
            if n:
                sub.write.mode("append").partitionBy("batch_epoch").parquet(
                    eng.quarantine_path
                )
            rerouted[name] = n
        if self.default is None:
            still = parsed.filter(~self._matched() | rc.isNull())
        else:  # a default absorbs everything: the sink empties
            still = parsed.filter(F.lit(False))
        from .validate import render_portal_reasons as _render

        failing = still.select(
            "raw",
            "doc_id",
            _render(
                F.array(
                    F.concat(
                        F.lit("unrouted:"), F.coalesce(rc, F.lit("null"))
                    )
                ),
                self.rules,
            ).alias(FAIL_COL),
            F.when(F.col("batch_epoch") >= 0, F.col("batch_epoch"))
            .otherwise(F.lit(-1))
            .alias("batch_epoch"),
        )
        n_still = failing.count()
        tmp = path + ".reprocess-tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        failing.write.partitionBy("batch_epoch").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        replay = {}
        if run_quarantine_replay:
            for name, n in rerouted.items():
                if n:
                    replay[name] = self.routes[name].reprocess_quarantine()
        return {
            "rerouted": rerouted,
            "still_unrouted": n_still,
            "replay": replay,
        }

    # ------------------------------------------------------------ batch/replay

    @staticmethod
    def _epochs_from_listing(binlog_path: str) -> list[int] | None:
        """The epoch set straight off the log layout — no scan.
        ``epoch-<E>-*`` files (gen.write_binlog) or ``batch_epoch=<E>``
        partition dirs (structured parquet logs / the outbox). None
        when the layout doesn't encode epochs (caller falls back to a
        scan). Contract: the layout must PARTITION epochs (every
        dexspark writer does). A log that hides epoch-E events inside
        another epoch's file degrades safely — a route that received
        none of E's events misses only E's quiet-route marker (its
        tail-compaction optimization), never data: E redelivered later
        applies and marks then."""
        import re

        try:
            names = os.listdir(binlog_path)
        except OSError:
            return None
        out = set()
        for n in names:
            m = re.match(r"epoch-(\d+)-", n) or re.match(r"batch_epoch=(\d+)$", n)
            if m:
                out.add(int(m.group(1)))
        return sorted(out) if out else None

    def apply_binlog(
        self, binlog_path: str, format: str | None = None
    ) -> dict[str, BatchMetrics]:
        """Replay a whole change-log directory as one routed batch.

        The epoch set comes off the file names (free), so the batch is
        NOT materialized: each route re-scans the (page-cached) log
        under its own filter, overlapping in the route pool — measured
        faster than checkpoint-sharing for the replay shape (BENCH.md
        routed A/B). Logs whose layout doesn't name epochs fall back
        to the shared-scan path."""
        # routes may carry different payload schemas; parse with the
        # first route's (schema reconcile inside each engine handles
        # additive drift route-by-route)
        any_engine = next(iter(self.routes.values()))
        parsed = open_binlog(
            self.spark, binlog_path, any_engine.payload_schema, format
        )
        epochs = self._epochs_from_listing(binlog_path)
        return self.apply_batch(
            parsed, extra_epochs=epochs, share_scan=epochs is None
        )

    # --------------------------------------------------------- streaming API

    def run_stream(
        self,
        binlog_path: str,
        checkpoint_path: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        processing_time: str = "5 seconds",
        format: str | None = None,
    ):
        """Tail the change log once, routing every micro-batch.

        One Structured Streaming query feeds all routes (offsets
        checkpoint once); each route's epoch markers keep its own
        table idempotent, so redelivery after a crash converges every
        route independently."""
        any_engine = next(iter(self.routes.values()))
        parsed = open_binlog(
            self.spark,
            binlog_path,
            any_engine.payload_schema,
            format,
            stream=True,
            max_files_per_trigger=max_files_per_trigger,
        )
        # per-route pinned fresh-epoch filters: plan literals stay
        # identical across triggers (see CdcEngine.pinned_fresh_filter)
        pinned = {
            name: eng.pinned_fresh_filter() for name, eng in self.routes.items()
        }

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, defer_boundary=True, fresh_filters=pinned)

        return start_tail(
            parsed, _process, checkpoint_path, available_now, processing_time
        )

    def flush_epoch_markers(self) -> dict[str, list[int]]:
        """End-of-stream: commit every route's deferred boundary
        markers (manifest-only; see CdcEngine.flush_epoch_markers)."""
        return {n: e.flush_epoch_markers() for n, e in self.routes.items()}

    # the engine's drain: availableNow tail, then flush the deferred
    # boundary markers (it calls only run_stream + flush_epoch_markers)
    run_until_caught_up = CdcEngine.run_until_caught_up

"""Steady-trigger cost guards and trigger observability of CdcEngine:
prepared expressions (compiled once per batch schema), the job count
of a steady trigger, sink jobs that keep the caller's job group, jobs
named after their apply_batch phase, and the persisted name of the
batch-content fallback quarantine partition."""

import json
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import dexspark.validate as validate
from dexspark import gen
from dexspark.config import EngineConfig
from dexspark.lake import LakeTable
from dexspark.schema import payload_schema, sequences_schema
from dexspark.stream import CdcEngine

PHASES = {"scan_validate_dedup", "merge_and_quarantine", "sinks"}


def _ev(doc_id, lsn, epoch, op="insert", tokens=(1, 2), n_tok=None, **extra):
    return json.dumps(
        {
            "op": op,
            "doc_id": doc_id,
            "payload": {
                "tokens": list(tokens),
                "n_tok": len(tokens) if n_tok is None else n_tok,
                "source": "web",
                **extra,
            },
            "commit_ts": f"2024-01-01T00:00:{lsn:02d}.000Z",
            "lsn": lsn,
            "batch_epoch": epoch,
        }
    )


def _batch(root, name, lines):
    d = os.path.join(root, name)
    os.makedirs(d)
    with open(os.path.join(d, "events.ndjson"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return d


def _engine(spark, root, **cfg):
    table = LakeTable.create(
        spark, os.path.join(root, "t"), sequences_schema(), num_buckets=2
    )
    table.overwrite(gen.base_sequences(spark, n_docs=20, max_len=8))
    return CdcEngine(
        spark, table, os.path.join(root, "wh"), EngineConfig(num_buckets=2, **cfg)
    )


def _steady_batches(root):
    """Two same-schema batches, each with a validation reject, an
    envelope reject and a malformed line (so both write quarantine)."""
    return [
        _batch(
            root,
            f"b{e}",
            [
                _ev(f"doc{e:08d}", 10 * e + 1, e),
                _ev(f"new-{e}", 10 * e + 2, e, tokens=(3, 4), n_tok=5),
                _ev(f"neg-{e}", 10 * e + 3, -1),
                "{not json",
                _ev("doc00000003", 10 * e + 4, e, op="delete"),
            ],
        )
        for e in (1, 2)
    ]


def _in_group(spark, fn):
    """(fn's result, ids of the jobs fn ran under a fresh job group,
    ids of the jobs it ran outside any group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"g-{uuid.uuid4().hex}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
        assert sc.getLocalProperty("spark.job.description") == group
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    # the status store is fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return out, sorted(tracker.getJobIdsForGroup(group)), stray


def test_sink_jobs_keep_the_job_group(spark, tmp_warehouse):
    """Every job of a batch that writes quarantine rows runs in the
    caller's job group (the streaming query's, in a tail), so stopping
    the query cancels it and a status tracker can attribute it."""
    engine = _engine(spark, tmp_warehouse, merge_mode="mor")
    b1, _ = _steady_batches(tmp_warehouse)
    m, grouped, stray = _in_group(spark, lambda: engine.apply_binlog(b1))
    assert m.rejects == 3
    assert grouped
    assert not stray, f"jobs {sorted(stray)} ran outside the job group"


def test_each_job_carries_its_phase_name(spark, tmp_warehouse):
    """Each job of a batch is described by its apply_batch phase (a
    ``BatchMetrics.phase_ms`` key), and the caller's description is
    restored afterwards."""
    engine = _engine(spark, tmp_warehouse, merge_mode="mor")
    b1, _ = _steady_batches(tmp_warehouse)
    m, grouped, _ = _in_group(spark, lambda: engine.apply_binlog(b1))
    store = spark.sparkContext._jsc.sc().statusStore()
    names = {}
    for jid in grouped:
        d = store.job(jid).description()
        names[jid] = d.get() if d.isDefined() else None
    assert set(names.values()) <= PHASES, names
    assert {"scan_validate_dedup", "merge_and_quarantine"} <= set(names.values())
    assert set(m.phase_ms) == PHASES


@pytest.mark.parametrize("validator", ["jvm", "arrow"])
def test_steady_batch_compiles_rules_once_and_runs_five_jobs(
    spark, tmp_warehouse, monkeypatch, validator
):
    """Same-schema batches reuse the prepared expressions: the rule set
    compiles once for both, a steady batch runs at most 5 Spark jobs
    (2 for the observed grouping-sets checkpoint, 1 quarantine write,
    2 for the merge), and an evolved payload schema recompiles."""
    compiled = []
    real = validate.fail_reasons_column

    def counting(rules, schema):
        compiled.append(schema)
        return real(rules, schema)

    monkeypatch.setattr(validate, "fail_reasons_column", counting)
    engine = _engine(spark, tmp_warehouse, merge_mode="mor", validator=validator)
    b1, b2 = _steady_batches(tmp_warehouse)
    engine.apply_binlog(b1)
    m, grouped, stray = _in_group(spark, lambda: engine.apply_binlog(b2))
    assert len(compiled) == 1
    assert m.rejects == 3 and m.rows_merged == 2
    assert len(grouped) + len(stray) <= 5, grouped

    engine.payload_schema = T.StructType(
        list(payload_schema().fields) + [T.StructField("lang", T.StringType(), True)]
    )
    b3 = _batch(tmp_warehouse, "b3", [_ev("doc00000005", 31, 3, lang="en")])
    engine.apply_binlog(b3)
    assert len(compiled) == 2
    assert "lang" in compiled[1].names
    assert {r["lang"] for r in engine.table.lookup("doc00000005").collect()} == {"en"}


# A fixed batch: one clean insert and one delete in epoch 7, a
# validation reject in epoch 8, two negative-epoch envelope rejects and
# the same malformed line twice (NULL epoch). The rejects without a
# marker epoch land in the batch-content fallback partition, whose
# name is persisted: redelivery of the batch must keep hitting it.
GOLDEN_LINES = [
    _ev("g1", 1, 7),
    _ev("g2", 2, 8, tokens=(1, 2), n_tok=3),
    _ev("g3", 3, -3),
    _ev("g4", 4, -5, tokens=(5,)),
    '{"op": "insert", "doc_id": "g5", broken',
    '{"op": "insert", "doc_id": "g5", broken',
    _ev("doc00000002", 6, 7, op="delete"),
]
# The fallback partition each event mode gives GOLDEN_LINES.
FALLBACK = {False: -823276210114927687, True: -4044030177483679519}


def _partitions(path):
    return sorted(n for n in os.listdir(path) if n.startswith("batch_epoch="))


def _lineage(path):
    """Lineage rows minus wall_ms: (epoch, partition_id, source,
    events_seen, events_applied, rejects, skipped, rows_merged)."""
    rows = []
    for part in _partitions(path):
        for r in pq.read_table(os.path.join(path, part)).to_pylist():
            rows.append(
                (
                    int(part.split("=")[1]), r["partition_id"], r["source"],
                    r["events_seen"], r["events_applied"], r["rejects"],
                    r["skipped"], r["rows_merged"],
                )
            )
    return sorted(rows, key=repr)


@pytest.mark.parametrize("patch_events", [False, True], ids=["lww", "patch"])
def test_golden_fallback_partition(spark, tmp_warehouse, patch_events):
    """The fallback partition name and the lineage rows of a fixed
    batch, in both event modes. The values are persisted names and
    counts: a redelivered batch must reproduce them exactly."""
    engine = _engine(spark, tmp_warehouse, patch_events=patch_events)
    m = engine.apply_binlog(_batch(tmp_warehouse, "golden", GOLDEN_LINES))
    assert m.rejects == 5 and m.epochs == [7, 8]
    fb = FALLBACK[patch_events]
    quarantine = {
        part: len(pq.read_table(os.path.join(engine.quarantine_path, part)))
        for part in _partitions(engine.quarantine_path)
    }
    assert quarantine == {f"batch_epoch={fb}": 4, "batch_epoch=8": 1}
    assert _lineage(engine.lineage_path) == sorted(
        [
            (fb, 0, "web", 1, 0, 1, 0, 2),  # g3, epoch -3
            (fb, 0, "web", 1, 0, 1, 0, 2),  # g4, epoch -5
            (fb, 0, None, 2, 0, 2, 0, 2),  # the malformed line, twice
            (7, 0, "web", 2, 2, 0, 0, 2),
            (8, 0, "web", 1, 1, 0, 0, 2),  # g2's validation reject
        ],
        key=repr,
    )

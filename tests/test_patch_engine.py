"""Engine patch mode (EngineConfig.patch_events): partial-image
events through the full CDC pipeline — binlog tail -> envelope
classify -> per-key composition -> bucket-pruned resolution ->
post-image validation -> exactly-once MERGE with epoch markers.

Oracle: the Python event-by-event fold from test_patch, applied over
the same events; anomalies must quarantine without crashing the
batch; replaying the same binlog must not bump the table version.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from dexspark.config import EngineConfig
from dexspark.lake import LakeTable
from dexspark.schema import sequences_schema
from dexspark.stream import CdcEngine

DATA_COLS = ["tokens", "n_tok", "source"]


def _write_binlog(tmp_path, lines, name="binlog"):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    with open(d / "epoch-all.ndjson", "w") as f:
        for ln in lines:
            f.write((ln if isinstance(ln, str) else json.dumps(ln)) + "\n")
    return str(d)


def _ev(doc, op, ts, lsn, epoch, payload=None, fields=None):
    e = {
        "op": op,
        "doc_id": doc,
        "commit_ts": f"2026-01-01 00:{ts // 60:02d}:{ts % 60:02d}",
        "lsn": lsn,
        "batch_epoch": epoch,
    }
    if payload is not None:
        e["payload"] = payload
    if fields is not None:
        e["fields"] = fields
    return e


def _engine(spark, tmp_path, **cfg):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4
    )
    config = EngineConfig(patch_events=True, vacuum_min_age_seconds=0, **cfg)
    return CdcEngine(spark, table, str(tmp_path / "wh"), config=config), table


def _state(table):
    return {
        r["doc_id"]: {c: r[c] for c in DATA_COLS} for r in table.read().collect()
    }


def test_patch_pipeline_composes_and_is_idempotent(spark, tmp_path):
    eng, table = _engine(spark, tmp_path)
    lines = [
        # full-image insert (no fields mask)
        _ev("d1", "insert", 1, 1, 0, {"tokens": [1, 2], "n_tok": 2, "source": "web"}),
        _ev("d2", "insert", 1, 2, 0, {"tokens": [3], "n_tok": 1, "source": "wiki"}),
        # two disjoint patches to d1 in one batch: BOTH apply
        _ev("d1", "update", 2, 3, 0, {"tokens": [9, 9, 9], "n_tok": 3}, ["tokens", "n_tok"]),
        _ev("d1", "update", 3, 4, 0, {"source": "books"}, ["source"]),
        # same column twice: later (commit_ts, lsn) wins
        _ev("d2", "update", 2, 5, 0, {"source": "web"}, ["source"]),
        _ev("d2", "update", 2, 6, 0, {"source": "code"}, ["source"]),
        # delete then insert-by-patch: old values must not leak, but
        # the resolved row must still pass `required` — set every col
        _ev("d2", "delete", 4, 7, 0),
        _ev("d2", "update", 5, 8, 0, {"tokens": [7], "n_tok": 1, "source": "web"}, DATA_COLS),
    ]
    binlog = _write_binlog(tmp_path, lines)
    m = eng.apply_binlog(binlog)
    assert m.rejects == 0 and m.epochs == [0]
    got = _state(table)
    assert got["d1"] == {"tokens": [9, 9, 9], "n_tok": 3, "source": "books"}
    assert got["d2"] == {"tokens": [7], "n_tok": 1, "source": "web"}
    v = table.current_version()
    # replay: already-committed epoch filtered, no version bump
    m2 = eng.apply_binlog(binlog)
    assert m2.epochs == [] and table.current_version() == v
    assert _state(table) == got


def test_patch_validation_judges_post_image(spark, tmp_path):
    eng, table = _engine(spark, tmp_path)
    b0 = _write_binlog(
        tmp_path,
        [_ev("d1", "insert", 1, 1, 0, {"tokens": [1, 2], "n_tok": 2, "source": "web"})],
        "b0",
    )
    eng.apply_binlog(b0)
    # the patch is self-consistent as a fragment but the RESOLVED row
    # violates n_tok == size(tokens): n_tok=5 with tokens kept [1,2]
    b1 = _write_binlog(
        tmp_path, [_ev("d1", "update", 2, 2, 1, {"n_tok": 5}, ["n_tok"])], "b1"
    )
    m = eng.apply_binlog(b1)
    assert m.rejects == 1 and m.epochs == [1]
    # table keeps the old row; quarantine holds the resolved image
    assert _state(table)["d1"]["n_tok"] == 2
    q = spark.read.parquet(eng.quarantine_path)
    row = q.collect()[0]
    assert any("n_tok" in r for r in row["fail_reasons"])
    raw = json.loads(row["raw"])
    # quarantined as a replayable FULL-IMAGE envelope
    assert raw["payload"]["n_tok"] == 5 and raw["op"] == "update"
    assert raw["lsn"] == 2 and raw["batch_epoch"] == 1
    # the epoch is marked: replaying it is a no-op (the invalid window
    # is withheld permanently, not retried)
    v = table.current_version()
    eng.apply_binlog(b1)
    assert table.current_version() == v
    # ...until the rule-set is fixed: reprocess_quarantine replays the
    # post-image envelope through the standard pipeline and recovers it
    from dexspark.config import RuleSet

    relaxed = RuleSet(required=("doc_id",))
    info = eng.reprocess_quarantine(rules=relaxed)
    assert info["recovered"] == 1
    assert _state(table)["d1"]["n_tok"] == 5


def test_patch_mode_envelope_anomalies_quarantined(spark, tmp_path):
    eng, table = _engine(spark, tmp_path)
    lines = [
        _ev("d1", "insert", 1, 1, 0, {"tokens": [1], "n_tok": 1, "source": "web"}),
        "{ not json",  # malformed -> reject, fallback partition
        json.dumps({"op": "insert", "doc_id": "d9", "payload": {}}),  # missing env fields
        _ev("d2", "compact", 1, 2, 0, {"tokens": [1], "n_tok": 1, "source": "web"}),  # unknown op -> skip
    ]
    m = eng.apply_binlog(_write_binlog(tmp_path, lines))
    assert m.rejects == 2 and m.skipped == 1
    assert set(_state(table)) == {"d1"}
    q = spark.read.parquet(eng.quarantine_path)
    assert q.count() == 2


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_patch_stream_matches_fold_oracle(spark, tmp_path, mode):
    """Multi-epoch streaming (run_until_caught_up) with patches,
    checked against the event-by-event fold oracle."""
    import random

    rng = random.Random(11)
    docs = [f"d{i}" for i in range(12)]
    lines, events, lsn = [], [], 0
    # every resolved row must be VALID at any batching, so the oracle
    # needs no withhold emulation: a doc that is absent (never seen or
    # last event was a delete) always gets a FULL image next; partial
    # patches only land on live docs. lsn strictly orders events, so
    # track liveness along lsn order (which is generation order here).
    live = set()
    for epoch in range(3):
        for _ in range(40):
            lsn += 1
            d = rng.choice(docs)
            # ts = lsn keeps fold order == generation order, which the
            # liveness tracking above depends on
            ts = lsn
            if d in live and rng.random() < 0.15:
                lines.append(_ev(d, "delete", ts, lsn, epoch))
                events.append((d, "delete", ts, lsn, None, None))
                live.discard(d)
                continue
            payload = {
                "tokens": [rng.randrange(50) for _ in range(2)],
                "n_tok": 2,
                "source": rng.choice(["web", "wiki", "code", "books"]),
            }
            if d in live and rng.random() < 0.6:
                fields = rng.choice([["source"], ["tokens", "n_tok"]])
            else:
                fields = DATA_COLS  # full image
            lines.append(
                _ev(d, "update", ts, lsn, epoch,
                    {k: payload[k] for k in fields}, fields)
            )
            events.append((d, "update", ts, lsn, payload, fields))
            live.add(d)
    # one file per epoch so the stream delivers epoch-monotone
    d = tmp_path / "stream"
    d.mkdir()
    by_epoch = {}
    for ln in lines:
        by_epoch.setdefault(ln["batch_epoch"], []).append(ln)
    for e, ls in by_epoch.items():
        with open(d / f"epoch-{e:04d}.ndjson", "w") as f:
            for ln in ls:
                f.write(json.dumps(ln) + "\n")

    eng, table = _engine(spark, tmp_path, merge_mode=mode)
    eng.run_until_caught_up(str(d), str(tmp_path / "ckpt"))

    # fold oracle: events in (commit_ts, lsn) order; only rows passing
    # the rules would merge — here every resolved row is valid IF it
    # has all required columns; insert-by-patch fragments may not.
    state = {}
    for doc, op, ts, l, payload, fields in sorted(events, key=lambda e: (e[2], e[3])):
        if op == "delete":
            state.pop(doc, None)
            continue
        row = state.get(doc, {c: None for c in DATA_COLS})
        row = dict(row)
        for c in fields:
            row[c] = payload[c]
        state[doc] = row
    # the generator guarantees every resolved row is valid at any
    # batching, so the engine must land EXACTLY the fold state
    assert _state(table) == state


def test_patch_mode_additive_schema_evolution(spark, tmp_path):
    """A patch event carrying a brand-new payload column evolves the
    table additively (current rows read null for it), like the default
    path does."""
    from dexspark.schema import change_event_schema, sequences_schema
    import pyspark.sql.types as T

    eng, table = _engine(spark, tmp_path)
    eng.apply_binlog(
        _write_binlog(
            tmp_path,
            [_ev("d1", "insert", 1, 1, 0, {"tokens": [1], "n_tok": 1, "source": "web"})],
            "b0",
        )
    )
    # evolved payload schema (the "schema registry" side): adds lang
    evolved = T.StructType(
        list(sequences_schema().fields) + [T.StructField("lang", T.StringType(), True)]
    )
    eng2 = CdcEngine(
        spark, table, str(tmp_path / "wh"),
        config=EngineConfig(patch_events=True, vacuum_min_age_seconds=0),
        payload_schema=evolved,
    )
    b1 = _write_binlog(
        tmp_path,
        [
            _ev("d2", "insert", 2, 2, 1,
                {"tokens": [2], "n_tok": 1, "source": "wiki", "lang": "en"}),
            _ev("d1", "update", 3, 3, 1, {"lang": "fr"}, ["lang"]),
        ],
        "b1",
    )
    m = eng2.apply_binlog(b1)
    assert m.rejects == 0
    got = {r["doc_id"]: r for r in table.read().collect()}
    assert got["d1"]["lang"] == "fr" and got["d1"]["tokens"] == [1]
    assert got["d2"]["lang"] == "en"


def test_patch_mode_refuses_suppress_stale(spark, tmp_path):
    eng, table = _engine(spark, tmp_path, suppress_stale=True)
    b = _write_binlog(
        tmp_path,
        [_ev("d1", "insert", 1, 1, 0, {"tokens": [1], "n_tok": 1, "source": "web"})],
    )
    with pytest.raises(ValueError, match="incompatible"):
        eng.run_until_caught_up(b, str(tmp_path / "ck"))


def test_patch_mode_refuses_applied_lineage(spark, tmp_path):
    """Patch mode writes no applied sink (a resolved post-image has no
    single parent event), so reprocess_quarantine's stale-event guard
    would be silently off: the engine refuses the combination."""
    with pytest.raises(ValueError, match="applied_lineage"):
        _engine(spark, tmp_path, applied_lineage=True)


def _full(n, source="web"):
    return {"tokens": list(range(n)), "n_tok": n, "source": source}


def test_full_images_resolve_like_last_writer_wins(spark, tmp_path):
    """On full-image events both resolvers feed the apply shell the
    same batch: equal table state, quarantine rows, lineage rows and
    BatchMetrics counts (phase_ms and wall time aside)."""
    batches = [
        [
            _ev("d1", "insert", 1, 1, 0, _full(1)),
            _ev("d1", "update", 2, 2, 0, _full(2, "wiki")),  # later wins
            _ev("d2", "insert", 1, 3, 0, _full(3)),
            _ev("d3", "insert", 1, 4, 0, _full(1)),
            _ev("d3", "delete", 3, 5, 0),
            # envelope rejects with valid epochs: no commit_ts, no lsn
            json.dumps({"op": "insert", "doc_id": "d4", "lsn": 6,
                        "batch_epoch": 0, "payload": _full(1)}),
            json.dumps({"op": "update", "doc_id": "d5", "batch_epoch": 0,
                        "commit_ts": "2026-01-01 00:00:01",
                        "payload": _full(2)}),
            _ev("d6", "compact", 1, 7, 0, _full(1)),  # unknown op: skipped
        ],
        [
            _ev("d2", "delete", 5, 8, 1),
            _ev("d2", "insert", 6, 9, 1, _full(4, "code")),  # re-insert
            _ev("d1", "delete", 5, 10, 1),
            _ev("d7", "delete", 5, 11, 1),  # absent key
            _ev("d3", "insert", 5, 12, 1, _full(2)),
            _ev("d3", "update", 5, 13, 1, _full(3, "books")),
            json.dumps({"op": "delete", "doc_id": "d8", "lsn": 14,
                        "batch_epoch": 1}),
        ],
    ]
    binlogs = [
        _write_binlog(tmp_path, lines, f"b{i}") for i, lines in enumerate(batches)
    ]

    def run(patch_events):
        name = "patch" if patch_events else "lww"
        table = LakeTable.create(
            spark, str(tmp_path / name / "t"), sequences_schema(), num_buckets=4
        )
        eng = CdcEngine(
            spark, table, str(tmp_path / name / "wh"),
            config=EngineConfig(
                patch_events=patch_events, vacuum_min_age_seconds=0
            ),
        )
        metrics = []
        for b in binlogs:
            m = eng.apply_binlog(b)
            metrics.append(
                (m.events_seen, m.events_applied, m.rejects, m.skipped,
                 m.rows_merged, m.epochs)
            )
        quarantine = sorted(
            (r["raw"], r["doc_id"], tuple(r["fail_reasons"]), r["batch_epoch"])
            for r in spark.read.parquet(eng.quarantine_path).collect()
        )
        lineage = sorted(
            (
                tuple(v for c, v in sorted(r.asDict().items()) if c != "wall_ms")
                for r in spark.read.parquet(eng.lineage_path).collect()
            ),
            key=repr,
        )
        return _state(table), metrics, quarantine, lineage

    lww, patch = run(False), run(True)
    assert lww[0] == {
        "d2": {"tokens": [0, 1, 2, 3], "n_tok": 4, "source": "code"},
        "d3": {"tokens": [0, 1, 2], "n_tok": 3, "source": "books"},
    }
    assert lww[1] == [(8, 5, 2, 1, 3, [0]), (7, 6, 1, 0, 4, [1])]
    assert len(lww[2]) == 3 and len(lww[3]) > 0
    assert patch == lww

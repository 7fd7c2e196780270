"""Envelope parsing: the reference's negative matrix re-expressed
(Unit_FnDecompressor.kt:153-375 — empty message, malformed JSON,
missing fields, unknown event type -> silent skip, extra fields
ignored)."""

import pytest
from pyspark.sql import functions as F

from dexspark.events import PARSE_FAIL, classify, parse_envelopes


def _classify_lines(spark, lines):
    raw = spark.createDataFrame([(l,) for l in lines], "raw string")
    return classify(parse_envelopes(raw)).collect()


GOOD = (
    '{"op":"insert","doc_id":"d1","payload":{"tokens":[1,2],"n_tok":2,"source":"web"},'
    '"commit_ts":"2024-01-01T00:00:00.000Z","lsn":1,"batch_epoch":0}'
)


def test_happy_path(spark):
    (r,) = _classify_lines(spark, [GOOD])
    assert r["event_class"] == "apply"
    assert r["doc_id"] == "d1" and r["payload"]["tokens"] == [1, 2]
    assert r["raw"] == GOOD  # raw preserved for lineage (J1 duality)


def test_malformed_json_rejected_not_fatal(spark):
    rows = _classify_lines(spark, ["{not json at all", GOOD])
    by = {r["event_class"]: r for r in rows}
    assert by["reject"]["envelope_fail"] == PARSE_FAIL
    assert by["apply"]["doc_id"] == "d1"  # batch continues (error isolation)


@pytest.mark.parametrize("missing", ["op", "doc_id", "commit_ts", "lsn", "batch_epoch"])
def test_missing_required_envelope_field(spark, missing):
    import json

    ev = json.loads(
        GOOD.replace('"commit_ts":"2024-01-01T00:00:00.000Z"', '"commit_ts":"2024-01-01 00:00:00"')
    )
    del ev[missing]
    (r,) = _classify_lines(spark, [json.dumps(ev)])
    assert r["event_class"] == "reject"
    assert r["envelope_fail"] == f"envelope:{missing}:required envelope field missing"


def test_unknown_op_skipped_not_failed(spark):
    line = GOOD.replace('"op":"insert"', '"op":"compact"')
    (r,) = _classify_lines(spark, [line])
    assert r["event_class"] == "skip"
    assert r["envelope_fail"] is None


def test_extra_fields_ignored(spark):
    """Lenient parse (AzureBlobCreateEventMessage.kt:5; test injects
    extraField at Unit_FnDecompressor.kt:573-574)."""
    line = GOOD[:-1] + ',"extraField":"im confused"}'
    (r,) = _classify_lines(spark, [line])
    assert r["event_class"] == "apply" and r["doc_id"] == "d1"


def test_blank_line_skipped(spark):
    rows = _classify_lines(spark, ["   ", GOOD])
    classes = sorted(r["event_class"] for r in rows)
    assert classes == ["apply", "skip"]


def test_delete_without_payload_applies(spark):
    line = (
        '{"op":"delete","doc_id":"d9","commit_ts":"2024-01-01T00:00:01.000Z",'
        '"lsn":2,"batch_epoch":0}'
    )
    (r,) = _classify_lines(spark, [line])
    assert r["event_class"] == "apply" and r["payload"] is None


def test_compact_binlog_replay_converges(spark, tmp_path):
    """Kafka-style log compaction: replaying the compacted log must
    reach the SAME table state and the SAME quarantine rows as the
    full log — only superseded valid events (LWW losers) are gone."""
    import os

    from dexspark import gen
    from dexspark.config import EngineConfig, sequences_ruleset
    from dexspark.events import compact_binlog
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema
    from dexspark.stream import CdcEngine

    full = str(tmp_path / "binlog-full")
    events = gen.change_events(
        spark, n_events=3_000, n_docs=150, n_epochs=4, max_len=8, anomaly_pct=10
    )
    gen.write_binlog(events, full)
    compacted = str(tmp_path / "binlog-compacted")
    info = compact_binlog(
        spark, full, compacted, rules=sequences_ruleset()
    )
    assert info["dropped"] > 0  # duplicates per key really compacted
    assert info["events_out"] < info["events_in"]

    def run(tag, binlog):
        table = LakeTable.create(
            spark, str(tmp_path / f"seq-{tag}"), sequences_schema(), num_buckets=4
        )
        table.overwrite(gen.base_sequences(spark, n_docs=150, max_len=8))
        eng = CdcEngine(
            spark, table, str(tmp_path / tag), EngineConfig(num_buckets=4)
        )
        eng.apply_binlog(binlog)
        state = {
            r["doc_id"]: r.asDict(recursive=True) for r in table.read().collect()
        }
        q = spark.read.parquet(eng.quarantine_path)
        return state, {r["raw"] for r in q.select("raw").collect()}, q.count()

    s_full, q_full, n_full = run("full", full)
    s_comp, q_comp, n_comp = run("comp", compacted)
    assert s_full == s_comp  # table state identical
    assert q_full == q_comp  # same quarantined raw lines survive
    assert n_full == n_comp


def test_compact_binlog_non_monotone_key_kept_verbatim(spark, tmp_path):
    """A producer retry that re-offsets an OLD (commit_ts, lsn) under a
    FRESH epoch makes blind epoch-ordered replay batching-dependent for
    that key — so compaction must keep ALL its events verbatim, while
    still compacting monotone keys. Replay of the compacted log (one
    micro-batch per epoch, the canonical replay) must equal replay of
    the full log."""
    import json
    import os

    from dexspark.config import EngineConfig, sequences_ruleset
    from dexspark.events import compact_binlog
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema
    from dexspark.stream import CdcEngine

    def _ev(doc, toks, ts, lsn, epoch):
        return json.dumps(
            {
                "op": "insert",
                "doc_id": doc,
                "payload": {"tokens": toks, "n_tok": len(toks), "source": "web"},
                "commit_ts": ts,
                "lsn": lsn,
                "batch_epoch": epoch,
            }
        )

    full = str(tmp_path / "binlog-full")
    os.makedirs(full)
    # non-monotone key "nm": fresher commit_ts in the EARLIER epoch
    with open(os.path.join(full, "epoch-000000-000.ndjson"), "w") as f:
        f.write(_ev("nm", [10], "2024-01-01T00:00:10.000Z", 100, 0) + "\n")
        f.write(_ev("mono", [1], "2024-01-01T00:00:01.000Z", 1, 0) + "\n")
    with open(os.path.join(full, "epoch-000001-000.ndjson"), "w") as f:
        f.write(_ev("nm", [5], "2024-01-01T00:00:05.000Z", 50, 1) + "\n")
        f.write(_ev("mono", [2], "2024-01-01T00:00:02.000Z", 2, 1) + "\n")

    compacted = str(tmp_path / "binlog-compacted")
    info = compact_binlog(spark, full, compacted, rules=sequences_ruleset())
    # mono compacts to its winner; nm keeps both events
    assert info["events_in"] == 4 and info["events_out"] == 3

    def run(tag, binlog):
        from dexspark.events import open_binlog

        table = LakeTable.create(
            spark, str(tmp_path / f"seq-{tag}"), sequences_schema(), num_buckets=2
        )
        table.overwrite(spark.createDataFrame([], sequences_schema()))
        eng = CdcEngine(
            spark, table, str(tmp_path / tag), EngineConfig(num_buckets=2)
        )
        # canonical replay: one micro-batch per epoch, epoch order —
        # the batching under which the full log's final nm value is [5]
        parsed = open_binlog(spark, binlog)
        for epoch in (0, 1):
            eng.apply_batch(parsed.filter(F.col("batch_epoch") == epoch))
        return {
            r["doc_id"]: r.asDict(recursive=True) for r in table.read().collect()
        }

    s_full = run("full", full)
    s_comp = run("comp", compacted)
    assert s_full == s_comp
    assert s_full["mono"]["tokens"] == [2]
    assert s_full["nm"]["tokens"] == [5]  # per-epoch replay: last epoch wins


def test_expire_binlog_lifecycle(spark, tmp_path):
    """expire_binlog removes exactly the applied epochs under the
    watermark minus the keep window, in BOTH log layouts, never
    touches epoch-less entries, and the engine's exactly-once state
    keeps a post-expiry re-tail a no-op."""
    import json as _json
    import os

    from dexspark import gen
    from dexspark.config import EngineConfig
    from dexspark.events import binlog_epoch_files, expire_binlog
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema
    from dexspark.stream import CdcEngine

    for fmt in ("ndjson", "parquet"):
        binlog = str(tmp_path / f"log-{fmt}")
        ev = gen.change_events(
            spark, n_events=400, n_docs=80, n_epochs=4, max_len=8,
            anomaly_pct=0,
        )
        if fmt == "ndjson":
            gen.write_binlog(ev, binlog)
        else:
            gen.write_binlog_parquet(ev, binlog)
        # an epoch-less sidecar must survive
        with open(os.path.join(binlog, "_note.json"), "w") as f:
            _json.dump({"x": 1}, f)

        t = LakeTable.create(
            spark, str(tmp_path / f"t-{fmt}"), sequences_schema(),
            num_buckets=4,
        )
        eng = CdcEngine(
            spark, t, str(tmp_path / f"wh-{fmt}"), EngineConfig(num_buckets=4)
        )
        eng.apply_binlog(binlog)
        w, _ = t.epoch_state()
        assert w == 3

        dry = expire_binlog(binlog, w, keep_epochs=2, dry_run=True)
        assert dry["expired_epochs"] == [0, 1] and dry["dry_run"]
        assert set(binlog_epoch_files(binlog)) == {0, 1, 2, 3}  # untouched

        info = expire_binlog(binlog, w, keep_epochs=2)
        assert info["expired_epochs"] == [0, 1]
        assert set(binlog_epoch_files(binlog)) == {2, 3}
        assert os.path.exists(os.path.join(binlog, "_note.json"))

        rows_before = sorted(
            (r["doc_id"], tuple(r["tokens"] or [])) for r in t.read().collect()
        )
        # fresh checkpoint over the truncated log: everything left is
        # already committed — state unchanged
        v = t.current_version()
        eng.apply_binlog(binlog)
        t2 = LakeTable(spark, str(tmp_path / f"t-{fmt}"))
        assert t2.current_version() == v
        assert rows_before == sorted(
            (r["doc_id"], tuple(r["tokens"] or []))
            for r in t2.read().collect()
        )

"""Partial-update (patch) CDC events (operators/patch.py).

Oracle: a Python event-by-event fold (apply each event in
(commit_ts, lsn) order on a dict-of-rows) — the distributed
composition must equal it on every seeded random stream, including
interleaved deletes, explicit null sets, same-column overwrites, and
patches to absent keys.
"""

import random

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from dexspark.lake import LakeTable
from dexspark.operators.patch import resolve_patch_batch
from dexspark.schema import sequences_schema

EV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
    ]
)

DATA_COLS = ["tokens", "n_tok", "source"]


def _table(spark, tmp_path, rows):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4
    )
    if rows:
        t.merge(spark.createDataFrame(rows, schema=sequences_schema()))
    return t


def _apply(table, events, mode="cow", epochs=None):
    """Resolve a patch batch against the table's current rows, then
    merge the post-images and delete keys."""
    r = resolve_patch_batch(table, events)
    return table.merge(
        r["ups"].drop("_last_commit_ts", "_last_lsn"),
        delete_keys=r["dels"],
        mode=mode,
        epochs=epochs,
        affected_buckets=r["touched"],
        affected_buckets_nb=r["num_buckets"],
    )


def _oracle(initial: dict, events) -> dict:
    """Apply events one at a time, in (commit_ts, lsn) order."""
    state = {k: dict(v) for k, v in initial.items()}
    for ev in sorted(events, key=lambda e: (e[2], e[3])):
        doc, op, _ts, _lsn, tokens, n_tok, source, fields = ev
        if op == "delete":
            state.pop(doc, None)
            continue
        vals = {"tokens": tokens, "n_tok": n_tok, "source": source}
        row = state.get(doc, {c: None for c in DATA_COLS})
        for c in fields if fields is not None else DATA_COLS:
            row[c] = vals[c]
        state[doc] = row
    return state


def _collect_state(table) -> dict:
    return {
        r["doc_id"]: {c: r[c] for c in DATA_COLS}
        for r in table.read().collect()
    }


def _check(spark, tmp_path, initial_rows, events, mode="cow"):
    t = _table(spark, tmp_path, initial_rows)
    initial = {
        r[0]: {"tokens": r[1], "n_tok": r[2], "source": r[3]}
        for r in initial_rows
    }
    _apply(t, spark.createDataFrame(events, EV_SCHEMA), mode=mode)
    assert _collect_state(t) == _oracle(initial, events)
    return t


def test_patch_composition_and_null_set(spark, tmp_path):
    initial = [("d1", [1, 2], 2, "a"), ("d2", [3], 1, "b")]
    events = [
        # two patches to d1: disjoint columns BOTH apply
        ("d1", "upsert", 10, 1, None, 7, None, ["n_tok"]),
        ("d1", "upsert", 10, 2, [9, 9], None, None, ["tokens"]),
        # same column twice: later wins
        ("d2", "upsert", 10, 3, None, None, "x", ["source"]),
        ("d2", "upsert", 11, 1, None, None, "y", ["source"]),
        # explicit null set (listed + null) vs unlisted (kept)
        ("d2", "upsert", 12, 1, None, None, None, ["n_tok"]),
    ]
    t = _check(spark, tmp_path, initial, events)
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["d1"]["tokens"] == [9, 9] and got["d1"]["n_tok"] == 7
    assert got["d1"]["source"] == "a"  # never patched — kept
    assert got["d2"]["source"] == "y" and got["d2"]["n_tok"] is None
    assert got["d2"]["tokens"] == [3]


def test_delete_resets_patch_base(spark, tmp_path):
    initial = [("d1", [1, 2], 2, "a"), ("d2", [1], 1, "a"), ("d3", [1], 1, "a")]
    events = [
        # patch then delete: the key dies
        ("d1", "upsert", 10, 1, None, 5, None, ["n_tok"]),
        ("d1", "delete", 10, 2, None, None, None, None),
        # delete then patch: insert-by-patch — old values must NOT leak
        ("d2", "delete", 10, 3, None, None, None, None),
        ("d2", "upsert", 10, 4, None, 9, None, ["n_tok"]),
        # delete, patch, delete, patch — only the tail patch survives
        ("d3", "delete", 10, 5, None, None, None, None),
        ("d3", "upsert", 10, 6, None, 1, None, ["n_tok"]),
        ("d3", "delete", 10, 7, None, None, None, None),
        ("d3", "upsert", 10, 8, None, None, "z", ["source"]),
    ]
    t = _check(spark, tmp_path, initial, events)
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert "d1" not in got
    assert got["d2"]["n_tok"] == 9 and got["d2"]["tokens"] is None
    assert got["d3"]["source"] == "z" and got["d3"]["n_tok"] is None


def test_full_image_when_fields_null(spark, tmp_path):
    """null fields = full row image — the plain-CDC degenerate case."""
    initial = [("d1", [1], 1, "a")]
    events = [("d1", "upsert", 10, 1, [5], 1, None, None)]
    t = _check(spark, tmp_path, initial, events)
    got = t.read().collect()[0]
    assert got["tokens"] == [5] and got["source"] is None


def test_patch_absent_key_creates_row(spark, tmp_path):
    events = [("new1", "upsert", 10, 1, None, None, "s", ["source"])]
    t = _check(spark, tmp_path, [], events)
    got = t.read().collect()[0]
    assert got["doc_id"] == "new1" and got["source"] == "s"
    assert got["tokens"] is None and got["n_tok"] is None


@pytest.mark.parametrize("mode,seed", [("cow", 7), ("mor", 8), ("cow", 9)])
def test_randomized_stream_matches_event_fold_oracle(
    spark, tmp_path, mode, seed
):
    rng = random.Random(seed)
    docs = [f"d{i}" for i in range(30)]
    initial = [
        (d, [rng.randrange(10) for _ in range(3)], 3, rng.choice("abc"))
        for d in docs[:20]
    ]
    events, lsn = [], 0
    for _ in range(300):
        lsn += 1
        d = rng.choice(docs)
        ts = rng.randrange(5)  # coarse ts: exercises lsn tie-breaks
        if rng.random() < 0.15:
            events.append((d, "delete", ts, lsn, None, None, None, None))
            continue
        fields = rng.sample(DATA_COLS, rng.randrange(1, 4))
        tokens = (
            [rng.randrange(100) for _ in range(rng.randrange(1, 4))]
            if "tokens" in fields and rng.random() > 0.2
            else None
        )
        n_tok = rng.randrange(10) if "n_tok" in fields and rng.random() > 0.2 else None
        source = rng.choice("xyz") if "source" in fields else None
        events.append((d, "upsert", ts, lsn, tokens, n_tok, source, fields))
    rng.shuffle(events)  # delivery order must not matter
    _check(spark, tmp_path, initial, events, mode=mode)


def test_two_sequential_batches_compose(spark, tmp_path):
    """Patch state persists across merges: batch 2 patches build on
    batch 1's resolved rows (and epochs record exactly-once)."""
    t = _table(spark, tmp_path, [("d1", [1], 1, "a")])
    b1 = [("d1", "upsert", 10, 1, None, 5, None, ["n_tok"])]
    b2 = [("d1", "upsert", 20, 1, None, None, "q", ["source"])]
    _apply(t, spark.createDataFrame(b1, EV_SCHEMA), epochs=[0])
    _apply(t, spark.createDataFrame(b2, EV_SCHEMA), mode="mor", epochs=[1])
    got = t.read().collect()[0]
    assert (got["n_tok"], got["source"], got["tokens"]) == (5, "q", [1])
    assert t.is_epoch_committed(0) and t.is_epoch_committed(1)

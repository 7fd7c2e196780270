"""Optimistic-concurrency commit retry (the Iceberg ``commit.retry``
idea): a merge that loses the conditional-put race rebases its
already-written data files onto the latest snapshot when every
intervening commit is provably non-conflicting — compact is
state-identity, merges are safe on disjoint buckets — and raises
otherwise. At cluster scale this is the stream tailer racing the
compact/vacuum maintenance crons; without it the loser throws away a
fully-written batch.

Reference parity: the reference's blob pipeline serializes per-blob
moves (AzureBlobServiceImpl.kt:26-48); a multi-writer lake needs the
catalog-level resolution instead.
"""

import os

import pytest
from pyspark.sql import functions as F

from dexspark.lake import ConcurrentCommitError, LakeTable, LocalFileIO
from dexspark.schema import sequences_schema


class RacingIO(LocalFileIO):
    """Injects a competing commit at the worst moment: immediately
    BEFORE this writer's first manifest put, another writer publishes
    the same version — deterministically recreating the window between
    manifest read and conditional put."""

    def __init__(self, race):
        self._race = race
        self._armed = True

    def put_if_absent(self, path, data):
        if self._armed and os.sep + "snap-" in path:
            self._armed = False
            self._race()
        return super().put_if_absent(path, data)


def _seed(spark, root, n=200, num_buckets=8):
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=num_buckets)
    df = spark.range(n).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    t.overwrite(df)
    return t


def _docs_in_distinct_buckets(spark, num_buckets=8):
    """Two doc ids that hash to different buckets (computed with the
    writer's own bucketing expression, never a Python reimplementation)."""
    rows = (
        spark.range(20)
        .select(
            F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
            F.pmod(
                F.xxhash64(F.concat(F.lit("doc-"), F.col("id"))),
                F.lit(num_buckets),
            ).cast("int").alias("b"),
        )
        .collect()
    )
    a = rows[0]
    b = next(r for r in rows if r["b"] != a["b"])
    return (a["doc_id"], a["b"]), (b["doc_id"], b["b"])


def _up(spark, doc_id, source):
    return spark.createDataFrame([(doc_id, [7], 1, source)], schema=sequences_schema())


def test_mor_merge_rebases_over_disjoint_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    (doc_a, _), (doc_b, _) = _docs_in_distinct_buckets(spark)

    winner = LakeTable(spark, root)
    race = lambda: winner.merge(_up(spark, doc_a, "A"), mode="mor")  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    info = loser.merge(_up(spark, doc_b, "B"), mode="mor", epochs=[0])

    # winner took v3; the loser rebased to v4 instead of failing
    assert info["version"] == 4
    t = LakeTable(spark, root)
    got = {r["doc_id"]: r["source"] for r in t.read().collect()}
    assert got[doc_a] == "A" and got[doc_b] == "B" and len(got) == 200

    # the rebased dir is NAMED with the lost version; the manifest's
    # commit_versions map restores its true order for readers
    m = t.manifest()
    cv = m.get("commit_versions", {})
    assert any(d.startswith("commit-00000003") and v == 4 for d, v in cv.items())
    # epoch bookkeeping was recomputed on top of the winner's snapshot
    w, tail = t.epoch_state()
    assert (w, tail) == (0, [])

    # changes() attributes each row to its LOGICAL commit
    v3 = {r["doc_id"] for r in t.changes(2, 3).collect()}
    v4 = {r["doc_id"] for r in t.changes(3, 4).collect()}
    assert v3 == {doc_a} and v4 == {doc_b}


def test_cow_merge_rebases_over_compact(spark, tmp_path):
    root = str(tmp_path / "t")
    t0 = _seed(spark, root)
    (doc_a, _), (doc_b, _) = _docs_in_distinct_buckets(spark)
    t0.merge(_up(spark, doc_a, "A1"), mode="mor")  # pending MOR history

    winner = LakeTable(spark, root)
    race = lambda: winner.compact()  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    info = loser.merge(_up(spark, doc_b, "B"))  # cow

    assert info["version"] == 5  # create 1, overwrite 2, mor 3, compact 4
    t = LakeTable(spark, root)
    assert t.manifest().get("mor") in (False, None)  # post-compact, cow rebase
    got = {r["doc_id"]: r["source"] for r in t.read().collect()}
    assert got[doc_a] == "A1" and got[doc_b] == "B" and len(got) == 200


def test_same_bucket_conflict_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    (doc_a, _), _ = _docs_in_distinct_buckets(spark)

    winner = LakeTable(spark, root)
    race = lambda: winner.merge(_up(spark, doc_a, "A"), mode="mor")  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    with pytest.raises(ConcurrentCommitError, match="bucket conflict"):
        loser.merge(_up(spark, doc_a, "B"), mode="mor")
    # the winner's update is intact; the loser's files are orphans
    # (vacuum's min-age gate sweeps them later)
    got = {r["doc_id"]: r["source"] for r in LakeTable(spark, root).read().collect()}
    assert got[doc_a] == "A"


def test_rebucket_conflict_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    (_, _), (doc_b, _) = _docs_in_distinct_buckets(spark)

    winner = LakeTable(spark, root)
    race = lambda: winner.rebucket(16)  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    with pytest.raises(ConcurrentCommitError):
        loser.merge(_up(spark, doc_b, "B"), mode="mor")
    assert LakeTable(spark, root).num_buckets == 16


def test_merge_refuses_a_publish_that_changed_the_bucket_space(spark, tmp_path):
    """A branch ``rebucket(8)`` of a 4-bucket table, published as a
    fast-forward, wins the race against a merge into a bucket that is
    empty in both bucket spaces. The touched sets are disjoint, but
    the merge's files were bucketed for 4 buckets: it must not be
    filed under the 8-bucket manifest."""
    root = str(tmp_path / "t")
    t = _seed(spark, root, n=1, num_buckets=4)  # one row: doc-0
    # a key outside doc-0's 4-bucket; hash mod 8 reduces to hash mod 4,
    # so its 8-bucket is empty after the rebucket as well
    (first, _), (doc, _) = _docs_in_distinct_buckets(spark, 4)
    assert first == "doc-0"
    t.create_branch("wide")
    LakeTable(spark, root, branch="wide").rebucket(8)

    winner = LakeTable(spark, root)
    race = lambda: winner.publish_branch("wide")  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    with pytest.raises(ConcurrentCommitError, match="cannot rebase"):
        loser.merge(_up(spark, doc, "late"), mode="mor", epochs=[0])
    t = LakeTable(spark, root)
    assert t.num_buckets == 8 and t.manifest()["operation"] == "publish"
    assert {r["doc_id"] for r in t.read().collect()} == {"doc-0"}


def test_merge_rebases_over_a_rename(spark, tmp_path):
    """A merge raced by ``rename_column`` rebases: its files carry the
    old name, which the renamed column's alias resolves on read."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=20)
    (doc_a, _), _ = _docs_in_distinct_buckets(spark)

    winner = LakeTable(spark, root)
    race = lambda: winner.rename_column("source", "src")  # noqa: E731
    loser = LakeTable(spark, root, io=RacingIO(race))
    info = loser.merge(_up(spark, doc_a, "B"), epochs=[0])  # cow

    assert info["version"] == 4  # create 1, overwrite 2, rename 3
    t = LakeTable(spark, root)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert sorted(t.read().columns) == ["doc_id", "n_tok", "src", "tokens"]
    assert rows[doc_a]["src"] == "B" and len(rows) == 20
    assert {r["src"] for d, r in rows.items() if d != doc_a} == {"s"}
    assert t.is_epoch_committed(0)

"""``LakeTable._successor`` and ``_publish_with_rebase``, the one
place a successor manifest is made and the one rebase walk: a new
snapshot carries forward only what a snapshot owns, never the
provenance of the commit before it, and a branch publish walks
intervening commits exactly as a merge does."""

import pytest

from dexspark.lake import ConcurrentCommitError, LakeTable
from dexspark.schema import sequences_schema

PROVENANCE = ("restored_from", "branch", "fork_version")


def _rows(spark, *doc_ids):
    return spark.createDataFrame(
        [(d, [1], 1, "web") for d in doc_ids], schema=sequences_schema()
    )


@pytest.fixture()
def t(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=2
    )
    t.overwrite(_rows(spark, "a", "b"))
    return t


def test_merge_after_rollback_or_publish_carries_no_provenance(spark, t):
    v = t.current_version()
    t.merge(_rows(spark, "c"), epochs=[0])
    t.rollback(v)
    assert t.manifest()["restored_from"] == v
    t.merge(_rows(spark, "d"), epochs=[1], mode="mor")
    m = t.manifest()
    assert m["operation"] == "merge-mor"
    assert not set(PROVENANCE) & set(m)

    t.create_branch("b")
    LakeTable(spark, t.root, branch="b").merge(_rows(spark, "e"), epochs=[2])
    t.publish_branch("b")
    assert t.manifest()["branch"] == "b"
    t.merge(_rows(spark, "f"), epochs=[3])
    m = t.manifest()
    assert m["operation"] == "merge-cow"
    assert not set(PROVENANCE) & set(m)
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "b", "d", "e", "f"}


def test_publish_over_an_expired_intervener_is_a_commit_conflict(spark, tmp_path):
    """Fork at v1, main commits v2 and v3, vacuum keeps v3 and the fork
    but expires v2: the publish cannot check v2, so it refuses with
    the same error a merge gets there."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=2
    )
    t.create_branch("late")
    LakeTable(spark, t.root, branch="late").merge(_rows(spark, "x"), epochs=[5])
    t.mark_epochs([0])
    t.mark_epochs([1])
    t.vacuum(keep_last=1, min_age_seconds=0)
    assert [h["version"] for h in t.history()] == [1, 3]
    with pytest.raises(ConcurrentCommitError, match="snapshot 2 expired"):
        t.publish_branch("late")
    assert t.current_version() == 3

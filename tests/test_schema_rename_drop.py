"""Column rename/drop schema evolution (Iceberg field-identity
semantics) — lake.rename_column / drop_column + columns_meta.

Load-bearing properties:
* rename is metadata-only: old files read under the new name, stale
  producers writing the old name land in the renamed column, time
  travel shows the historical name;
* drop is metadata-only, and a later re-add of the SAME name is a new
  identity — pre-re-add files read null, never resurrecting dropped
  bytes;
* changes() across rename/drop windows stays replay-convergent.
"""

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from dexspark.lake import LakeTable
from dexspark.schema import SchemaEvolutionError, sequences_schema


def _rows(spark, rows):
    return spark.createDataFrame(rows, schema=sequences_schema())


@pytest.fixture()
def t(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4
    )
    t.merge(_rows(spark, [(f"d{i}", [i], 1, "a") for i in range(6)]))
    return t


def test_rename_is_metadata_only_and_reads_old_files(t, spark, footer_schemas_ok):
    v_before = t.current_version()
    t.rename_column("n_tok", "tok_count")
    # no data commit happened
    assert t.manifest()["buckets"] == t.manifest(v_before)["buckets"]
    df = t.read()
    assert "tok_count" in df.columns and "n_tok" not in df.columns
    assert df.filter(F.col("tok_count") == 1).count() == 6
    # time travel: the pre-rename snapshot still shows the old name
    old = t.read(version=v_before)
    assert "n_tok" in old.columns and "tok_count" not in old.columns
    # a file written under the new name beside the old-name files
    t.merge(
        spark.createDataFrame(
            [("d7", [7], 1, "b")],
            "doc_id string, tokens array<int>, tok_count int, source string",
        ),
        mode="mor",
    )
    assert t.read().filter(F.col("tok_count") == 1).count() == 7
    footer_schemas_ok(t)


def test_stale_producer_old_name_lands_in_renamed_column(t, spark):
    t.rename_column("n_tok", "tok_count")
    stale = spark.createDataFrame(
        [("d0", [9, 9], 2, "a"), ("d100", [7], 1, "b")],
        schema=sequences_schema(),  # still says n_tok
    )
    t.merge(stale, mode="mor")
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["d0"]["tok_count"] == 2 and got["d100"]["tok_count"] == 1
    # and no duplicate column was spawned
    assert sorted(t.read().columns) == ["doc_id", "source", "tok_count", "tokens"]


def test_rename_merge_key(t, spark):
    t.rename_column("doc_id", "document_id")
    assert t.key == "document_id"
    assert t.lookup("d3").count() == 1
    new = spark.createDataFrame(
        [("d3", [5], 5, "z")],
        "document_id string, tokens array<int>, n_tok int, source string",
    )
    t.merge(new)
    assert t.lookup("d3").collect()[0]["n_tok"] == 5
    assert t.read().count() == 6


def test_rename_collision_guards(t):
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("n_tok", "source")
    t.rename_column("n_tok", "tok_count")
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("source", "n_tok")  # former name: ambiguous
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("nope", "x")


def test_drop_then_readd_does_not_resurrect(t, spark, footer_schemas_ok):
    t.drop_column("source")
    assert "source" not in t.read().columns
    # re-add the SAME name via additive evolution on a merge
    t.merge(_rows(spark, [("d0", [1], 1, "fresh"), ("d9", [2], 1, "fresh")]))
    got = {r["doc_id"]: r["source"] for r in t.read().collect()}
    assert got["d0"] == "fresh" and got["d9"] == "fresh"
    # rows untouched since the drop must read null, even though the
    # old files still physically hold 'a'
    assert all(got[f"d{i}"] is None for i in range(1, 6))
    footer_schemas_ok(t)


def test_drop_key_refused(t):
    with pytest.raises(SchemaEvolutionError):
        t.drop_column("doc_id")


def test_changes_across_rename_and_drop_replays(t, spark):
    v0 = t.current_version()
    t.merge(_rows(spark, [("d0", [8], 8, "b")]), mode="mor")
    t.rename_column("n_tok", "tok_count")
    t.merge(
        spark.createDataFrame(
            [("d1", [3, 3], 2, "c")],
            "doc_id string, tokens array<int>, tok_count int, source string",
        )
    )
    t.drop_column("source")
    t.merge(
        spark.createDataFrame(
            [("d2", [4], 1)],
            "doc_id string, tokens array<int>, tok_count int",
        ),
        mode="mor",
    )
    ch = t.changes(v0)
    assert "tok_count" in ch.columns and "source" not in ch.columns
    # replay over the v0 snapshot (aligned to the final schema) must
    # equal the current read — the standard convergence contract
    final_cols = [f.name for f in t.schema.fields]
    base = (
        t.read(version=v0)
        .withColumnRenamed("n_tok", "tok_count")
        .select(*final_cols)
        .select("*", F.lit(0).alias("_commit_version"))
    )
    win = F.max_by(
        F.struct(*[c for c in final_cols if c != "doc_id"]),
        F.col("_commit_version"),
    ).alias("_w")
    replayed = (
        base.unionByName(
            ch.filter(F.col("_change_type") == "upsert").drop("_change_type")
        )
        .groupBy("doc_id")
        .agg(win)
        .select("doc_id", "_w.*")
    )
    got = {r["doc_id"]: r.asDict() for r in replayed.collect()}
    want = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert got == want


def test_rename_survives_compact_and_readd_after_compact(t, spark):
    """Compaction rewrites files under CURRENT names; identity
    bookkeeping must stay exact through it."""
    t.rename_column("source", "origin")
    t.merge(_rows(spark, [("d0", [1], 1, None)]), mode="mor")
    t.compact()
    got = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert got["d1"] == "a" and got["d0"] is None
    t.drop_column("origin")
    t.compact()  # physically drops the bytes for compacted buckets
    t.merge(
        spark.createDataFrame(
            [("d1", [2], 1, "new")],
            "doc_id string, tokens array<int>, n_tok int, origin string",
        )
    )
    got = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert got["d1"] == "new"
    assert all(v is None for k, v in got.items() if k != "d1")


def test_branch_rename_publishes_fast_forward(t, spark):
    """Rename staged on a branch: publish adopts it when main is
    unmoved (fast-forward), refuses when main advanced — a name-based
    merge would duplicate the column."""
    t.create_branch("wap")
    bt = LakeTable(spark, t.root, branch="wap")
    bt.rename_column("n_tok", "tok_count")
    bt.merge(
        spark.createDataFrame(
            [("d0", [5, 5], 2, "a")],
            "doc_id string, tokens array<int>, tok_count int, source string",
        ),
        mode="mor",
    )
    info = t.publish_branch("wap")
    assert not info["noop"]
    df = t.read()
    assert "tok_count" in df.columns and "n_tok" not in df.columns
    got = {r["doc_id"]: r["tok_count"] for r in df.collect()}
    assert got["d0"] == 2 and got["d1"] == 1  # old files alias-read


def test_branch_rename_refused_when_main_moved(t, spark):
    from dexspark.lake import ConcurrentCommitError

    t.create_branch("wap")
    bt = LakeTable(spark, t.root, branch="wap")
    bt.rename_column("n_tok", "tok_count")
    # main moves (any bucket — identity conflicts are table-wide)
    t.merge(_rows(spark, [("d99", [1], 1, "m")]))
    with pytest.raises(ConcurrentCommitError, match="renamed or dropped"):
        t.publish_branch("wap")
    # branch is intact and re-publishable after... nothing here; just
    # confirm main is unchanged
    assert "n_tok" in t.read().columns


def test_main_rename_with_unrenamed_branch_publishes(t, spark):
    """The reverse direction needs no policy: the branch's old-name
    files and schema resolve through main's aliases."""
    t.create_branch("wap")
    bt = LakeTable(spark, t.root, branch="wap")
    bt.merge(_rows(spark, [("d0", [7], 7, "b")]), mode="mor")  # old names
    t.rename_column("n_tok", "tok_count")
    info = t.publish_branch("wap")
    assert not info["noop"]
    df = t.read()
    assert "tok_count" in df.columns and "n_tok" not in df.columns
    got = {r["doc_id"]: r["tok_count"] for r in df.collect()}
    assert got["d0"] == 7 and got["d2"] == 1

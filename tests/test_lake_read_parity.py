"""Snapshot reads across alignment groups.

``read()``, ``lookup_many`` and ``changes()`` scan a snapshot's data
files one group per alignment (footer schema plus the projection onto
the table schema), not one scan per commit. This table's history puts
files of every alignment side by side:

* an overwrite with no ``_tombstone`` column, then merge-on-read
  commits (one group: a missing tombstone column null-fills);
* an int -> long widening, a rename, and a drop then re-add of a
  column (files of one footer split by the re-added column's
  identity);
* a commit rebased after losing the commit race, whose directory name
  carries the version it lost at (``commit_versions``);
* one merge-on-read batch holding an upsert and a tombstone of the
  same key.

The expected rows were taken from the per-commit read path this
grouping replaced.
"""

import os

import pytest
from pyspark.sql import functions as F, types as T

from dexspark.lake import LakeTable, LocalFileIO

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("tag", T.StringType(), True),
    ]
)


class _RacingIO(LocalFileIO):
    """Runs ``race`` right before this writer's first manifest put, so
    the writer loses that version and rebases its files."""

    def __init__(self, race):
        self._race = race

    def put_if_absent(self, path, data):
        if self._race is not None and os.sep + "snap-" in path:
            race, self._race = self._race, None
            race()
        return super().put_if_absent(path, data)


def _bucket_of(spark, doc_id, n):
    return spark.createDataFrame([(doc_id,)], "doc_id string").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("int")
    ).collect()[0][0]


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("parity") / "t")
    nb = 4
    t = LakeTable.create(spark, root, SCHEMA, num_buckets=nb)
    t.overwrite(
        spark.createDataFrame(
            [(f"doc-{i}", i, f"n{i}", "t0") for i in range(12)], SCHEMA
        )
    )
    v_overwrite = t.current_version()
    t.merge(
        spark.createDataFrame([("doc-1", 11, "n1b", "t1")], SCHEMA),
        spark.createDataFrame([("doc-2",)], "doc_id string"),
        mode="mor",
    )
    t.merge(
        spark.createDataFrame(
            [("doc-3", 2**40, "n3b", "t3")],
            "doc_id string, n bigint, name string, tag string",
        ),
        mode="mor",
    )
    t.rename_column("name", "label")
    t.merge(
        spark.createDataFrame(
            [("doc-4", 4, "L4", "t4"), ("doc-12", 12, "L12", "t12")],
            "doc_id string, n bigint, label string, tag string",
        ),
        mode="mor",
    )
    t.drop_column("tag")
    t.merge(
        spark.createDataFrame(
            [("doc-5", 5, "L5", "fresh"), ("doc-13", 13, "L13", "fresh")],
            "doc_id string, n bigint, label string, tag string",
        ),
        mode="mor",
    )
    # two keys in different buckets: the winner's commit and the
    # loser's rebased one touch disjoint buckets
    a = "doc-6"
    b = next(
        f"doc-{i}" for i in range(9, 12)
        if _bucket_of(spark, f"doc-{i}", nb) != _bucket_of(spark, a, nb)
    )
    cols = "doc_id string, n bigint, label string, tag string"
    winner = LakeTable(spark, root)
    loser = LakeTable(
        spark, root,
        io=_RacingIO(lambda: winner.merge(
            spark.createDataFrame([(a, 60, "win", "w")], cols), mode="mor"
        )),
    )
    info = loser.merge(spark.createDataFrame([(b, 70, "lose", "l")], cols), mode="mor")
    assert info["version"] == t.current_version()
    assert t.manifest().get("commit_versions")
    # one merge-on-read batch: an upsert and a tombstone of doc-7
    # (the upsert wins) and a tombstone of doc-8
    t.merge(
        spark.createDataFrame([("doc-7", 77, "L7", "same")], cols),
        spark.createDataFrame([("doc-7",), ("doc-8",)], "doc_id string"),
        mode="mor",
    )
    return t, v_overwrite, b


def _tuples(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


COLS = ["doc_id", "n", "label", "tag"]


def test_read_across_alignment_groups(history, footer_schemas_ok):
    t, _, b = history
    assert [f.name for f in t.schema.fields] == COLS
    assert dict(t.read().dtypes)["n"] == "bigint"
    assert _tuples(t.read().collect(), COLS) == _golden_read(b)
    footer_schemas_ok(t)


def test_lookup_many_across_alignment_groups(history):
    t, _, b = history
    keys = ["doc-0", "doc-1", "doc-2", "doc-3", "doc-4", "doc-5", "doc-6",
            "doc-7", "doc-8", b, "doc-12", "doc-13", "doc-99"]
    want = [r for r in _golden_read(b) if r[0] in keys]
    assert _tuples(t.lookup_many(keys).collect(), COLS) == want
    for k in ("doc-3", "doc-7", "doc-8", b):
        assert _tuples(t.lookup(k).collect(), COLS) == [r for r in want if r[0] == k]


def test_changes_across_alignment_groups(history):
    t, v_overwrite, b = history
    cols = COLS + ["_change_type", "_commit_version"]
    got = _tuples(t.changes(v_overwrite).collect(), cols)
    assert got == _golden_changes(b, v_overwrite)
    # the rebased commit keeps its logical version
    rebased = [r for r in got if r[0] == b]
    assert [r[-1] for r in rebased] == [v_overwrite + 8]
    # the overwrite's own diff is a full-table upsert
    first = t.changes(v_overwrite - 1, v_overwrite).collect()
    assert len(first) == 12 and {r["_change_type"] for r in first} == {"upsert"}


def _golden_read(b):
    rows = {
        "doc-0": (0, "n0", None),
        "doc-1": (11, "n1b", None),
        "doc-3": (2**40, "n3b", None),
        "doc-4": (4, "L4", None),
        "doc-5": (5, "L5", "fresh"),
        "doc-6": (60, "win", "w"),
        "doc-7": (77, "L7", "same"),
        "doc-9": (9, "n9", None),
        "doc-10": (10, "n10", None),
        "doc-11": (11, "n11", None),
        "doc-12": (12, "L12", None),
        "doc-13": (13, "L13", "fresh"),
    }
    rows[b] = (70, "lose", "l")
    return sorted((k,) + v for k, v in rows.items())


def _golden_changes(b, v):
    out = [
        ("doc-1", 11, "n1b", None, "upsert", v + 1),
        ("doc-2", None, None, None, "delete", v + 1),
        ("doc-3", 2**40, "n3b", None, "upsert", v + 2),
        ("doc-4", 4, "L4", None, "upsert", v + 4),
        ("doc-12", 12, "L12", None, "upsert", v + 4),
        ("doc-5", 5, "L5", "fresh", "upsert", v + 6),
        ("doc-13", 13, "L13", "fresh", "upsert", v + 6),
        ("doc-6", 60, "win", "w", "upsert", v + 7),
        (b, 70, "lose", "l", "upsert", v + 8),
        ("doc-7", 77, "L7", "same", "upsert", v + 9),
        ("doc-8", None, None, None, "delete", v + 9),
    ]
    return sorted(out)

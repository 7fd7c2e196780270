"""FileIO listings of one MERGE commit.

A merge reads the head manifest once and builds its commit on it: the
data write and the footer zone-map pass take that manifest instead of
listing ``_snapshots/`` again (on an object store each listing is a
LIST request).
"""

import os

from dexspark.lake import LakeTable, LocalFileIO
from dexspark.schema import sequences_schema


class CountingIO(LocalFileIO):
    def __init__(self):
        self.listed = []

    def list_dir(self, path):
        self.listed.append(path)
        return super().list_dir(path)


def _docs(spark, lo):
    return spark.createDataFrame(
        [(f"d{i}", [1, 2, i], 3, "web") for i in range(lo, lo + 8)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def test_mor_merge_lists_snapshots_once(spark, tmp_path):
    io = CountingIO()
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4, io=io
    )
    t.merge(_docs(spark, 0), mode="mor", epochs=[0])
    io.listed.clear()
    res = t.merge(_docs(spark, 4), mode="mor", epochs=[1])

    snapshots = [p for p in io.listed if os.path.basename(p) == "_snapshots"]
    assert len(snapshots) == 1  # the head, read once by the merge
    # plus the new commit dir and each bucket dir written under it
    assert len(io.listed) == 2 + res["buckets_appended"]

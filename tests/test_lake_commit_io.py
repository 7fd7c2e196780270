"""FileIO listings of one MERGE commit and of one engine batch.

A merge reads the head manifest once and builds its commit on it: the
data write and the footer zone-map pass take that manifest instead of
listing ``_snapshots/`` again (on an object store each listing is a
LIST request). ``CdcEngine.apply_batch`` likewise reads the head once
and derives its epoch filter, marker set and bucket space from it.
"""

import json
import os

from dexspark.config import EngineConfig
from dexspark.events import read_binlog
from dexspark.lake import LakeTable, LocalFileIO
from dexspark.schema import sequences_schema
from dexspark.stream import CdcEngine


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



def _snapshots(paths):
    return [p for p in paths if os.path.basename(p) == "_snapshots"]


def test_lww_apply_batch_lists_snapshots_once(spark, tmp_path):
    io = CountingIO()
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4, io=io
    )
    t.overwrite(_docs(spark, 0))
    engine = CdcEngine(spark, t, str(tmp_path / "wh"), EngineConfig())
    log = tmp_path / "log"
    log.mkdir()
    (log / "events.ndjson").write_text(
        "\n".join(
            json.dumps(
                {
                    "op": "update",
                    "doc_id": f"d{i}",
                    "payload": {"tokens": [i], "n_tok": 1, "source": "web"},
                    "commit_ts": f"2024-01-01T00:00:0{i}.000Z",
                    "lsn": i,
                    "batch_epoch": 0,
                }
            )
            for i in range(3)
        )
        + "\n"
    )
    parsed = read_binlog(spark, str(log), engine.payload_schema)

    merges = []  # the slice of io.listed each merge made itself
    merge = t.merge

    def recorded_merge(*args, **kwargs):
        first = len(io.listed)
        try:
            return merge(*args, **kwargs)
        finally:
            merges.append(slice(first, len(io.listed)))

    t.merge = recorded_merge
    io.listed.clear()
    metrics = engine.apply_batch(parsed)

    assert metrics.epochs == [0] and len(merges) == 1
    own = _snapshots(io.listed[merges[0]])
    assert len(own) == 1  # the merge's own head read
    # the batch's one head read, besides the merge's
    assert len(_snapshots(io.listed)) - len(own) == 1, io.listed
    assert t.is_epoch_committed(0)

"""True cross-PROCESS writer concurrency on one LakeTable.

test_commit_retry proves the rebase logic with deterministically
injected races, and test_lake races threads inside one JVM; this test
closes the remaining gap: two separate driver PROCESSES (own JVMs,
own SparkSessions) merging into the SAME table concurrently, with
only the FileIO conditional put (atomic os.link create-if-absent)
serializing them — the actual multi-writer deployment shape (a
backfill job racing the streaming tailer).

Writers target overlapping buckets on purpose (keys hash everywhere),
so losers hit both paths: manifest-level rebase (disjoint interveners)
and full merge re-run on a same-bucket conflict — the caller contract
``_publish_with_rebase`` documents (lake.py:277-297).
"""

import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F

from dexspark.lake import LakeTable
from dexspark.schema import sequences_schema

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WRITER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from dexspark.session import get_spark
    from dexspark.lake import ConcurrentCommitError, LakeTable
    import pyspark.sql.functions as F

    spark = get_spark("writer{i}", master="local[2]", shuffle_partitions=2)
    t = LakeTable(spark, {root!r})
    for k in range({batches}):
        df = spark.range(20).select(
            F.concat(F.lit("w{i}-"), F.col("id")).alias("doc_id"),
            F.array((F.col("id") + k).cast("int")).alias("tokens"),
            F.lit(1).alias("n_tok"),
            F.lit("web").alias("source"),
        )
        # same-bucket conflict -> the loser re-RUNS the merge against
        # the new head (the documented multi-writer caller contract)
        for attempt in range(25):
            try:
                t.merge(df)
                break
            except ConcurrentCommitError:
                continue
        else:
            raise SystemExit("writer{i}: merge never won a commit")
    spark.stop()
    print("writer{i} done")
    """
)


def test_two_process_concurrent_merges(spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, sequences_schema(), num_buckets=4)
    batches = 4
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", WRITER.format(repo=REPO, i=i, root=root,
                                                 batches=batches)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for i in (0, 1)
    ]
    for i, p in enumerate(procs):
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, (
            f"writer{i} rc={p.returncode}\n{err.decode()[-2000:]}"
        )

    t = LakeTable(spark, root)
    rows = {
        r["doc_id"]: tuple(r["tokens"]) for r in t.read().collect()
    }
    # every key from both writers survives with its LAST batch's value
    assert len(rows) == 40
    for i in (0, 1):
        for d in range(20):
            assert rows[f"w{i}-{d}"] == (d + batches - 1,)
    # the snapshot chain is a single linear history of real commits
    hist = t.history()
    parents = {h["version"]: h["parent"] for h in hist}
    v = t.current_version()
    seen = 0
    while v > 0:
        v = parents[v]
        seen += 1
    assert seen == len(hist)
    # both writers' merges all landed (create + overwrite-less 8 merges
    # minimum; rebases may add none — versions are unique, not dense)
    merge_ops = [h for h in hist if h["operation"].startswith("merge-")]
    assert len(merge_ops) == 2 * batches


def test_default_driver_heap_fits_host(tmp_path):
    """Each writer JVM above takes the host-sized default heap: a
    quarter of MemTotal in 256 MB steps, 1 GB floor, 24 GB cap."""
    from dexspark.session import default_driver_memory

    def heap(total_kb):
        p = tmp_path / f"meminfo-{total_kb}"
        p.write_text(f"MemFree:         1024 kB\nMemTotal:       {total_kb} kB\n")
        return default_driver_memory(str(p))

    assert heap(15 * 1024 * 1024) == "3840m"
    assert heap(15 * 1024 * 1024 + 900 * 1024) == "3840m"
    assert heap(128 * 1024 * 1024) == "24576m"
    assert heap(2 * 1024 * 1024) == "1024m"
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"

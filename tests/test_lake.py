"""LakeTable: create / read / merge / delete / epoch idempotence /
schema evolution. Mirrors the reference's blob-lifecycle + atomic-move
guarantees (SURVEY.md S5, §2.9 exactly-once)."""

import os

import pytest
from pyspark.sql import functions as F, types as T

from dexspark.lake import ConcurrentCommitError, LakeTable, LocalFileIO
from dexspark.schema import SchemaEvolutionError, reconcile, sequences_schema


def _rows(table):
    return {r["doc_id"]: r.asDict(recursive=True) for r in table.read().collect()}


@pytest.fixture()
def table(spark, tmp_warehouse):
    root = os.path.join(tmp_warehouse, "sequences")
    t = LakeTable.create(spark, root, sequences_schema(), key="doc_id", num_buckets=4)
    base = spark.createDataFrame(
        [("a", [1, 2], 2, "web"), ("b", [3], 1, "books"), ("c", [4, 5, 6], 3, "code")],
        schema=sequences_schema(),
    )
    t.overwrite(base)
    return t


def test_create_and_read(table, footer_schemas_ok):
    rows = _rows(table)
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"]["tokens"] == [1, 2]
    footer_schemas_ok(table)  # overwrite


def test_footer_schemas_of_every_data_write_path(spark, table, footer_schemas_ok):
    """MOR merge with tombstones, COW merge with deletes, compact,
    rebucket and rewrite_payload all write files whose footer schema
    is the one Spark infers; the snapshot reads right after each."""
    want = _rows(table)
    ups = spark.createDataFrame([("d", [7], 1, "web")], schema=sequences_schema())
    dels = spark.createDataFrame([("b",)], "doc_id string")
    table.merge(ups, dels, epochs=[1], mode="mor")
    want.pop("b")
    want["d"] = {"doc_id": "d", "tokens": [7], "n_tok": 1, "source": "web"}
    assert _rows(table) == want
    ups = spark.createDataFrame([("e", [8], 1, "books")], schema=sequences_schema())
    table.merge(ups, spark.createDataFrame([("c",)], "doc_id string"), epochs=[2])
    want.pop("c")
    want["e"] = {"doc_id": "e", "tokens": [8], "n_tok": 1, "source": "books"}
    assert _rows(table) == want
    table.merge(ups.withColumn("source", F.lit("wiki")), epochs=[3], mode="mor")
    want["e"]["source"] = "wiki"
    assert table.compact()["compacted"]
    assert _rows(table) == want
    assert table.rebucket(8)["rebucketed"]
    assert _rows(table) == want
    table.rewrite_payload({"tokens": F.transform("tokens", lambda t: t + 1)})
    for r in want.values():
        r["tokens"] = [t + 1 for t in r["tokens"]]
    assert _rows(table) == want
    footer_schemas_ok(table)


def test_merge_upsert_insert_delete(spark, table):
    ups = spark.createDataFrame(
        [("a", [9, 9], 2, "wiki"), ("d", [7], 1, "web")], schema=sequences_schema()
    )
    dels = spark.createDataFrame([("b",)], "doc_id string")
    info = table.merge(ups, dels, epochs=[1])
    assert info["version"] == 3
    rows = _rows(table)
    assert set(rows) == {"a", "c", "d"}
    assert rows["a"]["tokens"] == [9, 9] and rows["a"]["source"] == "wiki"
    assert table.is_epoch_committed(1)


def test_merge_only_rewrites_affected_buckets(spark, table):
    m0 = table.manifest()
    ups = spark.createDataFrame([("a", [9], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[2])
    m1 = table.manifest()
    changed = [b for b in m0["buckets"] if m1["buckets"].get(b) != m0["buckets"][b]]
    # only the bucket containing 'a' (plus possibly-empty new ones) rewritten
    untouched = [b for b in m0["buckets"] if m1["buckets"].get(b) == m0["buckets"][b]]
    assert len(changed) <= 1
    assert untouched, "unaffected buckets must carry forward their files"


def test_delete_for_absent_key_is_noop(spark, table):
    dels = spark.createDataFrame([("zz",)], "doc_id string")
    table.merge(spark.createDataFrame([], sequences_schema()), dels, epochs=[3])
    assert set(_rows(table)) == {"a", "b", "c"}


def test_epoch_markers(spark, table):
    ups = spark.createDataFrame([("e", [1], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[7])
    assert table.committed_epochs() == {7}


def test_epoch_watermark_compaction(spark, table):
    # 10k contiguous epochs compact to ONE integer — O(1) manifest and
    # O(1) already-committed predicate regardless of stream lifetime
    ups = spark.createDataFrame([], sequences_schema())
    table.merge(ups, epochs=list(range(0, 5000)))
    table.merge(ups, epochs=list(range(5000, 10_000)))
    m = table.manifest()
    assert m["epoch_watermark"] == 9_999
    assert m["epoch_tail"] == []
    assert "committed_epochs" not in m
    assert table.is_epoch_committed(0) and table.is_epoch_committed(9_999)
    assert not table.is_epoch_committed(10_000)


def test_epoch_out_of_order_tail(spark, table):
    # gaps stay in the bounded tail until the missing epochs arrive
    ups = spark.createDataFrame([], sequences_schema())
    table.merge(ups, epochs=[0, 1, 5, 7])
    w, tail = table.epoch_state()
    assert (w, tail) == (1, [5, 7])
    assert table.is_epoch_committed(5) and not table.is_epoch_committed(2)
    table.merge(ups, epochs=[2, 3, 4, 6])  # fills the gaps
    w, tail = table.epoch_state()
    assert (w, tail) == (7, [])


def test_epoch_base_seeding_nonzero_start(spark, table):
    """Kafka-offset-style epoch spaces don't start at 0: the first
    committed batch seeds the watermark base at min(epochs)-1, so the
    watermark advances contiguously from there instead of pinning at
    -1 and growing the tail unboundedly."""
    ups = spark.createDataFrame([], sequences_schema())
    table.merge(ups, epochs=[1_000_000, 1_000_001])
    w, tail = table.epoch_state()
    assert (w, tail) == (1_000_001, [])
    m = table.manifest()
    assert m["epoch_base"] == 999_999
    table.merge(ups, epochs=[1_000_003])  # reorder gap -> bounded tail
    table.merge(ups, epochs=[1_000_002])
    w, tail = table.epoch_state()
    assert (w, tail) == (1_000_003, [])
    assert table.committed_epochs() == {1_000_000, 1_000_001, 1_000_002, 1_000_003}
    assert not table.is_epoch_committed(1_000_004)


def test_epoch_below_base_straggler_not_swallowed(spark, table):
    """An epoch BELOW the seeded base delivered later (e.g.
    maxFilesPerTrigger picking binlog files out of epoch order) is a
    genuine uncommitted epoch: it must not read as committed, and
    committing it must be recorded (tail), shrinking the base through
    contiguous stragglers."""
    ups = spark.createDataFrame([], sequences_schema())
    table.merge(ups, epochs=[5])  # seeds base=4, watermark=5
    assert table.manifest()["epoch_base"] == 4
    assert not table.is_epoch_committed(3)
    assert not table.is_epoch_committed(4)
    table.merge(ups, epochs=[3])  # below-base straggler
    assert table.is_epoch_committed(3)
    assert not table.is_epoch_committed(4)  # 4 still genuinely absent
    w, tail = table.epoch_state()
    assert (w, tail) == (5, [3])
    table.merge(ups, epochs=[4])  # fills the gap: base shrinks through 4,3
    w, tail = table.epoch_state()
    assert (w, tail) == (5, [])
    assert table.manifest()["epoch_base"] == 2
    assert table.committed_epochs() == {3, 4, 5}
    # idempotent re-commit of a straggler records nothing new
    table.merge(ups, epochs=[3])
    assert table.epoch_state() == (5, [])


def test_additive_schema_evolution(spark, table, footer_schemas_ok):
    evolved = T.StructType(
        list(sequences_schema().fields) + [T.StructField("lang", T.StringType(), True)]
    )
    ups = spark.createDataFrame([("x", [1], 1, "web", "en")], schema=evolved)
    info = table.merge(ups, epochs=[4])
    assert "add column lang string" in info["evolution"]
    rows = _rows(table)
    assert rows["x"]["lang"] == "en"
    assert rows["a"]["lang"] is None  # old rows null-filled
    footer_schemas_ok(table)


def test_int_widening(spark, table, footer_schemas_ok):
    widened = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.LongType()), True),
            T.StructField("n_tok", T.LongType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    ups = spark.createDataFrame([("y", [2**40], 1, "web")], schema=widened)
    info = table.merge(ups, epochs=[5])
    assert any("widen" in a for a in info["evolution"])
    rows = _rows(table)
    assert rows["y"]["tokens"] == [2**40]
    assert rows["a"]["tokens"] == [1, 2]  # old int32 data still readable
    assert dict(table.read().dtypes)["n_tok"] == "bigint"
    footer_schemas_ok(table)  # int32 and int64 files side by side


def test_reconcile_rejects_narrowing():
    wide = T.StructType([T.StructField("n_tok", T.LongType(), True)])
    narrow = T.StructType([T.StructField("n_tok", T.StringType(), True)])
    with pytest.raises(SchemaEvolutionError):
        reconcile(wide, narrow)


def test_concurrent_commit_loses_race_cleanly(spark, table):
    """Optimistic concurrency: two writers deriving the same next
    version — the second publish raises instead of clobbering."""
    from dexspark.lake import ConcurrentCommitError

    m1 = dict(table.manifest())
    m2 = dict(table.manifest())
    m1["version"] = m1["version"] + 1
    m2["version"] = m2["version"] + 1
    table._commit(m1)
    with pytest.raises(ConcurrentCommitError):
        table._commit(m2)


def test_crash_between_data_write_and_commit_is_invisible(spark, table):
    """Data files written but manifest never published (crash window):
    readers keep seeing the previous snapshot; a later commit is
    unaffected by the orphaned files."""
    before = {r["doc_id"] for r in table.read().collect()}
    orphan = table._bucket_col(
        spark.createDataFrame([("zz", [9], 1, "web")], schema=sequences_schema()),
        "doc_id",
        table.num_buckets,
    )
    table._write_commit(orphan, table.current_version() + 1)  # no _commit
    assert {r["doc_id"] for r in table.read().collect()} == before
    ups = spark.createDataFrame([("dd", [1], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[9])
    assert {r["doc_id"] for r in table.read().collect()} == before | {"dd"}


def test_time_travel_read(spark, table):
    v_base = table.current_version()
    ups = spark.createDataFrame([("a", [9, 9], 2, "wiki")], schema=sequences_schema())
    dels = spark.createDataFrame([("b",)], "doc_id string")
    table.merge(ups, dels, epochs=[1])
    # current: a updated, b gone
    now = _rows(table)
    assert now["a"]["tokens"] == [9, 9] and "b" not in now
    # VERSION AS OF the pre-merge snapshot: original state intact
    then = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in table.read(version=v_base).collect()
    }
    assert then["a"]["tokens"] == [1, 2] and then["b"]["tokens"] == [3]


def test_vacuum_removes_expired_and_orphans(spark, table):
    ups = spark.createDataFrame([("a", [9], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[1])
    v_old = table.current_version() - 1
    # an orphan from a crashed writer (data written, never committed)
    orphan = table._bucket_col(
        spark.createDataFrame([("q", [1], 1, "web")], schema=sequences_schema()),
        "doc_id",
        table.num_buckets,
    )
    table._write_commit(orphan, table.current_version() + 1)
    want = _rows(table)
    # min_age=0: explicit single-writer opt-in — the crashed writer is
    # KNOWN dead here. The default (an hour) would spare these
    # seconds-old dirs; see test_vacuum_default_spares_young_dirs.
    info = table.vacuum(keep_last=1, min_age_seconds=0)
    assert info["data_dirs_removed"] >= 1  # orphan + expired history gone
    assert info["snapshots_expired"] >= 1
    assert _rows(table) == want  # current snapshot fully intact
    with pytest.raises(FileNotFoundError):
        table.manifest(v_old)  # expired version no longer readable
    with pytest.raises(FileNotFoundError):
        table.read(version=v_old)


def test_vacuum_default_spares_young_dirs(spark, table):
    """The default min_age must NOT sweep a just-written commit dir: a
    concurrent writer may have its data on disk with the manifest not
    yet published, and _commit never re-validates file existence — an
    eager sweep would corrupt that writer's snapshot."""
    inflight = table._bucket_col(
        spark.createDataFrame([("q", [1], 1, "web")], schema=sequences_schema()),
        "doc_id",
        table.num_buckets,
    )
    files = table._write_commit(inflight, table.current_version() + 1)
    info = table.vacuum(keep_last=1)  # default min_age_seconds (1h)
    assert info["data_dirs_removed"] == 0
    # the in-flight writer can still publish and its data is readable
    rel = next(iter(files.values()))[0]
    assert os.path.exists(os.path.join(table.root, rel))


def test_vacuum_keep_last_preserves_time_travel(spark, table):
    v0 = table.current_version()
    ups = spark.createDataFrame([("a", [7], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[1])
    table.vacuum(keep_last=2)
    # both retained versions still read correctly
    assert table.read(version=v0).count() == 3
    assert _rows(table)["a"]["tokens"] == [7]


def test_rebucket_preserves_state_and_prunes_on_new_buckets(spark, table):
    """rebucket(8->32-style migration): state identical, subsequent
    merges prune against the NEW bucket space, and vacuum drops the
    pre-rebucket commits once out of the retention window."""
    ups = spark.createDataFrame(
        [("d", [7], 1, "web"), ("e", [8], 1, "books")], schema=sequences_schema()
    )
    table.merge(ups, epochs=[0], mode="mor")  # leave MOR history too
    want = _rows(table)
    info = table.rebucket(16)
    assert info["rebucketed"] and info["num_buckets"] == 16
    m = table.manifest()
    assert m["num_buckets"] == 16 and m["mor"] is False
    assert _rows(table) == want  # read-equality across the migration
    # MERGE after rebucket: affected-bucket pruning in the new space
    m0 = table.manifest()
    table.merge(
        spark.createDataFrame([("a", [5], 1, "wiki")], schema=sequences_schema()),
        epochs=[1],
    )
    m1 = table.manifest()
    changed = [b for b in m0["buckets"] if m1["buckets"].get(b) != m0["buckets"][b]]
    assert len(changed) <= 1  # only 'a's new-space bucket rewritten
    untouched = [b for b in m0["buckets"] if m1["buckets"].get(b) == m0["buckets"][b]]
    assert untouched
    rows = _rows(table)
    assert rows["a"]["tokens"] == [5] and rows["e"]["tokens"] == [8]
    # pre-rebucket commits vacuum away; the table still reads intact
    table.vacuum(keep_last=1, min_age_seconds=0)
    assert _rows(table) == {**want, "a": rows["a"]}


class _MemManifestIO(LocalFileIO):
    """FileIO fake: manifests live in a dict (an in-memory 'catalog'),
    data files stay on local disk where Spark writes them — the swap
    an object-store deployment would make."""

    def __init__(self):
        self.store: dict[str, str] = {}

    def _is_snap(self, path):
        return "_snapshots" in path

    def list_dir(self, path):
        if self._is_snap(path):
            return sorted(
                os.path.basename(k)
                for k in self.store
                if os.path.dirname(k) == path
            )
        return super().list_dir(path)

    def read_text(self, path):
        if self._is_snap(path):
            if path not in self.store:
                raise FileNotFoundError(path)
            return self.store[path]
        return super().read_text(path)

    def put_if_absent(self, path, data):
        if self._is_snap(path):
            if path in self.store:
                raise ConcurrentCommitError(path)
            self.store[path] = data
            return
        super().put_if_absent(path, data)

    def delete(self, path):
        if self._is_snap(path):
            del self.store[path]
            return
        super().delete(path)

    # object-store semantics: a "directory" is a key prefix — these two
    # are what branch namespaces (_snapshots/branch-<name>/) need
    def is_dir(self, path):
        if self._is_snap(path):
            return any(k.startswith(path + os.sep) for k in self.store)
        return super().is_dir(path)

    def remove_tree(self, path):
        if self._is_snap(path):
            for k in [k for k in self.store if k.startswith(path + os.sep)]:
                del self.store[k]
            return
        super().remove_tree(path)


def test_fileio_seam_with_in_memory_manifest_store(spark, tmp_warehouse):
    """The full create/merge/read/time-travel/vacuum lifecycle runs
    with manifests routed through a non-filesystem FileIO — proof the
    seam carries everything the manifest layer needs (VERDICT: 'swap
    this file for Iceberg' made concrete)."""
    io_ = _MemManifestIO()
    root = os.path.join(tmp_warehouse, "mem")
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=4, io=io_)
    t.overwrite(
        spark.createDataFrame([("a", [1], 1, "web")], schema=sequences_schema())
    )
    t.merge(
        spark.createDataFrame([("b", [2], 1, "books")], schema=sequences_schema()),
        epochs=[0],
    )
    assert set(_rows(t)) == {"a", "b"}
    assert t.read(version=2).count() == 1  # time travel via the fake
    # no manifest ever touched the real filesystem
    assert not os.path.isdir(os.path.join(root, "_snapshots"))
    assert len(io_.store) == 3
    # concurrent commit loses cleanly through the seam
    m = t.manifest()
    t._commit({**m, "version": m["version"] + 1})
    with pytest.raises(ConcurrentCommitError):
        t._commit({**m, "version": m["version"] + 1})
    t.vacuum(keep_last=1, min_age_seconds=0)
    assert len(io_.store) == 1  # expired manifests removed from the store


def test_bucket_pruned_read(spark, table):
    m = table.manifest()
    # read() with bucket pruning returns exactly the rows hashed there
    all_rows = table.read().withColumn(
        "_b", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(m["num_buckets"])).cast("int")
    )
    for b in {r["_b"] for r in all_rows.collect()}:
        want = {r["doc_id"] for r in all_rows.filter(F.col("_b") == b).collect()}
        got = {r["doc_id"] for r in table.read(buckets=[b]).collect()}
        assert got == want


def test_put_if_absent_single_winner_under_racing_threads(tmp_path):
    """The FileIO conditional put is the commit protocol's whole
    correctness load: 16 threads racing the same snapshot path must
    produce exactly ONE winner and 15 clean ConcurrentCommitError
    losers, and the surviving content must be the winner's."""
    import concurrent.futures

    io_ = LocalFileIO()
    target = str(tmp_path / "_snapshots" / "snap-00000007.json")

    def attempt(i):
        try:
            io_.put_if_absent(target, f'{{"writer": {i}}}')
            return ("won", i)
        except ConcurrentCommitError:
            return ("lost", i)

    with concurrent.futures.ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(attempt, range(16)))
    winners = [i for s, i in results if s == "won"]
    assert len(winners) == 1, results
    assert io_.read_text(target) == f'{{"writer": {winners[0]}}}'
    # no temp litter left behind
    leftovers = [
        f for f in os.listdir(tmp_path / "_snapshots") if f.startswith(".tmp-")
    ]
    assert leftovers == []


# ---- point lookup + key bloom filters --------------------------------


def test_lookup_prunes_to_one_bucket_and_pushes_filter(spark, tmp_path):
    from dexspark.schema import sequences_schema
    import pyspark.sql.functions as F

    t = LakeTable.create(
        spark, str(tmp_path / "t"), sequences_schema(), num_buckets=8
    )
    df = spark.range(500).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    t.overwrite(df)
    got = t.lookup("doc-123").collect()
    assert len(got) == 1 and got[0]["tokens"] == [123]
    assert t.lookup("doc-9999").count() == 0
    # the equality reaches the parquet scan (row-group/bloom skipping)
    plan = t.lookup("doc-123")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc-123" in plan
    # and after a MOR merge the filter still pushes through the
    # reconstruction aggregate
    up = spark.createDataFrame(
        [("doc-123", [9], 1, "s2")], schema=sequences_schema()
    )
    t.merge(up, mode="mor")
    got = t.lookup("doc-123").collect()
    assert len(got) == 1 and got[0]["source"] == "s2"
    plan = t.lookup("doc-123")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc-123" in plan


def _jobs_run(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_plan_without_jobs(spark, tmp_path):
    """At merge-on-read depth 4, building read() and changes() frames
    launches no Spark job (schemas come from parquet footers, bucket
    ids from a local relation); a lookup runs only the jobs of the
    reconstruction itself, and its key equality reaches every parquet
    scan through the reconstruction aggregate."""
    import re

    t = LakeTable.create(spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4)
    t.overwrite(
        spark.range(200).select(
            F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
            F.array(F.col("id").cast("int")).alias("tokens"),
            F.lit(1).alias("n_tok"),
            F.lit("s").alias("source"),
        )
    )
    v0 = t.current_version()
    for i in range(4):
        t.merge(
            spark.createDataFrame([("doc-7", [i], 1, f"m{i}")], schema=sequences_schema()),
            spark.createDataFrame([(f"doc-{i + 20}",)], "doc_id string"),
            mode="mor",
        )
    assert max(t.mor_buckets().values()) == 4
    assert _jobs_run(spark, t.read)[1] == 0
    assert _jobs_run(spark, lambda: t.changes(v0))[1] == 0
    df, planning = _jobs_run(spark, lambda: t.lookup("doc-7"))
    assert planning == 0
    rows, reconstruction = _jobs_run(spark, df.collect)
    assert [r["source"] for r in rows] == ["m3"]
    rows, total = _jobs_run(spark, lambda: t.lookup("doc-7").collect())
    assert [r["source"] for r in rows] == ["m3"] and total == reconstruction
    assert _jobs_run(spark, lambda: t.lookup_many(["doc-7", "doc-20"]).collect())[1] == total
    plan = t.lookup("doc-7")._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # one alignment group: the overwrite and the four merge-on-read
    # commits share a footer schema (the tombstone column aside)
    assert len(scans) == 1
    for ln in scans:
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", ln).group(1)
        assert "EqualTo(doc_id,doc-7)" in pushed, ln
    # the empty side of the overwrite's diff against the table's first,
    # empty version plans as an empty local relation: no Python-backed
    # RDD, so running it starts no Python worker
    plan = t.changes(v0 - 1)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


def test_mor_lookup_scans_once_per_alignment_group(spark, tmp_path):
    """At merge-on-read depth 4, a lookup plans one parquet scan per
    alignment group, not per commit. Here there are two groups: the
    overwrite and two merges that write an int32 ``n_tok``, then two
    merges after ``n_tok`` widened to int64. The key equality reaches
    every scan, and the reconstruction runs in one partition, so
    collecting the lookup is one job with no exchange."""
    import re

    t = LakeTable.create(spark, str(tmp_path / "t"), sequences_schema(), num_buckets=4)
    t.overwrite(
        spark.range(200).select(
            F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
            F.array(F.col("id").cast("int")).alias("tokens"),
            F.lit(1).alias("n_tok"),
            F.lit("s").alias("source"),
        )
    )
    for i in range(4):
        n_tok = "int" if i < 2 else "bigint"
        t.merge(
            spark.createDataFrame(
                [("doc-7", [i], i, f"m{i}")],
                f"doc_id string, tokens array<int>, n_tok {n_tok}, source string",
            ),
            spark.createDataFrame([(f"doc-{i + 20}",)], "doc_id string"),
            mode="mor",
        )
    assert max(t.mor_buckets().values()) == 4
    df = t.lookup("doc-7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2
    for ln in scans:
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", ln).group(1)
        assert "EqualTo(doc_id,doc-7)" in pushed, ln
    assert "Exchange" not in plan
    rows, jobs = _jobs_run(spark, df.collect)
    assert [(r["source"], r["n_tok"]) for r in rows] == [("m3", 3)] and jobs == 1
    rows, jobs = _jobs_run(spark, lambda: t.lookup_many(["doc-7", "doc-21", "doc-5"]).collect())
    assert sorted(r["doc_id"] for r in rows) == ["doc-5", "doc-7"] and jobs == 1


def test_bloom_filter_property_writes_blooms(spark, tmp_path):
    """Same deterministic data written with and without the
    bloom_filter_key property: the bloom variant's data files must be
    strictly larger (the serialized filters), and lookups stay
    correct."""
    import os

    from dexspark.schema import sequences_schema
    import pyspark.sql.functions as F

    df = spark.range(20_000).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )

    def total_bytes(root):
        out = 0
        for dirpath, _, files in os.walk(root):
            out += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return out

    plain = LakeTable.create(
        spark, str(tmp_path / "plain"), sequences_schema(), num_buckets=4
    )
    plain.overwrite(df)
    bloomed = LakeTable.create(
        spark,
        str(tmp_path / "bloomed"),
        sequences_schema(),
        num_buckets=4,
        properties={"bloom_filter_key": True, "bloom_filter_ndv": 20_000},
    )
    bloomed.overwrite(df)
    assert total_bytes(str(tmp_path / "bloomed")) > total_bytes(
        str(tmp_path / "plain")
    )
    assert bloomed.lookup("doc-777").count() == 1
    assert bloomed.lookup("nope").count() == 0


def test_sort_on_write_property_orders_rows_within_files(spark, tmp_path):
    """sort_on_write table property (the Iceberg write.sort-order
    idea): every data file a commit produces is ordered by the merge
    key, so at scale each parquet row group covers a narrow key range
    and lookup() skips non-matching groups on min/max stats alone."""
    import os

    import pyarrow.parquet as pq

    from dexspark.schema import sequences_schema
    import pyspark.sql.functions as F

    df = spark.range(5_000).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "sorted"),
        sequences_schema(),
        num_buckets=4,
        properties={"sort_on_write": True},
    )
    t.overwrite(df)
    up = spark.createDataFrame(
        [("doc-42", [9], 1, "s2"), ("doc-4999", [8], 1, "s2")],
        schema=sequences_schema(),
    )
    t.merge(up)  # COW rewrite must stay sorted too

    files = [
        os.path.join(dirpath, f)
        for dirpath, _, fs in os.walk(str(tmp_path / "sorted"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    for p in files:
        keys = pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist()
        assert keys == sorted(keys), p
    got = t.lookup("doc-42").collect()
    assert len(got) == 1 and got[0]["source"] == "s2"


class _CountingIO(LocalFileIO):
    def __init__(self):
        self.reads: dict[str, int] = {}

    def read_text(self, path):
        self.reads[path] = self.reads.get(path, 0) + 1
        return super().read_text(path)


def test_manifest_text_cached_per_version(spark, tmp_warehouse):
    """Snapshot manifests are immutable once committed, so a version's
    text is fetched through FileIO exactly once per LakeTable instance
    (on an object store each re-read is a GET); repeated manifest()
    calls must also return independent dicts — writers mutate them
    while building the next manifest."""
    io_ = _CountingIO()
    root = os.path.join(tmp_warehouse, "mcache")
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=2, io=io_)
    t.overwrite(
        spark.createDataFrame([("a", [1], 1, "web")], schema=sequences_schema())
    )
    io_.reads.clear()
    m1 = t.manifest(2)
    m2 = t.manifest(2)
    for _ in range(5):  # property hits: key, num_buckets, schema...
        t.manifest(2)
    snap2 = [p for p in io_.reads if p.endswith("snap-00000002.json")]
    assert snap2 and io_.reads[snap2[0]] == 1
    assert m1 == m2 and m1 is not m2
    m1["buckets"] = {}  # caller mutation must not leak into the cache
    assert t.manifest(2)["buckets"] != {}
    # a fresh instance (no shared cache) still reads through FileIO
    t2 = LakeTable(spark, root, io=io_)
    assert t2.manifest(2) == m2


def test_files_metadata_view(spark, table):
    ups = spark.createDataFrame([("a", [9], 1, "web")], schema=sequences_schema())
    table.merge(ups, epochs=[41])
    m = table.manifest()
    f = {r.path: r for r in table.files().collect()}
    # exact mirror of the manifest's live file set
    assert set(f) == {rel for fl in m["buckets"].values() for rel in fl}
    # carried-forward files keep their ORIGINAL commit version; the
    # rewritten bucket's files carry the new one
    versions = {r.commit_version for r in f.values()}
    assert m["version"] in versions and min(versions) < m["version"]
    for r in f.values():
        assert r.bucket in range(table.num_buckets)
        if r.min_key is not None:
            assert r.min_key <= r.max_key
    # time travel: the old snapshot's inventory is intact
    old = table.files(version=2).collect()
    assert all(r.commit_version <= 2 for r in old)


def test_vacuum_refuses_root_without_snapshots(spark, tmp_warehouse):
    """Fail-safe: a root with data dirs but no _snapshots manifests is
    not a LakeTable — vacuum must refuse rather than treat every data
    dir as an orphan and delete the table."""
    import shutil

    root = os.path.join(tmp_warehouse, "broken")
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=2)
    t.overwrite(
        spark.createDataFrame([("a", [1], 1, "web")], schema=sequences_schema())
    )
    shutil.rmtree(os.path.join(root, "_snapshots"))
    t2 = LakeTable(spark, root)
    with pytest.raises(FileNotFoundError):
        t2.vacuum(keep_last=1, min_age_seconds=0)
    # the data survived the refused vacuum
    assert os.listdir(os.path.join(root, "data"))


def test_cow_delete_keys_cast_to_table_key_type(spark, tmp_warehouse):
    """A delete frame whose key column has a compatible-but-different
    dtype (int vs the table's bigint) must still hash to the right
    bucket: xxhash64 of int32 and int64 differ, so without the cast
    the delete silently misses. Both merge modes must agree."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, os.path.join(tmp_warehouse, f"del-{mode}"), schema,
            key="k", num_buckets=8,
        )
        t.overwrite(
            spark.createDataFrame([(i, f"v{i}") for i in range(20)], schema)
        )
        dels = spark.createDataFrame([(7,), (13,)], "k int")  # int, not long
        t.merge(spark.createDataFrame([], schema), delete_keys=dels, mode=mode)
        left = {r["k"] for r in t.read().collect()}
        assert left == set(range(20)) - {7, 13}, mode


def test_merge_bucket_hint_invalidated_by_rebucket(spark, tmp_warehouse):
    """A pre-computed affected_buckets hint from BEFORE a concurrent
    rebucket must not be trusted: merge detects the bucket-space change
    via affected_buckets_nb and recomputes, instead of dropping rows."""
    root = os.path.join(tmp_warehouse, "rb")
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=4)
    base = spark.createDataFrame(
        [(f"d{i}", [i], 1, "web") for i in range(40)], schema=sequences_schema()
    )
    t.overwrite(base)
    ups = spark.createDataFrame([("d3", [99], 1, "wiki")], schema=sequences_schema())
    # hint computed in the 4-bucket space...
    from pyspark.sql import functions as F2
    hint = [
        r[0]
        for r in ups.select(
            F2.pmod(F2.xxhash64("doc_id"), F2.lit(4)).cast("int")
        ).collect()
    ]
    # ...then a rebucket lands before the merge
    t.rebucket(16)
    t.merge(ups, epochs=[1], affected_buckets=hint, affected_buckets_nb=4)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in t.read().collect()}
    assert len(rows) == 40
    assert rows["d3"]["tokens"] == [99] and rows["d3"]["source"] == "wiki"


# ------------------------------------------------------------- tags


def test_tag_pins_snapshot_through_vacuum(spark, table):
    """A tagged snapshot (a training run's dataset pin) must read back
    exactly — by name — after further merges AND after a vacuum whose
    keep_last would otherwise expire it."""
    pinned = _rows(table)
    info = table.tag("train-run-17")
    assert info["version"] == table.current_version()
    for i in range(3):
        table.merge(
            spark.createDataFrame(
                [("a", [100 + i], 1, "web")], schema=sequences_schema()
            ),
            epochs=[i],
        )
    table.vacuum(keep_last=1, min_age_seconds=0)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in table.read(version="train-run-17").collect()
    }
    assert got == pinned  # the pin survived retention
    assert _rows(table)["a"]["tokens"] == [102]  # current state unaffected
    assert table.tags() == {"train-run-17": info["version"]}

    # dropping the tag releases it back to the retention policy
    table.drop_tag("train-run-17")
    assert table.tags() == {}
    table.vacuum(keep_last=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        table.read(version="train-run-17")


def test_tag_is_immutable_and_validated(table):
    table.tag("v1.0")
    with pytest.raises(ConcurrentCommitError):
        table.tag("v1.0")  # re-pointing requires an explicit drop first
    with pytest.raises(ValueError):
        table.tag("bad/name")
    with pytest.raises(FileNotFoundError):
        table.tag("dangling", version=999)  # can't pin a missing snapshot
    with pytest.raises(FileNotFoundError):
        table.ref_version("never-made")
    # explicit-version pin + re-point via drop
    table.drop_tag("v1.0")
    table.tag("v1.0", version=table.current_version())
    assert table.ref_version("v1.0") == table.current_version()


# ----------------------------------------------- property evolution


def test_alter_properties_steers_future_writes(spark, table):
    """Flipping sort_on_write on a live table is one manifest-only
    commit; the next merge's files come out key-ordered while existing
    files are untouched (no stop-the-world rewrite)."""
    import pyarrow.parquet as pq

    v0 = table.current_version()
    info = table.alter_properties({"sort_on_write": True, "note": "ops"})
    assert info["version"] == v0 + 1
    assert table.manifest()["properties"]["sort_on_write"] is True
    # manifest-only: no data dir was written for this version
    assert table.manifest()["buckets"] == table.manifest(v0)["buckets"]

    rows = [(f"z{i:03d}", [i], 1, "web") for i in range(50)]
    table.merge(
        spark.createDataFrame(rows, schema=sequences_schema()), epochs=[0]
    )
    m = table.manifest()
    new_files = [
        f
        for b, fs in m["buckets"].items()
        for f in fs
        if f not in set(sum(table.manifest(v0)["buckets"].values(), []))
    ]
    assert new_files
    for rel in new_files:
        keys = pq.read_table(
            os.path.join(table.root, rel), columns=["doc_id"]
        ).column("doc_id").to_pylist()
        assert keys == sorted(keys)  # sort-on-write took effect
    # unset returns the table to default behavior
    table.alter_properties({"sort_on_write": None})
    assert "sort_on_write" not in table.manifest()["properties"]
    # state unchanged throughout
    assert len(_rows(table)) == 53


def test_merge_rebases_over_alter_properties(spark, table):
    """An alter-properties commit landing mid-merge is state-identity
    for every bucket: the merge must rebase over it, not abort."""
    from dexspark.lake import LocalFileIO

    class RaceOnce(LocalFileIO):
        def __init__(self, race):
            self._race, self._armed = race, True

        def put_if_absent(self, path, data):
            if self._armed and os.sep + "snap-" in path:
                self._armed = False
                self._race()
            return super().put_if_absent(path, data)

    other = LakeTable(spark, table.root)
    racer = LakeTable(
        spark, table.root,
        io=RaceOnce(lambda: other.alter_properties({"note": "raced"})),
    )
    racer.merge(
        spark.createDataFrame([("r", [1], 1, "web")], schema=sequences_schema()),
        epochs=[5],
    )
    t2 = LakeTable(spark, table.root)
    assert t2.manifest()["properties"]["note"] == "raced"
    assert _rows(t2)["r"]["tokens"] == [1]


def test_vacuum_dry_run_previews_without_deleting(spark, table):
    table.merge(
        spark.createDataFrame([("x", [9], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    preview = table.vacuum(keep_last=1, min_age_seconds=0, dry_run=True)
    assert preview["dry_run"] is True
    assert preview["snapshots_expired"] == len(preview["doomed_versions"]) > 0
    # nothing actually deleted: every version still readable
    for v in preview["doomed_versions"]:
        table.manifest(v)
    real = table.vacuum(keep_last=1, min_age_seconds=0)
    assert real["snapshots_expired"] == preview["snapshots_expired"]
    assert real["data_dirs_removed"] == preview["data_dirs_removed"]


# -------------------------------------------------------- rollback


def test_rollback_restores_state_and_epochs(spark, table):
    """rollback = new commit with the target's data AND exactly-once
    state: the rolled-back epoch is uncommitted again, so replaying
    the same change batch re-applies instead of being swallowed."""
    v_good = table.current_version()
    bad = spark.createDataFrame(
        [("a", [666], 1, "spam"), ("z", [7], 1, "spam")],
        schema=sequences_schema(),
    )
    table.merge(bad, epochs=[0])
    assert table.is_epoch_committed(0)

    info = table.rollback(v_good)
    assert info == {
        "version": v_good + 2,
        "restored_from": v_good,
        "noop": False,
    }
    rows = _rows(table)
    assert set(rows) == {"a", "b", "c"} and rows["a"]["tokens"] == [1, 2]
    assert not table.is_epoch_committed(0)  # exactly-once rewound
    # history preserved: the bad commit is still time-travelable
    assert {r["doc_id"] for r in table.read(version=v_good + 1).collect()} == {
        "a", "b", "c", "z",
    }
    assert table.manifest()["operation"] == "rollback"
    # replaying the (corrected) epoch-0 batch now applies
    good = spark.createDataFrame([("z", [8], 1, "web")], schema=sequences_schema())
    table.merge(good, epochs=[0])
    assert _rows(table)["z"]["tokens"] == [8]


def test_rollback_to_tag_and_noop(spark, table):
    table.tag("golden")
    v = table.current_version()
    table.merge(
        spark.createDataFrame([("d", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    assert table.rollback("golden") == {
        "version": v + 2, "restored_from": v, "noop": False,
    }
    assert table.rollback(v + 2)["noop"] is True
    assert table.current_version() == v + 2  # noop publishes nothing


def test_rollback_changes_feed_replica_reconvergence(spark, table):
    """A downstream replica tailing changes() across a rollback
    reconverges to the restored state: the restore shows up as
    ordinary delete/upsert deltas, not a history rewrite."""
    v0 = table.current_version()
    table.merge(
        spark.createDataFrame(
            [("a", [666], 1, "spam"), ("z", [7], 1, "spam")],
            schema=sequences_schema(),
        ),
        spark.createDataFrame([("b",)], "doc_id string"),
        epochs=[0],
    )
    table.rollback(v0)
    ch = {
        (r["doc_id"], r["_change_type"])
        for r in table.changes(v0 + 1).collect()  # the rollback commit only
    }
    assert ("a", "upsert") in ch  # a restored to [1,2]
    assert ("z", "delete") in ch  # z removed
    assert ("b", "upsert") in ch  # b resurrected
    # replica: apply all deltas since v0 in commit order -> same state
    full = table.changes(v0).collect()
    replica: dict = {}
    for r in sorted(full, key=lambda r: r["_commit_version"]):
        if r["_change_type"] == "delete":
            replica.pop(r["doc_id"], None)
        else:
            replica[r["doc_id"]] = r["tokens"]
    base = {r["doc_id"]: r["tokens"] for r in table.read(version=v0).collect()}
    base.update(replica)
    for d in [d for d, t in list(base.items()) if t is None]:
        base.pop(d)
    assert base == {d: r["tokens"] for d, r in _rows(table).items()}


def test_rollback_loses_race_and_merge_cannot_rebase_over_it(spark, table):
    v0 = table.current_version()
    table.merge(
        spark.createDataFrame([("d", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )

    class RaceOnce(LocalFileIO):
        def __init__(self, race):
            self._race, self._armed = race, True

        def put_if_absent(self, path, data):
            if self._armed and os.sep + "snap-" in path:
                self._armed = False
                self._race()
            return super().put_if_absent(path, data)

    # 1) rollback losing the conditional put must raise, never rebase
    other = LakeTable(spark, table.root)
    racer = LakeTable(
        spark, table.root,
        io=RaceOnce(lambda: other.merge(
            spark.createDataFrame([("e", [2], 1, "web")], schema=sequences_schema()),
            epochs=[1],
        )),
    )
    with pytest.raises(ConcurrentCommitError):
        racer.rollback(v0)
    # the concurrent merge survived
    assert "e" in _rows(LakeTable(spark, table.root))

    # 2) a merge racing a rollback must NOT rebase over it
    other2 = LakeTable(spark, table.root)
    racer2 = LakeTable(
        spark, table.root, io=RaceOnce(lambda: other2.rollback(v0))
    )
    with pytest.raises(ConcurrentCommitError):
        racer2.merge(
            spark.createDataFrame([("f", [3], 1, "web")], schema=sequences_schema()),
            epochs=[2],
        )
    t2 = LakeTable(spark, table.root)
    assert set(_rows(t2)) == {"a", "b", "c"}  # restored state won


def test_rollback_survives_vacuum_of_discarded_commits(spark, table):
    v0 = table.current_version()
    for i in range(3):
        table.merge(
            spark.createDataFrame(
                [(f"x{i}", [i], 1, "web")], schema=sequences_schema()
            ),
            epochs=[i],
        )
    table.rollback(v0)
    table.vacuum(keep_last=1, min_age_seconds=0)
    assert set(_rows(table)) == {"a", "b", "c"}  # data dirs retained via head
    with pytest.raises(FileNotFoundError):
        table.read(version=v0 + 1)  # discarded commit expired


# ----------------------------------------------- manifest statistics


def test_stats_exact_without_scan(spark, table):
    """stats() answers count(*) from the manifest alone — and tracks
    merges, deletes, MOR dirtiness and compaction correctly."""
    s = table.stats()
    assert s["row_count"] == 3 and s["exact"] and s["rows_complete"]
    # COW merge: +1 insert, 1 update (net +1)
    table.merge(
        spark.createDataFrame(
            [("a", [9], 1, "web"), ("d", [7], 1, "web")],
            schema=sequences_schema(),
        ),
        epochs=[0],
    )
    assert table.stats()["row_count"] == 4 == table.read().count()
    # delete: net -1
    table.merge(
        spark.createDataFrame([], sequences_schema()),
        spark.createDataFrame([("b",)], "doc_id string"),
        epochs=[1],
    )
    assert table.stats()["row_count"] == 3 == table.read().count()
    # MOR merge: physical rows over-count -> exactness lost, honestly
    table.merge(
        spark.createDataFrame([("a", [1], 1, "web")], schema=sequences_schema()),
        epochs=[2],
        mode="mor",
    )
    s = table.stats()
    assert s["row_count"] is None and not s["exact"] and s["mor_buckets"] > 0
    assert s["file_rows"] >= 4  # upper bound includes the superseded row
    # compact restores exactness
    table.compact()
    assert table.stats()["row_count"] == 3 == table.read().count()
    # time-travel stats
    assert table.stats(version=2)["row_count"] == 3


def test_files_view_carries_row_counts(spark, table):
    rows = {r["path"]: r["row_count"] for r in table.files().collect()}
    assert rows and all(n is not None and n > 0 for n in rows.values())
    assert sum(rows.values()) == 3


# ----------------------------------- branches / write-audit-publish


def test_branch_isolates_writes_and_publish_promotes_atomically(spark, table):
    """The WAP flow: stage on a branch (main readers blind to it),
    audit, publish — data AND staged epochs land on main in one
    commit."""
    main_v = table.current_version()
    table.create_branch("audit")
    bt = LakeTable(spark, table.root, branch="audit")
    # read-through before any branch commit: branch == fork state
    assert set(_rows(bt)) == {"a", "b", "c"}

    bt.merge(
        spark.createDataFrame(
            [("a", [9], 1, "wiki"), ("d", [7], 1, "web")],
            schema=sequences_schema(),
        ),
        spark.createDataFrame([("b",)], "doc_id string"),
        epochs=[0],
    )
    # branch sees staged state; main does not
    assert set(_rows(bt)) == {"a", "c", "d"}
    assert bt.is_epoch_committed(0)
    assert set(_rows(table)) == {"a", "b", "c"}
    assert not table.is_epoch_committed(0)
    assert table.current_version() == main_v
    # audit surface on the branch
    assert bt.stats()["row_count"] == 3
    assert table.branches()["audit"]["head"] > main_v

    info = table.publish_branch("audit")
    # publish skips past the branch-local version space (version
    # numbers are unique, not dense)
    assert info["noop"] is False and info["version"] == table.current_version()
    assert info["version"] > main_v
    rows = _rows(table)
    assert set(rows) == {"a", "c", "d"} and rows["a"]["tokens"] == [9]
    assert table.is_epoch_committed(0)  # staged epoch committed atomically
    assert table.manifest()["operation"] == "publish"
    # publish is manifest-only: no new data dir for the publish commit
    assert table.manifest()["buckets"] == bt.manifest()["buckets"]
    table.drop_branch("audit")
    assert table.branches() == {}


def test_branch_publish_refuses_stale_fork(spark, table):
    """Table-wide interveners on main (rebucket here) always refuse
    publish — the bucket spaces are incomparable; compact remains a
    data-identity intervener publish rebases over. Same-bucket merge
    conflicts are covered in
    test_branch_publish_refuses_same_bucket_traffic."""
    table.create_branch("stage")
    bt = LakeTable(spark, table.root, branch="stage")
    bt.merge(
        spark.createDataFrame([("x", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    # main advances with a TABLE-WIDE commit after the fork
    table.rebucket(8)
    with pytest.raises(ConcurrentCommitError):
        table.publish_branch("stage")
    # main's rebucket survived, branch still inspectable
    assert table.num_buckets == 8
    assert "x" in _rows(bt)
    # ...but a compact intervener is data-identity: publish allowed
    table.drop_branch("stage")
    table.create_branch("stage2")
    bt2 = LakeTable(spark, table.root, branch="stage2")
    bt2.merge(
        spark.createDataFrame([("z", [3], 1, "web")], schema=sequences_schema()),
        epochs=[2],
    )
    table.compact()
    assert table.publish_branch("stage2")["noop"] is False
    assert "z" in _rows(table)


def test_branch_vacuum_protects_staged_data(spark, table):
    """Aggressive vacuum on main must not eat a live branch's staged
    files or its fork-point manifest; after drop_branch the same
    vacuum reclaims them."""
    fork = table.current_version()
    table.create_branch("wip")
    bt = LakeTable(spark, table.root, branch="wip")
    bt.merge(
        spark.createDataFrame([("s", [5], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    # churn main history past keep_last
    for i in range(3):
        table.merge(
            spark.createDataFrame(
                [(f"m{i}", [i], 1, "web")], schema=sequences_schema()
            ),
            epochs=[10 + i],
        )
    table.vacuum(keep_last=1, min_age_seconds=0)
    # branch still fully readable (staged row + read-through ancestry)
    bt2 = LakeTable(spark, table.root, branch="wip")
    assert "s" in _rows(bt2)
    assert bt2.manifest(fork)["version"] == fork  # fork manifest retained
    # abandon, then vacuum reclaims the branch-only data dirs
    table.drop_branch("wip")
    out = table.vacuum(keep_last=1, min_age_seconds=0)
    assert out["data_dirs_removed"] >= 1
    with pytest.raises(FileNotFoundError):
        LakeTable(spark, table.root, branch="wip")


def test_branch_guards_and_races(spark, table):
    table.create_branch("b1")
    with pytest.raises(ConcurrentCommitError):  # duplicate name loses the put
        table.create_branch("b1")
    bt = LakeTable(spark, table.root, branch="b1")
    with pytest.raises(ValueError):
        bt.create_branch("nested")
    with pytest.raises(ValueError):
        bt.vacuum(min_age_seconds=0)
    with pytest.raises(ValueError):
        bt.tag("pin")
    with pytest.raises(ValueError):
        bt.publish_branch("b1")
    # publishing an empty branch is a no-op, not a commit
    v = table.current_version()
    assert table.publish_branch("b1")["noop"] is True
    assert table.current_version() == v
    # a merge of the SAME key cannot rebase over a concurrent publish
    # (disjoint-bucket merges now legitimately rebase — covered in
    # test_publish_retries_over_racing_disjoint_merge)
    bt.merge(
        spark.createDataFrame([("p", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )

    class RaceOnce(LocalFileIO):
        def __init__(self, race):
            self._race, self._armed = race, True

        def put_if_absent(self, path, data):
            if self._armed and os.sep + "snap-" in path and "branch-" not in path:
                self._armed = False
                self._race()
            return super().put_if_absent(path, data)

    racer = LakeTable(
        spark, table.root,
        io=RaceOnce(lambda: LakeTable(spark, table.root).publish_branch("b1")),
    )
    with pytest.raises(ConcurrentCommitError):
        racer.merge(
            spark.createDataFrame([("p", [2], 1, "web")], schema=sequences_schema()),
            epochs=[1],
        )
    assert _rows(LakeTable(spark, table.root))["p"]["tokens"] == [1]  # published state won


def test_branch_schema_evolution_publishes_to_main(spark, table):
    """Additive schema evolution staged on a branch reaches main only
    at publish — the WAP pattern for schema changes."""
    table.create_branch("schema-stage")
    bt = LakeTable(spark, table.root, branch="schema-stage")
    evolved = T.StructType(
        list(sequences_schema().fields)
        + [T.StructField("lang", T.StringType(), True)]
    )
    bt.merge(
        spark.createDataFrame([("n", [1], 1, "web", "en")], schema=evolved),
        epochs=[0],
    )
    assert "lang" in [f.name for f in bt.schema.fields]
    assert "lang" not in [f.name for f in table.schema.fields]  # main unchanged
    # branch history shows shared ancestry + the staged commit
    hist = bt.history()
    assert [h["operation"] for h in hist][:2] == ["create", "overwrite"]
    assert hist[-1]["operation"].startswith("merge-")
    table.publish_branch("schema-stage")
    assert "lang" in [f.name for f in table.schema.fields]
    rows = _rows(table)
    assert rows["n"]["lang"] == "en" and rows["a"]["lang"] is None


def test_branch_fork_at_tag(spark, table):
    """Fork a branch at a tagged snapshot: the repair-a-pinned-dataset
    flow. A same-key (same-bucket) change on main since the tag
    refuses publish; a disjoint-bucket repair rebases and publishes
    with main's later traffic preserved."""
    table.tag("train-run-1")
    table.merge(
        spark.createDataFrame([("a", [77], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    table.create_branch("repair", version="train-run-1")
    bt = LakeTable(spark, table.root, branch="repair")
    assert _rows(bt)["a"]["tokens"] == [1, 2]  # branch sees the pinned state
    bt.merge(
        spark.createDataFrame([("a", [2], 1, "web")], schema=sequences_schema()),
        epochs=[1],
    )
    with pytest.raises(ConcurrentCommitError):
        table.publish_branch("repair")  # same bucket changed on main
    assert _rows(table)["a"]["tokens"] == [77]  # main's write intact
    table.drop_branch("repair")
    # a repair in a DIFFERENT bucket rebases over the same history
    table.create_branch("repair2", version="train-run-1")
    bt2 = LakeTable(spark, table.root, branch="repair2")
    bt2.merge(
        spark.createDataFrame([("b", [42], 1, "books")], schema=sequences_schema()),
        epochs=[1],
    )
    assert table.publish_branch("repair2")["noop"] is False
    rows = _rows(table)
    assert rows["b"]["tokens"] == [42] and rows["a"]["tokens"] == [77]


def test_branch_publish_rebases_over_disjoint_main_traffic(spark, table):
    """WAP on a busy table: main merges land in OTHER buckets while
    the branch stages; publish overlays only the branch-owned buckets
    and keeps main's traffic AND both sides' epochs."""
    nb = table.num_buckets
    from pyspark.sql import functions as F

    # find two keys in different buckets
    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)], "doc_id string"
    ).select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).alias("b"))
    by_bucket = {}
    for r in probe.collect():
        by_bucket.setdefault(r["b"], r["doc_id"])
        if len(by_bucket) >= 2:
            break
    (b1, key1), (b2, key2) = list(by_bucket.items())[:2]

    table.create_branch("busy")
    bt = LakeTable(spark, table.root, branch="busy")
    # stage 3 branch commits (branch-local version space runs ahead)
    for i in range(3):
        bt.merge(
            spark.createDataFrame(
                [(key1, [100 + i], 1, "stage")], schema=sequences_schema()
            ),
            epochs=[50 + i],
            mode="mor" if i == 1 else "cow",
        )
    # live main traffic in a DIFFERENT bucket
    table.merge(
        spark.createDataFrame([(key2, [7], 1, "live")], schema=sequences_schema()),
        epochs=[99],
    )
    info = table.publish_branch("busy")
    assert info["noop"] is False
    rows = _rows(table)
    assert rows[key1]["tokens"] == [102]  # staged wins in its bucket
    assert rows[key2]["tokens"] == [7]  # live traffic preserved
    # both sides' epochs committed
    for ep in (50, 51, 52, 99):
        assert table.is_epoch_committed(ep)
    # version-collision regression: a LATER main merge in the staged
    # bucket must deterministically beat every branch-era commit
    table.merge(
        spark.createDataFrame(
            [(key1, [999], 1, "after")], schema=sequences_schema()
        ),
        epochs=[100],
        mode="mor",
    )
    assert _rows(table)[key1]["tokens"] == [999]
    table.compact()
    assert _rows(table)[key1]["tokens"] == [999]
    # changelog across the gapped publish reconverges
    ch = table.changes(2)  # from the fixture's overwrite
    assert ch.count() > 0


def test_branch_publish_refuses_same_bucket_traffic(spark, table):
    table.create_branch("clash")
    bt = LakeTable(spark, table.root, branch="clash")
    bt.merge(
        spark.createDataFrame([("k", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )
    # main merges the SAME key (same bucket) after the fork
    table.merge(
        spark.createDataFrame([("k", [2], 1, "web")], schema=sequences_schema()),
        epochs=[1],
    )
    with pytest.raises(ConcurrentCommitError):
        table.publish_branch("clash")
    assert _rows(table)["k"]["tokens"] == [2]  # main's write intact


def test_publish_retries_over_racing_disjoint_merge(spark, table):
    """A publish losing the conditional put to the tailer merging a
    DIFFERENT bucket retries and lands; and a merge losing to a
    disjoint publish rebases instead of raising. Two branches staging
    disjoint buckets both publish."""
    from pyspark.sql import functions as F

    nb = table.num_buckets
    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)], "doc_id string"
    ).select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).alias("b"))
    by_bucket = {}
    for r in probe.collect():
        by_bucket.setdefault(r["b"], r["doc_id"])
        if len(by_bucket) >= 3:
            break
    (b1, key1), (b2, key2), (b3, key3) = list(by_bucket.items())[:3]

    table.create_branch("p1")
    bt1 = LakeTable(spark, table.root, branch="p1")
    bt1.merge(
        spark.createDataFrame([(key1, [1], 1, "s1")], schema=sequences_schema()),
        epochs=[0],
    )

    class RaceOnce(LocalFileIO):
        def __init__(self, race):
            self._race, self._armed = race, True

        def put_if_absent(self, path, data):
            if self._armed and os.sep + "snap-" in path and "branch-" not in path:
                self._armed = False
                self._race()
            return super().put_if_absent(path, data)

    # 1) publish loses the put to a DISJOINT merge -> retries, lands
    other = LakeTable(spark, table.root)
    racer = LakeTable(
        spark, table.root,
        io=RaceOnce(lambda: other.merge(
            spark.createDataFrame([(key2, [2], 1, "live")], schema=sequences_schema()),
            epochs=[1],
        )),
    )
    info = racer.publish_branch("p1")
    assert info["noop"] is False
    rows = _rows(LakeTable(spark, table.root))
    assert rows[key1]["tokens"] == [1] and rows[key2]["tokens"] == [2]

    # 2) merge loses the put to a DISJOINT publish -> rebases, lands
    table.create_branch("p2")
    bt2 = LakeTable(spark, table.root, branch="p2")
    bt2.merge(
        spark.createDataFrame([(key1, [11], 1, "s2")], schema=sequences_schema()),
        epochs=[2],
    )
    other2 = LakeTable(spark, table.root)
    racer2 = LakeTable(
        spark, table.root,
        io=RaceOnce(lambda: other2.publish_branch("p2")),
    )
    racer2.merge(
        spark.createDataFrame([(key3, [3], 1, "live")], schema=sequences_schema()),
        epochs=[3],
    )
    rows = _rows(LakeTable(spark, table.root))
    assert rows[key1]["tokens"] == [11]  # publish landed
    assert rows[key3]["tokens"] == [3]  # merge rebased over it
    for ep in (0, 1, 2, 3):
        assert LakeTable(spark, table.root).is_epoch_committed(ep)


def test_drop_branch_crash_window_never_leaks_history(spark, table):
    """A drop interrupted between dir-removal and ref-delete leaves an
    EMPTY branch (reads fall through to the fork); and a re-created
    same-name branch never inherits a dead branch's snapshots."""
    table.create_branch("x")
    bt = LakeTable(spark, table.root, branch="x")
    bt.merge(
        spark.createDataFrame([("dead", [1], 1, "web")], schema=sequences_schema()),
        epochs=[0],
    )

    class CrashAfterTree(LocalFileIO):
        def delete(self, path):
            if "branch-x.json" in path:
                raise RuntimeError("crash before ref delete")
            super().delete(path)

    with pytest.raises(RuntimeError):
        LakeTable(spark, table.root, io=CrashAfterTree()).drop_branch("x")
    # ref survives, dir gone: branch is empty, reads = fork state
    bt2 = LakeTable(spark, table.root, branch="x")
    assert set(_rows(bt2)) == {"a", "b", "c"}
    assert table.branches()["x"]["head"] == table.branches()["x"]["fork_version"]
    table.drop_branch("x")  # re-drop finishes the job
    assert "x" not in table.branches()

    # simulate the OLD hazard directly: stale snap dir without a ref
    stale = os.path.join(table.root, "_snapshots", "branch-x")
    os.makedirs(stale)
    with open(os.path.join(stale, "snap-99999999.json"), "w") as f:
        f.write("{}")
    table.create_branch("x")  # must clean, not inherit
    bt3 = LakeTable(spark, table.root, branch="x")
    assert bt3.current_version() == table.current_version()
    assert set(_rows(bt3)) == {"a", "b", "c"}


def test_fileio_seam_carries_branches_and_rollback(spark, tmp_warehouse):
    """The branch/WAP and rollback layers run entirely through a
    non-filesystem manifest store: branch namespaces are key prefixes
    (object-store semantics), publish/drop/rollback never assume a
    real directory exists."""
    io_ = _MemManifestIO()
    root = os.path.join(tmp_warehouse, "membr")
    t = LakeTable.create(spark, root, sequences_schema(), num_buckets=4, io=io_)
    t.overwrite(
        spark.createDataFrame([("a", [1], 1, "web")], schema=sequences_schema())
    )
    v_base = t.current_version()
    t.create_branch("stage")
    bt = LakeTable(spark, root, io=io_, branch="stage")
    bt.merge(
        spark.createDataFrame([("b", [2], 1, "books")], schema=sequences_schema()),
        epochs=[0],
    )
    # branch snaps live ONLY in the store, under the branch prefix
    assert any("branch-stage" in k for k in io_.store)
    assert not os.path.isdir(os.path.join(root, "_snapshots"))
    assert t.publish_branch("stage")["noop"] is False
    assert set(_rows(t)) == {"a", "b"} and t.is_epoch_committed(0)
    t.drop_branch("stage")
    assert not any("branch-stage" in k for k in io_.store)  # prefix purged
    # same-name re-create through the seam starts empty
    t.create_branch("stage")
    assert LakeTable(spark, root, io=io_, branch="stage").read().count() == 2
    t.drop_branch("stage")
    # rollback through the seam
    t.rollback(v_base)
    assert set(_rows(t)) == {"a"} and not t.is_epoch_committed(0)


def test_branch_changes_audit_staged_deltas(spark, table):
    """bt.changes(fork) is the audit surface: exactly the staged
    row-level deltas, readable before publish."""
    fork = table.current_version()
    table.create_branch("aud")
    bt = LakeTable(spark, table.root, branch="aud")
    bt.merge(
        spark.createDataFrame([("a", [9], 1, "wiki")], schema=sequences_schema()),
        spark.createDataFrame([("c",)], "doc_id string"),
        epochs=[0],
    )
    ch = {(r["doc_id"], r["_change_type"]) for r in bt.changes(fork).collect()}
    assert ch == {("a", "upsert"), ("c", "delete")}
    table.drop_branch("aud")

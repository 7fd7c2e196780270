"""LakeTable — a minimal bucketed copy-on-write table format.

Iceberg-shaped semantics (atomic snapshot commits, MERGE upsert,
schema evolution, idempotent epoch markers) over plain parquet, because
this sandbox has no Iceberg/Delta runtime jars. The module API is the
one the engine would use against Iceberg (`MERGE INTO t USING batch ON
t.doc_id = batch.doc_id`); swap this file for an Iceberg catalog in
production and nothing upstream changes.

Layout::

    <root>/_snapshots/snap-00000001.json    # versioned manifests
    <root>/data/commit-00000001/_bucket=<b>/part-*.parquet

Design for scale
----------------
* **Key-bucketed copy-on-write.** Rows are hash-bucketed on the merge
  key (``pmod(xxhash64(key), num_buckets)``). A MERGE only rewrites the
  buckets that contain changed keys — at 10^10 rows with, say, 4096
  buckets and a change batch touching 1% of keys, ~99% of data files
  are carried forward untouched in the new snapshot (same idea as
  Iceberg bucket partitioning + storage-partitioned joins).
* **One Spark job per merge, no driver-side row loops.** Survivors are
  computed with a single ``left_anti`` join of the affected-bucket scan
  against the (already per-key-deduped) change batch; AQE picks
  broadcast vs shuffle join and splits skewed partitions.
* **Atomic commit.** Data files are written first; the manifest is
  written to a temp file and ``os.rename``d into place (atomic on
  POSIX). Readers always see a complete snapshot. Mirrors the
  reference's atomic move-to-processed (AzureBlobServiceImpl.kt:26-48)
  and its idempotent id-prefixed output layout (FnDecompressor.kt:94-95).
* **Exactly-once.** Each commit records the change-log epochs it
  applied in the manifest; redelivery of an already-committed epoch is
  a no-op (north_star: "idempotent batch-epoch commit markers").
  Committed epochs are stored COMPACTED as a high watermark plus a
  small out-of-order tail (``epoch_watermark`` = every epoch <= W is
  committed; ``epoch_tail`` = committed epochs > W). A year of
  micro-batches (10^5-10^6 epochs) stays O(1) in both the manifest
  JSON and the engine's already-committed filter predicate — a flat
  epoch list would bloat every plan and every snapshot.

Reference parity notes: the 3-state blob lifecycle ingest->processed|
error (dtos/ConnectionNames.kt:14-18) maps to change-log -> LakeTable |
quarantine table.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .events import _all_nullable
from .prepared import Prepared
from .schema import SchemaEvolutionError, evolution_actions, reconcile

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_REFS_DIR = "_refs"
_TOMBSTONE = "_tombstone"  # MOR delete marker column inside commit files


class ConcurrentCommitError(RuntimeError):
    pass


# The fields a snapshot owns: a successor manifest starts from its
# base's copies (see LakeTable._successor, which also normalizes the
# epoch state and recomputes the mor* fields). Everything else in a
# manifest describes ONE commit (version bookkeeping, the operation,
# its touched buckets and its provenance: ``restored_from``,
# ``branch``, ``fork_version``) and is never carried forward.
_OWNED = (
    "key",
    "num_buckets",
    "schema",
    "columns_meta",
    "evolution",
    "properties",
    "buckets",
    "file_bounds",
    "file_rows",
    "commit_versions",
)

# Interveners every commit may rebase over (see
# LakeTable._publish_with_rebase): compaction rewrites content-equal
# files, the others change manifest metadata only.
_CROSSABLE = ("compact", "merge-noop", "alter-properties", "rename-column")


# Footer key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType:
    """Read schema of one Spark-written parquet file, from its footer.

    This is the schema ``spark.read.parquet(path).schema`` infers (the
    writer's row schema, made nullable), obtained with one driver-side
    footer read instead of a Spark schema-inference job."""
    import pyarrow.parquet as pq

    meta = pq.read_schema(path).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ValueError(f"{path}: parquet footer carries no Spark row schema")
    return _all_nullable(T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY])))


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """``dt`` in SQL type syntax, with struct field names quoted."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(f"{_q(f.name)}: {_sql_type(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _json_scalar(v) -> bool:
    """True iff ``v`` round-trips through the JSON manifest with its
    ordering intact (zone-map bounds must survive serialization)."""
    return isinstance(v, (str, int)) and not isinstance(v, bool)


class FileIO:
    """Manifest/metadata I/O seam (the Iceberg ``FileIO`` idea).

    LakeTable routes every non-Spark filesystem operation through this
    interface, so the local-FS implementation below can be swapped for
    an object store without touching table logic. The one primitive
    that carries the correctness load is :meth:`put_if_absent` — the
    optimistic-concurrency commit. Object-store strategy: S3
    conditional PUT (``If-None-Match: *``) or a catalog pointer with
    compare-and-swap (the Iceberg catalog approach); GCS
    ``x-goog-if-generation-match: 0``. Everything else is plain
    list/read/delete.
    """

    def list_dir(self, path: str) -> list[str]:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def put_if_absent(self, path: str, data: str) -> None:
        """Durably create ``path`` with ``data`` iff it does not exist;
        raise :class:`ConcurrentCommitError` if it does (atomically —
        two racing writers must not both succeed)."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError


class LocalFileIO(FileIO):
    """POSIX implementation. ``put_if_absent`` uses ``os.link`` of a
    fsynced temp file — link(2) fails with EEXIST if the target exists,
    making create-if-absent ATOMIC (no check-then-rename window)."""

    def list_dir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def put_if_absent(self, path: str, data: str) -> None:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentCommitError(f"{path} already exists") from None
        finally:
            os.unlink(tmp)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def remove_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)


def default_io() -> FileIO:
    """FileIO used when a table is opened without an explicit ``io``.

    Selected by ``DEXSPARK_FILEIO``:

    - unset / ``local`` — :class:`LocalFileIO` (POSIX link(2) commit).
    - ``condput`` — :class:`~dexspark.fileio.ConditionalPutFileIO`
      over a filesystem-backed object client rooted at
      ``DEXSPARK_FILEIO_ROOT`` (default ``/``): every manifest
      operation goes through object-store semantics (GET/LIST/
      conditional PUT, no renames). This is how the full lake test
      suite runs against the object-store code path.
    - ``s3://bucket[/prefix]`` — the boto3 adapter speaking S3
      conditional PUT (requires boto3 at runtime).
    """
    spec = os.environ.get("DEXSPARK_FILEIO", "local")
    if spec in ("", "local"):
        return LocalFileIO()
    from . import fileio as fio  # local import: fileio imports lake

    if spec == "condput":
        root = os.environ.get("DEXSPARK_FILEIO_ROOT", "/")
        return fio.ConditionalPutFileIO(fio.FsObjectClient(root))
    if spec.startswith("s3://"):
        rest = spec[5:]
        bucket, _, prefix = rest.partition("/")
        return fio.ConditionalPutFileIO(fio.Boto3Client(bucket, prefix))
    raise ValueError(f"unknown DEXSPARK_FILEIO: {spec!r}")


class LakeTable:
    # Per-instance manifest text cache size. Snapshot manifests are
    # immutable once published (a version is written exactly once via
    # conditional put), so caching their TEXT by version is always
    # safe; 64 covers the working set of any read/merge/rebase path
    # while bounding memory on 10^6-trigger streams.
    MANIFEST_CACHE = 64

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        io: FileIO | None = None,
        branch: str | None = None,
    ):
        """``branch``: operate on a named branch (see
        :meth:`create_branch`) instead of main. Branch snapshots live
        in their own namespace (``_snapshots/branch-<name>/``) but
        share the table's data directory, so staging a batch on a
        branch writes each byte once and publishing is manifest-only."""
        self.spark = spark
        self.root = root
        self.io = io or default_io()
        self.branch = branch
        if branch is None:
            self._fork_version = 0
        else:
            ref = json.loads(self.io.read_text(self._branch_ref_path(branch)))
            self._fork_version = int(ref["fork_version"])
        from collections import OrderedDict

        self._mcache: "OrderedDict[int, str]" = OrderedDict()
        # merge-time projections, rebuilt when a schema or the bucket
        # count changes (see prepared.py)
        self._prep = Prepared()

    # ------------------------------------------------------------ manifest

    def _branch_ref_path(self, name: str) -> str:
        return os.path.join(self.root, _REFS_DIR, f"branch-{name}.json")

    def _branch_snap_dir(self, name: str) -> str:
        return os.path.join(self.root, _SNAP_DIR, f"branch-{name}")

    def _snap_path(self, version: int) -> str:
        # versions <= the fork point resolve to MAIN's chain: a branch
        # shares its ancestry with main rather than copying it
        if self.branch is not None and version > self._fork_version:
            return os.path.join(
                self._branch_snap_dir(self.branch), f"snap-{version:08d}.json"
            )
        return os.path.join(self.root, _SNAP_DIR, f"snap-{version:08d}.json")

    def current_version(self) -> int:
        if self.branch is not None:
            d = self._branch_snap_dir(self.branch)
            versions = [
                int(n[5:13])
                for n in self.io.list_dir(d)
                if n.startswith("snap-") and n.endswith(".json")
            ]
            # an empty branch's head IS the fork point (read-through)
            return max(versions, default=self._fork_version)
        d = os.path.join(self.root, _SNAP_DIR)
        versions = [
            int(n[5:13])
            for n in self.io.list_dir(d)
            if n.startswith("snap-") and n.endswith(".json")
        ]
        return max(versions, default=0)

    def manifest(self, version: int | None = None) -> dict:
        """Parsed snapshot manifest (default: current).

        The manifest TEXT is cached per version — manifests are
        immutable once their conditional put wins, so a version read
        once never needs another FileIO round trip (on an object
        store every property access would otherwise be a GET; a
        stream batch touches key/num_buckets/schema/epochs several
        times). Parsing stays per-call: writers mutate the returned
        dict when building the next manifest, so handing out a shared
        parsed object would let one caller corrupt another's view."""
        if isinstance(version, str):
            version = self.ref_version(version)
        v = self.current_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        text = self._mcache.get(v)
        if text is None:
            text = self.io.read_text(self._snap_path(v))
            self._mcache[v] = text
            if len(self._mcache) > self.MANIFEST_CACHE:
                self._mcache.popitem(last=False)
        else:
            self._mcache.move_to_end(v)
        return json.loads(text)

    def _commit(self, manifest: dict) -> int:
        """Atomically publish ``manifest`` as the next snapshot
        (conditional put: exactly one writer wins a version)."""
        version = manifest["version"]
        self.io.put_if_absent(self._snap_path(version), json.dumps(manifest))
        return version

    @staticmethod
    def _next_version(base: dict) -> int:
        """Allocate the next snapshot version: one past the manifest's
        VERSION HIGH-WATER MARK, not necessarily version+1. A branch
        publish references data dirs whose names carry branch-local
        version numbers that can run AHEAD of main's head; allocating
        below the hwm would let a later commit reuse one of those
        numbers inside the same bucket and scramble the MOR merge
        order. Version numbers are therefore unique but not dense;
        every writer derives the same next number from the same head,
        so the conditional put still serializes racers."""
        return max(int(base["version"]), int(base.get("version_hwm", 0))) + 1

    # Optimistic-concurrency retry budget (the Iceberg commit.retry
    # idea): how many times a merge that lost the conditional-put race
    # re-reads the latest snapshot and rebases its manifest before
    # giving up. Each retry costs one JSON read + one conditional put
    # — data files are never rewritten.
    COMMIT_RETRIES = 3

    def _publish_with_rebase(
        self,
        parent: int,
        touched,
        rebuild,
        num_buckets: int | None = None,
        head: dict | None = None,
    ) -> dict:
        """Commit ``rebuild(base)``, rebasing onto the latest snapshot
        when other writers published since ``parent`` and every
        intervening commit is provably non-conflicting, else raise
        :class:`ConcurrentCommitError`. This is the table's one commit
        walk: merges, compaction, epoch markers, metadata changes and
        branch publishes all land through it (snapshot isolation, the
        Iceberg ``commit.retry`` + validation idea — at cluster scale
        the stream tailer races the compact/vacuum maintenance crons,
        and without this the loser throws away a fully-written batch).

        ``touched`` are the buckets this commit rewrites or appends
        to, ``num_buckets`` the bucket space its files were written in
        (None when it wrote none). The interveners, found by walking
        parent pointers back to ``parent``, pass one conflict table:

        * ``compact``, ``merge-noop``, ``alter-properties`` and
          ``rename-column`` are always crossed: compaction rewrites
          content-equal files, the others change manifest metadata
          only (a rebuilt merge maps a renamed column's old name
          through the base's aliases).
        * ``merge-cow``, ``merge-mor`` and ``publish`` are crossed iff
          their touched buckets are disjoint from ours AND their
          ``num_buckets`` is the bucket space our files were written
          in: a bucket id means nothing across bucket spaces.
        * Anything else raises — ``overwrite``, ``bootstrap``,
          ``rebucket``, ``rewrite-payload``, ``rollback``,
          ``drop-column``, a commit without ``touched`` — as does an
          intervener vacuum already expired (it cannot be checked).
          The written files are stale; the caller must re-run.

        ``rebuild(base)`` returns the manifest to commit on ``base``
        (built by :meth:`_successor`) and may itself refuse a base.
        The first base is ``head`` when given (a branch publish, whose
        parent is its fork point: the walk then runs before the first
        put), else ``parent``'s snapshot. The table-wide rewrites
        (``overwrite``, ``rebucket``, ``rewrite-payload``,
        ``rollback``) commit once and never rebase."""
        ours = {str(b) for b in touched}
        base = self.manifest(parent) if head is None else head
        for attempt in range(self.COMMIT_RETRIES + 1):
            # walk PARENT pointers, not a dense range: versions are
            # unique but not contiguous (publish raises the hwm)
            v = base["version"]
            while v > parent:
                try:
                    mi = self.manifest(v)
                except FileNotFoundError:
                    raise ConcurrentCommitError(
                        f"cannot rebase: intervening snapshot {v} expired"
                    ) from None
                op, t = mi.get("operation", ""), mi.get("touched")
                if op not in _CROSSABLE and not (
                    (op.startswith("merge-") or op == "publish")
                    and t is not None
                    and num_buckets in (None, mi.get("num_buckets"))
                    and ours.isdisjoint(str(b) for b in t)
                ):
                    raise ConcurrentCommitError(
                        f"cannot rebase over v{v} ({op or 'unknown'}): bucket "
                        f"conflict, bucket-space change or table-wide rewrite"
                    )
                v = int(mi.get("parent", v - 1))
            mm = rebuild(base)
            try:
                self._commit(mm)
                return mm
            except ConcurrentCommitError:
                if attempt == self.COMMIT_RETRIES:
                    raise
            parent, base = base["version"], self.manifest()
        raise AssertionError("unreachable")

    def _successor(
        self,
        base: dict,
        operation: str,
        touched: list | None,
        *,
        written: dict[str, list[str]] | None = None,
        append: bool = False,
        files: dict[str, list[str]] | None = None,
        depth: dict[str, int] | None = None,
        adds: dict | None = None,
        epochs=None,
        schema: T.StructType | None = None,
        evolution: list[str] | None = None,
        state: dict | None = None,
        hwm: int = 0,
        **fields,
    ) -> dict:
        """The manifest ``operation`` commits on ``base``: the one
        place a successor snapshot is built.

        It carries forward only what a snapshot owns (``_OWNED``, the
        epoch state and the per-bucket MOR depth, all taken from
        ``state``: default ``base``, a rollback's target otherwise) and
        sets the commit's own fields: ``version`` (one past ``base``'s
        version high-water mark), ``version_hwm`` (raised to ``hwm``),
        ``parent``, ``operation``, ``touched`` and the ``mor*`` fields.
        ``epochs`` fold into the epoch state.

        The bucket layout changes in one of three ways:

        * ``touched=None``: a table-wide rewrite — ``written`` is the
          whole new layout and every bucket is clean (``touched`` is
          then left out: the commit conflicts with everything);
        * ``append``: merge-on-read — ``written``'s files join their
          buckets' lists, one more delta deep;
        * otherwise each touched bucket's files become ``files``'
          (default ``written``; absent: the bucket was emptied), at
          MOR depth ``depth`` (absent: clean).

        ``written`` are the files this commit wrote, under one commit
        dir; when the dir's NAME carries another version than the
        logical one (a rebased commit), ``commit_versions`` maps it,
        and readers resolve merge order through that map. ``adds``
        holds the ``file_bounds`` / ``file_rows`` / ``commit_versions``
        entries of the files the layout gains; all three maps are
        pruned to what the layout still references, so they stay
        O(live files).

        ``schema`` (already reconciled) replaces the schema and gives
        brand-new columns their identity; ``evolution`` actions are
        logged under the new version. ``fields`` are set last (``key``,
        ``num_buckets``, ``properties``, ``columns_meta``, or the
        commit's provenance)."""
        src = base if state is None else state
        nv = self._next_version(base)
        mm = {k: src[k] for k in _OWNED if k in src}
        buckets = dict(src["buckets"])
        morb = self._mor_buckets_of(src)
        files = written if files is None else files
        if touched is None:
            buckets, morb = dict(files), {}
        elif files is not None:
            for b in map(str, touched):
                if append:
                    buckets[b] = buckets.get(b, []) + files[b]
                    morb[b] = morb.get(b, 0) + 1
                    continue
                if files.get(b):
                    buckets[b] = files[b]
                else:
                    buckets.pop(b, None)
                if (depth or {}).get(b):
                    morb[b] = depth[b]
                else:
                    morb.pop(b, None)
        adds = dict(adds or {})
        if written:
            d = next(iter(written.values()))[0].split("/")[1]
            if int(d.split("-")[1]) != nv:
                adds["commit_versions"] = {**adds.get("commit_versions", {}), d: nv}
        live = {rel for fs in buckets.values() for rel in fs}
        dirs = {rel.split("/")[1] for rel in live}
        for field, keep in (
            ("file_bounds", live),
            ("file_rows", live),
            ("commit_versions", dirs),
        ):
            known = {**src.get(field, {}), **adds.get(field, {})}
            mm[field] = {k: v for k, v in known.items() if k in keep}
        if schema is not None:
            mm["schema"] = schema.jsonValue()
            mm["columns_meta"] = self._columns_meta_after(src, schema, nv)
        if evolution:
            mm["evolution"] = src.get("evolution", []) + [
                {"version": nv, "actions": list(evolution)}
            ]
        mm.update(
            version=nv,
            version_hwm=max(nv, hwm),
            parent=base["version"],
            operation=operation,
            buckets=buckets,
            mor=bool(morb),
            mor_depth=max(morb.values(), default=0),
            mor_buckets=morb,
            **self._next_epoch_state(src, epochs),
        )
        if touched is not None:
            mm["touched"] = list(touched)
        mm.update(fields)
        return mm

    # ------------------------------------------------------------ properties

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest()["schema"])

    @property
    def key(self) -> str:
        return self.manifest()["key"]

    @property
    def num_buckets(self) -> int:
        return self.manifest()["num_buckets"]

    @staticmethod
    def _compact_epochs(watermark: int, epochs) -> tuple[int, list[int]]:
        """Fold ``epochs`` into (watermark, tail): advance the watermark
        through contiguous epochs, keep out-of-order stragglers in the
        (small, bounded-by-reordering) tail."""
        tail = {int(e) for e in epochs if int(e) > watermark}
        while watermark + 1 in tail:
            watermark += 1
            tail.discard(watermark)
        return watermark, sorted(tail)

    def _next_epoch_state(self, m: dict, epochs) -> dict:
        """Manifest epoch fields after committing ``epochs``.

        Epoch spaces need not start at 0 (Kafka offsets,
        timestamp-derived epochs): the FIRST commit with epochs seeds
        the watermark base at ``min(epochs) - 1``, so the watermark can
        advance contiguously from wherever the producer's numbering
        begins — otherwise a stream starting at offset 10^9 would pin
        the watermark at -1 forever and grow the tail unboundedly,
        reintroducing the O(#epochs) manifest bloat this compaction
        exists to remove.

        The base is a compaction ANCHOR, not a correctness contract:
        the committed set is exactly ``(base, watermark] | tail``, and
        the tail may hold stragglers on EITHER side — above the
        watermark (a gap not yet filled) or at/below the base (an
        out-of-order epoch the source delivered AFTER the seeding
        batch, e.g. maxFilesPerTrigger picking up files out of epoch
        order). Below-base stragglers shrink the base through
        contiguous entries, so state stays O(reordering window)."""
        w, tail = self._epoch_state_of(m)
        base = int(m.get("epoch_base", -1))
        new = sorted(int(e) for e in (epochs or []))
        # seed iff NOTHING has ever been committed (an epoch-less
        # initial overwrite must not pin the base at -1)
        if w == -1 and not tail and base == -1 and new:
            base = new[0] - 1
            w = base
        folded = set(tail) | set(new)
        # epochs in (base, w] are already committed (idempotent
        # re-commit); epochs <= base are genuine below-base stragglers
        low = {int(e) for e in folded if int(e) <= base}
        w, hi_tail = self._compact_epochs(w, {e for e in folded if e > base})
        while base in low:
            low.discard(base)
            base -= 1
        tail = sorted(set(hi_tail) | low)
        return {"epoch_watermark": w, "epoch_tail": tail, "epoch_base": base}

    @staticmethod
    def _epoch_state_of(m: dict) -> tuple[int, list[int]]:
        if "epoch_watermark" in m:
            return int(m["epoch_watermark"]), list(m.get("epoch_tail", []))
        # legacy manifests carried a flat committed_epochs list
        return LakeTable._compact_epochs(-1, m.get("committed_epochs", []))

    def epoch_state(self) -> tuple[int, list[int]]:
        """(watermark, tail): every epoch in ``(epoch_base, watermark]``
        is committed, plus the out-of-order committed epochs in
        ``tail`` (either side of that range). O(1)-sized regardless of
        how many epochs the table has ever applied."""
        return self._epoch_state_of(self.manifest())

    def epoch_base(self) -> int:
        """Seeded watermark base: epochs <= base are NOT committed
        (they are either from before the stream started, or out-of-
        order stragglers that will land in the tail when committed)."""
        return int(self.manifest().get("epoch_base", -1))

    def committed_epochs(self) -> set[int]:
        """Materialized committed-epoch set (test/CLI convenience —
        O(#epochs); hot paths use ``epoch_state`` instead). Starts at
        the seeded base for non-zero-based epoch spaces."""
        m = self.manifest()
        w, tail = self._epoch_state_of(m)
        base = int(m.get("epoch_base", -1))
        return set(range(base + 1, w + 1)) | set(tail)

    def is_epoch_committed(self, epoch: int) -> bool:
        m = self.manifest()
        w, tail = self._epoch_state_of(m)
        base = int(m.get("epoch_base", -1))
        return base < epoch <= w or epoch in tail

    # ------------------------------------------------------- MOR state

    @staticmethod
    def _mor_buckets_of(m: dict) -> dict[str, int]:
        """Per-bucket merge-on-read delta depth: bucket id (string, the
        ``buckets`` key space) -> number of un-compacted MOR commits
        whose files that bucket still carries. Buckets absent from the
        map are CLEAN (exactly one row per key across their files) and
        read shuffle-free. Legacy manifests recorded only a table-wide
        ``mor`` flag + depth; for those, every bucket is conservatively
        treated as MOR at the recorded depth."""
        if "mor_buckets" in m:
            return {str(b): int(d) for b, d in m["mor_buckets"].items()}
        if m.get("mor"):
            d = int(m.get("mor_depth", 1)) or 1
            return {b: d for b in m.get("buckets", {})}
        return {}

    def mor_buckets(self) -> dict[str, int]:
        """Current per-bucket MOR depth (empty when fully compacted)."""
        return self._mor_buckets_of(self.manifest())

    # ------------------------------------------------------------ create

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: str = "doc_id",
        num_buckets: int = 16,
        properties: dict | None = None,
        io: FileIO | None = None,
    ) -> "LakeTable":
        t = cls(spark, root, io=io)
        if t.current_version() != 0:
            raise FileExistsError(f"table already exists at {root}")
        t._commit(
            {
                "version": 1,
                "parent": 0,
                "operation": "create",
                "key": key,
                "num_buckets": num_buckets,
                "schema": schema.jsonValue(),
                "buckets": {},
                "file_bounds": {},
                "file_rows": {},
                "epoch_watermark": -1,
                "epoch_tail": [],
                "properties": properties or {},
                "evolution": [],
            }
        )
        return t

    # ------------------------------------------------------------ read

    def _bucket_col(self, df: DataFrame, key: str, n: int) -> DataFrame:
        bucket = self._prep.get(
            "bucket",
            (key, n),
            lambda: F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int"),
        )
        return df.withColumn("_bucket", bucket)

    def _empty(self, schema: T.StructType) -> DataFrame:
        """Empty frame of ``schema``. ``limit(0)`` lets the optimizer
        replace the Python-backed RDD with an empty local relation, so
        a plan holding it runs no task for it and starts no Python
        worker."""
        return self.spark.createDataFrame([], schema).limit(0)

    def _scan_groups(
        self,
        m: dict,
        schema: T.StructType,
        dirs: dict[str, list[str]],
        versions: dict[str, int],
        mor: bool = False,
        cond=None,
    ) -> DataFrame:
        """Union of ``dirs``' files (commit dir -> absolute paths),
        aligned to ``schema`` under ``m``'s aliases and column
        identities, with ONE parquet scan per alignment group.

        A commit's files come from one Spark write, so one footer per
        commit supplies its schema and Spark runs no schema-inference
        job. Commits whose footers (``_tombstone`` aside: a missing
        column null-fills) and projections onto ``schema`` agree share
        a scan; the projection is one ``selectExpr``, so planning costs
        a handful of JVM calls per group, not per column and commit.
        ``versions`` maps each commit dir to its logical version, which
        decides ``added_at`` suppression (see :meth:`_align`).

        ``mor`` adds ``_tombstone`` (false when absent) and ``_commit``,
        the logical version of each row's commit dir, read from the
        row's file path. ``cond`` filters every scan."""
        al, cm = self._aliases_of(m), m.get("columns_meta") or {}
        groups: dict[tuple, tuple[T.StructType, dict[str, int], list[str]]] = {}
        for d, files in dirs.items():
            v = versions[d]
            footer = _footer_schema(files[0])
            data = T.StructType([f for f in footer.fields if f.name != _TOMBSTONE])
            proj = self._align_sql(data, schema, al, cm, v)
            g = groups.setdefault((data.json(), proj), (data, {}, []))
            g[1][d] = v
            g[2].extend(files)
        out = None
        for (_, proj), (data, group_versions, files) in groups.items():
            exprs = list(proj)
            if mor:
                data = T.StructType(
                    data.fields + [T.StructField(_TOMBSTONE, T.BooleanType(), True)]
                )
                exprs += [
                    f"coalesce({_TOMBSTONE}, false) AS {_TOMBSTONE}",
                    self._commit_sql(group_versions),
                ]
            df = self.spark.read.schema(data).parquet(*files).selectExpr(*exprs)
            if cond is not None:
                df = df.filter(cond)
            out = df if out is None else out.union(df)
        return out

    @staticmethod
    def _commit_sql(versions: dict[str, int]) -> str:
        """``_commit`` of a scan over the files of ``versions``' commit
        dirs: each row's dir, taken from its file path, mapped to the
        dir's logical version. A rebased commit's dir NAME carries the
        version it lost the optimistic race at; ``versions`` holds its
        true (logical) commit order (see :meth:`_dir_version`)."""
        if len(set(versions.values())) == 1:
            return f"{next(iter(versions.values()))} AS _commit"
        pairs = ", ".join(f"'{d}', {v}" for d, v in sorted(versions.items()))
        return (
            f"element_at(map({pairs}), "
            "regexp_extract(_metadata.file_path, '.*/(commit-[^/]*)/', 1)) AS _commit"
        )

    # ------------------------------------------- column identity (renames)
    # Iceberg tracks columns by FIELD ID so renames are metadata-only
    # and a re-added name never resurrects dropped data. The manifest
    # equivalent here is ``columns_meta``:
    #   {canonical_name: {"added_at": version, "aliases": [old names]}}
    # Absent entries mean added_at=0 / no aliases (legacy manifests
    # read unchanged). ``aliases`` resolve a column's FORMER names in
    # old data files (and in stale producers' frames); ``added_at``
    # suppresses same-named bytes in files written before the column's
    # identity existed (the drop-then-re-add case).

    @staticmethod
    def _aliases_of(m: dict) -> dict[str, str]:
        """lowercased former name -> canonical current name."""
        out: dict[str, str] = {}
        for name, e in (m.get("columns_meta") or {}).items():
            for a in e.get("aliases", []):
                out[a.lower()] = name
        return out

    @staticmethod
    def _columns_meta_after(
        base: dict, schema2: T.StructType, logical: int
    ) -> dict:
        """columns_meta after an additive evolution at ``logical``:
        brand-new columns get added_at=logical (files from earlier
        commits must null-fill them even if same-named bytes exist)."""
        cm = {k: dict(v) for k, v in (base.get("columns_meta") or {}).items()}
        old_names = {f.name for f in T.StructType.fromJson(base["schema"]).fields}
        for f in schema2.fields:
            if f.name not in old_names and f.name not in cm:
                cm[f.name] = {"added_at": logical, "aliases": []}
        return cm

    def _align(
        self,
        df: DataFrame,
        schema: T.StructType,
        aliases: dict[str, str] | None = None,
        cmeta: dict | None = None,
        file_version: int | None = None,
    ) -> DataFrame:
        """Project ``df`` to ``schema``: cast matching columns (int
        widening), null-fill missing ones (additive evolution).
        Matching is case-insensitive like Spark's own column resolution
        (and schema.reconcile): a case-variant incoming column must
        align onto the canonical table column, not be null-filled.

        ``aliases`` additionally resolve a renamed column's former
        names. ``file_version`` (the logical commit version the rows
        were written at) with ``cmeta`` suppresses columns whose
        identity postdates the file — a column dropped and re-added
        must read null from pre-re-add files even though the bytes are
        still there (Iceberg field-id semantics)."""
        return df.select(
            *self._align_cols(
                [f.name for f in df.schema.fields],
                schema, aliases, cmeta, file_version,
            )
        )

    @staticmethod
    def _align_sources(
        names: list[str],
        schema: T.StructType,
        aliases: dict[str, str] | None = None,
        cmeta: dict | None = None,
        file_version: int | None = None,
    ) -> list[str | None]:
        """Per field of ``schema``, the column of ``names`` that feeds
        it in :meth:`_align`'s projection, or None where it null-fills."""
        out: list[str | None] = []
        have = {n.lower(): n for n in names}
        for f in schema.fields:
            src = have.get(f.name.lower())
            if src is None and aliases:
                for a_l, canon in aliases.items():
                    if canon == f.name and a_l in have:
                        src = have[a_l]
                        break
            added = ((cmeta or {}).get(f.name) or {}).get("added_at", 0)
            if file_version is not None and added > file_version:
                src = None
            out.append(src)
        return out

    @classmethod
    def _align_cols(
        cls,
        names: list[str],
        schema: T.StructType,
        aliases: dict[str, str] | None = None,
        cmeta: dict | None = None,
        file_version: int | None = None,
    ) -> list:
        """:meth:`_align`'s projection of a frame with columns
        ``names``."""
        # F.col resolves case-insensitively under the default
        # spark.sql.caseSensitive=false
        return [
            (F.lit(None) if src is None else F.col(src)).cast(f.dataType).alias(f.name)
            for f, src in zip(
                schema.fields,
                cls._align_sources(names, schema, aliases, cmeta, file_version),
            )
        ]

    @classmethod
    def _align_sql(
        cls,
        have: T.StructType,
        schema: T.StructType,
        aliases: dict[str, str],
        cmeta: dict,
        file_version: int,
    ) -> tuple[str, ...]:
        """:meth:`_align`'s projection of a frame of schema ``have``,
        as SQL expressions for one ``selectExpr``. Columns whose type
        already matches are passed through uncast."""
        out = []
        for f, src in zip(
            schema.fields,
            cls._align_sources(have.names, schema, aliases, cmeta, file_version),
        ):
            if src is None:
                out.append(f"CAST(NULL AS {_sql_type(f.dataType)}) AS {_q(f.name)}")
            elif have[src].dataType == f.dataType:
                out.append(f"{_q(src)} AS {_q(f.name)}")
            else:
                out.append(f"CAST({_q(src)} AS {_sql_type(f.dataType)}) AS {_q(f.name)}")
        return tuple(out)

    @staticmethod
    def _may_contain(bounds, lo, hi) -> bool:
        """Zone-map test: can a file with key ``bounds`` hold a key in
        [lo, hi]? Missing/invalid bounds conservatively keep the file."""
        if not bounds:
            return True
        try:
            mn, mx = bounds
            return not (hi < mn or lo > mx)
        except TypeError:  # cross-type comparison (e.g. post-widening)
            return True

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | str | None = None,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """Snapshot as a DataFrame (optionally bucket-pruned).

        ``version`` time-travels to an earlier snapshot: manifests are
        immutable and data files are content-addressed per commit, so
        any retained version reads exactly as it was (Iceberg
        ``VERSION AS OF``). A string is resolved as a tag name
        (:meth:`tag` — the pinned-dataset provenance read). Default:
        current.

        Files are grouped by alignment, not by commit: commits whose
        parquet footers and projections onto the table schema agree
        share one scan (:meth:`_scan_groups`), and each group is
        aligned to the table schema with one ``selectExpr`` — this is
        how old int32 files coexist with a widened int64 column. A
        commit's read schema comes from one of its files' parquet
        footer, so building the DataFrame launches no Spark job.

        Copy-on-write snapshots read shuffle-free (pure union of
        aligned scans). Buckets carrying merge-on-read deltas
        (``mor_buckets`` in the manifest, tracked PER BUCKET) are
        reconstructed: per key, the row from the LATEST commit wins,
        and tombstone rows (MOR deletes) drop the key — one keyed
        aggregate over ONLY those buckets' files, whose ``_commit``
        order comes from each row's file path mapped through the
        manifest's logical commit versions. Clean buckets join the
        result through the shuffle-free union path, so at 10^10 rows a
        day of MOR merges touching 1% of buckets costs a
        reconstruction shuffle of 1% of the table, not all of it.
        ``compact()`` folds MOR history back into plain files. The
        reconstruction passes the grouping key through as is, so a
        filter on the key reaches every parquet scan.

        ``key_range=(lo, hi)`` additionally drops files whose manifest
        zone map (``file_bounds``, see :meth:`_file_bounds_of`)
        excludes every key in [lo, hi] — driver-side, before Spark
        sees a path. Safe under MOR: any file holding a row (upsert OR
        tombstone) for an in-range key has that key inside its bounds,
        so every file relevant to an in-range key survives pruning and
        the per-key reconstruction over pruned files is exact for
        in-range keys. Callers still row-filter (pruning is per-file);
        out-of-range keys may surface with stale winners and MUST be
        filtered, as :meth:`lookup` / :meth:`scan_range` do."""
        return self._snapshot(self.manifest(version), buckets, key_range)

    def _snapshot(
        self,
        m: dict,
        buckets: list[int] | None = None,
        key_range: tuple | None = None,
        keys: list | None = None,
    ) -> DataFrame:
        """:meth:`read` of manifest ``m``. ``keys`` (a point lookup's
        key values) filters every scan and reconstructs in ONE
        partition: the rows are bounded by keys x MOR depth, so the
        lookup runs as one job with no exchange."""
        schema = T.StructType.fromJson(m["schema"])
        wanted = {str(b) for b in buckets} if buckets is not None else None
        fb = m.get("file_bounds", {}) if key_range is not None else {}
        mor_b = self._mor_buckets_of(m)
        mor_dirs: dict[str, list[str]] = {}  # MOR buckets' files by commit dir
        clean_dirs: dict[str, list[str]] = {}  # clean buckets' files
        for b, files in m["buckets"].items():
            if wanted is not None and b not in wanted:
                continue
            target = mor_dirs if b in mor_b else clean_dirs
            for rel in files:
                if key_range is not None and not self._may_contain(
                    fb.get(rel), *key_range
                ):
                    continue
                commit = rel.split("/")[1]  # data/commit-XXXX/...
                target.setdefault(commit, []).append(os.path.join(self.root, rel))
        if not mor_dirs and not clean_dirs:
            return self._empty(schema)
        key = m["key"]
        cond = None if keys is None else F.col(key).isin(keys)
        versions = {d: self._dir_version(m, d) for d in (*mor_dirs, *clean_dirs)}
        clean = None
        if clean_dirs:
            clean = self._scan_groups(m, schema, clean_dirs, versions, cond=cond)
        if not mor_dirs:
            return clean
        # merge-on-read reconstruction, over ONLY the MOR buckets
        rows = self._scan_groups(m, schema, mor_dirs, versions, mor=True, cond=cond)
        if keys is not None:
            rows = rows.coalesce(1)
        data = [_q(f.name) for f in schema.fields]
        # Tie-break within one commit: a key appearing in BOTH upserts
        # and delete_keys of the same merge-on-read batch yields an upsert
        # row and a tombstone with the same _commit. Order by
        # (commit, NOT tombstone) so the upsert deterministically wins
        # — matching the COW merge, where the upsert survives because
        # deletes only drop rows absent from the upsert set.
        # The key comes from the grouping column, not from ``_w``: a
        # filter on a grouping column passes through the aggregate and
        # the union into every parquet scan. That is exact, because all
        # rows of one key fall into one group.
        recon = (
            rows.groupBy(key)
            .agg(
                F.expr(
                    f"max_by(struct({', '.join(data)}, {_TOMBSTONE}), "
                    f"struct(_commit, NOT {_TOMBSTONE})) AS _w"
                )
            )
            .filter(f"NOT _w.{_TOMBSTONE}")
            .selectExpr(*[c if c == _q(key) else f"_w.{c} AS {c}" for c in data])
        )
        # keys are bucket-disjoint (bucket = hash(key) mod n), so the
        # clean-bucket union and the MOR reconstruction never overlap
        return recon if clean is None else clean.unionByName(recon)

    def lookup(self, value) -> DataFrame:
        """Point read by merge key: O(1/num_buckets) of the table.

        Computes the key's bucket with the SAME JVM expression the
        writer uses, evaluated on the driver over a local relation (no
        Spark job, and never a reimplementation of xxhash64 in Python,
        which could silently diverge). The snapshot is pruned to that
        bucket and to the files whose zone map can hold the key, and
        the key equality filters each alignment group's parquet scan
        (see :meth:`read`), where row-group stats — and the key bloom
        filter, when the table carries the ``bloom_filter_key``
        property — skip row groups that cannot contain it. The
        merge-on-read reconstruction then runs in one partition over
        the key's rows, a few per commit at most. Building the
        DataFrame launches no Spark job; collecting it runs one job
        with no exchange.
        """
        return self.lookup_many([value])

    def lookup_many(self, values) -> DataFrame:
        """Batched point read: current rows whose key is in ``values``.

        The probe primitive for batch-vs-index workloads (a
        micro-batch checking itself against a persisted dedup/ANN
        index). The probe keys go to the JVM as a local relation, and
        the writer's own bucket expression is evaluated over it on the
        driver, with no Spark job. The snapshot is
        pruned to exactly those buckets plus the probe set's
        [min, max] zone-map window, and the row filter keeps only the
        probed keys. Cost scales with |values| x (table fraction per
        bucket), independent of corpus size — never a full index scan
        per batch.

        ``values`` must be driver-sized (a batch's key set, not a
        table). Sets of up to 256 keys filter every alignment group's
        scan via ``isin``, which reaches the parquet scan's pushed
        filters (row-group stats, plus the key bloom filter when the
        table carries ``bloom_filter_key``); the surviving rows —
        bounded by keys x MOR depth — reconstruct in one partition, so
        the read is one job with no exchange. Larger sets read the
        pruned snapshot with its parallel reconstruction and filter it
        with a broadcast semi-join, keeping the filter expression tree
        bounded.
        """
        m = self.manifest()
        key = m["key"]
        vals = list(dict.fromkeys(values))  # dedupe, keep determinism
        if not vals:
            return self._snapshot(m, buckets=[])
        key_type = T.StructType.fromJson(m["schema"])[key].dataType
        nb = m["num_buckets"]
        rng = None
        if all(_json_scalar(v) and v is not None for v in vals):
            try:
                rng = (min(vals), max(vals))
            except TypeError:  # mixed types — skip zone-map pruning
                rng = None
        # The probe keys reach the JVM as a local relation — an inline
        # table of bound literals for a lookup, an Arrow-backed pandas
        # frame for a large set — so the writer's own bucket expression
        # is evaluated on the driver, with no Spark job.
        if len(vals) <= 256:
            probe = self.spark.sql(
                f"SELECT CAST(k AS {_sql_type(key_type)}) AS {_q(key)} FROM VALUES "
                + ", ".join(f"(:k{i})" for i in range(len(vals)))
                + " AS t(k)",
                args={f"k{i}": v for i, v in enumerate(vals)},
            )
        else:
            import pandas as pd

            probe = self.spark.createDataFrame(
                pd.DataFrame({key: vals}),
                T.StructType([T.StructField(key, key_type, True)]),
            )
        buckets = sorted(
            {r[0] for r in self._bucket_col(probe, key, nb).select("_bucket").collect()}
        )
        if len(vals) <= 256:
            return self._snapshot(m, buckets, rng, keys=vals)
        snap = self._snapshot(m, buckets, rng)
        return snap.join(F.broadcast(probe), key, "left_semi")

    def probe(self, keys: DataFrame) -> DataFrame:
        """Distributed batched point read: current rows whose key
        appears in the single-column DataFrame ``keys``.

        The fully distributed sibling of :meth:`lookup_many`: the key
        set never materializes on the driver as rows. ONE bounded
        collect fetches the probe's distinct bucket ids plus its
        [min, max] key window (≤ ``num_buckets`` ints + 2 scalars —
        independent of probe size), the snapshot read is pruned to
        those buckets and that zone-map window, and the row filter is
        a broadcast LEFT SEMI join against the (deduplicated) keys.
        Cost scales with the probed buckets' data, never the corpus —
        the micro-batch-vs-index probe shape (band posting lists, ANN
        cells) at any batch size.
        """
        key = self.key
        key_type = next(f.dataType for f in self.schema.fields if f.name == key)
        kdf = (
            keys.toDF(key)
            .filter(F.col(key).isNotNull())
            .select(F.col(key).cast(key_type))
            .distinct()
        )
        stats = kdf.agg(
            F.collect_set(
                F.pmod(F.xxhash64(F.col(key)), F.lit(self.num_buckets)).cast("int")
            ).alias("bs"),
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
        ).collect()[0]
        if not stats["bs"]:
            return self.read(buckets=[])
        rng = None
        if _json_scalar(stats["lo"]) and stats["lo"] is not None:
            rng = (stats["lo"], stats["hi"])
        snap = self.read(buckets=sorted(stats["bs"]), key_range=rng)
        return snap.join(F.broadcast(kdf), key, "left_semi")

    def scan_range(self, lo, hi) -> DataFrame:
        """Key-range scan: all current rows with ``lo <= key <= hi``.

        File pruning happens at the driver from the manifest zone maps
        alone (no bucket pruning applies — hash bucketing scatters a
        key range across all buckets) — with ``sort_on_write`` each
        file covers a narrow key slice, so a narrow range touches a
        small, history-depth-bound set of files out of the whole
        table. Row-group stats then prune within the survivors."""
        rng = (lo, hi) if _json_scalar(lo) and _json_scalar(hi) else None
        return self.read(key_range=rng).filter(F.col(self.key).between(lo, hi))

    # ------------------------------------------------------------ write

    def _write_commit(
        self,
        df: DataFrame,
        version: int,
        n_buckets: int | None = None,
        clustered: bool = False,
        m: dict | None = None,
    ) -> dict[str, list[str]]:
        """Write ``df`` (which must carry ``_bucket``) under a fresh
        commit dir, one directory per bucket; return bucket -> relpaths.
        ``m`` is the manifest the caller builds on (default: the head,
        one more ``_snapshots/`` listing and read).

        The dir name carries a per-attempt nonce: a writer that crashed
        after writing data but before publishing its manifest leaves
        only orphaned files — it can never collide with (and block) a
        later attempt at the same version, and the optimistic manifest
        commit still decides the single winner."""
        commit_rel = os.path.join(
            _DATA_DIR, f"commit-{version:08d}-{uuid.uuid4().hex[:8]}"
        )
        commit_dir = os.path.join(self.root, commit_rel)
        # partitionBy gives parallel per-bucket files; repartition by
        # bucket first so each task writes few buckets (fewer small
        # files). The partition count is EXPLICIT (one per bucket):
        # with a bare repartition(col), AQE coalesces the small write
        # shuffle to ~output_bytes/64MB tasks, serializing the write at
        # bench scale (measured flat ~2.5s at any core count).
        # ``clustered=True`` skips the exchange: the caller asserts the
        # input is already bucket-clustered (a map-only transform of
        # per-bucket files — rewrite_payload), so shuffling the whole
        # table again would be pure waste; each task's rows span few
        # buckets and partitionBy's own per-task sort splits them.
        if m is None:
            m = self.manifest() if self.current_version() else {}
        if clustered:
            data = df
        else:
            data = df.repartition(n_buckets or m["num_buckets"], "_bucket")
        # Optional sort-on-write (table property, the Iceberg
        # write.sort-order idea): order rows by the merge key INSIDE
        # each bucket task so every parquet row group covers a narrow
        # key range. lookup() then skips non-matching row groups on
        # min/max stats alone — the zero-overhead complement to the
        # bloom option (blooms cost file size; sorting costs one
        # in-task sort of an already-bucket-sized partition).
        # _bucket must LEAD the sort: FileFormatWriter requires rows
        # ordered by the partitionBy columns and inserts its own
        # per-task sort on _bucket alone when the child ordering
        # doesn't satisfy that — which would destroy the key order.
        # Sorting (_bucket, key) satisfies the writer's requirement,
        # so it keeps our ordering and adds no extra sort.
        props = m.get("properties", {}) or {}
        if props.get("sort_on_write"):
            data = data.sortWithinPartitions("_bucket", m["key"])
        writer = data.write.partitionBy("_bucket")
        # Optional per-file bloom filter on the merge key (table
        # property): at 10^10 rows, lookup() prunes to one bucket
        # (1/num_buckets of the files) and the bloom then skips the
        # row groups inside that bucket that cannot contain the key —
        # the point-read path without any external index. ~1.2 bits/
        # key of extra file size at the default ndv.
        if props.get("bloom_filter_key"):
            key = m["key"]
            ndv = int(props.get("bloom_filter_ndv", 1_000_000))
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{key}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{key}", str(ndv))
        writer.parquet(commit_dir)
        out: dict[str, list[str]] = {}
        for entry in self.io.list_dir(commit_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            files = [
                os.path.join(commit_rel, entry, f)
                for f in self.io.list_dir(os.path.join(commit_dir, entry))
                if f.endswith(".parquet")
            ]
            if files:
                out[b] = files
        return out

    # --------------------------------------------------- zone maps

    def _file_bounds_of(
        self, written: dict[str, list[str]], m: dict
    ) -> dict[str, list]:
        """Per-file ``[min, max]`` of the merge key for just-written
        files, read from the parquet FOOTERS (driver-side, one small
        metadata read per file) — Iceberg's per-file column bounds in
        the manifest. No data is scanned and no Spark job runs.

        Readers use these as zone maps: :meth:`lookup` and
        :meth:`scan_range` drop whole files at the driver, BEFORE
        Spark lists or opens them — at 10^10 rows with deep
        merge-on-read history, a point read prunes to one bucket
        (hash), then to the handful of commits whose key range covers
        the value (bounds), then to matching row groups (parquet
        stats / bloom). With ``sort_on_write`` each file covers a
        narrow key range, making the bounds maximally selective.

        Files whose footer lacks key statistics are simply omitted
        (readers treat missing bounds as "may contain anything").
        An object-store FileIO would fetch footers with ranged GETs;
        the cost stays O(files-written) per commit either way.
        Disable with table property ``zone_maps: false``.

        The SAME footer pass also harvests per-file ROW COUNTS
        (``file_rows``, the Iceberg ``record_count`` manifest stat) —
        zero extra I/O — feeding :meth:`stats`: an exact ``count(*)``
        for clean tables costs one manifest read, no Spark job.
        ``m`` is the manifest the caller builds on (key, properties).
        Returns the ``adds`` of :meth:`_successor`: ``file_bounds``
        and ``file_rows`` of the written files."""
        rows: dict[str, int] = {}
        out: dict[str, list] = {}
        adds = {"file_bounds": out, "file_rows": rows}
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return adds
        zone_maps = (m.get("properties") or {}).get("zone_maps") is not False
        key = m.get("key")
        for files in written.values():
            for rel in files:
                try:
                    md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
                    rows[rel] = md.num_rows
                    if not zone_maps:
                        continue
                    idx = next(
                        i
                        for i in range(md.num_columns)
                        if md.schema.column(i).name == key
                    )
                    mn = mx = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            raise StopIteration
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                    if mn is not None and _json_scalar(mn) and _json_scalar(mx):
                        out[rel] = [mn, mx]
                except (StopIteration, OSError, KeyError, TypeError):
                    continue
        return adds

    def overwrite(
        self,
        df: DataFrame,
        epochs: list[int] | None = None,
        _epoch_state: dict | None = None,
        _operation: str = "overwrite",
    ) -> int:
        """Replace the full table contents atomically (initial load).

        ``_epoch_state`` / ``_operation`` are internal hooks for
        :meth:`bootstrap`, which must publish a position handoff in
        the SAME commit as the data load."""
        m = self.manifest()
        version = self._next_version(m)
        al = self._aliases_of(m)
        schema = reconcile(T.StructType.fromJson(m["schema"]), df.schema, al)
        data = self._bucket_col(
            self._align(df, schema, aliases=al), m["key"], m["num_buckets"]
        )
        written = self._write_commit(data, version, m=m)
        # a full overwrite replaces every data file: any pending
        # merge-on-read history is gone with them, so reads must NOT
        # pay (or worse, apply) the MOR reconstruction — an
        # overwritten frame containing duplicate keys would be
        # silently collapsed to one row per key instead of read back
        # verbatim. A table-wide layout is clean (see _successor).
        return self._commit(
            self._successor(
                m,
                _operation,
                None,
                written=written,
                adds=self._file_bounds_of(written, m),
                epochs=epochs,
                schema=schema,
                **(_epoch_state or {}),
            )
        )

    def bootstrap(self, df: DataFrame, position: int) -> int:
        """Initial-snapshot load with a binlog-position handoff.

        The classic CDC bootstrap (Flink CDC "initial snapshot then
        incremental", Debezium snapshot mode): ``df`` is a consistent
        snapshot dump that already REFLECTS every change event with
        ``batch_epoch <= position``, so a subsequent binlog tail must
        apply only epochs ``> position``. Without the handoff the tail
        either re-applies the snapshot's entire history (O(history)
        wasted work, double-counted lineage) or the operator has to
        truncate the binlog at exactly the snapshot cut.

        One atomic commit publishes the data AND the epoch state
        ``(base=-1, watermark=position)`` — every non-negative epoch
        ``<= position`` reads as committed — so a crash between "data
        loaded" and "position stamped" cannot leave a table that
        replays from zero. Re-running the bootstrap is a plain
        overwrite: idempotent in content, new snapshot version.

        Reference parity: the reference re-validates whole files from
        scratch and has no incremental handoff; this is the piece a
        log-tailing engine needs instead (north_star: "replay from any
        checkpoint reconverges").
        """
        position = int(position)
        if position < 0:
            raise ValueError("bootstrap position must be >= 0")
        return self.overwrite(
            df,
            _epoch_state={
                "epoch_watermark": position,
                "epoch_tail": [],
                "epoch_base": -1,
            },
            _operation="bootstrap",
        )

    def export_snapshot(
        self, out_dir: str, version: int | str | None = None
    ) -> dict:
        """Consistent snapshot dump + binlog-position sidecar — the
        PRODUCER half of the bootstrap handoff (:meth:`bootstrap` is
        the consumer half, and previously required the operator to
        supply both the dump and its position by hand).

        Writes the snapshot's rows as plain parquet under
        ``out_dir/data`` and then ``out_dir/_position.json`` (written
        LAST, atomically via temp+rename: a sidecar implies a complete
        dump) recording the snapshot's epoch watermark — the binlog
        position the dump is consistent up to. A downstream table
        bootstraps with ``bootstrap(spark.read.parquet(dir/data),
        sidecar["position"])`` (the CLI does this automatically) and
        tails the SAME binlog, applying only newer epochs.

        Position contract: the exported position is the watermark W
        (every epoch <= W reflected). Out-of-order committed epochs
        ABOVE W (the tail) are also reflected in the data but sit
        above the handoff position, so a subsequent tail re-applies
        them — idempotent under the LWW merge, never lossy; they are
        listed in the sidecar for observability. ``version`` may be an
        int or a tag name (time-travel export, e.g. reproducing the
        exact dump a training run consumed)."""
        m = self.manifest(version)
        v = int(m["version"])
        w, tail = self._epoch_state_of(m)
        self.read(version=v).write.mode("overwrite").parquet(
            os.path.join(out_dir, "data")
        )
        sidecar = {
            "position": w,
            "source_version": v,
            "source_root": self.root,
            "key": m.get("key"),
            "epoch_tail_above_position": sorted(
                int(e) for e in tail if int(e) > w
            ),
        }
        tmp = os.path.join(out_dir, f"._position.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(sidecar, f)
        os.replace(tmp, os.path.join(out_dir, "_position.json"))
        return sidecar

    def mark_epochs(self, epochs) -> int:
        """Manifest-only epoch-marker commit: record ``epochs`` as
        applied with NO data change and NO Spark jobs (a ``merge-noop``
        snapshot, so concurrent merges rebase over it freely).

        The multi-table router uses this to advance a route's
        watermark past epochs that routed zero events to it — without
        the marker, every epoch a route never sees would sit in its
        out-of-order tail forever, growing the manifest and the
        already-committed predicate with stream lifetime."""
        epochs = sorted({int(e) for e in epochs if int(e) >= 0})
        if not epochs:
            return self.current_version()
        parent = self.current_version()
        return int(
            self._publish_with_rebase(
                parent,
                [],
                lambda base: self._successor(base, "merge-noop", [], epochs=epochs),
            )["version"]
        )

    def merge(
        self,
        upserts: DataFrame,
        delete_keys: DataFrame | None = None,
        epochs: list[int] | None = None,
        affected_buckets: list[int] | None = None,
        mode: str = "cow",
        affected_buckets_nb: int | None = None,
    ) -> dict:
        """MERGE: last-writer-wins upsert + key deletes.

        ``upserts`` must contain at most one row per key (resolve
        last-writer-wins first, as ``CdcEngine``'s resolver does with
        one ``max_by`` aggregate) and be alignable to the table schema
        (run schema reconcile first — this method evolves the manifest
        schema additively). ``delete_keys`` is a 1-column (key) frame.
        ``affected_buckets`` is an optional pre-computed bucket hint;
        pass ``affected_buckets_nb`` = the bucket count it was computed
        against, so a concurrent ``rebucket()`` landing between the
        caller's computation and this merge invalidates the hint
        (it is then recomputed) instead of silently dropping buckets.

        Equivalent SQL (Iceberg):
            MERGE INTO t USING batch ON t.k = batch.k
            WHEN MATCHED AND batch.op = 'delete' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND batch.op != 'delete' THEN INSERT *

        ``mode`` picks the write amplification trade:

        * ``"cow"`` (copy-on-write, default): affected buckets are
          rewritten in full; reads stay shuffle-free. Right when a
          batch touches a large fraction of each bucket.
        * ``"mor"`` (merge-on-read): ONLY the change batch is written
          — upserts plus tombstone rows for deletes appended as new
          files in the affected buckets; no existing file is read or
          rewritten. Reads reconstruct last-writer-wins per key until
          ``compact()`` folds the history down. Right for small/
          frequent batches over huge buckets (at 10^10 rows a 0.1%
          change batch rewrites nothing instead of every touched
          bucket). Modes interleave freely commit-by-commit.

        Both modes share the rest: the schema reconcile, the
        manifest-only ``merge-noop`` commit of an empty batch, and one
        rebuild on :meth:`_successor` that :meth:`_publish_with_rebase`
        re-runs on the latest snapshot after a lost race.

        Returns {"version", "buckets_rewritten" | "buckets_appended",
        "evolution"} (``mor`` adds "mor_depth"); an empty batch
        returns {"version", "rows_written": 0, ...: 0}.
        """
        m = self.manifest()
        n_buckets = m["num_buckets"]
        old_schema = T.StructType.fromJson(m["schema"])
        al = self._aliases_of(m)
        schema = reconcile(old_schema, upserts.schema, al)
        evo = evolution_actions(old_schema, upserts.schema, al)
        version = self._next_version(m)
        mor = mode == "mor"
        if mor:
            written = self._mor_write(m, upserts, delete_keys, schema, al, version)
            touched, count = sorted(written), "buckets_appended"
        else:
            # the caller's bucket hint is only valid in THIS manifest's
            # bucket space: a rebucket that landed after the caller
            # computed it silently invalidates every id
            hint = affected_buckets
            if affected_buckets_nb not in (None, n_buckets):
                hint = None
            touched, written = self._cow_write(
                m, upserts, delete_keys, schema, al, version, hint
            )
            count = "buckets_rewritten"
        if not touched:  # empty change batch: a manifest-only commit
            mm = self._publish_with_rebase(
                m["version"],
                [],
                lambda base: self._successor(base, "merge-noop", [], epochs=epochs),
            )
            return {"version": mm["version"], "rows_written": 0, count: 0}
        # corruption guard: every written bucket must be one we
        # declared touched, or the manifest would silently drop the
        # stray bucket's rows (possible only if the bucket hint was
        # computed in a different bucket space — see the docs above)
        stray = sorted(set(written) - set(touched))
        if stray:
            raise ConcurrentCommitError(
                f"merge wrote buckets {stray} outside its declared "
                f"touched set (stale affected_buckets hint after a "
                f"concurrent rebucket?) — aborting instead of "
                f"dropping their rows"
            )
        adds = self._file_bounds_of(written, m)

        def rebuild(base: dict) -> dict:
            # re-reconcile on the base: a rebase may cross another
            # merge's additive evolution or a rename (old names map
            # through the base's aliases)
            al2 = self._aliases_of(base)
            bschema = T.StructType.fromJson(base["schema"])
            return self._successor(
                base,
                "merge-mor" if mor else "merge-cow",
                touched,
                written=written,
                append=mor,
                adds=adds,
                epochs=epochs,
                schema=reconcile(bschema, schema, al2),
                evolution=evolution_actions(bschema, schema, al2),
            )

        mm = self._publish_with_rebase(m["version"], touched, rebuild, n_buckets)
        out = {"version": mm["version"], count: len(touched), "evolution": evo}
        if mor:
            out["mor_depth"] = mm["mor_depth"]
        return out

    def _cow_write(
        self,
        m: dict,
        upserts: DataFrame,
        delete_keys: DataFrame | None,
        schema: T.StructType,
        al: dict,
        version: int,
        hint: list[int] | None,
    ) -> tuple[list[str], dict[str, list[str]]]:
        """Copy-on-write half of :meth:`merge`: rewrite every bucket
        holding a changed key (survivors plus upserts) under a fresh
        commit dir. Returns (touched buckets, written files); no
        bucket is touched when the batch changes no key."""
        key, n_buckets = m["key"], m["num_buckets"]
        ups_cols, del_cols = self._prep.get(
            "merge_cow",
            (key, upserts.schema.json(), schema.json(), al),
            lambda: (
                self._align_cols(upserts.schema.names, schema, aliases=al),
                # cast to the table key type BEFORE hashing: xxhash64
                # of an int and of the same value as long differ, so
                # an unaligned delete frame would bucket to the wrong
                # file and the delete would be silently missed (the
                # MOR path _aligns its tombstones; COW must match)
                [F.col(key).cast(schema[key].dataType).alias(key)],
            ),
        )
        ups = self._bucket_col(upserts.select(*ups_cols), key, n_buckets)
        all_keys = ups.select(key, "_bucket")
        if delete_keys is not None:
            dels = self._bucket_col(
                delete_keys.select(*del_cols), key, n_buckets
            )
            all_keys = all_keys.unionByName(dels)
        all_keys = all_keys.select(key, "_bucket").dropDuplicates([key])

        # Bucket pruning: only buckets containing changed keys are read
        # and rewritten. The distinct-bucket list is tiny (<= num_buckets)
        # so collecting it to the driver is scale-safe. Callers that
        # already aggregated the change set (CdcEngine) pass the bucket
        # list in, saving this job's round trip.
        if hint is not None:
            affected = list(hint)
        else:
            affected = [
                r["_bucket"] for r in all_keys.select("_bucket").distinct().collect()
            ]
        if not affected:
            return [], {}

        current = self._bucket_col(
            self._align(self._snapshot(m, buckets=affected), schema), key, n_buckets
        )
        # Survivors: current rows of affected buckets whose key is NOT in
        # the change set. Anti-join on the key; AQE broadcasts the change
        # keys when small and splits skew otherwise.
        survivors = current.join(all_keys.select(key), on=key, how="left_anti")
        survivors = self._bucket_col(self._align(survivors, schema), key, n_buckets)
        new_state = survivors.unionByName(ups)
        return [str(b) for b in affected], self._write_commit(new_state, version, m=m)

    def _mor_write(
        self,
        m: dict,
        upserts: DataFrame,
        delete_keys: DataFrame | None,
        schema: T.StructType,
        al: dict,
        version: int,
    ) -> dict[str, list[str]]:
        """Merge-on-read half of :meth:`merge`: append the change batch
        (upserts + delete tombstones) as new bucket files under a
        fresh commit dir; no existing file is read or rewritten.
        Returns the written files (empty for an empty batch)."""
        key = m["key"]
        ups_cols, tomb_cols = self._prep.get(
            "merge_mor",
            (key, upserts.schema.json(), schema.json(), al),
            lambda: (
                self._align_cols(upserts.schema.names, schema, aliases=al)
                + [F.lit(False).alias(_TOMBSTONE)],
                # a tombstone row: the key, every other column null
                self._align_cols([key], schema)
                + [F.lit(True).alias(_TOMBSTONE)],
            ),
        )
        batch = upserts.select(*ups_cols)
        if delete_keys is not None:
            batch = batch.unionByName(delete_keys.select(*tomb_cols))
        batch = self._bucket_col(batch, key, m["num_buckets"])
        return self._write_commit(batch, version, m=m)

    def delete_where(self, condition, mode: str = "mor") -> dict:
        """Predicate delete: remove every current row matching
        ``condition`` (a Column or SQL string) — the takedown /
        retention / poisoned-source purge a training-data lake needs
        (``DELETE FROM t WHERE src = 'bad-crawl'``).

        Composed over MERGE: one scan finds the matching keys, then
        the standard delete path applies them — ``mor`` (default)
        appends O(matches) tombstones and rewrites nothing, ``cow``
        rewrites only the buckets containing matches. The scan is a
        plain snapshot read, so Catalyst pushes ``condition`` down to
        the parquet scans (and zone maps/bucket pruning apply when the
        predicate is on the key). Keys are never collected to the
        driver. Returns the merge result plus ``keys_deleted``."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # One scan total: the matching keys (O(matches), small) are
        # materialized once and reused by the count AND the merge.
        keys = self.read().filter(cond).select(self.key).localCheckpoint(eager=True)
        n = keys.count()
        if n == 0:
            return {"version": self.manifest()["version"], "keys_deleted": 0}
        empty = self._empty(self.schema)
        out = self.merge(empty, delete_keys=keys, mode=mode)
        out["keys_deleted"] = n
        return out

    # Safe default orphan age: a commit dir younger than this is
    # assumed to belong to an IN-FLIGHT writer (data written, manifest
    # not yet published — a state the optimistic _commit explicitly
    # supports) and must not be swept, or the writer's subsequent
    # manifest would reference deleted files and corrupt the snapshot.
    DEFAULT_VACUUM_MIN_AGE = 3600.0

    def vacuum(
        self,
        keep_last: int = 1,
        min_age_seconds: float = DEFAULT_VACUUM_MIN_AGE,
        dry_run: bool = False,
    ) -> dict:
        """Expire old snapshots and remove unreferenced data dirs.

        Keeps the newest ``keep_last`` snapshot manifests (time-travel
        window) PLUS every snapshot pinned by a tag (``tag()`` — a
        training run's dataset pin must survive any retention policy),
        and deletes every data commit dir referenced by NONE of
        them — expired history and crash orphans alike. Dirs younger
        than ``min_age_seconds`` are spared so an in-flight writer's
        not-yet-committed files survive (the Iceberg
        expire_snapshots + remove_orphan_files pair in one pass).
        ``min_age_seconds`` defaults to an hour; pass 0 ONLY when no
        concurrent writer can exist (tests, single-writer shutdown) —
        _commit never re-validates that referenced data files exist.

        ``dry_run=True`` deletes nothing and additionally returns the
        doomed snapshot versions and data dirs — the operator preview
        before pointing a retention cron at a production table.

        Live branches are protected: their fork-point manifest is
        retained and every data dir their head references is kept
        (see :meth:`create_branch`). Retention is a whole-table
        operation, so it must run from the MAIN table handle."""
        import time as _time

        if self.branch is not None:
            raise ValueError("vacuum must run on the main table")

        snap_dir = os.path.join(self.root, _SNAP_DIR)
        versions = sorted(
            int(n[5:13])
            for n in self.io.list_dir(snap_dir)
            if n.startswith("snap-") and n.endswith(".json")
        )
        if not versions:
            # Fail-safe: a valid table always has >= 1 manifest. An
            # empty/missing _snapshots dir (mistyped root, lost
            # metadata) would make EVERY data dir look orphaned and
            # delete the whole table — refuse instead.
            raise FileNotFoundError(
                f"no snapshots at {snap_dir}: not a LakeTable root, "
                "refusing to vacuum (everything would be treated as orphan)"
            )
        retained = set(versions[-max(1, keep_last):])
        retained |= {v for v in self.tags().values() if v in set(versions)}
        referenced: set[str] = set()
        # live branches pin their ancestry and their staged data: the
        # fork-point manifest stays readable (branch reads below the
        # fork fall through to main) and every data dir the branch
        # HEAD references survives orphan GC until the branch is
        # published or dropped
        for name, info in self.branches().items():
            if info["fork_version"] in set(versions):
                retained.add(info["fork_version"])
            bhead = LakeTable(
                self.spark, self.root, io=self.io, branch=name
            ).manifest()
            for files in bhead["buckets"].values():
                for rel in files:
                    referenced.add(rel.split("/")[1])
        for v in retained:
            for files in self.manifest(v)["buckets"].values():
                for rel in files:
                    referenced.add(rel.split("/")[1])
        doomed_dirs: list[str] = []
        data_root = os.path.join(self.root, _DATA_DIR)
        now = _time.time()
        for d in self.io.list_dir(data_root):
            p = os.path.join(data_root, d)
            if d in referenced or not self.io.is_dir(p):
                continue
            if now - self.io.mtime(p) < min_age_seconds:
                continue
            if not dry_run:
                self.io.remove_tree(p)
            doomed_dirs.append(d)
        doomed_versions = [v for v in versions if v not in retained]
        if not dry_run:
            for v in doomed_versions:
                self.io.delete(self._snap_path(v))
                # keep expiry observable through THIS instance:
                # time-travel to an expired version must fail rather
                # than serve a snapshot whose data dirs are gone
                self._mcache.pop(v, None)
        out = {
            "snapshots_expired": len(doomed_versions),
            "data_dirs_removed": len(doomed_dirs),
        }
        if dry_run:
            out.update(
                dry_run=True,
                doomed_versions=doomed_versions,
                doomed_dirs=doomed_dirs,
            )
        return out

    def compact(
        self,
        buckets: list[int] | None = None,
        min_depth: int = 1,
        max_buckets: int | None = None,
    ) -> dict:
        """Fold merge-on-read history down — PER BUCKET: rewrite only
        the buckets carrying MOR deltas (per-key winners kept,
        tombstones dropped) as one fresh commit; clean buckets' files
        are carried forward untouched. The MOR analogue of Iceberg's
        ``rewrite_data_files`` with a filter: at 10^10 rows, a day of
        merges touching 1% of buckets compacts 1% of the table, not
        a full-table rewrite.

        ``buckets`` restricts candidates; ``min_depth`` skips buckets
        whose delta depth is still shallow (reads there pay only a
        small reconstruction); ``max_buckets`` bounds one maintenance
        pass's work, deepest buckets first — together they make
        compaction an incremental background job with a bounded pause,
        not a stop-the-world rewrite.

        Publishes through the optimistic rebase path with the
        compacted buckets as the touched set: concurrent merges to
        OTHER buckets interleave freely; a merge landing in a bucket
        being compacted aborts the compaction (ConcurrentCommitError)
        rather than losing its delta — compaction is retryable
        maintenance, the merge is data."""
        m = self.manifest()
        morb = self._mor_buckets_of(m)
        cand = {b: d for b, d in morb.items() if d >= min_depth}
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            cand = {b: d for b, d in cand.items() if b in wanted}
        order = sorted(cand, key=lambda b: (-cand[b], int(b)))
        if max_buckets is not None:
            order = order[:max_buckets]
        if not order:
            return {"version": m["version"], "compacted": False}
        schema = T.StructType.fromJson(m["schema"])
        # MOR reconstruction over ONLY the candidate buckets' files
        state = self._snapshot(m, buckets=[int(b) for b in order])
        version = self._next_version(m)
        data = self._bucket_col(self._align(state, schema), m["key"], m["num_buckets"])
        written = self._write_commit(data, version, m=m)
        adds = self._file_bounds_of(written, m)
        touched = list(order)
        mm = self._publish_with_rebase(
            m["version"],
            touched,
            lambda base: self._successor(
                base, "compact", touched, written=written, adds=adds
            ),
            m["num_buckets"],
        )
        return {
            "version": mm["version"],
            "compacted": True,
            "buckets_compacted": len(touched),
            "mor_buckets_remaining": len(mm.get("mor_buckets", {})),
        }

    def rebucket(self, new_num_buckets: int) -> dict:
        """Migrate the table to a different bucket count as one special
        commit: full read -> re-hash on the key -> rewrite -> manifest
        with the new ``num_buckets``.

        This is the scale-evolution path the bucketed layout needs
        (module docstring: 10^10 rows want ~4096 buckets, but tables
        are usually created small): without it, bucket count is frozen
        at create time and the 1%-of-files MERGE pruning story stops
        holding as the table grows. One full rewrite — O(table) like
        Iceberg's ``REPLACE PARTITION FIELD`` + rewrite_data_files —
        after which every merge prunes against the new bucket space.
        MOR history folds down in the same pass (the read reconstructs
        it). Old commits remain for time travel until vacuum()."""
        m = self.manifest()
        if new_num_buckets == m["num_buckets"]:
            return {"version": m["version"], "rebucketed": False}
        schema = T.StructType.fromJson(m["schema"])
        state = self._snapshot(m)
        version = self._next_version(m)
        data = self._bucket_col(
            self._align(state, schema), m["key"], new_num_buckets
        )
        written = self._write_commit(data, version, n_buckets=new_num_buckets, m=m)
        self._commit(
            self._successor(
                m,
                "rebucket",
                None,
                written=written,
                adds=self._file_bounds_of(written, m),
                num_buckets=new_num_buckets,
            )
        )
        return {
            "version": version,
            "rebucketed": True,
            "num_buckets": new_num_buckets,
        }

    def rewrite_payload(self, exprs: dict) -> dict:
        """Full-corpus map-only transform as ONE commit: rewrite every
        row's payload columns through ``exprs`` (column name ->
        pyspark Column or SQL string) without ever shuffling the table.

        The 10^10-row migration path (retokenize under a new vocab,
        re-normalize text, re-quantize embeddings): the merge key may
        NOT be transformed, so every row's bucket assignment is
        unchanged — the read is already bucket-clustered files, the
        transform is a projection, and the write skips the exchange
        (``_write_commit(clustered=True)``): scan + map + write, zero
        shuffle. Compare ``overwrite(read().withColumn(...))``, which
        pays a full-table exchange for the same result.

        Types must stay schema-compatible (the result is aligned to
        the table schema — widen the schema first for type changes).
        MOR history folds down in the same pass (the read reconstructs
        it; reconstruction shuffles only the MOR-dirty buckets —
        ``compact()`` first for a perfectly clustered rewrite).
        Publishes as ``rewrite-payload``, a table-wide commit:
        concurrent merges never rebase over it (and it never rebases),
        exactly like ``rebucket``. Epoch state is preserved — the
        rewrite is not a change-apply, replay semantics are untouched.
        Old commits remain time-travelable until ``vacuum()``;
        ``changes()`` emits the rewrite as ordinary per-row upserts
        (parent-vs-child diff), so changelog consumers reconverge.
        """
        m = self.manifest()
        if m["key"] in exprs:
            raise ValueError(
                f"rewrite_payload cannot transform the merge key "
                f"{m['key']!r} (bucket assignment must be preserved; "
                f"use merge/delete for key changes)"
            )
        schema = T.StructType.fromJson(m["schema"])
        names = {f.name for f in schema.fields}
        unknown = set(exprs) - names
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        state = self._snapshot(m)
        for c, e in exprs.items():
            state = state.withColumn(c, F.expr(e) if isinstance(e, str) else e)
        version = self._next_version(m)
        data = self._bucket_col(self._align(state, schema), m["key"], m["num_buckets"])
        written = self._write_commit(data, version, clustered=True, m=m)
        self._commit(
            self._successor(
                m,
                "rewrite-payload",
                None,
                written=written,
                adds=self._file_bounds_of(written, m),
            )
        )
        return {
            "version": version,
            "rewritten_columns": sorted(exprs),
            "buckets": len(written),
        }

    # ------------------------------------------------------- properties

    def alter_properties(self, props: dict) -> dict:
        """Change table properties as a manifest-only commit (the
        Iceberg ``ALTER TABLE SET TBLPROPERTIES`` idea): merge
        ``props`` into the current set; a ``None`` value unsets a key.

        Properties steer FUTURE writes only (``sort_on_write``,
        ``bloom_filter_key``, ``zone_maps``), so flipping one on a
        live 10^10-row table costs one conditional put — existing
        files pick the feature up as merges/compaction naturally
        rewrite them, no stop-the-world rewrite. Publishes through the
        rebase path with an empty touched set: concurrent merges and
        this commit never conflict in either direction."""
        m = self.manifest()

        def rebuild(base: dict) -> dict:
            merged = dict(base.get("properties", {}) or {})
            for k, v in props.items():
                if v is None:
                    merged.pop(k, None)
                else:
                    merged[k] = v
            return self._successor(base, "alter-properties", [], properties=merged)

        mm = self._publish_with_rebase(m["version"], [], rebuild)
        return {"version": mm["version"], "properties": mm["properties"]}

    def rename_column(self, old: str, new: str) -> dict:
        """Rename a column as a manifest-only commit — no data file is
        touched (Iceberg ``ALTER TABLE ... RENAME COLUMN``; renames
        are metadata because columns are tracked by identity, not
        name). The former name is recorded as an ALIAS in
        ``columns_meta``: old data files (and stale producers still
        emitting the old name) resolve onto the renamed column at
        read/merge time, time travel to pre-rename versions shows the
        old name, and ``changes()`` across the rename emits under the
        final name. Renaming the merge key is allowed (bucket hashes
        are over values, not names). Publishes through the rebase path
        with an empty touched set — concurrent merges interleave."""
        m = self.manifest()

        def rebuild(base: dict) -> dict:
            bschema = T.StructType.fromJson(base["schema"])
            names = {f.name.lower(): f.name for f in bschema.fields}
            if old.lower() not in names:
                raise SchemaEvolutionError(f"no column {old!r} to rename")
            old_c = names[old.lower()]
            if new.lower() in names and names[new.lower()] != old_c:
                raise SchemaEvolutionError(
                    f"cannot rename {old_c!r} to {new!r}: column exists"
                )
            al = self._aliases_of(base)
            if new.lower() in al:
                raise SchemaEvolutionError(
                    f"cannot rename {old_c!r} to {new!r}: it is a former "
                    f"name of {al[new.lower()]!r} (old data files would "
                    f"become ambiguous)"
                )
            fields = [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old_c
                else f
                for f in bschema.fields
            ]
            cm = {k: dict(v) for k, v in (base.get("columns_meta") or {}).items()}
            entry = cm.pop(old_c, {"added_at": 0, "aliases": []})
            entry["aliases"] = sorted(set(entry.get("aliases", [])) | {old_c})
            cm[new] = entry
            return self._successor(
                base,
                "rename-column",
                [],
                schema=T.StructType(fields),
                evolution=[f"rename {old_c} -> {new}"],
                columns_meta=cm,
                key=(new if base["key"] == old_c else base["key"]),
            )

        mm = self._publish_with_rebase(m["version"], [], rebuild)
        return {"version": mm["version"], "key": mm["key"]}

    def drop_column(self, name: str) -> dict:
        """Drop a column as a manifest-only commit. Data files keep
        the bytes (Iceberg semantics — space comes back as compaction
        / COW merges naturally rewrite files); reads project the
        column away. A LATER re-add of the same name is a NEW column
        identity: ``columns_meta.added_at`` makes pre-re-add files
        read null for it instead of resurrecting dropped data."""
        m = self.manifest()

        def rebuild(base: dict) -> dict:
            bschema = T.StructType.fromJson(base["schema"])
            names = {f.name.lower(): f.name for f in bschema.fields}
            if name.lower() not in names:
                raise SchemaEvolutionError(f"no column {name!r} to drop")
            c = names[name.lower()]
            if c == base["key"]:
                raise SchemaEvolutionError("cannot drop the merge key")
            cm = {
                k: dict(v)
                for k, v in (base.get("columns_meta") or {}).items()
                if k != c
            }
            return self._successor(
                base,
                "drop-column",
                [],
                schema=T.StructType([f for f in bschema.fields if f.name != c]),
                evolution=[f"drop column {c}"],
                columns_meta=cm,
            )

        mm = self._publish_with_rebase(m["version"], [], rebuild)
        return {"version": mm["version"]}

    # -------------------------------------------------------- rollback

    def rollback(self, version: int | str) -> dict:
        """Restore the table to snapshot ``version``'s state as a NEW
        commit (the Iceberg ``rollback_to_snapshot`` idea): history
        only ever grows, so the bad commits stay inspectable and
        time-travelable until vacuum expires them, and downstream
        ``changes()`` consumers see the restore as ordinary row-level
        deltas (the generic parent-vs-child diff) instead of a
        history rewrite they cannot replay.

        The whole target manifest is copied — buckets, schema, zone
        maps, MOR state, properties AND the epoch watermark/tail — so
        exactly-once accounting rewinds with the data: epochs applied
        after the target are no longer marked committed, and
        re-tailing the binlog (with a fresh checkpoint) re-applies
        exactly those epochs. That is the CDC recovery story: bad
        batch landed → ``rollback`` → replay from the log reconverges.

        No rebase on a lost race, deliberately: restoring state while
        another writer lands would silently discard that writer's
        commit without the operator ever seeing it — the loser must
        look at the new head and re-issue. Conversely a concurrent
        merge can never rebase OVER a rollback (table-wide rewrite,
        same class as ``overwrite``), so no batch is half-kept.

        Reference parity: the DEX service has no snapshot restore —
        recovery there is re-uploading the source file; this is the
        lake-native equivalent for the CDC sink."""
        if isinstance(version, str):
            version = self.ref_version(version)
        head = self.manifest()
        if version == head["version"]:
            return {
                "version": head["version"],
                "restored_from": version,
                "noop": True,
            }
        target = self.manifest(version)  # raises if expired
        mm = self._successor(
            head,
            "rollback",
            sorted(
                int(b)
                for b in set(head["buckets"]) | set(target["buckets"])
                if head["buckets"].get(b) != target["buckets"].get(b)
            ),
            state=target,
            restored_from=version,
        )
        self._commit(mm)
        return {
            "version": mm["version"],
            "restored_from": version,
            "noop": False,
        }

    # ------------------------------------------------------------ refs

    @staticmethod
    def _ref_name_ok(name: str) -> bool:
        return bool(name) and all(c.isalnum() or c in "-_." for c in name)

    def _ref_path(self, name: str) -> str:
        return os.path.join(self.root, _REFS_DIR, f"tag-{name}.json")

    def tag(self, name: str, version: int | None = None) -> dict:
        """Pin a snapshot under an immutable named ref (the Iceberg
        tag idea): ``read(version="train-run-17")`` then reproduces
        the exact dataset state forever — the provenance surface a
        training-data lake needs ("which table state did run X see?").

        Tags are IMMUTABLE and concurrent-safe: the ref file is
        published with the same conditional put as manifests, so two
        writers racing the same name get exactly one winner. Re-pointing
        requires an explicit ``drop_tag`` first (mirroring Iceberg's
        replace-tag being a distinct, deliberate operation).
        ``vacuum()`` retains every tagged snapshot and its data files
        regardless of ``keep_last``."""
        if self.branch is not None:
            # a tag is a pin into MAIN's version chain; a branch-local
            # version number would silently re-resolve to a different
            # snapshot once the branch is dropped
            raise ValueError("tag must run on the main table")
        if not self._ref_name_ok(name):
            raise ValueError(
                f"invalid tag name {name!r}: use alphanumerics, '-', '_', '.'"
            )
        v = self.current_version() if version is None else int(version)
        # fail fast on a dangling pin: the manifest must exist NOW
        # (expired or never-committed versions can't be tagged)
        self.manifest(v)
        self.io.put_if_absent(
            self._ref_path(name), json.dumps({"name": name, "version": v})
        )
        return {"name": name, "version": v}

    def drop_tag(self, name: str) -> None:
        self.io.delete(self._ref_path(name))

    def tags(self) -> dict[str, int]:
        """name -> pinned snapshot version, for every live tag."""
        refs_dir = os.path.join(self.root, _REFS_DIR)
        out: dict[str, int] = {}
        for n in self.io.list_dir(refs_dir):
            if n.startswith("tag-") and n.endswith(".json"):
                doc = json.loads(self.io.read_text(os.path.join(refs_dir, n)))
                out[doc["name"]] = int(doc["version"])
        return out

    def ref_version(self, name: str) -> int:
        try:
            doc = json.loads(self.io.read_text(self._ref_path(name)))
        except (FileNotFoundError, OSError):
            raise FileNotFoundError(
                f"no tag {name!r} at {self.root}"
            ) from None
        return int(doc["version"])

    # ------------------------------------------------------- branches

    def create_branch(self, name: str, version: int | str | None = None) -> dict:
        """Fork a writable branch at ``version`` (default: current
        head) — the Iceberg branch ref, enabling WRITE-AUDIT-PUBLISH:
        stage a risky batch (a backfill, a new rule-set, a schema
        change) on the branch with the full engine — merges, MOR,
        compaction, exactly-once epochs — audit it with ``read()`` /
        ``stats()`` / ``changes()``, then :meth:`publish_branch` to
        promote atomically, or :meth:`drop_branch` to abandon. Main
        readers never see staged state.

        A branch shares main's ancestry (reads below the fork point
        fall through to main's manifests) and main's DATA directory
        (bytes are written once; publish is manifest-only). The ref is
        published with the same conditional put as manifests: two
        racers creating one name get exactly one winner."""
        if self.branch is not None:
            raise ValueError("create_branch must run on the main table")
        if not self._ref_name_ok(name):
            raise ValueError(
                f"invalid branch name {name!r}: use alphanumerics, '-', '_', '.'"
            )
        if version is None:
            v = self.current_version()
        elif isinstance(version, str):
            # fork at a tag: reproduce a pinned dataset state, repair
            # it on a branch, publish (publish will refuse if main has
            # since moved — the fix then lands via merge, not publish)
            v = self.ref_version(version)
        else:
            v = int(version)
        self.manifest(v)  # fail fast on a dangling fork point
        self.io.put_if_absent(
            self._branch_ref_path(name),
            json.dumps({"name": name, "fork_version": v}),
        )
        # we now own the name (conditional put won): any files in the
        # snapshot namespace are garbage from an interrupted drop of a
        # previous same-name branch — a fresh branch must start empty,
        # not inherit a dead branch's history
        d = self._branch_snap_dir(name)
        if self.io.is_dir(d):
            self.io.remove_tree(d)
        return {"name": name, "fork_version": v}

    def branches(self) -> dict[str, dict]:
        """name -> {fork_version, head} for every live branch
        (``head == fork_version`` means nothing staged yet)."""
        refs_dir = os.path.join(self.root, _REFS_DIR)
        out: dict[str, dict] = {}
        for n in self.io.list_dir(refs_dir):
            if n.startswith("branch-") and n.endswith(".json"):
                doc = json.loads(self.io.read_text(os.path.join(refs_dir, n)))
                name = doc["name"]
                fork = int(doc["fork_version"])
                heads = [
                    int(f[5:13])
                    for f in self.io.list_dir(self._branch_snap_dir(name))
                    if f.startswith("snap-") and f.endswith(".json")
                ]
                out[name] = {
                    "fork_version": fork,
                    "head": max(heads, default=fork),
                }
        return out

    def drop_branch(self, name: str) -> None:
        """Abandon a branch: delete its snapshot namespace, then its
        ref — in THAT order, so a crash between the two leaves a ref
        to an empty branch (harmless: reads fall through to the fork,
        re-drop finishes the job) rather than an unreferenced snapshot
        dir that a future same-name ``create_branch`` would silently
        inherit as its own history. Data files staged only by the
        branch become orphans and are reclaimed by the next age-gated
        :meth:`vacuum`."""
        d = self._branch_snap_dir(name)
        if self.io.is_dir(d):
            self.io.remove_tree(d)
        self.io.delete(self._branch_ref_path(name))

    def publish_branch(self, name: str) -> dict:
        """Promote branch ``name``'s head to main as ONE commit (the
        audit-passed half of write-audit-publish): main atomically
        becomes the branch's exact state — data, schema, zone maps,
        MOR state AND the branch's epoch watermark, so every epoch
        staged on the branch becomes committed on main in the same
        conditional put that exposes its data. Nothing is rewritten:
        the branch's files are already in the shared data directory.

        Main may have MOVED since the fork: the publish commits through
        :meth:`_publish_with_rebase` with the fork as its parent and
        the buckets the branch changed as its touched set, so it
        crosses exactly the interveners a merge crosses (that method's
        docstring holds the table; a branch that changed the bucket
        count crosses no merge or publish). The published manifest
        then overlays the branch-owned buckets (with their MOR state,
        zone maps and row counts) onto main's head, reconciles the
        schemas additively (main's latest properties win), and folds
        the branch's staged epochs into main's watermark. Live traffic
        in other buckets is never lost, which is what makes WAP usable
        on a busy table. A conflicting intervener refuses: the audited
        state was computed against data that changed under it —
        re-stage. Branch-side renames or drops publish only as a
        fast-forward (main unmoved since the fork). The branch is left
        in place (re-publishable, inspectable); ``drop_branch`` when
        done."""
        if self.branch is not None:
            raise ValueError("publish_branch must run on the main table")
        ref = json.loads(self.io.read_text(self._branch_ref_path(name)))
        fork = int(ref["fork_version"])
        bt = LakeTable(self.spark, self.root, io=self.io, branch=name)
        bhead_v = bt.current_version()
        if bhead_v == fork:
            return {
                "version": self.current_version(),
                "branch": name,
                "published_from": fork,
                "noop": True,
            }
        bhead = bt.manifest()
        fork_m = self.manifest(fork)
        # buckets the branch OWNS: file list differs from the fork
        owned = {
            b
            for b in set(bhead["buckets"]) | set(fork_m["buckets"])
            if bhead["buckets"].get(b) != fork_m["buckets"].get(b)
        }
        files = {b: bhead["buckets"][b] for b in owned if b in bhead["buckets"]}
        bmorb = self._mor_buckets_of(bhead)
        touched = sorted(int(b) for b in owned)
        # staged epochs relative to the fork (over-approximation is
        # fine: _next_epoch_state is idempotent for already-committed
        # epochs; the spans are O(staged batches + reorder window))
        fw, ftail = self._epoch_state_of(fork_m)
        fbase = int(fork_m.get("epoch_base", -1))
        bw, btail = self._epoch_state_of(bhead)
        bbase = int(bhead.get("epoch_base", -1))
        staged = set(range(fw + 1, bw + 1)) | set(btail)
        staged |= set(range(bbase + 1, fbase + 1))
        bschema = T.StructType.fromJson(bhead["schema"])
        # Branch-side column-identity changes (rename/drop) cannot be
        # merged into a moved main by name-based reconcile — head still
        # has the old column, so the renamed one would duplicate.
        # Main-side renames under an unrenamed branch need no policy:
        # head's aliases map the branch's old names.
        fork_names = T.StructType.fromJson(fork_m["schema"]).names
        identity_changed = bool(
            self._aliases_of(bhead) != self._aliases_of(fork_m)
            or set(fork_names) - set(bschema.names)
        )

        def rebuild(head: dict) -> dict:
            if head["version"] == fork:
                # fast-forward: adopt the branch schema + column
                # identity wholesale (covers branch-side rename/drop)
                schema, key = bschema, bhead["key"]
                evo = [
                    a
                    for e in bhead.get("evolution", [])
                    if int(e["version"]) > fork
                    for a in e.get("actions", [])
                ]
                cm = bhead.get("columns_meta") or {}
            elif identity_changed:
                raise ConcurrentCommitError(
                    f"cannot publish branch {name!r}: it renamed or "
                    f"dropped columns and main moved since the fork — "
                    f"apply the schema change on main (or re-stage the "
                    f"branch from main's head)"
                )
            else:
                hschema = T.StructType.fromJson(head["schema"])
                pal = {**self._aliases_of(head), **self._aliases_of(bhead)}
                schema = reconcile(hschema, bschema, pal)
                evo = evolution_actions(hschema, bschema, pal)
                # column identity: main's entries win; branch-added
                # columns keep the added_at of their branch commit
                # (their data dirs carry branch-local version numbers)
                cm = {
                    k: v
                    for k, v in {
                        **(bhead.get("columns_meta") or {}),
                        **(head.get("columns_meta") or {}),
                    }.items()
                    if k in schema.names
                }
                key = head["key"]
            # the publish allocates DENSELY from head (the next number
            # every concurrent writer derives, so the conditional put
            # serializes them) and raises the version high-water mark
            # past the branch-local version space: branch data dirs
            # carry their branch-local version numbers in their names
            # (MOR merge order within a bucket resolves through those),
            # so no later commit may reuse one of them
            return self._successor(
                head,
                "publish",
                touched,
                files=files,
                depth={b: bmorb[b] for b in files if b in bmorb},
                adds={
                    k: bhead.get(k, {})
                    for k in ("file_bounds", "file_rows", "commit_versions")
                },
                epochs=sorted(staged),
                schema=schema,
                evolution=evo,
                hwm=bhead_v,
                key=key,
                columns_meta={k: dict(v) for k, v in cm.items()},
                num_buckets=bhead["num_buckets"],
                branch=name,
                fork_version=fork,
            )

        mm = self._publish_with_rebase(
            fork, touched, rebuild, bhead["num_buckets"], head=self.manifest()
        )
        return {
            "version": mm["version"],
            "branch": name,
            "published_from": bhead_v,
            "noop": False,
        }

    # ------------------------------------------------------------ changelog

    def history(self) -> list[dict]:
        """Retained snapshot lineage, oldest first: one row per
        manifest still on disk with its operation, parent, epoch state
        and MOR depth (the Iceberg ``table.history()`` /
        ``snapshots`` metadata view)."""
        snap_dir = os.path.join(self.root, _SNAP_DIR)
        versions = [
            int(n[5:13])
            for n in self.io.list_dir(snap_dir)
            if n.startswith("snap-") and n.endswith(".json")
        ]
        if self.branch is not None:
            # a branch's history is main's chain up to the fork point
            # plus its own staged commits
            versions = [v for v in versions if v <= self._fork_version]
            versions += [
                int(n[5:13])
                for n in self.io.list_dir(self._branch_snap_dir(self.branch))
                if n.startswith("snap-") and n.endswith(".json")
            ]
        versions = sorted(versions)
        out = []
        for v in versions:
            m = self.manifest(v)
            w, tail = self._epoch_state_of(m)
            out.append(
                {
                    "version": v,
                    "parent": m.get("parent", 0),
                    "operation": m.get("operation", "unknown"),
                    "epoch_watermark": w,
                    "epoch_tail": tail,
                    "mor_depth": int(m.get("mor_depth", 0)),
                    "num_buckets": m.get("num_buckets"),
                }
            )
        return out

    @staticmethod
    def _dir_version(m: dict, commit_dir: str) -> int:
        """Logical version of a commit DIR: the dir name embeds the
        version, overridden by the manifest's commit_versions map for
        commits rebased after losing the optimistic race. Single
        resolution rule shared by read()'s MOR merge order, files()
        and _commit_files()."""
        return int(
            m.get("commit_versions", {}).get(commit_dir, commit_dir.split("-")[1])
        )

    @classmethod
    def _added_version(cls, m: dict, rel: str) -> int:
        """Version that ADDED data file ``rel`` (see _dir_version)."""
        return cls._dir_version(m, rel.split("/")[1])

    def files(self, version: int | None = None) -> DataFrame:
        """Data-file inventory of a snapshot (the Iceberg
        ``table.files`` metadata view): one row per live file with its
        bucket, the commit version that ADDED it (carried-forward
        files keep their original commit), and the manifest zone-map
        key bounds that drive driver-side pruning — typed as the
        table's merge key so bounds compare correctly for int keys
        too. Built from the manifest alone — no file-system listing,
        no Spark scan — so it stays O(#files) driver work through any
        FileIO backend."""
        m = self.manifest(version)
        fb = m.get("file_bounds", {})
        fr = m.get("file_rows", {})
        key_type = T.StructType.fromJson(m["schema"])[m["key"]].dataType
        rows = []
        for b, file_list in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            for rel in file_list:
                bounds = fb.get(rel) or (None, None)
                rows.append(
                    (
                        int(b),
                        rel,
                        self._added_version(m, rel),
                        bounds[0],
                        bounds[1],
                        fr.get(rel),
                    )
                )
        schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType()),
                T.StructField("path", T.StringType()),
                T.StructField("commit_version", T.IntegerType()),
                T.StructField("min_key", key_type),
                T.StructField("max_key", key_type),
                T.StructField("row_count", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def stats(self, version: int | str | None = None) -> dict:
        """Table statistics from the manifest alone — NO Spark job and
        no data I/O (the Iceberg snapshot-summary / ``record_count``
        idea). Per-file row counts are harvested from parquet footers
        at commit time (same pass as the zone maps), so at 10^10 rows
        a ``count(*)``-class question costs one manifest read.

        ``row_count`` is EXACT iff (a) every live file has a recorded
        count (``rows_complete``) and (b) no bucket carries pending
        merge-on-read deltas (``mor_buckets == 0`` — MOR files hold
        superseded duplicates and tombstones, so their physical rows
        over-count logical rows). Otherwise ``row_count`` is None and
        ``file_rows`` is the physical upper bound; ``compact()`` any
        dirty buckets to restore exactness."""
        m = self.manifest(version)
        fr = m.get("file_rows", {})
        total = 0
        complete = True
        n_files = 0
        for files in m["buckets"].values():
            for rel in files:
                n_files += 1
                n = fr.get(rel)
                if n is None:
                    complete = False
                else:
                    total += int(n)
        morb = self._mor_buckets_of(m)
        exact = complete and not morb
        return {
            "version": m["version"],
            "row_count": total if exact else None,
            "file_rows": total,
            "rows_complete": complete,
            "files": n_files,
            "buckets": len(m["buckets"]),
            "num_buckets": m["num_buckets"],
            "mor_buckets": len(morb),
            "exact": exact,
        }

    def _commit_dirs(self, m: dict, version: int) -> dict[str, list[str]]:
        """Absolute paths of the data files ADDED by ``version``'s
        commit (see :meth:`_added_version`), by commit dir."""
        out: dict[str, list[str]] = {}
        for files in m["buckets"].values():
            for rel in files:
                if self._added_version(m, rel) == version:
                    out.setdefault(rel.split("/")[1], []).append(
                        os.path.join(self.root, rel)
                    )
        return out

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog read (CDC *out* of the table): every
        row-level change committed AFTER ``from_version`` up to and
        including ``to_version`` (default: current), as a DataFrame of
        the table schema plus ``_change_type`` (``upsert`` | ``delete``)
        and ``_commit_version``.

        This is the Iceberg incremental scan / Delta CDF surface that
        lets downstream consumers (index builders, training-data
        samplers, replica tables) tail the lake instead of re-reading
        snapshots — the other half of a CDC engine. Cost model per
        commit, which is what makes it usable at 10^10 rows:

        * ``merge-mor`` — the appended files ARE the change batch;
          read exactly those files, O(change). Tombstones become
          ``delete`` rows (key-only pre-image, like Iceberg equality
          deletes); everything else is an ``upsert``. The window's
          merge-on-read commits are read together: one parquet scan
          per alignment group (see :meth:`read`), each row's
          ``_commit_version`` taken from its file path, and one
          aggregate keyed by (key, ``_commit_version``).
        * ``merge-cow`` / ``overwrite`` — diff parent vs child
          restricted to the buckets whose file lists differ: one
          full-outer join per commit over only the touched buckets
          (exactly the data COW already rewrote). ``delete`` rows
          carry the full pre-image; unchanged rows are filtered with a
          null-safe struct comparison.
        * ``compact`` / ``rebucket`` / ``merge-noop`` — physical-only
          commits: no logical change, nothing emitted (and no I/O).

        ``upsert`` is deliberately not split into insert/update: the
        split requires probing the parent snapshot for key existence,
        which for MOR commits would turn an O(change) read into an
        O(bucket) one. Consumers that need it anti-join the parent
        snapshot themselves.

        Requires every manifest in ``(from_version, to_version]`` (and
        the parent data of any COW diff) to still be retained — run
        ``changes`` ahead of ``vacuum``'s retention horizon.
        """
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        # Walk PARENT pointers, not a dense range: version numbers are
        # unique but not contiguous (a branch publish skips past the
        # branch-local version space), and the parent chain is the
        # commit order. An expired manifest inside the window raises
        # honestly instead of silently dropping its changes.
        chain: list[dict] = []
        v = to_v
        while v > from_version:
            m = self.manifest(v)
            chain.append(m)
            p = int(m.get("parent", v - 1))
            if p >= v:
                raise ValueError(f"corrupt parent pointer at v{v}: {p}")
            v = p
        if v != from_version:
            raise ValueError(
                f"from_version {from_version} is not an ancestor of {to_v} "
                f"(the chain passes from v{chain[-1]['version']} to v{v})"
            )
        fm = self.manifest(to_v)
        key = fm["key"]
        fschema = T.StructType.fromJson(fm["schema"])
        final_schema = T.StructType(
            list(fschema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )
        parts: list[DataFrame] = []
        mor_dirs: dict[str, list[str]] = {}  # merge-on-read files by commit dir
        mor_versions: dict[str, int] = {}
        for m in reversed(chain):
            v = m["version"]
            op = m.get("operation", "diff")
            if op in ("compact", "rebucket", "merge-noop", "create",
                      "alter-properties", "rename-column", "drop-column"):
                # physical- or metadata-only: no logical row change.
                # (A drop narrows the visible schema; consumers read
                # the final schema from the alignment below.)
                continue
            if op == "merge-mor":
                for d, files in self._commit_dirs(m, v).items():
                    mor_dirs[d] = files
                    mor_versions[d] = v
                continue
            # generic parent-vs-child diff over the touched buckets
            schema = T.StructType.fromJson(m["schema"])
            data_cols = [f.name for f in schema.fields]
            pm = self.manifest(int(m.get("parent", v - 1)))
            touched = sorted(
                int(b)
                for b in set(m["buckets"]) | set(pm["buckets"])
                if m["buckets"].get(b) != pm["buckets"].get(b)
            )
            if not touched:
                continue
            # rebucket/compact upstream of the parent cannot occur
            # between a commit and its parent, so bucket numbering
            # is shared across the diff
            old = self._align(
                self.read(buckets=touched, version=pm["version"]), schema
            )
            new = self._align(self.read(buckets=touched, version=v), schema)
            o = old.select(F.struct(*data_cols).alias("_o"), F.col(m["key"]).alias("_k"))
            n = new.select(F.struct(*data_cols).alias("_n"), F.col(m["key"]).alias("_k"))
            j = o.join(n, "_k", "full_outer")
            row = F.coalesce(F.col("_n"), F.col("_o"))
            part = (
                j.filter(~F.col("_o").eqNullSafe(F.col("_n")))
                .select(
                    *[row.getField(c).alias(c) for c in data_cols],
                    F.when(F.col("_n").isNull(), F.lit("delete"))
                    .otherwise(F.lit("upsert"))
                    .alias("_change_type"),
                    F.lit(v).alias("_commit_version"),
                )
            )
            # commits before a schema evolution lack the new columns,
            # and commits before a rename carry the OLD name: align
            # each part (alias-aware) before the union, or a renamed
            # column would survive as two half-null columns
            parts.append(
                self._align(
                    part, final_schema, aliases=self._aliases_of(fm),
                    cmeta=fm.get("columns_meta") or {}, file_version=v,
                )
            )
        if mor_dirs:
            # Files align straight to the final schema (file_version is
            # the commit's, as for the diffs above). Same-commit
            # tie-break, matching read(): a key present as both upsert
            # and tombstone in ONE merge-mor batch resolves to the
            # upsert. Emitting both rows would let a changelog consumer
            # delete a key the snapshot keeps.
            rows = self._scan_groups(fm, fschema, mor_dirs, mor_versions, mor=True)
            rest = [_q(f.name) for f in fschema.fields if f.name != key]
            parts.append(
                rows.groupBy(key, "_commit")
                .agg(
                    F.expr(
                        f"max_by(struct({', '.join(rest + [_TOMBSTONE])}), "
                        f"NOT {_TOMBSTONE}) AS _r"
                    )
                )
                .selectExpr(
                    *[
                        _q(f.name) if f.name == key else f"_r.{_q(f.name)}"
                        for f in fschema.fields
                    ],
                    f"CASE WHEN _r.{_TOMBSTONE} THEN 'delete' ELSE 'upsert' END"
                    " AS _change_type",
                    "_commit AS _commit_version",
                )
            )
        if not parts:
            return self._empty(final_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

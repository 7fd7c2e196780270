"""The engine driver: change-log tail -> validated exactly-once MERGE.

Pipeline per micro-batch (SURVEY.md §3.1 "new-engine trace"):

    parse envelopes (events.py, raw+parsed duality)
      -> classify apply/skip/reject            (op filter F3, null-checks F4)
      -> drop already-committed epochs          (exactly-once, idempotent;
                                                 known from the manifest,
                                                 no scan needed)
      -> resolve events to per-key post-images  (validation V8/V10/V11/V13,
                                                 quarantine tagging V17,
                                                 dedup A5 or composition)
      -> schema reconcile + MERGE               (J2/J3/J4; lake.py)
      -> lineage + epoch markers                (A4; lineage.py)

One shell, two resolvers. :meth:`CdcEngine.apply_batch` is the only
exactly-once protocol: the fresh-epoch filter, deferred boundary
markers, the batch-content fallback partition, sinks written before
the marker-committing merge, merge maintenance, ``BatchMetrics`` and
lineage. The one step that varies is "resolve events to per-key
post-images", and it is one of two resolvers, each returning a
:class:`_Resolved` record:

* ``_resolve_lww`` (default): per-event validation, then per-key
  last-writer-wins. The change log is scanned and parsed EXACTLY
  ONCE; that scan feeds a single grouping-sets aggregate (set 1 =
  per-key dedup, with quarantined/skipped events passing through
  under unique synthetic keys; set 2 = the per-(epoch, partition,
  source, class) lineage rollup). The checkpoint that materializes
  the per-key rows OBSERVES the lineage groups and the batch stats
  (``DataFrame.observe``) in its own result stage, so reading them
  costs no job; the checkpointed rows are fan-consumed by the MERGE
  inputs and the quarantine write. Shuffle budget: ONE shuffle at
  that aggregate (map-side partial aggregation collapses hot keys
  before the exchange) and ONE bucket-write shuffle at the merge.
  Validation is whole-stage-codegen Column exprs (or mapInArrow masks
  when configured); no per-row Python anywhere.
* ``_resolve_patch`` (``EngineConfig.patch_events``): partial images
  compose per key in (commit_ts, lsn) order against the affected
  buckets (operators/patch.py), and validation judges the resolved
  post-images, so rejects are per key.

A stream's triggers share one batch schema, so the resolver's Column
expressions are PREPARED once per stream (prepared.py): the first
trigger builds them, later triggers only chain frame operations and
per-batch literals. Building a Column is several Python -> JVM round
trips; rebuilding the same plan each trigger was most of a small
trigger's driver time.

Lineage is written driver-side (pyarrow) because its rollup is already
on the driver.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
    types as T,
)
from pyspark.util import inheritable_thread_target

from .config import EngineConfig
from .events import classify, classify_column, open_binlog, parse_envelopes
from .lake import LakeTable
from .lineage import write_applied, write_lineage_rows, write_quarantine
from .prepared import Prepared
from .validate import FAIL_COL, prepare_validator, validate_frame


def _no_marker_epoch(e: Column) -> Column:
    """Epochs outside the marker space (NULL = malformed line,
    negative = producer bug rejected at classify): their quarantine
    rows are unattributable and use the batch-content fallback
    partition."""
    return e.isNull() | (e < 0)


def _fallback_epoch(xor: int | None, n: int | None) -> int:
    """The batch-content fallback partition of unattributable rows,
    from an order-independent signature of their multiset (``xor`` of
    per-row 64-bit hashes, ``n`` rows): identical redelivery lands in
    the same partition (dynamic overwrite is a no-op rewrite, keeping
    the quarantine exactly-once), while any different batch lands in
    a different 62-bit partition — collision odds ~2^-62 per pair vs
    ~2^-20 for the old min-hash % 1e6 scheme, which could silently
    erase an earlier batch's rows on collision. Names are persisted:
    redelivery across an upgrade must keep hitting the same one."""
    if xor is None:
        return -1
    combined = (int(xor) * 0x9E3779B97F4A7C15 + int(n or 0)) % (1 << 63)
    return -1 - (combined % (1 << 62))


_META_COLS = (
    "raw", "event_class", "op", "doc_id",
    "commit_ts", "lsn", "batch_epoch", "envelope_fail", "_pid", FAIL_COL,
)


def _flat_cols(*extra: Column) -> list[Column]:
    """Classified events flattened: envelope + ``payload.*`` +
    ``extra``."""
    return [
        F.col(c) for c in (
            "raw", "event_class", "op", "doc_id", "payload.*",
            "commit_ts", "lsn", "batch_epoch", "envelope_fail",
        )
    ] + list(extra)


def _gated_fail_reasons() -> Column:
    """``fail_reasons`` gated by event class: envelope rejects carry
    their envelope failure; only apply-upserts keep payload-rule
    failures (deletes have no payload to validate)."""
    return F.when(
        F.col("event_class") == "reject", F.array("envelope_fail")
    ).when(
        (F.col("event_class") == "apply") & (F.col("op") != "delete"),
        F.col(FAIL_COL),
    )


def _gated_events(ev: DataFrame, rules, validator: str) -> tuple[DataFrame, list[str]]:
    """Flatten classified events, run the payload rules, and gate
    ``fail_reasons``. Returns the gated frame and the payload column
    names."""
    flat = ev.select(*_flat_cols())
    payload_cols = [c for c in flat.columns if c not in _META_COLS]
    gated = validate_frame(flat, rules, validator).withColumn(
        FAIL_COL, _gated_fail_reasons()
    )
    return gated, payload_cols


def _batch_stats(nb: int, row, keep: Column) -> list[Column]:
    """The batch stats over the deduped rows, as aggregate expressions
    for ``DataFrame.observe``: merged-row count, the affected-bucket
    set (passed into merge so it skips its own distinct+collect job),
    the quarantined-event count (exact even for collapsed duplicate
    groups, via ``_n_events``) and the multiset signature of the
    unattributable quarantine rows. ``row(name)`` reads a field of a
    deduped row; ``keep`` is true on the rows that are deduped rows."""
    is_q = keep & row("_is_q")
    is_good = keep & ~row("_is_q") & (row("event_class") == "apply")
    # Negative-epoch rejects are unattributable too: their epoch is in
    # the fallback namespace, not the marker space.
    unattributable = is_q & _no_marker_epoch(row("batch_epoch"))
    n = F.col("_n_events")
    return [
        F.sum(is_good.cast("long")).alias("rows_merged"),
        F.collect_set(
            F.when(is_good, F.pmod(F.xxhash64(row("doc_id")), F.lit(nb)).cast("int"))
        ).alias("buckets"),
        F.sum(F.when(is_q, n).otherwise(F.lit(0))).alias("q_events"),
        # order-independent full-width signature of the whole
        # unattributable-row MULTISET: XOR of per-group 64-bit hashes
        # folding in each group's duplicate count (a distinct-only XOR
        # would collide {r1,r1,r2} with {r1,r2,r2} — same distincts,
        # same total), plus the total count
        F.bit_xor(F.when(unattributable, F.xxhash64(row("raw"), n))).alias("q_xor"),
        F.sum(F.when(unattributable, n).otherwise(F.lit(0))).alias("q_null_n"),
    ]


class _LwwPlan:
    """The last-writer-wins resolver's expressions for one batch
    schema, rule set, validator and bucket count: built by the first
    trigger that sees them and reused by every later one (see
    ``CdcEngine._prep``). Per trigger only the frame operations and a
    fresh Observation remain."""

    def __init__(self, live: DataFrame, rules, validator: str, nb: int):
        # input-partition provenance, captured at scan time (A4)
        self.flat = _flat_cols(F.spark_partition_id().alias("_pid"))
        flat = live.select(*self.flat)
        payload_cols = [c for c in flat.columns if c not in _META_COLS]
        self.payload_cols = payload_cols
        self.validate = prepare_validator(rules, flat, validator)
        self.gate = _gated_fail_reasons()

        is_q = (F.col("event_class") == "reject") | F.coalesce(
            F.size(FAIL_COL) > 0, F.lit(False)
        )
        passthrough = is_q | (F.col("event_class") == "skip")
        # disjoint grouping namespaces: real keys under "d#", synthetic
        # passthrough keys under "q#" — without the "d#" prefix a
        # document whose doc_id is literally "q#42" would share a group
        # with a quarantined event of lsn 42 and one of the two records
        # would be silently collapsed away by the max_by
        qkey = F.when(
            ~passthrough, F.concat(F.lit("d#"), F.col("doc_id"))
        ).otherwise(
            F.concat(
                F.lit("q#"),
                F.coalesce(
                    F.col("lsn").cast("string"), F.xxhash64("raw").cast("string")
                ),
            )
        )
        src = (
            F.col("source") if "source" in payload_cols
            else F.lit(None).cast("string")
        )
        self.staged = [
            qkey.alias("_qkey"),
            F.col("batch_epoch").alias("_epoch"),
            F.col("_pid"),
            src.alias("_src"),
            F.col("event_class").alias("_class"),
            is_q.alias("_is_q"),
            # raw (a lazy to_json re-render for well-formed rows) is
            # materialized + shuffled ONLY for quarantine rows
            F.when(is_q, F.col("raw")).alias("raw"),
            *[
                F.col(c) for c in (
                    "op", "doc_id", *payload_cols, "commit_ts", "lsn",
                    "batch_epoch", "event_class", FAIL_COL,
                )
            ],
        ]
        self.grouping = ["_qkey", "_epoch", "_pid", "_src", "_class"]
        self.grouping_sets = [["_qkey"], ["_epoch", "_pid", "_src", "_class"]]
        row_cols = (
            "_is_q", "raw", "op", "doc_id", *payload_cols, "commit_ts",
            "lsn", "batch_epoch", "event_class", FAIL_COL,
        )
        self.aggs = [
            F.max_by(F.struct(*row_cols), F.struct("commit_ts", "lsn")).alias("_r"),
            F.count(F.lit(1)).alias("_n_events"),
        ]
        # set 1 rows have a non-null dedup key; set 2 (lineage) rows don't
        is_dedup = F.col("_qkey").isNotNull()
        self.lineage = F.collect_list(
            F.when(
                ~is_dedup,
                F.struct("_epoch", "_pid", "_src", "_class", "_n_events"),
            )
        ).alias("lineage")
        # the stats read the aggregate rows (set 1's fields still in
        # the ``_r`` struct) or, behind the near-dup gate, the gated
        # per-key rows
        self.agg_stats = _batch_stats(nb, lambda c: F.col("_r")[c], is_dedup)
        self.row_stats = _batch_stats(nb, F.col, F.lit(True))
        self.is_dedup = is_dedup
        self.latest = [F.col("_r.*"), F.col("_n_events")]

        self.is_q = F.col("_is_q")
        self.is_good = ~F.col("_is_q") & (F.col("event_class") == "apply")
        self.is_upsert = self.is_good & (F.col("op") != "delete")
        self.is_delete = self.is_good & (F.col("op") == "delete")
        self.doc_id = F.col("doc_id")
        self.upsert_cols = [F.col(c) for c in ("doc_id", *payload_cols)]
        self.profile_cols = self.upsert_cols + [F.col("batch_epoch")]
        self.applied_cols = [
            F.col(c) for c in ("doc_id", "lsn", "op", "commit_ts", "batch_epoch")
        ]
        # re-expand collapsed duplicates (same qkey) so the quarantine
        # stays one row per rejected event
        self.explode_events = F.explode(F.sequence(F.lit(1), F.col("_n_events")))
        self.quarantine_cols = [
            F.col(c) for c in ("raw", "doc_id", FAIL_COL, "batch_epoch")
        ]


def start_tail(
    parsed: DataFrame,
    process,
    checkpoint_path: str,
    available_now: bool,
    processing_time: str,
):
    """Start a ``foreachBatch`` tail of ``parsed`` calling
    ``process(batch_df, epoch_id)`` per trigger: availableNow drains
    the backlog and stops; otherwise a processing-time trigger."""
    writer = parsed.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


@dataclass
class BatchMetrics:
    events_seen: int = 0
    events_applied: int = 0
    rejects: int = 0
    skipped: int = 0
    rows_merged: int = 0
    epochs: list[int] = field(default_factory=list)
    wall_ms: int = 0
    phase_ms: dict = field(default_factory=dict)  # per-phase wall (debug)


@dataclass
class _Resolved:
    """A resolver's output: everything :meth:`CdcEngine.apply_batch`
    needs from the mode-specific step. ``lin_groups`` empty means the
    batch held no fresh events (the other fields stay unset)."""

    lin_groups: list
    # multiset signature of the unattributable quarantine rows
    # (see _fallback_epoch)
    q_xor: int | None = None
    q_n: int = 0
    upserts: DataFrame | None = None  # doc_id + payload columns
    deletes: DataFrame | None = None  # doc_id
    buckets: list[int] = field(default_factory=list)
    num_buckets: int = 0  # the bucket count ``buckets`` were hashed for
    # raw, doc_id, fail_reasons, batch_epoch (NULL / negative epochs
    # are mapped to the fallback partition by the shell)
    quarantine: DataFrame | None = None
    # sink inputs, built only when their sink is configured: the
    # applied-lineage rows (LWW only) and the upserts about to merge
    # plus batch_epoch (the profile)
    applied: DataFrame | None = None
    profile: DataFrame | None = None
    rows_merged: int = 0
    val_rejects: int = 0
    pinned: list = field(default_factory=list)  # checkpoints to unpersist


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        warehouse: str,
        config: EngineConfig | None = None,
        payload_schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.table = table
        self.config = config or EngineConfig()
        # Explicit payload schema = the "schema registry" side of
        # evolution: pass an evolved struct here and the engine
        # reconciles it against the table before MERGE (SURVEY.md J2/V6).
        self.payload_schema = payload_schema
        self.quarantine_path = os.path.join(warehouse, self.config.quarantine_subdir)
        self.lineage_path = os.path.join(warehouse, self.config.lineage_subdir)
        self.applied_path = os.path.join(warehouse, self.config.applied_subdir)
        self.profile_path = os.path.join(warehouse, self.config.profile_subdir)
        # mergeable HLL sketch sink beside the profile (see
        # operators/profile.sketch_events). Deliberately NOT in the
        # _expire_sinks list: a sketch row is ~2 KB per epoch
        # regardless of data size, and its whole value is the
        # long-horizon distinct-over-window query that retention
        # would destroy.
        self.sketch_path = self.profile_path + "_sketch"
        # epochs applied but not yet marker-committed (streaming
        # defer_boundary mode; see apply_batch)
        self._deferred_epochs: set[int] = set()
        # per-stream Column expressions, filled on the first trigger
        # (see prepared.py)
        self._prep = Prepared()
        self._corpus = None
        if self.config.corpus_dir:
            from .operators.corpus_sync import CorpusPipeline

            self._corpus = CorpusPipeline(
                spark,
                self.table,
                self.config.corpus_dir,
                eval_sets=[
                    spark.read.parquet(p)
                    for p in (self.config.corpus_eval_paths or [])
                ],
                config=self.config.corpus_config,
                dsir_target=(
                    spark.read.parquet(self.config.corpus_dsir_target_path)
                    if self.config.corpus_dsir_target_path
                    else None
                ),
            )
        if self.config.patch_events and self.config.applied_lineage:
            # a resolved post-image has no single parent event, so patch
            # mode writes no applied sink — and reprocess_quarantine's
            # stale-event guard, which reads it, would be silently off
            raise ValueError(
                "applied_lineage is not supported with patch_events"
            )
        self._nd_sig = self._nd_band = None
        # the gate's checkpointed batch signatures, handed from
        # _gate_near_dups to the post-merge index fold
        self._last_gate_sigs = None
        if self.config.near_dup_gate:
            if self.config.patch_events:
                raise ValueError(
                    "near_dup_gate is not supported with patch_events"
                )
            self._nd_sig, self._nd_band = self._open_dedup_indexes(warehouse)

    def _open_dedup_indexes(self, warehouse: str):
        """Open (or create) the two near-dup sidecar tables. Idempotent
        across restarts: an existing table is reopened with its cursor
        (epoch markers) intact."""
        from .operators.dedup_index import band_index_schema, index_schema

        key_type = next(
            f.dataType
            for f in self.table.schema.fields
            if f.name == self.table.key
        )
        out = []
        for name, schema, key in (
            ("dedup_sig", index_schema(key_type), "doc_id"),
            ("dedup_band", band_index_schema(key_type), "bkey"),
        ):
            root = os.path.join(warehouse, name)
            t = LakeTable(self.spark, root)
            if t.current_version() == 0:
                t = LakeTable.create(
                    self.spark, root, schema, key=key,
                    num_buckets=self.table.num_buckets,
                )
            out.append(t)
        return tuple(out)

    def _sync_dedup_indexes(self, sigs=None, sigs_version=None) -> None:
        from .operators.dedup_index import sync_indexes_from_table

        sync_indexes_from_table(
            self.table, self._nd_sig, self._nd_band,
            text=self.config.near_dup_column,
            sigs=sigs, sigs_version=sigs_version,
        )
        # The sidecar tables take one MOR merge per batch; give them
        # the SAME maintenance policy as the main table, or a long
        # stream degrades every probe (growing per-bucket delta depth
        # at read-reconstruction time) and leaks snapshot history.
        # Both tables are single-row-per-key (doc_id signature rows /
        # bkey posting rows), so compact()'s per-key-winner rewrite is
        # exact.
        for t in (self._nd_sig, self._nd_band):
            self._maintain(t, int(t.manifest().get("mor_depth", 0)))

    def _maintain(self, t: LakeTable, mor_depth: int) -> None:
        """Post-merge maintenance of ``t`` whose deepest bucket is now
        ``mor_depth`` MOR deltas deep. Compaction touches ONLY the
        buckets whose depth reached ``compact_every`` — the pause is
        O(hot buckets), never a full-table rewrite. Then the snapshot
        retention policy (expire + orphan GC); min_age spares a
        concurrent writer's in-flight commit dirs (see
        EngineConfig.vacuum_min_age_seconds). Retention is skipped on
        a BRANCH handle (write-audit-publish staging): it is a
        whole-table op that must run from the main handle — and
        expiring main history out from under an unpublished fork is
        the operator's call, not the stager's."""
        every = self.config.compact_every
        if every and mor_depth >= every:
            t.compact(min_depth=every)
        if self.config.vacuum_keep_last > 0 and t.branch is None:
            t.vacuum(
                keep_last=self.config.vacuum_keep_last,
                min_age_seconds=self.config.vacuum_min_age_seconds,
            )

    def _gate_near_dups(
        self, latest: DataFrame, payload_cols, obs: Observation, stats
    ) -> DataFrame:
        """Re-classify near-duplicate upserts in ``latest`` as
        quarantine rows (reason ``near_dup:doc:<matched_id>``).

        Runs between the batch's dedup aggregate and its stats/merge
        consumers, so every downstream artifact (rows_merged, affected
        buckets, quarantine write, lineage counts) sees the gated
        classification with no special-casing: the batch ``stats`` are
        observed into ``obs`` on the gate's own checkpoint. The index
        probe is bucket-pruned O(batch band keys); the index itself is
        synced from the table changelog FIRST, so a crash that merged a
        batch but lost the index commit self-heals before the next
        gate. Quarantined rows get a replayable full-image envelope as
        their ``raw`` (the patch-mode quarantine contract): an operator
        who clears the dup via reprocess_quarantine is explicitly
        overriding the gate.

        With ``near_dup_intra_batch`` (default), docs are also gated
        against EARLIER (commit_ts, lsn)-ordered docs of the same
        batch — the index only learns a batch after its merge, so
        without this a crawl batch carrying a dup cluster would ingest
        the whole cluster. Pair orientation keeps the cluster's
        earliest doc (intra_batch_candidates documents the chain
        semantics + the witness cap bounding identical-doc blowup).
        """
        from .operators.dedup_index import (
            intra_batch_candidates,
            minhash_signatures,
            near_dup_candidates_indexed,
        )

        self._sync_dedup_indexes()
        col = self.config.near_dup_column
        gateable = (
            ~F.col("_is_q")
            & (F.col("event_class") == "apply")
            & (F.col("op") != "delete")
        )
        cand = latest.filter(gateable).select(
            "doc_id", col, F.struct("commit_ts", "lsn").alias("_nd_ord")
        )
        # sign ONCE per batch (keep_short so the post-merge index fold
        # can reuse the frame for short docs too), checkpoint, and
        # share across: the corpus probe, the intra-batch probe, and —
        # via _last_gate_sigs — the post-merge index fold
        sigs = minhash_signatures(cand, text=col).localCheckpoint(eager=True)
        self._last_gate_sigs = sigs
        pairs = near_dup_candidates_indexed(
            self._nd_band, cand, text=col, signatures=sigs
        )
        if self.config.near_dup_intra_batch:
            pairs = pairs.unionByName(
                intra_batch_candidates(
                    cand, text=col, order_col="_nd_ord", signatures=sigs
                )
            )
        # eager checkpoint: ``dups`` is tiny (one row per gated doc)
        # but its lineage carries the index probe + the intra-batch
        # window. The gated ``latest`` feeds SEVERAL downstream jobs
        # (stats, merge, quarantine write); without materializing here
        # each of them silently re-ran the whole probe (measured 3-4x
        # the gate's cost at bench scale).
        dups = (
            pairs
            .filter(F.col("n_shared_bands") >= self.config.near_dup_min_bands)
            .groupBy("batch_doc_id")
            .agg(F.min("corpus_doc_id").alias("_nd_match"))
            .localCheckpoint(eager=True)
        )
        hit = gateable & F.col("_nd_match").isNotNull()
        return (
            latest.join(
                F.broadcast(dups),
                latest["doc_id"] == dups["batch_doc_id"],
                "left",
            )
            .drop("batch_doc_id")
            .withColumn(
                "raw",
                F.when(
                    hit,
                    F.to_json(
                        F.struct(
                            F.col("op"),
                            F.col("doc_id"),
                            F.struct(*payload_cols).alias("payload"),
                            F.col("commit_ts"),
                            F.col("lsn"),
                            F.col("batch_epoch"),
                        )
                    ),
                ).otherwise(F.col("raw")),
            )
            .withColumn(
                FAIL_COL,
                F.when(
                    hit,
                    F.array(
                        F.concat(
                            F.lit("near_dup:doc:"),
                            F.col("_nd_match").cast("string"),
                        )
                    ),
                ).otherwise(F.col(FAIL_COL)),
            )
            .withColumn("_is_q", F.col("_is_q") | hit)
            # a gated key quarantines its WINNING image once, not one
            # row per collapsed duplicate event (those lost the
            # last-writer-wins dedup regardless of the gate)
            .withColumn(
                "_n_events",
                F.when(hit, F.lit(1)).otherwise(F.col("_n_events")),
            )
            .drop("_nd_match")
            .observe(obs, *stats)
            .localCheckpoint(eager=True)
        )

    # ------------------------------------------------------------ one batch

    def _fresh_epoch_filter(self, head: dict | None = None) -> F.Column:
        """Already-committed filter, O(1)-sized for any stream
        lifetime: the committed set is exactly (base, watermark] | tail
        (see apply_batch's commentary). Epochs AT OR BELOW the seeded
        base were never committed (out-of-order stragglers) and must be
        applied, not swallowed. NULL epochs (malformed lines) are kept
        — and kept OUTSIDE the isin (NOT IN over NULL is NULL, which
        filter would drop). Negative epochs are kept too: they are
        never committed as markers (the watermark space is
        non-negative; negatives are the quarantine's fallback partition
        namespace), so a watermark comparison must not swallow them.
        ``head``: the manifest whose epochs count as committed
        (default: the table's head)."""
        base, watermark, tail = self._epoch_state(head)
        if watermark < 0 and not tail:
            return F.lit(True)
        e = F.col("batch_epoch")
        committed = (e > base) & (e <= watermark)
        if tail:
            committed = committed | e.isin(tail)
        return e.isNull() | (e < 0) | ~committed

    def _epoch_state(self, head: dict | None) -> tuple[int, int, list[int]]:
        """(base, watermark, tail) of ``head`` (default: the table's
        head): the committed epochs are (base, watermark] | tail."""
        m = self.table.manifest() if head is None else head
        w, tail = LakeTable._epoch_state_of(m)
        return int(m.get("epoch_base", -1)), w, tail

    def _already_committed_filtered(self, extra_epochs, head: dict) -> set[int]:
        """The non-negative ``extra_epochs`` not yet committed in
        ``head``: a redelivered extra that is already marked must not
        fold back in (harmless for state, but it would trigger a
        pointless noop commit when the route's own batch slice is
        empty)."""
        if not extra_epochs:
            return set()
        base, w, tail = self._epoch_state(head)
        tail_s = set(tail)
        return {
            int(e)
            for e in extra_epochs
            if int(e) >= 0 and not (base < int(e) <= w or int(e) in tail_s)
        }

    def _marks_for(self, new_epochs: list[int], defer_boundary: bool) -> list[int]:
        """Which epochs this batch may safely marker-commit (see
        defer_boundary in apply_batch's docstring). epoch_marker_lag
        widens the deferred window beyond the single max epoch: on
        object stores with coarse mtime granularity (S3: seconds)
        adjacent epochs' files can tie and deliver interleaved, so a
        deployment there defers the top N epochs instead of just the
        boundary one."""
        if not (defer_boundary and new_epochs):
            return list(new_epochs)
        lag = max(1, int(self.config.epoch_marker_lag))
        pending = self._deferred_epochs | set(new_epochs)
        cutoff = max(pending) - lag
        self._deferred_epochs = {e for e in pending if e > cutoff}
        return sorted(e for e in pending if e <= cutoff)

    def pinned_fresh_filter(self) -> F.Column | None:
        """The already-committed filter a stream pins at its start and
        passes to every trigger's :meth:`apply_batch`, or None for a
        live per-trigger filter. The live filter embeds the advancing
        watermark as plan literals, so every trigger generates
        different whole-stage code and recompiles the scan stage;
        pinning keeps the per-trigger plans byte-identical — codegen
        cache hits instead of compiles. Safe under last-writer-wins
        because (a) the pin absorbs everything committed BEFORE the
        stream started (the crash-restart replay case — a restart
        re-pins at its own start), and (b) within a run the only
        events a live filter would additionally drop are a same-batch
        retry's — whose re-application is content-idempotent
        (identical winners, identical MERGE), the same trade already
        accepted for the deferred boundary epoch. A producer violating
        epoch-monotone delivery (late file for an epoch marked
        mid-run) gets its events applied rather than silently
        swallowed — arguably the safer failure mode. Patch mode gets
        no pin: patches COMPOSE, so re-application there is not
        idempotent and the live filter stays load-bearing."""
        if self.config.patch_events:
            return None
        return self._fresh_epoch_filter()

    def apply_batch(
        self,
        parsed: DataFrame,
        defer_boundary: bool = False,
        extra_epochs: list[int] | None = None,
        fresh_filter: F.Column | None = None,
    ) -> BatchMetrics:
        """Apply one micro-batch of parsed change events exactly-once.

        The one exactly-once shell of both event modes: classify, drop
        already-committed epochs, resolve events to per-key post-images
        (``_resolve_lww``, or ``_resolve_patch`` under
        ``EngineConfig.patch_events``), write the sinks, MERGE with the
        epoch markers, maintain the table, then metrics and lineage.

        ``extra_epochs``: epochs known (by the caller) to be fully
        delivered to THIS engine in this batch even if none of their
        events routed here — the multi-table router passes the batch's
        whole epoch set so every route's watermark advances in step.
        They fold into the marker set BEFORE the deferred-boundary
        logic, so a split epoch is deferred uniformly whether or not
        this route saw its rows.

        ``defer_boundary`` (the STREAMING path sets it): an epoch whose
        files straddle a micro-batch boundary (maxFilesPerTrigger, or
        availableNow chunking) must NOT be marker-committed by the
        batch that saw only its first files — the already-committed
        filter would swallow the remainder in the next trigger:
        permanent silent data loss. Under epoch-monotone file delivery
        (a producer appends epoch files in order; the file source
        delivers in mtime order) only the batch's MAX epoch can be
        split, so marking is deferred for it: its events are applied,
        its marker commits when a later batch surfaces a higher epoch
        (proving the deferred epoch complete) or at end-of-run via
        :meth:`flush_epoch_markers`. Cost of the deferral: if the
        marker hadn't committed yet, a crash-redelivery re-applies the
        boundary epoch's events — content-idempotent (same winners,
        same MERGE result), at-least-once only for that epoch's
        lineage counts. Batch mode (``defer_boundary=False``) keeps
        mark-everything semantics: the whole log is one batch, every
        epoch in it is complete by construction.

        ``fresh_filter``: a PINNED already-committed filter computed
        once at stream start; None uses the live filter. Whether a
        stream may pin is decided by :meth:`pinned_fresh_filter`.

        Every Spark job a phase starts carries the phase's
        ``BatchMetrics.phase_ms`` key as its job description (the
        caller's description is restored on return), and the sink
        writes run in the caller's job group, so stopping a streaming
        query cancels them too."""
        t0 = time.monotonic()
        phases: dict[str, int] = {}
        sc = self.spark.sparkContext
        prev_description = sc.getLocalProperty("spark.job.description")

        def _mark(name: str, since: float) -> float:
            now = time.monotonic()
            phases[name] = int((now - since) * 1000)
            return now

        if self.config.patch_events:
            resolve, phase = self._resolve_patch, "compose_resolve_validate"
        else:
            resolve, phase = self._resolve_lww, "scan_validate_dedup"
        # the table head, read once per batch: the committed-epoch
        # filter, the marker set and the resolver's key, schema and
        # bucket space all come from this one manifest (on an object
        # store every head read is a LIST request)
        head = self.table.manifest()
        ops = self.config.rules.op_whitelist
        ev = parsed.withColumn(
            "event_class",
            self._prep.get("classify", ops, lambda: classify_column(ops)),
        )
        # Committed epochs are known from the table manifest
        # (driver-side, no scan), so the batch filters them out up
        # front. The filter stays O(1)-sized no matter how many epochs
        # the table has applied: a high-watermark comparison plus an
        # isin over the (bounded-by-reordering) out-of-order tail. A
        # flat isin over every epoch ever committed would grow the
        # predicate/plan linearly with stream lifetime (10^5-10^6
        # literals after a year of micro-batches).
        live = ev.filter(
            fresh_filter if fresh_filter is not None
            else self._fresh_epoch_filter(head)
        )
        res = None
        try:
            # every job of a phase carries the phase's phase_ms key as
            # its description, so an event log ties it to the phase
            sc.setJobDescription(phase)
            res = resolve(live, head)
            lin_groups = res.lin_groups
            # markers live in the non-negative epoch space only: NULL
            # epochs (malformed lines) and negative epochs (producer
            # bug, rejected at classify) are never committed as markers
            new_epochs = sorted(
                {
                    int(r["_epoch"])
                    for r in lin_groups
                    if r["_epoch"] is not None and int(r["_epoch"]) >= 0
                }
                | self._already_committed_filtered(extra_epochs, head)
            )
            to_mark = self._marks_for(new_epochs, defer_boundary)
            if not lin_groups:  # empty binlog or every epoch already committed
                # the router may still owe this route markers for
                # epochs that routed zero events here (manifest-only)
                if to_mark:
                    self.table.mark_epochs(to_mark)
                return BatchMetrics(
                    epochs=to_mark, wall_ms=int((time.monotonic() - t0) * 1000)
                )
            by_class: dict[str, int] = {}
            for r in lin_groups:
                by_class[r["_class"]] = by_class.get(r["_class"], 0) + r["_n_events"]
            n_env_rejects = by_class.get("reject", 0)
            td = _mark(phase, t0)
            sc.setJobDescription("merge_and_quarantine")

            fallback_epoch = _fallback_epoch(res.q_xor, res.q_n)
            # Sink ordering is load-bearing: the quarantine and
            # applied-lineage writes must COMPLETE before the merge
            # commits the epoch markers. The markers are the redelivery
            # gate — once an epoch is committed, a replayed batch is
            # filtered out up front, so any sink row that hadn't landed
            # by then (crash, write failure) would be lost FOREVER, not
            # re-derived. Writing sinks first keeps the crash window
            # safe in both directions: crash before the merge -> no
            # markers, full batch redelivery, dynamic-overwrite sinks
            # rewrite identical content; crash after -> everything
            # landed. The sink writes (independent targets) still
            # overlap each other via driver threads; the merge is
            # serialized after them (measured sink cost: ~10ms/batch,
            # negligible against the merge). Each thread target
            # inherits this thread's job group and description, so
            # the sink jobs stay cancellable with the streaming query
            # and attributable to this phase.
            inherit = inheritable_thread_target(self.spark)
            with ThreadPoolExecutor(max_workers=3) as pool:
                # a batch that quarantined nothing skips the write job
                # outright — the counts already proved the frame empty,
                # so launching a job to re-discover that is pure
                # per-trigger overhead (safe: dynamic overwrite of an
                # empty frame writes no partitions anyway)
                futures = []
                if n_env_rejects + res.val_rejects:
                    # NULL and negative epochs both route to the
                    # batch-content fallback partition: a producer's
                    # negative epoch would otherwise collide with the
                    # fallback namespace across batches
                    attributable, epoch = self._prep.get(
                        "quarantine_epoch",
                        None,
                        lambda: (F.col("batch_epoch") >= 0, F.col("batch_epoch")),
                    )
                    quarantined = res.quarantine.withColumn(
                        "batch_epoch",
                        F.when(attributable, epoch).otherwise(F.lit(fallback_epoch)),
                    )
                    futures.append(
                        pool.submit(
                            inherit(write_quarantine),
                            quarantined,
                            self.quarantine_path,
                            self.config.rules,
                        )
                    )
                if self.config.applied_lineage and new_epochs:
                    futures.append(
                        pool.submit(
                            inherit(write_applied), res.applied, self.applied_path
                        )
                    )
                if self.config.profile and new_epochs:
                    # per-epoch data profile of the upserts about to
                    # merge — a sink like the others (before markers,
                    # dynamic overwrite => identical on redelivery);
                    # reads the checkpointed batch frame, not the source
                    from .lineage import _write_epoch_partitioned
                    from .operators.profile import profile_events, sketch_events

                    futures.append(
                        pool.submit(
                            inherit(_write_epoch_partitioned),
                            profile_events(res.profile),
                            self.profile_path,
                        )
                    )
                    # mergeable distinct sketches beside the profile
                    # (same crash ordering + dynamic-overwrite
                    # idempotence; estimate-identical on redelivery);
                    # global + per-source keys in one sink
                    sk = sketch_events(res.profile)
                    if "source" in res.profile.columns:
                        sk = sk.unionByName(
                            sketch_events(res.profile, group_col="source")
                        )
                    _write_epoch_partitioned(sk, self.sketch_path)
                for f in futures:
                    f.result()
            # merge only when there are fresh epochs — a pure
            # redelivery (every epoch already in the manifest) must not
            # bump the table version. The marker list may be a strict
            # subset of the fresh epochs (deferred boundary).
            if new_epochs:
                merge_info = self.table.merge(
                    res.upserts,
                    res.deletes,
                    epochs=to_mark,
                    affected_buckets=res.buckets,
                    affected_buckets_nb=res.num_buckets,
                    mode=self.config.merge_mode,
                )
                self._maintain(
                    self.table,
                    merge_info.get("mor_depth", 0)
                    if self.config.merge_mode == "mor"
                    else 0,
                )
                # fold this batch's merge into the near-dup index so
                # the NEXT batch's gate sees it (crash here self-heals:
                # _gate_near_dups re-syncs before probing). The gate's
                # checkpointed batch signatures ride along so the fold
                # signs nothing; sigs_version pins them to THIS merge's
                # commit — any other pending window ignores them.
                if self._nd_band is not None:
                    self._sync_dedup_indexes(
                        sigs=self._last_gate_sigs,
                        sigs_version=self.table.current_version(),
                    )
                    self._last_gate_sigs = None
            tm = _mark("merge_and_quarantine", td)
            sc.setJobDescription("sinks")

            wall_ms = int((time.monotonic() - t0) * 1000)
            metrics = BatchMetrics(
                events_seen=sum(by_class.values()),
                # validation rejects were classified 'apply' upstream
                events_applied=by_class.get("apply", 0) - res.val_rejects,
                rejects=n_env_rejects + res.val_rejects,
                skipped=by_class.get("skip", 0),
                rows_merged=res.rows_merged,
                epochs=new_epochs,
                wall_ms=wall_ms,
            )
            # lineage from the collected rollup — driver-side write
            lin_rows = [
                (
                    # negative producer epochs are unattributable too:
                    # same fallback namespace as the quarantine rows
                    int(r["_epoch"])
                    if r["_epoch"] is not None and int(r["_epoch"]) >= 0
                    else fallback_epoch,
                    int(r["_pid"]),
                    r["_src"],
                    int(r["_n_events"]),
                    int(r["_n_events"]) if r["_class"] == "apply" else 0,
                    int(r["_n_events"]) if r["_class"] == "reject" else 0,
                    int(r["_n_events"]) if r["_class"] == "skip" else 0,
                    int(res.rows_merged),
                    int(wall_ms),
                )
                for r in lin_groups
            ]
            write_lineage_rows(lin_rows, self.lineage_path)
            self._expire_sinks()
            self._emit_outbox()
            self._sync_corpus()
            _mark("sinks", tm)
            metrics.phase_ms = phases
            return metrics
        finally:
            sc.setLocalProperty("spark.job.description", prev_description)
            if res is not None:
                for df in res.pinned:
                    df.unpersist()

    def _resolve_lww(self, live: DataFrame, head: dict) -> _Resolved:
        """Last-writer-wins resolver (the default): validate every
        event, then keep each key's latest (commit_ts, lsn) image.

        ONE full scan per batch: validation, last-writer-wins dedup,
        quarantine staging AND the per-(epoch, partition, source,
        class) lineage rollup ride a single scan + shuffle via
        GROUPING SETS: set 1 groups by the dedup key (quarantined and
        skipped events pass through under unique synthetic keys
        'q#'+lsn, or 'q#'+xxhash64(raw) for malformed lines with no
        lsn), set 2 groups by the lineage dimensions. Full-batch
        persistence was measured NOT to pay off (block-cache build
        flat ~13s at any core count; a staging parquet write costs
        more than the scan it saves — see BENCH notes), but the
        post-aggregate set-1 rows are tiny (one per touched key + one
        per quarantined/skipped event) and are checkpointed for the
        merge inputs and the quarantine write. The checkpoint is
        OBSERVED, not collected: the set-2 lineage groups and the
        batch stats are aggregated in the checkpoint job's result
        stage, above its exchange, where Spark applies each task's
        update exactly once. Behind the near-dup gate the stats ride
        the gate's checkpoint instead. The expressions are prepared
        once per (batch schema, rule set, validator, bucket count);
        a trigger only chains frame operations onto them. Validation
        rejects are per EVENT."""
        rules, validator = self.config.rules, self.config.validator
        nb = head["num_buckets"]
        p = self._prep.get(
            "lww",
            (live.schema.json(), rules, validator, nb),
            lambda: _LwwPlan(live, rules, validator, nb),
        )
        gated = p.validate(live.select(*p.flat)).withColumn(FAIL_COL, p.gate)
        gate = self._nd_band is not None
        obs = Observation()
        # localCheckpoint (NOT cache): the set-1 rows are consumed by
        # several downstream jobs (merge, quarantine write) through
        # unions/joins, where Spark 4.1's cache-plan substitution
        # proved unreliable (measured: the merge job silently re-ran
        # the full JSON scan+aggregate while a plain count hit the
        # cache). Checkpointing truncates the lineage so every
        # consumer reads the materialized blocks by construction.
        ck = (
            gated.select(*p.staged)
            .groupingSets(p.grouping_sets, *p.grouping)
            .agg(*p.aggs)
            .observe(obs, p.lineage, *([] if gate else p.agg_stats))
            .filter(p.is_dedup)
            .select(*p.latest)
            .localCheckpoint(eager=True)
        )
        latest = ck
        stats = obs.get
        lin_groups = stats["lineage"]
        if gate:
            gate_obs = Observation()
            latest = self._gate_near_dups(
                latest, p.payload_cols, gate_obs, p.row_stats
            )
            stats = gate_obs.get
        n_env_rejects = sum(
            r["_n_events"] for r in lin_groups if r["_class"] == "reject"
        )
        return _Resolved(
            lin_groups=lin_groups,
            q_xor=stats["q_xor"],
            q_n=int(stats["q_null_n"] or 0),
            upserts=latest.filter(p.is_upsert).select(*p.upsert_cols),
            deletes=latest.filter(p.is_delete).select(p.doc_id),
            buckets=sorted(stats["buckets"]),
            num_buckets=nb,
            quarantine=(
                latest.filter(p.is_q)
                .withColumn("_i", p.explode_events)
                .select(*p.quarantine_cols)
            ),
            applied=(
                latest.filter(p.is_good).select(*p.applied_cols)
                if self.config.applied_lineage else None
            ),
            profile=(
                latest.filter(p.is_upsert).select(*p.profile_cols)
                if self.config.profile else None
            ),
            rows_merged=int(stats["rows_merged"] or 0),
            val_rejects=int(stats["q_events"] or 0) - n_env_rejects,
            pinned=[ck],
        )

    def _resolve_patch(self, live: DataFrame, head: dict) -> _Resolved:
        """Patch-mode resolver (``EngineConfig.patch_events``): events
        may carry partial row images (a ``fields`` mask), so per-key
        events COMPOSE in (commit_ts, lsn) order (operators/patch.py)
        instead of last-writer-wins, and validation runs on the
        RESOLVED post-images — a fragment can't satisfy n_tok ==
        size(tokens).

        Cost vs the default resolver: the single GROUPING-SETS shuffle
        becomes a composition shuffle plus one bucket-pruned read of
        the affected buckets (the price of patch resolution — the same
        read a COW merge pays anyway). Semantics deltas (documented on
        the config): validation rejects are per resolved KEY,
        quarantined as the post-image rendered to JSON; no applied
        lineage."""
        from .operators.patch import resolve_patch_batch
        from .schema import reconcile

        key = head["key"]
        # additive evolution, patch-style: reconcile the incoming
        # payload struct against the table up front so a brand-new
        # column survives resolution (current rows read null for it)
        # and the merge evolves the table schema
        tschema = reconcile(
            T.StructType.fromJson(head["schema"]),
            live.schema["payload"].dataType,
            LakeTable._aliases_of(head),
        )
        data_cols = [f.name for f in tschema.fields if f.name != key]
        pcols = set(live.schema["payload"].dataType.names)
        payload_sel = [
            F.col(f"payload.{f.name}").alias(f.name)
            if f.name in pcols
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in tschema.fields
            if f.name != key
        ]
        fields_col = (
            F.col("fields")
            if "fields" in live.columns
            else F.lit(None).cast("array<string>")
        )
        # one scan, pinned: every downstream job (rollup, quarantine,
        # composition) reads the materialized batch; the unattributable
        # envelope rejects' signature (one hash per event) is observed
        # on the way
        unattributable = (F.col("event_class") == "reject") & _no_marker_epoch(
            F.col("batch_epoch")
        )
        q_obs = Observation()
        flat = live.select(
            "raw",
            "event_class",
            "op",
            "doc_id",
            *payload_sel,
            fields_col.alias("fields"),
            "commit_ts",
            "lsn",
            "batch_epoch",
            "envelope_fail",
            F.spark_partition_id().alias("_pid"),
        ).observe(
            q_obs,
            F.bit_xor(F.when(unattributable, F.xxhash64("raw"))).alias("q_xor"),
            F.count(F.when(unattributable, F.lit(1))).alias("q_null_n"),
        ).localCheckpoint(eager=True)
        src = (
            F.col("source")
            if "source" in data_cols
            else F.lit(None).cast("string")
        )
        lin_groups = flat.groupBy(
            F.col("batch_epoch").alias("_epoch"),
            F.col("_pid"),
            src.alias("_src"),
            F.col("event_class").alias("_class"),
        ).agg(F.count(F.lit(1)).alias("_n_events")).collect()
        qs = q_obs.get
        if not lin_groups:
            return _Resolved(lin_groups=lin_groups, pinned=[flat])

        # compose + resolve, then validate the POST-IMAGES
        apply_ev = flat.filter(F.col("event_class") == "apply").select(
            "doc_id", "op", "commit_ts", "lsn", *data_cols, "fields",
            "batch_epoch",
        )
        r = resolve_patch_batch(self.table, apply_ev, schema=tschema, head=head)
        is_bad = F.coalesce(F.size(FAIL_COL) > 0, F.lit(False))
        # the post-image pass/fail counts, observed on the checkpoint
        v_obs = Observation()
        v = validate_frame(
            r["ups"], self.config.rules, self.config.validator
        ).observe(
            v_obs,
            F.sum((~is_bad).cast("long")).alias("n_good"),
            F.sum(is_bad.cast("long")).alias("n_bad"),
        ).localCheckpoint(eager=True)
        # envelope rejects plus the failing post-images, the latter as
        # a FULL-IMAGE ENVELOPE (op/doc_id/payload/commit_ts/lsn/
        # batch_epoch, provenance = the key's last event in the
        # window), so reprocess_quarantine can replay it through the
        # standard parse -> validate -> merge pipeline after a rule fix
        rejects = flat.filter(F.col("event_class") == "reject").select(
            "raw",
            "doc_id",
            F.array("envelope_fail").alias(FAIL_COL),
            "batch_epoch",
        )
        bad_q = v.filter(is_bad).select(
            F.to_json(
                F.struct(
                    F.lit("update").alias("op"),
                    F.col(key).alias("doc_id"),
                    F.struct(*data_cols).alias("payload"),
                    F.col("_last_commit_ts").alias("commit_ts"),
                    F.col("_last_lsn").alias("lsn"),
                    F.col("batch_epoch"),
                )
            ).alias("raw"),
            F.col(key).alias("doc_id"),
            FAIL_COL,
            # apply-class envelopes always carry a valid epoch
            # (batch_epoch is a required envelope field and
            # negatives are envelope-rejected)
            "batch_epoch",
        )
        cnt = v_obs.get
        n_good, n_bad = int(cnt["n_good"] or 0), int(cnt["n_bad"] or 0)
        good = v.filter(~is_bad)
        return _Resolved(
            lin_groups=lin_groups,
            q_xor=qs["q_xor"],
            q_n=int(qs["q_null_n"] or 0),
            upserts=good.select(key, *data_cols),
            deletes=r["dels"],
            buckets=r["touched"],
            num_buckets=r["num_buckets"],
            quarantine=rejects.unionByName(bad_q),
            profile=(
                good.select(key, *data_cols, "batch_epoch")
                if self.config.profile else None
            ),
            rows_merged=n_good + r["n_dels"],
            # per resolved KEY (the whole key's window withheld):
            # events_applied is then apply events minus bad keys,
            # exact when one event per key
            val_rejects=n_bad,
            pinned=[flat],
        )

    def _emit_outbox(self) -> None:
        """Continuous outbox (EngineConfig.outbox_dir): emit the
        commits this batch produced into the downstream binlog. Runs
        AFTER markers commit, so a crash between merge and emission
        just leaves the cursor behind — the next batch's emission
        folds both (at-least-once emission, consumer markers make the
        effect exactly-once)."""
        if not self.config.outbox_dir:
            return
        # never auto-emit from a branch tail (write-audit-publish
        # staging): staged commits are unpublished by definition —
        # replicating them would leak state main's readers never saw.
        # Emit from the main handle after --publish-branch instead
        # (the publish commit carries the promoted changes).
        if self.table.branch is not None:
            return
        from .operators.outbox import emit_changes

        emit_changes(self.table, self.config.outbox_dir)

    def _sync_corpus(self) -> None:
        """Continuous corpus maintenance (EngineConfig.corpus_dir):
        fold the commits this batch produced through the incremental
        corpus pipeline. Runs AFTER markers commit, like the outbox —
        a crash between merge and fold leaves the pipeline cursor
        behind, and the next batch's fold covers both windows
        (the pipeline's own epoch markers are its exactly-once
        cursor, so engine replay re-folds nothing)."""
        if self._corpus is None:
            return
        # branch tails: staged commits are unpublished — do not derive
        # training shards from state main's readers never saw (the
        # outbox rule, same rationale)
        if self.table.branch is not None:
            return
        self._corpus.sync()

    def _expire_sinks(self) -> None:
        """Sink retention (EngineConfig.sink_retention_epochs): keep
        the last N epoch partitions under the committed watermark in
        each sink; see lineage.expire_epoch_partitions for what is
        deliberately never touched. Runs after this batch's sinks and
        markers, so the cutoff reflects the batch just committed."""
        from .lineage import expire_epoch_partitions

        keep = self.config.sink_retention_epochs
        if keep <= 0:
            return
        watermark, _tail = self.table.epoch_state()
        cutoff = watermark - keep + 1
        if cutoff <= 0:
            return
        for p in (
            self.quarantine_path,
            self.lineage_path,
            self.applied_path,
            self.profile_path,
        ):
            expire_epoch_partitions(p, cutoff)

    # ------------------------------------------------------ quarantine replay

    def reprocess_quarantine(self, rules=None) -> dict:
        """Re-validate the error container against (possibly updated)
        rules and recover newly-passing events into the table.

        The operational other half of codeless hot-swappable rules
        (proof-of-concept/README.md:9-12): a too-strict rule
        quarantined good events; after fixing the rule-set, this
        replays every quarantined raw line through the SAME parse ->
        classify -> validate -> last-writer-wins pipeline:

        * events that now pass are MERGE-applied (no epoch markers —
          their epochs are already committed; idempotence comes from
          the quarantine itself: recovered rows leave it, so a rerun
          sees only still-failing rows, and re-merging an identical
          event is a state no-op under last-writer-wins);
        * recovered events OLDER than the key's last applied
          (commit_ts, lsn) are dropped, not merged — the table holds
          newer state and a blind merge would regress it. This guard
          needs the applied-lineage side table
          (EngineConfig(applied_lineage=True)); without it the replay
          cannot see what was applied since, and a recovered event may
          overwrite newer state — enable applied lineage on any table
          where quarantine replay is part of operations;
        * still-failing rows are rewritten as the new quarantine
          (full rewrite — the quarantine is assumed tiny relative to
          the table), with fresh fail_reasons from the new rules.

        Maintenance operation: run it while the stream is paused (it
        rewrites the quarantine wholesale). Mirrors the reference's
        error-container -> re-ingest lifecycle (ConnectionNames.kt:
        14-18; blobs moved to error are re-submittable).
        Returns {"recovered", "still_failing", "deletes_applied"}.
        """
        rules = rules or self.config.rules
        # crash recovery: a previous reprocess that died between the
        # two renames leaves the live dir missing and the old content
        # parked at .reprocess-old — restore it and start over
        old = self.quarantine_path + ".reprocess-old"
        if not os.path.isdir(self.quarantine_path) and os.path.isdir(old):
            os.rename(old, self.quarantine_path)
        try:
            q = self.spark.read.parquet(self.quarantine_path)
        except Exception:  # no quarantine written yet
            return {
                "recovered": 0,
                "still_failing": 0,
                "deletes_applied": 0,
                "stale_skipped": 0,
            }
        parsed = parse_envelopes(
            q.select("raw"), self.payload_schema
        )
        gated, payload_cols = _gated_events(
            classify(parsed, op_whitelist=rules.op_whitelist),
            rules,
            self.config.validator,
        )
        still_q = (F.col("event_class") != "apply") | F.coalesce(
            F.size(FAIL_COL) > 0, F.lit(False)
        )
        tagged = gated.withColumn("_still_q", still_q).localCheckpoint(eager=True)

        passing = tagged.filter(~F.col("_still_q"))
        winners = (
            passing.groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct("op", *payload_cols, "commit_ts", "lsn"),
                    F.struct("commit_ts", "lsn"),
                ).alias("_r")
            )
            .select("doc_id", F.col("_r.*"))
        )
        # Stale guard: the table stores no LWW position, so a recovered
        # event could overwrite NEWER state the stream applied after
        # the event was quarantined. When the applied-lineage side
        # table exists (EngineConfig(applied_lineage=True)), drop
        # recovered winners at-or-below the key's last APPLIED
        # (commit_ts, lsn) — they are superseded, and leaving the
        # quarantine is the correct outcome. Without applied lineage
        # this protection is unavailable (see docstring).
        stale_skipped = 0
        try:
            applied = self.spark.read.parquet(self.applied_path)
        except Exception:
            applied = None
        if applied is not None:
            n_before = winners.count()
            mark = applied.groupBy("doc_id").agg(
                F.max(F.struct("commit_ts", "lsn")).alias("_mark")
            )
            winners = (
                winners.join(mark, "doc_id", "left")
                .filter(
                    F.col("_mark").isNull()
                    | (F.struct("commit_ts", "lsn") > F.col("_mark"))
                )
                .drop("_mark")
            )
            stale_skipped = n_before - winners.count()
        upserts = winners.filter(F.col("op") != "delete").select(
            "doc_id", *payload_cols
        )
        delete_keys = winners.filter(F.col("op") == "delete").select("doc_id")
        n_up = upserts.count()
        n_del = delete_keys.count()
        if n_up or n_del:
            self.table.merge(upserts, delete_keys if n_del else None)
        from .validate import render_portal_reasons

        failing = tagged.filter(F.col("_still_q")).select(
            "raw",
            "doc_id",
            render_portal_reasons(
                F.coalesce(
                    FAIL_COL, F.array(F.lit("envelope:raw:unclassifiable"))
                ),
                rules,
            ).alias(FAIL_COL),
            F.coalesce(F.col("batch_epoch"), F.lit(-1)).alias("batch_epoch"),
        )
        n_fail = failing.count()
        # full quarantine rewrite: write fresh, then swap directories
        tmp = self.quarantine_path + ".reprocess-tmp"
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        failing.write.partitionBy("batch_epoch").parquet(tmp)
        old = self.quarantine_path + ".reprocess-old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.quarantine_path, old)
        os.rename(tmp, self.quarantine_path)
        shutil.rmtree(old, ignore_errors=True)
        return {
            "recovered": n_up + n_del,
            "still_failing": n_fail,
            "deletes_applied": n_del,
            "stale_skipped": stale_skipped,
        }

    # ------------------------------------------------------------ batch API

    def apply_binlog(self, binlog_path: str, format: str | None = None) -> BatchMetrics:
        """Apply a whole change-log directory as one batch (replay).

        ``format``: "json" (ndjson, optionally compressed) or
        "parquet" (structured staging, ``gen.write_binlog_parquet``);
        auto-sniffed from the directory contents when omitted."""
        parsed = open_binlog(self.spark, binlog_path, self.payload_schema, format)
        return self.apply_batch(parsed)

    # --------------------------------------------------------- streaming API

    def run_stream(
        self,
        binlog_path: str,
        checkpoint_path: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        processing_time: str = "5 seconds",
        format: str | None = None,
    ):
        """Tail the change log with Structured Streaming.

        Offsets checkpoint to ``checkpoint_path`` (source-side resume);
        epoch markers in the table manifest make the sink idempotent, so
        at-least-once redelivery from the checkpoint converges to
        exactly-once table state (north_star). ``format`` picks the
        wire encoding (json / parquet), auto-sniffed when omitted."""
        parsed = open_binlog(
            self.spark,
            binlog_path,
            self.payload_schema,
            format,
            stream=True,
            max_files_per_trigger=max_files_per_trigger,
        )
        if self.config.suppress_stale:
            if self.config.patch_events:
                # suppression drops events at-or-below each key's
                # forwarded (commit_ts, lsn) — correct under
                # last-writer-wins, WRONG under composition: an older
                # patch still contributes the columns the newer one
                # didn't set. Refuse loudly instead of corrupting.
                raise ValueError(
                    "suppress_stale and patch_events are incompatible: "
                    "stale suppression assumes last-writer-wins, but "
                    "patches compose"
                )
            from .operators.stateful import suppress_stale
            from .validate import fail_reasons_column

            # keyed state store in front of the batch pipeline: drops
            # events at-or-below each key's already-forwarded
            # (commit_ts, lsn) — event-level replay tolerance (see
            # EngineConfig.suppress_stale). The high-water mark only
            # advances on rows that will actually be APPLIED (class
            # apply + rule-passing): the batch pipeline chooses
            # winners among valid events only (quarantine rows carry
            # unique dedup keys), so an invalid newer event must not
            # shadow an out-of-order earlier valid one. Anomalous /
            # quarantine-bound rows bypass the store and stay visible
            # to the error channel.
            orig_cols = parsed.columns
            flat = classify(parsed, self.config.rules.op_whitelist).select(
                "*", F.col("payload.*")
            )
            rule_fail = fail_reasons_column(self.config.rules, flat.schema)
            advance = (F.col("event_class") == "apply") & (
                (F.col("op") == "delete") | (F.size(rule_fail) == 0)
            )
            parsed = suppress_stale(
                flat.withColumn("_advance", advance).select(*orig_cols, "_advance"),
                key="doc_id",
                order_cols=("commit_ts", "lsn"),
                ttl_ms=self.config.suppress_ttl_ms,
                advance_col="_advance",
            ).drop("_advance")

        return self._start_tail(
            parsed, checkpoint_path, available_now, processing_time
        )

    def _start_tail(
        self,
        parsed: DataFrame,
        checkpoint_path: str,
        available_now: bool,
        processing_time: str,
    ):
        """Shared foreachBatch wiring for every transport (file,
        parquet, Kafka): the per-run pinned fresh-epoch filter (see
        :meth:`pinned_fresh_filter`) and deferred boundary marking (a
        micro-batch may hold only the FIRST files of its max epoch, so
        that epoch's marker waits for a later batch or the end-of-run
        flush — marking it early would swallow the epoch's remaining
        events in the next trigger)."""
        pinned = self.pinned_fresh_filter()

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, defer_boundary=True, fresh_filter=pinned)

        return start_tail(
            parsed, _process, checkpoint_path, available_now, processing_time
        )

    def run_stream_kafka(
        self,
        bootstrap_servers: str,
        topic: str,
        checkpoint_path: str,
        starting_offsets: str = "earliest",
        max_offsets_per_trigger: int | None = None,
        processing_time: str = "5 seconds",
        kafka_options: dict | None = None,
    ):
        """Tail the change log from Kafka instead of a file/bucket log.

        Same exactly-once contract as :meth:`run_stream` — Kafka
        offsets checkpoint under ``checkpoint_path``, epoch markers in
        the table manifest absorb redelivery — with trigger sizing via
        ``maxOffsetsPerTrigger``. Requires the spark-sql-kafka jars
        (see events.read_binlog_kafka)."""
        from .events import read_binlog_kafka

        parsed = read_binlog_kafka(
            self.spark,
            bootstrap_servers,
            topic,
            self.payload_schema,
            starting_offsets=starting_offsets,
            max_offsets_per_trigger=max_offsets_per_trigger,
            options=kafka_options,
        )

        return self._start_tail(
            parsed, checkpoint_path, False, processing_time
        )

    def flush_epoch_markers(self) -> list[int]:
        """Marker-commit the epochs still deferred at end of stream.

        Once the stream has drained, every deferred epoch's events are
        fully applied, so its marker is safe to commit (a manifest-only
        commit). A crash before this flush loses only the MARKER, never
        data: the epoch's events are in the table, and a future replay
        re-applies them idempotently (same winners, same MERGE
        content)."""
        if not self._deferred_epochs:
            return []
        epochs = sorted(self._deferred_epochs)
        # manifest-only marker commit: the epochs' DATA is already
        # merged (deferral only withheld the markers), so this is a
        # merge-noop snapshot — no Spark job, no empty-frame merge
        # (which was measured to cost seconds of job scheduling at the
        # end of every availableNow run)
        self.table.mark_epochs(epochs)
        self._deferred_epochs = set()
        # keep the continuous outbox cursor at the head: the flush
        # commit itself is manifest-only (emits zero events), but a
        # lagging cursor would re-walk it on every later emission
        self._emit_outbox()
        self._sync_corpus()
        return epochs

    def run_until_caught_up(
        self,
        binlog_path: str,
        checkpoint_path: str,
        max_files_per_trigger: int | None = None,
    ) -> None:
        """Drain the change log (availableNow tail), then flush the
        deferred boundary markers. Calls only ``run_stream`` and
        ``flush_epoch_markers``: RoutedEngine shares it."""
        q = self.run_stream(
            binlog_path,
            checkpoint_path,
            available_now=True,
            max_files_per_trigger=max_files_per_trigger,
        )
        q.awaitTermination()
        self.flush_epoch_markers()

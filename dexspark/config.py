"""Codeless, hot-swappable rule configuration.

The reference's stated requirement is that validation rules live
outside code and can change without redeploy
(proof-of-concept/README.md:9-12); it ships three interchangeable
encodings of the same rules (JSON list custom-poc/elr-schema.json,
CSV-Schema DSL digital-preservation-poc/elr-schema.csvs, JSON Schema
parse-compare). Here the rule-set is one declarative dict/JSON doc
compiled at job start to Column expressions + Arrow validators
(validate.py) — no per-row Python, no redeploy.

Rule vocabulary (SURVEY.md §2.3 operator numbers):

- required            V11  notEmpty fields (elr-schema.csvs:31,61)
- conditional_groups  V12  >=1 of N non-empty (ConditionallyRequiredFieldValidator.java:13-26)
- allowed_values      V13  value in list (cerberus_data_validation.py:40)
- regex_rules         V14  value matches regex (proof-of-concept/README.md:116)
- max_length          V10  max field length (XLSX version sheet, 2000 chars)
- token_range         V10' every token in [lo, hi) — tokenized analogue
- length_equals       V8   n_tok == size(tokens) — column-count analogue
                           (elr-schema.csvs:2 @totalColumns)
- int_fields          V15  value parses as integer (cerberus_data_validation.py:38-39)
- version_literal     V3   version column equals literal (XLSX order-6/7)
- op_whitelist        F3   event ops processed; others skipped-not-failed
                           (FnDecompressor.kt:67-71)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass(frozen=True)
class RuleSet:
    required: tuple[str, ...] = ()
    conditional_groups: tuple[tuple[str, ...], ...] = ()
    allowed_values: tuple[tuple[str, tuple], ...] = ()  # (col, values)
    regex_rules: tuple[tuple[str, str], ...] = ()  # (col, pattern)
    max_length: tuple[tuple[str, int], ...] = ()  # (col, chars)
    token_range: tuple[tuple[str, int, int], ...] = ()  # (col, lo, hi)
    length_equals: tuple[tuple[str, str], ...] = ()  # (len_col, array_col)
    int_fields: tuple[str, ...] = ()
    version_literal: tuple[tuple[str, str], ...] = ()  # (col, literal)
    op_whitelist: tuple[str, ...] = ("insert", "update", "delete")
    # Per-rule operator-facing message templates (the reference pairs
    # each XLSX rule with an "Error message in Portal" column —
    # COVID_19_File_and_Row_Level_Validation.xlsx sheet V2020-07-30).
    # Keys are rule kinds ("required", "conditional", "version",
    # "max_length", "header_duplicate", "file_empty", ...); values are
    # str.format templates over {col}/{cols}/{detail}/{literal}/{n}/
    # {file}/{names} plus the dynamic {value} (interpolated row-side
    # as a Column). Rules without a template keep the engine's
    # structured "rule:col:detail" strings.
    messages: tuple[tuple[str, str], ...] = ()

    def template(self, kind: str) -> str | None:
        for k, v in self.messages:
            if k == kind:
                return v
        return None

    @classmethod
    def from_dict(cls, d: dict) -> "RuleSet":
        def tt(x):
            return tuple(tuple(i) if isinstance(i, (list, tuple)) else i for i in x)

        return cls(
            required=tuple(d.get("required", ())),
            conditional_groups=tt(d.get("conditional_groups", ())),
            allowed_values=tuple((c, tuple(v)) for c, v in d.get("allowed_values", ())),
            regex_rules=tt(d.get("regex_rules", ())),
            max_length=tt(d.get("max_length", ())),
            token_range=tt(d.get("token_range", ())),
            length_equals=tt(d.get("length_equals", ())),
            int_fields=tuple(d.get("int_fields", ())),
            version_literal=tt(d.get("version_literal", ())),
            op_whitelist=tuple(d.get("op_whitelist", ("insert", "update", "delete"))),
            messages=tuple(sorted(d.get("messages", {}).items())),
        )

    @classmethod
    def from_json(cls, s: str) -> "RuleSet":
        return cls.from_dict(json.loads(s))


VOCAB_SIZE = 50257  # GPT-2-style vocab bound (FIXTURES.md §1)
SOURCE_WHITELIST = ("web", "books", "code", "wiki")


def sequences_ruleset() -> RuleSet:
    """Default rule-set for the tokenized-sequence payload — the
    re-targeted equivalents of the reference's COVID-ELR rules
    (COVID_19_File_and_Row_Level_Validation.xlsx order 1-13)."""
    return RuleSet(
        required=("doc_id", "tokens", "n_tok", "source"),  # V11
        length_equals=(("n_tok", "tokens"),),  # V8 column-count analogue
        token_range=(("tokens", 0, VOCAB_SIZE),),  # V10 analogue
        allowed_values=(("source", SOURCE_WHITELIST),),  # V13
    )


@dataclass(frozen=True)
class EngineConfig:
    """Engine knobs; everything else is derived or Spark conf."""

    num_buckets: int = 16
    salt_buckets: int = 8  # hot-key salting fan (north_star skew handling)
    vocab_size: int = VOCAB_SIZE
    # Validation execution path — both are vectorized, zero per-row
    # Python; proven equal in tests/test_validate.py.
    #   "jvm":   whole-stage-codegen Column exprs (size()/exists()).
    #            Measured 3-5x faster on 1.2M events (BENCH notes):
    #            no Python worker IPC at all.
    #   "arrow": mapInArrow masks on the Arrow buffers — the path for
    #            rules that need numpy-class math.
    validator: str = "jvm"
    quarantine_subdir: str = "quarantine"
    lineage_subdir: str = "lineage"
    # Per-event OK lineage: when on, every batch also writes a slim
    # side-table of the WINNING applied events (doc_id, lsn,
    # batch_epoch, op, commit_ts) so applied table rows keep their
    # raw-event provenance, like the reference's OK events carry the
    # full parent envelope (dtos/DecompressEventMessages.kt:5-20).
    # Off by default: it adds one (small) write job per batch.
    applied_lineage: bool = False
    applied_subdir: str = "applied"
    # MERGE write-amplification trade: "cow" rewrites affected buckets
    # in full (shuffle-free reads); "mor" appends only the change
    # batch + delete tombstones (reads reconstruct per key until
    # LakeTable.compact()). Use "mor" when batches touch a small
    # fraction of huge buckets.
    merge_mode: str = "cow"
    # Auto-compaction bound for mor mode: when any bucket's MOR delta
    # depth reaches this, the engine compacts THOSE buckets
    # (compact(min_depth=...)), capping the read-side reconstruction
    # depth with O(hot-buckets) maintenance work. 0 = manual only.
    compact_every: int = 8
    # Snapshot retention: when > 0, the engine vacuums after each
    # merge, keeping this many snapshots (time-travel window) and
    # removing unreferenced/orphaned data dirs. 0 = manual only.
    vacuum_keep_last: int = 0
    # Minimum age before an unreferenced data dir is swept. The
    # conservative default protects a CONCURRENT writer's just-written
    # commit dir (data on disk, manifest not yet published) from being
    # GC'd as an orphan — deleting it would let the writer publish a
    # manifest referencing missing files. Set to 0 only in
    # single-writer contexts (tests).
    vacuum_min_age_seconds: float = 3600.0
    # Continuous changelog outbox (operators/outbox.py): when set,
    # after each batch's merge the engine re-emits the table's new
    # commits into this directory as a structured binlog another
    # engine can tail — a live replication chain. Cursor-based and
    # crash-safe: a batch whose emission failed is folded into the
    # next batch's emission. None = emit manually (CLI --outbox).
    outbox_dir: str | None = None
    # Continuous training-corpus maintenance (operators/corpus_sync):
    # when set, after each batch's merge + sinks the engine folds the
    # table's new commits through the incremental corpus pipeline
    # rooted at this directory — gates (exact/near-dup vs persisted
    # indexes, decontamination) + per-window packed shards — closing
    # the loop binlog -> table -> training shards in one tail process.
    # Cursor-based and crash-safe like the outbox: the pipeline's own
    # epoch markers fold a missed window into the next batch. None =
    # run the pipeline out-of-band (CLI --sync-corpus).
    corpus_dir: str | None = None
    # operators.corpus.CorpusConfig for the pipeline (None = defaults)
    # and eval-set parquet paths decontamination gates against.
    corpus_config: object | None = None
    corpus_eval_paths: list | None = None
    # parquet path of the DSIR target corpus (only read when the
    # CorpusConfig sets dsir_frac and no _dsir.json is frozen yet)
    corpus_dsir_target_path: str | None = None
    # Sink retention: when > 0, after each batch the engine expires
    # quarantine / lineage / applied-lineage epoch partitions older
    # than the last N epochs under the committed watermark
    # (batch_epoch < watermark - N + 1) — without it the sinks grow
    # with stream lifetime, not with state. Epochs above the
    # watermark (deferred markers, out-of-order tail) are never
    # touched, nor are the negative/NULL fallback partitions
    # (unattributable quarantine rows carry no expirable epoch).
    # Expired quarantine rows are gone for reprocess_quarantine too —
    # size N to the rule-fix / replay window. 0 = keep forever.
    sink_retention_epochs: int = 0
    # Cross-batch stale-event suppression (operators/stateful.py):
    # when on, run_stream inserts a keyed state store (max
    # (commit_ts, lsn) per doc_id) in front of the batch pipeline,
    # dropping redelivered / out-of-order-stale events even when they
    # arrive under FRESH epochs (producer retries re-offsetting old
    # events) — upgrading replay tolerance from epoch-level to
    # event-level. Off by default: the epoch watermark already covers
    # same-epoch redelivery, and the state store costs one extra
    # keyed shuffle per micro-batch. suppress_ttl_ms bounds the state
    # for unbounded key spaces (idle keys evicted) — but eviction is a
    # correctness trade: a stale retry for an evicted key is forwarded
    # and the blind per-batch MERGE applies it, regressing the key
    # until a fresher event arrives. Only set a TTL when the
    # producer's max retry lag is known to be shorter.
    suppress_stale: bool = False
    suppress_ttl_ms: int | None = None
    # Streaming epoch-marker deferral window (see CdcEngine.apply_batch
    # defer_boundary): the top `epoch_marker_lag` epochs seen so far
    # stay marker-deferred each batch, so an epoch whose files straddle
    # a micro-batch boundary is never marked before its remainder
    # arrives. 1 (default) is correct under epoch-monotone file
    # delivery (sequential producer, mtime-ordered source); raise it on
    # object stores with coarse mtime granularity (S3: seconds) where
    # adjacent epochs' files can tie and interleave. Deferred markers
    # are flushed at end-of-run; the cost of deferral is only that a
    # crash-redelivery re-applies an unmarked epoch idempotently.
    epoch_marker_lag: int = 1
    # Partial-update (patch) event semantics (operators/patch.py):
    # when on, apply-class events may carry a top-level
    # `fields: [col, ...]` array naming the payload columns they SET
    # (null fields = full image, the plain-CDC degenerate case).
    # Events per key COMPOSE in (commit_ts, lsn) order instead of
    # last-writer-wins; unset columns keep the current row's value;
    # resolution reads the affected buckets BEFORE validation so rules
    # judge post-images. Cost: one extra bucket-pruned read per batch.
    # Deltas vs the default path: validation rejects are per RESOLVED
    # KEY (the whole key's window is withheld, quarantined as the
    # resolved row rendered to JSON). applied_lineage raises
    # ValueError: a resolved row has no single parent event, and
    # without that sink reprocess_quarantine's stale guard is off.
    patch_events: bool = False
    # Corpus-level near-duplicate gate (operators/dedup_index.py):
    # when on, each batch's winning upserts are MinHash-signed and
    # probed against a CDC-maintained LSH posting-list index of the
    # WHOLE table ingested so far; docs sharing >= near_dup_min_bands
    # LSH bands with an already-ingested doc are quarantined with a
    # `near_dup:doc:<matched_id>` reason instead of merged. The two
    # sidecar index tables (<warehouse>/dedup_sig, dedup_band) are
    # maintained from the target table's own changelog with
    # exactly-once cursors, so probe cost per batch is O(batch band
    # keys), never a corpus scan, and a crash anywhere reconverges.
    # Signatures are computed over `near_dup_column` — an array column
    # (token n-grams over pre-tokenized sequences, the north-star
    # payload) or a string column (word n-grams). With
    # near_dup_intra_batch (default), docs are ALSO gated against
    # earlier (commit_ts, lsn)-ordered docs of the same batch — the
    # pair orientation keeps the earliest of a dup cluster; chains
    # gate transitively (operators/dedup_index.intra_batch_candidates
    # documents the exact semantics + the per-band witness cap that
    # bounds a batch of N identical docs to O(N) pairs). Limits:
    # updates to an existing doc are gated like inserts (self-matches
    # under the same doc_id are exempt). Not compatible with
    # patch_events (post-images resolve against bucket state, a
    # different pipeline).
    near_dup_gate: bool = False
    near_dup_min_bands: int = 1
    near_dup_column: str = "tokens"
    near_dup_intra_batch: bool = True
    # Per-epoch data profiling (operators/profile.py): when on, each
    # batch also writes long-format profile rows (n_rows, per-column
    # null_frac, key-cardinality sketch, n_tok quantiles, source mix)
    # for the APPLIED upserts into <warehouse>/<profile_subdir>,
    # partitioned by batch_epoch with the same dynamic-overwrite
    # idempotence as the other sinks — drift between epochs is then
    # operators/profile.drift over the sink, no table scan. Off by
    # default: one extra aggregate job per batch (over the batch's
    # checkpointed frame, not a rescan).
    profile: bool = False
    profile_subdir: str = "profile"
    rules: RuleSet = field(default_factory=sequences_ruleset)

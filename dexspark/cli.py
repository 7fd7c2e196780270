"""spark-submit entrypoint for the CDC engine.

Cluster run (the north-rule deployment shape; ``run_dexspark.py`` is a
two-line stub — ``from dexspark.cli import main; main(sys.argv[1:])``
— because spark-submit takes a primary script, not ``-m``; the real
invocation is exercised in tests/test_spark_submit.py)::

    spark-submit --py-files dexspark.zip run_dexspark.py \\
        --table  s3://lake/sequences \\
        --binlog s3://logs/changes \\
        --checkpoint s3://ckpt/sequences \\
        --warehouse s3://lake/_meta/sequences \\
        [--create --num-buckets 4096] [--follow] [--rules rules.json]

or locally::

    python -m dexspark.cli --table /tmp/seq --binlog /tmp/binlog \\
        --checkpoint /tmp/ckpt --warehouse /tmp/wh --create

A run does one thing: with no mode flag it tails --binlog into
--table (or over --route), else it runs the ``MODES`` row its flag
picks. The row is checked before Spark starts: a missing flag or two
modes at once exit 2. A mode that cannot run prints ``{"error": ...}``
and exits 2 (1 for a missing near-dup index).

No ``--master`` handling here: spark-submit/cluster manager owns that.
The same code runs at N or 4N executors; partitioning is keyed, not
topology-aware (BASELINE.json north_rule).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import dataclass
from functools import cached_property
from typing import Callable


def _corpus_cfg(args):
    """CorpusConfig from the shared corpus flag family (used by
    --prepare-corpus, --sync-corpus and --corpus-out)."""
    from .operators.corpus import CorpusConfig

    splits = {}
    for part in args.corpus_splits.split(","):
        name, _, w = part.partition("=")
        splits[name.strip()] = float(w)
    kw = dict(
        seq_len=args.seq_len,
        eos_id=args.eos_id,
        pad_id=args.pad_id,
        splits=splits,
        bpe_learn_merges=args.bpe_merges,
        max_ppl=args.max_ppl,
        semantic_dedup=args.semantic_dedup,
        semantic_tau=args.semantic_tau,
        dsir_frac=args.dsir_frac,
        dsir_buckets=args.dsir_buckets,
    )
    if args.fim_rate > 0:
        if not args.fim_ids:
            raise SystemExit("--fim-rate needs --fim-ids PRE,MID,SUF")
        try:
            pre, mid, suf = (int(x) for x in args.fim_ids.split(","))
        except ValueError:
            raise SystemExit(
                f"--fim-ids must be three comma-separated integers "
                f"PRE,MID,SUF (got {args.fim_ids!r})"
            ) from None
        kw.update(
            fim_rate=args.fim_rate, fim_mode=args.fim_mode,
            fim_pre_id=pre, fim_mid_id=mid, fim_suf_id=suf,
        )
    return CorpusConfig(**kw)


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="dexspark", description=__doc__)
    ap.add_argument(
        "--table",
        help="LakeTable root path (required except in --route mode)",
    )
    ap.add_argument(
        "--route",
        action="append",
        metavar="NAME=TABLE_PATH",
        help="multi-table routing: fan the binlog out to NAME's table "
        "(repeatable; see router.RoutedEngine). Each route's sinks "
        "live under <warehouse>/<NAME>; requires --route-expr",
    )
    ap.add_argument(
        "--route-expr",
        metavar="SQL",
        help="deterministic SQL expression over the parsed envelope "
        "(doc_id, payload.*, op, ...) whose STRING value picks the "
        "route name, e.g. \"payload.source\"",
    )
    ap.add_argument(
        "--route-default",
        metavar="NAME",
        help="route that also receives NULL/unmatched route values "
        "(default: they land in <warehouse>/_router/unrouted)",
    )
    ap.add_argument("--binlog", help="change-event log dir (ndjson)")
    ap.add_argument("--checkpoint", help="streaming checkpoint dir")
    ap.add_argument("--warehouse", help="quarantine/lineage root")
    ap.add_argument(
        "--fileio",
        help="manifest FileIO backend: local (default) | condput | "
        "s3://bucket/prefix — same values as DEXSPARK_FILEIO (the "
        "flag just sets it for this run)",
    )
    ap.add_argument("--create", action="store_true", help="create table if absent")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--rules", help="JSON rule-set file (default: sequences rules)")
    ap.add_argument(
        "--applied-lineage",
        action="store_true",
        help="also write the per-event OK-lineage side-table (winning doc_id/lsn/epoch per batch)",
    )
    ap.add_argument(
        "--batch",
        action="store_true",
        help="apply the whole log as one batch (no streaming checkpoint); auto-detects ndjson[.gz] vs structured parquet logs",
    )
    ap.add_argument(
        "--expire-binlog",
        metavar="KEEP_EPOCHS",
        type=int,
        default=None,
        help="instead of tailing: delete fully-applied change-log "
        "segments — epoch files/partitions at or below the table's "
        "epoch watermark minus KEEP_EPOCHS (the replay window). "
        "Needs --table (the watermark source; pass the MIN-watermark "
        "table for fan-out logs) and --binlog; honors --dry-run. "
        "Entries that don't encode an epoch are never touched; "
        "bootstrap new consumers from --export-snapshot afterwards",
    )
    ap.add_argument(
        "--compact-binlog",
        metavar="OUT_DIR",
        help="instead of tailing: Kafka-style log compaction — write a "
        "structured parquet binlog to OUT_DIR keeping only each key's "
        "last-writer-wins winner (rejects/invalid events kept verbatim; "
        "replay-convergence preserved)",
    )
    ap.add_argument(
        "--routes-status",
        action="store_true",
        help="route mode: print per-route version/watermark/tail, the "
        "cross-shard consistent-read pin, and the unrouted dead-letter "
        "count as JSON (no writes)",
    )
    ap.add_argument(
        "--reprocess-unrouted",
        action="store_true",
        help="route mode: re-route the dead-letter sink after the "
        "routing table changed (rows that now match a route replay "
        "through that engine's quarantine machinery); needs --route/"
        "--route-expr/--warehouse",
    )
    ap.add_argument(
        "--reprocess-quarantine",
        action="store_true",
        help="instead of tailing: re-validate the error container against the "
        "(updated) --rules, recover newly-passing events into the table, and "
        "rewrite the quarantine to the still-failing rows",
    )
    ap.add_argument(
        "--dedup-index-stats",
        action="store_true",
        help="instead of tailing: print the near-dup index pair's health "
        "(cursors vs the source, doc/band/posting counts, overflowed "
        "bands, MOR depth) as JSON; needs --warehouse",
    )
    ap.add_argument(
        "--rebuild-dedup-index",
        action="store_true",
        help="instead of tailing: catch the near-dup indexes up to the "
        "table, then rebuild the band posting lists from the signature "
        "table (resets sticky overflow flags — the recall-reset "
        "maintenance op); needs --warehouse",
    )
    ap.add_argument(
        "--bootstrap-dedup-index",
        action="store_true",
        help="instead of tailing: create the near-dup index tables (if "
        "absent) and fold the table's full history into them, so the "
        "O(corpus) bootstrap runs as an offline job instead of being "
        "charged to the first gated micro-batch; needs --warehouse",
    )
    ap.add_argument("--follow", action="store_true", help="keep tailing (processingTime trigger); default: availableNow catch-up")
    ap.add_argument("--trigger", default="10 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument(
        "--suppress-stale",
        action="store_true",
        help="insert the cross-batch keyed state store in front of the "
        "pipeline (event-level replay tolerance; operators/stateful.py)",
    )
    ap.add_argument(
        "--patch-events",
        action="store_true",
        help="partial-image event semantics: envelopes may carry a "
        "fields mask; per-key events compose in (commit_ts, lsn) order "
        "and validation judges the resolved post-image "
        "(EngineConfig.patch_events; operators/patch.py)",
    )
    ap.add_argument(
        "--profile-epochs",
        action="store_true",
        help="write per-epoch data profiles of the applied upserts "
        "(null rates, source mix, n_tok quantiles, key-cardinality "
        "sketch) to <warehouse>/profile as a long-format sink; "
        "compare epochs with operators/profile.drift "
        "(EngineConfig.profile)",
    )
    ap.add_argument(
        "--near-dup-gate",
        action="store_true",
        help="corpus-level near-duplicate gate: MinHash/LSH-sign each "
        "batch's winning upserts over their token arrays and probe a "
        "CDC-maintained posting-list index of everything ingested so "
        "far; near-dups are quarantined with near_dup:doc:<id> "
        "provenance (EngineConfig.near_dup_gate; "
        "operators/dedup_index.py)",
    )
    ap.add_argument(
        "--near-dup-min-bands",
        type=int,
        default=None,
        help="LSH bands a doc must share with an indexed doc to be "
        "gated (default 1 = standard LSH candidate)",
    )
    ap.add_argument(
        "--history",
        action="store_true",
        help="instead of tailing: print the retained snapshot lineage",
    )
    ap.add_argument(
        "--stats",
        action="store_true",
        help="instead of tailing: print manifest-only table statistics "
        "(exact row count when no MOR deltas are pending; no Spark job)",
    )
    ap.add_argument(
        "--tag",
        metavar="NAME[=VERSION]",
        help="instead of tailing: pin a snapshot under an immutable "
        "named ref (default: current version) — the dataset-provenance "
        "pin a training run records; vacuum retains tagged snapshots",
    )
    ap.add_argument(
        "--drop-tag",
        metavar="NAME",
        help="instead of tailing: remove a tag (its snapshot re-enters "
        "the normal vacuum retention policy)",
    )
    ap.add_argument(
        "--tags",
        action="store_true",
        help="instead of tailing: print all tags as {name: version}",
    )
    ap.add_argument(
        "--branch",
        metavar="NAME",
        default=None,
        help="operate on branch NAME instead of main (every mode: tail "
        "INTO the branch, --stats/--lookup to audit it, ...) — the "
        "write half of write-audit-publish",
    )
    ap.add_argument(
        "--create-branch",
        metavar="NAME[=VERSION]",
        default=None,
        help="instead of tailing: fork a writable branch at VERSION "
        "(default: current head)",
    )
    ap.add_argument(
        "--publish-branch",
        metavar="NAME",
        default=None,
        help="instead of tailing: promote the branch head to main as "
        "one atomic commit (data + staged epochs together); fails if "
        "main advanced since the fork",
    )
    ap.add_argument(
        "--drop-branch",
        metavar="NAME",
        default=None,
        help="instead of tailing: abandon a branch (its orphaned data "
        "is reclaimed by the next --vacuum)",
    )
    ap.add_argument(
        "--branches",
        action="store_true",
        help="instead of tailing: print {name: {fork_version, head}}",
    )
    ap.add_argument(
        "--lookup",
        metavar="KEY",
        help="instead of tailing: point-read one key (bucket prune + "
        "pushed equality + bloom skip) and print the rows as JSON",
    )
    ap.add_argument(
        "--scan-range",
        nargs=2,
        metavar=("LO", "HI"),
        help="instead of tailing: key-range scan (manifest zone-map "
        "file pruning + pushed range filter) printed as JSON rows",
    )
    ap.add_argument(
        "--delete-where",
        metavar="SQL_PREDICATE",
        help="instead of tailing: predicate delete (takedown/retention "
        "purge) applied as a MERGE of tombstones, e.g. \"source = 'bad'\"",
    )
    ap.add_argument(
        "--trim-dup-spans",
        type=int,
        metavar="MIN_LEN",
        help="instead of tailing: corpus hygiene pass — detect verbatim"
        " repeated token spans of >= MIN_LEN (operators/spandedup, the"
        " exact-substring dedup) and rewrite the table with every"
        " occurrence removed (n_tok recomputed); one overwrite commit",
    )
    ap.add_argument(
        "--remap-vocab",
        metavar="MAP_JSON",
        help="instead of tailing: in-place tokenizer migration — JSON "
        "file of {old_id: new_id}; rewrites tokens/n_tok through "
        "LakeTable.rewrite_payload (map-only, zero shuffle); "
        "--remap-oov picks the OOV policy",
    )
    ap.add_argument(
        "--remap-oov",
        choices=["unk", "drop"],
        default="unk",
        help="OOV policy for --remap-vocab (default: unk -> id 0)",
    )
    ap.add_argument(
        "--emit-outbox",
        metavar="OUT_DIR",
        help="while tailing: after each batch, re-emit the table's new "
        "commits into OUT_DIR as a structured binlog (continuous "
        "replication chain; see operators.outbox)",
    )
    ap.add_argument(
        "--corpus-out",
        metavar="OUT_DIR",
        help="while tailing: after each batch, fold the table's new "
        "commits through the incremental training-corpus pipeline "
        "rooted at OUT_DIR (gates vs persisted dedup indexes + "
        "decontamination vs --corpus-eval, per-window packed shards; "
        "operators.corpus_sync) — binlog -> table -> training shards "
        "in one tail. Honors --corpus-splits/--seq-len/--eos-id/"
        "--pad-id",
    )
    ap.add_argument(
        "--outbox",
        metavar="OUT_DIR",
        help="instead of tailing: emit every table commit since the "
        "outbox cursor as a structured parquet binlog another engine "
        "can tail (epoch = commit version; exactly-once downstream via "
        "its own markers; see operators.outbox)",
    )
    ap.add_argument(
        "--changes",
        metavar="FROM[,TO]",
        help="instead of tailing: incremental changelog read (CDC-out) "
        "between snapshot versions; writes parquet to --out",
    )
    ap.add_argument("--out", help="output dir for --changes")
    ap.add_argument(
        "--drift",
        metavar="E0,E1",
        help="instead of tailing: compare two epochs of the profile "
        "sink (--profile-epochs writes it) — per-metric deltas + the "
        "source-mix L1, printed as JSON; needs --warehouse only",
    )
    ap.add_argument(
        "--distinct-over",
        metavar="LO,HI",
        help="instead of tailing: union the mergeable HLL sketch sink "
        "(--profile-epochs writes it beside the profile) over an "
        "inclusive epoch window (either bound may be empty = "
        "unbounded) — distinct keys seen across the window, no table "
        "or binlog rescan; needs --warehouse only",
    )
    ap.add_argument(
        "--quarantine-drift",
        metavar="E0,E1",
        help="instead of tailing: compare the quarantine error MIX "
        "between two epochs — per-reason fractions, deltas, and the "
        "L1 distance (0 identical, 2 disjoint); needs --warehouse "
        "only (partition-pruned to the two epochs)",
    )
    ap.add_argument(
        "--pack-corpus",
        metavar="OUT_DIR",
        default=None,
        help="instead of tailing: read --table and write GPT-style "
        "concat-and-chunk packed training sequences (exactly "
        "--seq-len tokens per row, EOS-separated docs, final "
        "remainder padded) as parquet under OUT_DIR — zero-shuffle "
        "mapInArrow (operators/packing)",
    )
    ap.add_argument(
        "--pack-policy",
        choices=["concat", "bestfit"],
        default="concat",
        help="--pack-corpus policy: 'concat' = GPT concat-and-chunk "
        "(no pad waste, documents may split across rows); 'bestfit' = "
        "first-fit-decreasing bin packing (every document lands whole "
        "in one row — the fine-tuning/sample-packing shape — oversized "
        "docs pre-chunked, rows padded)",
    )
    ap.add_argument(
        "--seq-len", type=int, default=2048, help="--pack-corpus row length"
    )
    ap.add_argument(
        "--eos-id", type=int, default=50256, help="--pack-corpus EOS token id"
    )
    ap.add_argument(
        "--pad-id", type=int, default=0, help="--pack-corpus pad token id"
    )
    ap.add_argument(
        "--prepare-corpus",
        metavar="OUT_DIR",
        default=None,
        help="full training-corpus pipeline over --corpus-src "
        "documents parquet: quality gate -> exact dedup -> near-dup "
        "components -> decontamination (--corpus-eval, repeatable) "
        "-> split assignment (--corpus-splits) -> tokenize -> pack; "
        "writes packed shards under OUT_DIR/split=<name> and prints "
        "the stage-by-stage report (operators/corpus)",
    )
    ap.add_argument(
        "--sync-corpus",
        metavar="OUT_DIR",
        default=None,
        help="incremental form of --prepare-corpus: fold the source "
        "TABLE's changelog since the last sync through the same gates "
        "against persisted state under OUT_DIR, appending per-window "
        "packed shards (operators/corpus_sync). --corpus-src must be "
        "a dexlake table root; re-running with no new commits is a "
        "no-op. Prints the window report",
    )
    ap.add_argument(
        "--corpus-src",
        default=None,
        help="documents parquet (doc_id, text[, tokens]) for "
        "--prepare-corpus, or a dexlake table root (required for "
        "--sync-corpus)",
    )
    ap.add_argument(
        "--corpus-eval",
        action="append",
        default=None,
        help="eval-set parquet to decontaminate against (repeatable)",
    )
    ap.add_argument(
        "--corpus-splits",
        default="train=0.98,val=0.01,test=0.01",
        help="NAME=WEIGHT,... split bands for --prepare-corpus",
    )
    ap.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="--prepare-corpus: learn this many byte-level BPE merges "
        "from the post-dedup corpus and tokenize with them "
        "(operators/bpe); 0 = deterministic hash tokenizer",
    )
    ap.add_argument(
        "--fim-rate",
        type=float,
        default=0.0,
        help="corpus modes: fraction of documents rewritten "
        "fill-in-the-middle after tokenize, before packing "
        "(operators/fim; deterministic per doc_id). Needs --fim-ids",
    )
    ap.add_argument(
        "--fim-ids",
        default=None,
        help="PRE,MID,SUF sentinel token ids for --fim-rate",
    )
    ap.add_argument(
        "--fim-mode",
        choices=["psm", "spm"],
        default="psm",
        help="FIM layout: prefix-suffix-middle (default) or the "
        "joint suffix-prefix-middle variant",
    )
    ap.add_argument(
        "--max-ppl",
        type=float,
        default=None,
        help="corpus modes: drop documents whose perplexity under a "
        "self-trained bigram LM is >= this (operators/lmfilter, the "
        "CCNet-style learned quality gate; --sync-corpus freezes the "
        "LM at the first window)",
    )
    ap.add_argument(
        "--semantic-dedup",
        action="store_true",
        help="corpus modes: SemDeDup semantic near-dup stage after the "
        "token-level near-dup (operators/semdedup; needs an "
        "'embedding' column on the corpus — reported skipped "
        "otherwise)",
    )
    ap.add_argument(
        "--semantic-tau",
        type=float,
        default=0.7,
        help="cosine threshold for --semantic-dedup",
    )
    ap.add_argument(
        "--dsir-frac",
        type=float,
        default=None,
        help="corpus modes: keep this fraction of the clean pool by "
        "DSIR importance resampling toward --dsir-target "
        "(operators/dsir; --sync-corpus freezes the model + admission "
        "cutoff at the first window)",
    )
    ap.add_argument(
        "--dsir-target",
        help="parquet path of the DSIR target corpus (required with "
        "--dsir-frac in --prepare-corpus, and in --sync-corpus and "
        "--corpus-out until _dsir.json is frozen; the incremental "
        "modes read it only until then)",
    )
    ap.add_argument(
        "--dsir-buckets",
        type=int,
        default=8192,
        help="hashed n-gram feature buckets for --dsir-frac",
    )
    ap.add_argument(
        "--health",
        action="store_true",
        help="instead of tailing: one-shot health rollup as JSON — "
        "manifest-only table stats + exactly-once epoch state + "
        "per-sink epoch/row counts + top quarantine fail reasons; "
        "needs --table and --warehouse; add --binlog for a consumer-"
        "lag section (pending events/epochs vs the watermark, one "
        "binlog scan)",
    )
    ap.add_argument(
        "--compact-sketches",
        metavar="THROUGH_EPOCH",
        type=int,
        help="instead of tailing: pack the sketch sink's per-epoch "
        "partitions with batch_epoch <= THROUGH_EPOCH into one file "
        "(pass a cutoff at or below the committed epoch watermark — "
        "packed epochs are replay-stable); bounds the retention-exempt "
        "sink's file count over stream lifetime; needs --warehouse only",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="instead of tailing: fold merge-on-read history down "
        "(per-bucket: only delta-carrying buckets are rewritten; "
        "lake maintenance cron). Bound one pass with --compact-max-buckets",
    )
    ap.add_argument(
        "--compact-max-buckets",
        type=int,
        default=None,
        metavar="N",
        help="with --compact: rewrite at most N buckets this pass, "
        "deepest delta history first (incremental maintenance)",
    )
    ap.add_argument(
        "--merge-mode",
        choices=("cow", "mor"),
        default=None,
        help="MERGE write mode: cow rewrites affected buckets in full "
        "(shuffle-free reads), mor appends only the change batch "
        "(reads reconstruct until --compact). Default: cow",
    )
    ap.add_argument(
        "--compact-every",
        type=int,
        default=None,
        metavar="N",
        help="mor mode: auto-compact a bucket once it accumulates N "
        "un-compacted MOR commits (0 = manual only). Default: 8",
    )
    ap.add_argument(
        "--vacuum",
        action="store_true",
        help="instead of tailing: expire old snapshots + GC unreferenced "
        "data dirs (see --keep-last / --min-age-seconds)",
    )
    ap.add_argument("--keep-last", type=int, default=2, help="snapshots to retain for --vacuum")
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="with --vacuum: report what would be expired/removed "
        "without deleting anything",
    )
    ap.add_argument(
        "--set-property",
        action="append",
        metavar="KEY=VALUE",
        default=None,
        help="instead of tailing: ALTER TABLE SET TBLPROPERTIES — "
        "manifest-only commit steering future writes (sort_on_write, "
        "bloom_filter_key, zone_maps); KEY= (empty value) unsets; "
        "repeatable",
    )
    ap.add_argument(
        "--min-age-seconds",
        type=float,
        default=None,
        help="orphan age gate for --vacuum (default: the safe 1h; pass 0 "
        "only when no concurrent writer can exist)",
    )
    ap.add_argument(
        "--vacuum-keep-last",
        type=int,
        default=None,
        metavar="N",
        help="while tailing: auto-vacuum after each batch, retaining "
        "the last N snapshots (engine retention; skipped when tailing "
        "into a --branch). Default: off",
    )
    ap.add_argument(
        "--sink-retention-epochs",
        type=int,
        default=None,
        metavar="N",
        help="while tailing: after each batch, expire quarantine/"
        "lineage/applied epoch partitions older than the last N "
        "epochs under the committed watermark (expired quarantine "
        "rows are gone for --reprocess-quarantine too). Default: "
        "keep forever",
    )
    ap.add_argument(
        "--rebucket",
        type=int,
        metavar="N",
        help="instead of tailing: migrate the table to N hash buckets "
        "(one full-rewrite commit; see LakeTable.rebucket)",
    )
    ap.add_argument(
        "--create-view",
        metavar="PATH",
        default=None,
        help="instead of tailing: create an incremental aggregate view "
        "table over --table at PATH (see operators.mview); configure "
        "with --view-group/--view-sums",
    )
    ap.add_argument(
        "--refresh-view",
        metavar="PATH",
        default=None,
        help="instead of tailing: fold the source changelog into the "
        "view at PATH (O(change); group/sums read from the view's own "
        "table properties; exactly-once via the view's epoch markers)",
    )
    ap.add_argument(
        "--view-group",
        default="source",
        help="comma-separated group columns for --create-view",
    )
    ap.add_argument(
        "--view-sums",
        default="n_tok:sum_n_tok",
        help="comma-separated SRC:OUT sum columns for --create-view",
    )
    ap.add_argument(
        "--rename-column",
        metavar="OLD:NEW",
        default=None,
        help="instead of tailing: rename a column as a manifest-only "
        "commit (old data files and stale producers resolve via alias; "
        "see LakeTable.rename_column)",
    )
    ap.add_argument(
        "--drop-column",
        metavar="NAME",
        default=None,
        help="instead of tailing: drop a column as a manifest-only "
        "commit; a later re-add of the same name reads null from "
        "pre-re-add files (field-identity semantics)",
    )
    ap.add_argument(
        "--rollback",
        metavar="VERSION_OR_TAG",
        default=None,
        help="instead of tailing: restore the table to a prior "
        "snapshot's state (and epoch watermark) as a NEW commit; "
        "re-tail with a fresh --checkpoint to replay the rolled-back "
        "epochs",
    )
    ap.add_argument(
        "--bootstrap-snapshot",
        metavar="PARQUET_DIR",
        default=None,
        help="CDC bootstrap: load a consistent parquet snapshot dump "
        "that already reflects every change event with batch_epoch <= "
        "--snapshot-position, stamping the handoff in the same atomic "
        "commit so a subsequent tail applies only newer epochs "
        "(Flink-CDC initial-snapshot / Debezium snapshot mode). "
        "Combine with --binlog/--checkpoint/--warehouse to start "
        "tailing immediately after the load, or run alone to exit "
        "after the bootstrap",
    )
    ap.add_argument(
        "--snapshot-position",
        type=int,
        default=None,
        help="the binlog epoch the --bootstrap-snapshot dump is "
        "consistent up to (inclusive); optional when the dump carries "
        "an --export-snapshot _position.json sidecar",
    )
    ap.add_argument(
        "--export-snapshot",
        metavar="OUT_DIR",
        default=None,
        help="write a consistent snapshot dump of --table (parquet "
        "under OUT_DIR/data) plus a _position.json sidecar recording "
        "the epoch watermark it reflects — the producer half of "
        "--bootstrap-snapshot; --export-version time-travels to an "
        "earlier version or tag",
    )
    ap.add_argument(
        "--export-version",
        metavar="VERSION_OR_TAG",
        default=None,
        help="snapshot version (int) or tag name to export "
        "(default: current)",
    )
    ap.add_argument(
        "--validate-csv",
        metavar="ROOT",
        help="instead of tailing: classify every file under ROOT by "
        "suffix (.csv passed / known non-CSV failed / other skipped) "
        "and validate the passed CSV files under --rules (header and "
        "row checks, one Spark job per distinct header); prints the "
        "listing report, per-status file counts, row totals and up to "
        "100 failing files as JSON. No table",
    )
    return ap


class ModeError(Exception):
    """A mode that cannot run as asked: printed as ``{"error": ...}``,
    exit ``code``."""

    def __init__(self, message: str, code: int = 2):
        super().__init__(message)
        self.code = code


def _load_rules(path: str | None):
    """(RuleSet or None, CSV header checks) from --rules: the reference's
    codeless schema artifacts (CSV-Schema 1.1 / JSON Schema 2020-12 /
    custom-poc rule list — rulesets/loaders.py), the shipped rule-set
    shape {"header": ..., "rules": ...} (silently loading zero rules
    from it as a flat dict would be a trap), or a flat RuleSet dict."""
    from .config import RuleSet
    from .rulesets import load_schema_artifact

    if path is None:
        return None, {}
    if not path.endswith(".csvs"):
        with open(path) as f:
            doc = json.load(f)
        if not ("validations" in doc or "$schema" in doc
                or ("properties" in doc and "rules" not in doc)
                or isinstance(doc.get("rules"), dict)):
            return RuleSet.from_dict(doc), {}
    return load_schema_artifact(path)


def _routes(args) -> list[tuple[str, str]]:
    """--route NAME=TABLE_PATH specs as (name, path) pairs."""
    return [(n, p) for n, _, p in (s.partition("=") for s in args.route)]


def _open_table(spark, path: str, args, branch: str | None = None):
    """The table (or its ``branch``) at ``path``; --create makes an
    absent main table first."""
    from .lake import LakeTable
    from .schema import sequences_schema

    t = LakeTable(spark, path, branch=branch)
    if args.create and branch is None and t.current_version() == 0:
        t = LakeTable.create(
            spark, path, sequences_schema(), num_buckets=args.num_buckets
        )
    return t


class _Run:
    """One invocation: the flags, the session, and the table and engine
    config the handlers share, each built once, on first use (a mode
    that never opens the table never creates it)."""

    def __init__(self, args, spark):
        self.args, self.spark, self.exit_code = args, spark, 0

    @cached_property
    def table(self):
        return _open_table(self.spark, self.args.table, self.args, self.args.branch)

    @cached_property
    def cfg(self):
        from .config import EngineConfig

        a = self.args
        kw = dict(
            num_buckets=a.num_buckets, applied_lineage=a.applied_lineage,
            suppress_stale=a.suppress_stale, patch_events=a.patch_events,
            near_dup_gate=a.near_dup_gate, profile=a.profile_epochs,
        )
        unless_default = dict(
            rules=_load_rules(a.rules)[0], near_dup_min_bands=a.near_dup_min_bands,
            merge_mode=a.merge_mode, compact_every=a.compact_every,
            vacuum_keep_last=a.vacuum_keep_last, outbox_dir=a.emit_outbox,
            sink_retention_epochs=a.sink_retention_epochs,
        )
        kw.update((k, v) for k, v in unless_default.items() if v is not None)
        if a.corpus_out is not None:
            kw.update(
                corpus_dir=a.corpus_out, corpus_config=_corpus_cfg(a),
                corpus_eval_paths=a.corpus_eval,
                corpus_dsir_target_path=a.dsir_target,
            )
        return EngineConfig(**kw)


def _version_or_tag(v: str | None):
    return int(v) if v is not None and v.lstrip("-").isdigit() else v


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _position(t) -> dict:
    w, tail = t.epoch_state()
    return {"table_version": t.current_version(), "epoch_watermark": w,
            "epoch_tail": tail}


def _table_status(run) -> dict:
    t = run.table
    return {**_position(t), "committed_epochs": sorted(t.committed_epochs())}


def _is_lake_table(path: str) -> bool:
    """A dexlake table root (it has a _snapshots dir) rather than plain
    parquet. The sniff goes through the FileIO seam (default_io), not a
    bare os.path probe: under DEXSPARK_FILEIO=condput/s3 the snapshots
    live in the object store, and misreading a table root as plain
    parquet would bypass snapshot isolation and MOR tombstones."""
    from .lake import default_io

    return default_io().is_dir(os.path.join(path, "_snapshots"))


def _need_dsir_target(run, state_dirs: list[str], flag: str) -> None:
    """Without --dsir-target, --dsir-frac gates only pipelines whose
    state dir holds a frozen _dsir.json (a resumed pipeline gates under
    its frozen model, target or not); any other would pass every
    window ungated."""
    from .lake import default_io
    from .operators.corpus_sync import read_frozen_dsir

    if run.args.dsir_frac is None or run.args.dsir_target:
        return
    if any(read_frozen_dsir(default_io(), d) is None for d in state_dirs):
        raise ModeError(
            "--dsir-frac needs --dsir-target until a window has frozen "
            f"the DSIR model (no _dsir.json under {flag}); without one "
            "every window would pass ungated"
        )


def _corpus_inputs(run) -> dict:
    a, read = run.args, run.spark.read.parquet
    return dict(
        config=_corpus_cfg(a),
        eval_sets=[read(p) for p in a.corpus_eval or []],
        dsir_target=read(a.dsir_target) if a.dsir_target else None,
    )


def _sync_corpus(run):
    # incremental corpus prep: changelog window in, appended window
    # shards + state-table fold out (operators/corpus_sync)
    from .lake import LakeTable
    from .operators.corpus_sync import CorpusPipeline

    a = run.args
    if not _is_lake_table(a.corpus_src):
        raise ModeError(
            "--sync-corpus needs --corpus-src to be a dexlake table root "
            "— the table's changelog drives the incremental fold (use "
            "--prepare-corpus for plain parquet)"
        )
    _need_dsir_target(run, [a.sync_corpus], "--sync-corpus")
    src = LakeTable(run.spark, a.corpus_src)
    return CorpusPipeline(run.spark, src, a.sync_corpus, **_corpus_inputs(run)).sync()


def _prepare_corpus(run):
    # documents parquet in, packed training shards out. A table root
    # closes the loop CDC-maintained table -> training shards: the
    # table already carries tokens, so prepare_corpus skips the
    # tokenizer and packs the CDC-merged payload directly.
    from .lake import LakeTable
    from .operators.corpus import prepare_corpus

    a = run.args
    if _is_lake_table(a.corpus_src):
        src = LakeTable(run.spark, a.corpus_src).read()
    else:
        src = run.spark.read.parquet(a.corpus_src)
    return prepare_corpus(run.spark, src, a.prepare_corpus, **_corpus_inputs(run))


def _prepare_dsir_target(args):
    if args.dsir_frac is not None and not args.dsir_target:
        return "--dsir-frac needs --dsir-target in --prepare-corpus"


def _pack_corpus(run):
    from .operators.packing import pack_best_fit, pack_sequences

    a, t = run.args, run.table
    pack = pack_best_fit if a.pack_policy == "bestfit" else pack_sequences
    pack(
        t.read(), a.seq_len, eos_id=a.eos_id, pad_id=a.pad_id,
        id_col=t.manifest().get("key", "doc_id"),
    ).write.mode("overwrite").parquet(a.pack_corpus)
    n = run.spark.read.parquet(a.pack_corpus).count()  # footer counts
    return {"packs": n, "seq_len": a.seq_len, "policy": a.pack_policy,
            "out": a.pack_corpus}


def _validate_csv(run):
    """listing.py's report over ROOT, plus csv_ingest's bulk validation
    of the passed files rolled up so the driver collects per-status
    counts and at most 100 failing files."""
    import re
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from .csv_ingest import bulk_validation_report
    from .listing import classify_listing, list_files, listing_report

    listing = classify_listing(list_files(run.spark, run.args.validate_csv))
    listing = listing.localCheckpoint(eager=True)  # one listing feeds both
    # binaryFile lists file: URIs; the header probe opens local paths
    passed = listing.filter("status = 'passed'").select("path").collect()
    paths = [unquote(re.sub("^file:(//)?", "", r["path"])) for r in passed]
    rules, header = _load_rules(run.args.rules)
    report = bulk_validation_report(run.spark, paths, rules, **header)
    counted = ("n_rows", "n_clean", "n_quarantine")
    ok = report.filter("status = 'ok'")
    totals = ok.agg(*(F.sum(c).alias(c) for c in counted)).first()
    failing = report.filter("status != 'ok' OR n_quarantine > 0")
    return {"listing": listing_report(listing), "csv": {
        "files": dict(report.groupBy("status").count().collect()),
        "rows": {c: totals[c] or 0 for c in counted},
        "failing": _rows(failing.orderBy("file_path").limit(100)),
    }}


def _sink(run, name: str, what: str, hint: str) -> str:
    path = os.path.join(run.args.warehouse, name)
    if not os.path.isdir(path):
        raise ModeError(f"no {what} sink at {path} — {hint}")
    return path


_PROFILE_FIRST = "run the tail with --profile-epochs (or EngineConfig(profile=True))"


def _drift(run):
    # compare two epochs of the profile sink (--profile-epochs)
    from .operators.profile import drift

    e0, e1 = (int(x) for x in run.args.drift.split(","))
    path = _sink(run, "profile", "profile", _PROFILE_FIRST + " first; note a "
                 "fully caught-up rerun applies no batches and writes no profiles")
    rows = drift(run.spark.read.parquet(path), e0, e1).collect()
    cols = ("kind", "key", "value_a", "value_b", "abs_diff")
    return {"epoch_a": e0, "epoch_b": e1, "drift": [
        {c: r[c] for c in cols}
        for r in sorted(rows, key=lambda r: (r["kind"], r["key"]))
    ]}


def _distinct_over(run):
    # union the mergeable HLL sketch sink over an epoch window —
    # distinct keys over the window with NO table/binlog rescan
    from .operators.profile import distinct_over, read_sketches

    lo, hi = ((int(x) if x else None) for x in
              (run.args.distinct_over.split(",") + [""])[:2])
    path = _sink(run, "profile_sketch", "sketch",
                 _PROFILE_FIRST + " to write per-epoch distinct sketches first")
    rows = distinct_over(read_sketches(run.spark, path), lo, hi).collect()
    return {"epoch_lo": lo, "epoch_hi": hi, "distinct": {
        r["key"]: {"n_epochs": r["n_epochs"],
                   "n_distinct": round(r["n_distinct"], 1)}
        for r in rows
    }}


def _quarantine_drift(run):
    from .health import quarantine_drift

    e0, e1 = run.args.quarantine_drift.split(",")
    return quarantine_drift(run.spark, run.args.warehouse, int(e0), int(e1))


def _compact_sketches(run):
    from .operators.profile import compact_sketches

    path = _sink(run, "profile_sketch", "sketch", "nothing to compact "
                 "(--profile-epochs writes it while tailing)")
    through = run.args.compact_sketches
    return {"through_epoch": through, **compact_sketches(run.spark, path, through)}


def _health(run):
    from .health import binlog_lag, trigger_advice, warehouse_health

    a, t = run.args, run.table
    h = warehouse_health(run.spark, t, a.warehouse)
    # trigger sizing from the deployment's own lineage history
    # (O(epochs); null fields when history can't separate the
    # per-trigger constant — see health.trigger_advice)
    h["trigger_advice"] = trigger_advice(run.spark, a.warehouse, io=t.io)
    if a.binlog:
        # optional consumer-lag section: one O(binlog) scan
        h["lag"] = binlog_lag(run.spark, t, a.binlog)
    return h


def _bootstrap_snapshot(run):
    position, data_dir = run.args.snapshot_position, run.args.bootstrap_snapshot
    sidecar = os.path.join(data_dir, "_position.json")
    if os.path.isfile(sidecar):
        # --export-snapshot layout: data under data/, position from
        # the sidecar unless explicitly overridden
        with open(sidecar) as fh:
            side = json.load(fh)
        if position is None:
            position = int(side["position"])
        data_dir = os.path.join(data_dir, "data")
    v = run.table.bootstrap(run.spark.read.parquet(data_dir), position)
    return {"bootstrap": {"version": v, "position": position,
                          "epoch_watermark": run.table.epoch_state()[0]}}


def _snapshot_position_known(args):
    # an --export-snapshot dump carries its position in a sidecar
    sidecar = os.path.join(args.bootstrap_snapshot, "_position.json")
    if args.snapshot_position is None and not os.path.isfile(sidecar):
        return ("--snapshot-position is required with --bootstrap-snapshot "
                "(no _position.json sidecar found in the dump)")


def _tail_after_bootstrap(run):
    # a bare bootstrap exits after the load; with --binlog/--checkpoint/
    # --warehouse it continues into the tail
    a = run.args
    return _tail(run) if a.binlog and a.checkpoint and a.warehouse else None


def _tag(run):
    name, _, v = run.args.tag.partition("=")
    return run.table.tag(name, int(v) if v else None)


def _create_branch(run):
    name, _, v = run.args.create_branch.partition("=")
    return run.table.create_branch(name, _version_or_tag(v or None))


def _dropped(drop, name: str) -> dict:
    drop(name)
    return {"dropped": name}


def _scan_range(run):
    lo, hi = run.args.scan_range
    return {"lo": lo, "hi": hi, "rows": _rows(run.table.scan_range(lo, hi))}


def _open_dedup_index(run):
    """The near-dup index pair, opened, never created: stats/rebuild
    against a warehouse that was never gated must not materialize
    empty tables."""
    from .lake import LakeTable

    sig, band = (LakeTable(run.spark, os.path.join(run.args.warehouse, n))
                 for n in ("dedup_sig", "dedup_band"))
    if sig.current_version() == 0 or band.current_version() == 0:
        raise ModeError("no near-dup index under this warehouse (tail with "
                        "--near-dup-gate first, or --bootstrap-dedup-index)",
                        code=1)
    return sig, band


def _dedup_index(run):
    from dataclasses import replace

    from .operators.dedup_index import (
        index_stats, rebuild_band_index, sync_indexes_from_table,
    )
    from .stream import CdcEngine

    a, t, out = run.args, run.table, {}
    if a.bootstrap_dedup_index:
        # create-if-absent + full-history fold, exactly the engine's own
        # opener/sync (same schemas, same cursors) — the first gated
        # micro-batch then starts warm
        eng = CdcEngine(run.spark, t, a.warehouse,
                        replace(run.cfg, near_dup_gate=True))
        eng._sync_dedup_indexes()
        sig, band = eng._nd_sig, eng._nd_band
    else:
        sig, band = _open_dedup_index(run)
    if a.rebuild_dedup_index:
        # catch up first so the rebuild reflects the table head
        sync_indexes_from_table(t, sig, band, text=run.cfg.near_dup_column)
        out = rebuild_band_index(band, sig)
    return {**out, **index_stats(t, sig, band)}


def _remap_vocab(run):
    from .operators.vocabmap import remap_exprs

    with open(run.args.remap_vocab) as fh:
        mapping = {int(k): int(v) for k, v in json.load(fh).items()}
    return run.table.rewrite_payload(remap_exprs(mapping, oov=run.args.remap_oov))


def _trim_dup_spans(run):
    from pyspark.sql import functions as F

    from .operators.spandedup import remove_duplicate_spans

    t, min_len = run.table, run.args.trim_dup_spans
    trimmed = remove_duplicate_spans(
        t.read(), text="tokens", min_len=min_len
    ).withColumn("n_tok", F.size("tokens").cast("int"))
    n_removed = int(trimmed.agg(F.sum("n_removed_tokens")).collect()[0][0] or 0)
    if n_removed:
        t.overwrite(trimmed.drop("n_removed_tokens"))
    return {"version": t.current_version(), "tokens_removed": n_removed,
            "min_len": min_len}


def _create_view(run):
    from .operators.mview import create_agg_view

    a = run.args
    sums = dict(kv.split(":") for kv in a.view_sums.split(","))
    v = create_agg_view(run.spark, a.create_view, run.table,
                        a.view_group.split(","), sums)
    return {"path": a.create_view, "version": v.current_version()}


def _refresh_view(run):
    from .lake import LakeTable
    from .operators.mview import refresh_agg_view

    view = LakeTable(run.spark, run.args.refresh_view)
    props = view.manifest().get("properties", {})
    sums = dict(kv.split(":") for kv in props["view.sums"].split(","))
    return refresh_agg_view(run.table, view, props["view.group_cols"].split(","), sums)


def _set_property(run):
    props = {}
    for kv in run.args.set_property:
        k, _, v = kv.partition("=")
        props[k] = v if v != "" else None
    return run.table.alter_properties(props)


def _vacuum(run):
    a = run.args
    kwargs = {"keep_last": a.keep_last, "dry_run": a.dry_run}
    if a.min_age_seconds is not None:
        kwargs["min_age_seconds"] = a.min_age_seconds
    return run.table.vacuum(**kwargs)


def _outbox(run):
    from .operators.outbox import emit_changes

    return emit_changes(run.table, run.args.outbox)


def _changes(run):
    a, t = run.args, run.table
    from_v, _, to_s = a.changes.partition(",")
    to_v = int(to_s) if to_s else None
    t.changes(int(from_v), to_v).write.mode("overwrite").parquet(a.out)
    return {"from_version": int(from_v), "to_version": to_v or t.current_version(),
            "rows": run.spark.read.parquet(a.out).count(), "out": a.out}


def _expire_binlog(run):
    from .events import expire_binlog
    from .lake import LakeTable

    a = run.args
    if a.route:
        # fan-out retention: an epoch is dead only when EVERY route has
        # applied it — expire under the MIN watermark. A not-yet-created
        # route has applied nothing: its watermark is the pre-ingest -1.
        # Needs only each route's epoch_state: no engine, no --warehouse.
        tables = [LakeTable(run.spark, path) for _, path in _routes(a)]
        key = "min_epoch_watermark"
        w = min(t.epoch_state()[0] if t.current_version() else -1 for t in tables)
    else:
        key, w = "epoch_watermark", run.table.epoch_state()[0]
    return {key: w, **expire_binlog(
        a.binlog, w, keep_epochs=a.expire_binlog, dry_run=a.dry_run)}


def _compact_binlog(run):
    # pure binlog-to-binlog maintenance: no engine, no table
    from .events import compact_binlog

    a = run.args
    return compact_binlog(run.spark, a.binlog, a.compact_binlog, rules=run.cfg.rules)


def _router(run):
    """One CdcEngine per --route, its sinks under <warehouse>/<NAME>."""
    from dataclasses import replace

    from .router import RoutedEngine
    from .stream import CdcEngine

    a, cfg, engines = run.args, run.cfg, {}
    for name, path in _routes(a):
        # an outbox dir holds ONE table's cursor and epoch space (epoch
        # = commit version), and the corpus pipeline's state tables
        # carry ONE source table's version cursor: routes must not
        # share either, so both fan out to per-route subdirs
        own = {f: os.path.join(getattr(cfg, f), name)
               for f in ("outbox_dir", "corpus_dir") if getattr(cfg, f)}
        engines[name] = CdcEngine(run.spark, _open_table(run.spark, path, a),
                                  os.path.join(a.warehouse, name), replace(cfg, **own))
    return RoutedEngine(run.spark, a.warehouse, engines, a.route_expr,
                        default=a.route_default)


def _route_positions(router) -> dict:
    return {name: _position(eng.table) for name, eng in router.routes.items()}


def _routes_status(run):
    router = _router(run)
    try:
        unrouted = run.spark.read.parquet(router.unrouted_path).count()
    except Exception:
        unrouted = 0
    pin = None
    try:
        with open(router._pin_path) as f:
            pin = json.load(f)["versions"]
    except OSError:
        pass
    return {"routes": _route_positions(router), "consistent_pin": pin,
            "unrouted_rows": unrouted}


def _engine(run):
    from .stream import CdcEngine

    return CdcEngine(run.spark, run.table, run.args.warehouse, run.cfg)


def _tail(run):
    """Apply --binlog to the table, or fan it out over --route: as one
    batch (--batch), forever (--follow), or up to the log's end."""
    a = run.args
    if a.corpus_out is not None:  # before the tail creates anything
        dirs = ([os.path.join(a.corpus_out, n) for n, _ in _routes(a)]
                if a.route else [a.corpus_out])
        _need_dsir_target(run, dirs, "--corpus-out")
    engine = _router(run) if a.route else _engine(run)
    if a.batch:
        engine.apply_binlog(a.binlog)
    elif a.follow:
        q = engine.run_stream(
            a.binlog, a.checkpoint, available_now=False,
            processing_time=a.trigger, max_files_per_trigger=a.max_files_per_trigger,
        )
        try:
            q.awaitTermination()
        finally:
            # graceful stop: marker-commit the epochs still deferred
            # at the micro-batch boundary (losing this flush is safe —
            # markers only, data is already applied)
            engine.flush_epoch_markers()
    else:
        engine.run_until_caught_up(
            a.binlog, a.checkpoint, max_files_per_trigger=a.max_files_per_trigger
        )
    return {"routes": _route_positions(engine)} if a.route else _table_status(run)


@dataclass(frozen=True)
class Mode:
    """One row of the mode table."""

    flag: str | None  # the argparse dest that picks the mode; None = the tail
    run: Callable[[_Run], dict | None]  # returns the JSON document
    needs: tuple[str, ...] = ()  # argparse dests that must be set
    table: bool = True  # needs --table (outside --route mode)
    route: bool = False  # composes with --route
    group: str | None = None  # rows of one group run together, in table order
    key: str | None = None  # the row's key in its group's document
    then: Callable[[_Run], dict | None] | None = None  # a second document
    check: Callable | None = None  # args -> usage error message, or None


_WH, _MAINT = ("warehouse",), "maintenance"

MODES = (
    Mode("sync_corpus", _sync_corpus, ("corpus_src",), table=False),
    Mode("prepare_corpus", _prepare_corpus, ("corpus_src",), table=False,
         check=_prepare_dsir_target),
    Mode("validate_csv", _validate_csv, table=False),
    Mode("drift", _drift, _WH, table=False),
    Mode("distinct_over", _distinct_over, _WH, table=False),
    Mode("quarantine_drift", _quarantine_drift, _WH, table=False),
    Mode("compact_sketches", _compact_sketches, _WH, table=False),
    Mode("compact_binlog", _compact_binlog, ("binlog",), table=False),
    Mode("expire_binlog", _expire_binlog, ("binlog",), route=True),
    Mode("pack_corpus", _pack_corpus),
    Mode("export_snapshot", lambda run: {"export": run.table.export_snapshot(
        run.args.export_snapshot, version=_version_or_tag(run.args.export_version))}),
    Mode("bootstrap_snapshot", _bootstrap_snapshot, then=_tail_after_bootstrap,
         check=_snapshot_position_known),
    Mode("health", _health, _WH),
    Mode("history", lambda run: run.table.history()),
    Mode("stats", lambda run: run.table.stats()),
    Mode("tag", _tag),
    Mode("drop_tag", lambda run: _dropped(run.table.drop_tag, run.args.drop_tag)),
    Mode("tags", lambda run: run.table.tags()),
    Mode("create_branch", _create_branch),
    Mode("publish_branch",
         lambda run: run.table.publish_branch(run.args.publish_branch)),
    Mode("drop_branch",
         lambda run: _dropped(run.table.drop_branch, run.args.drop_branch)),
    Mode("branches", lambda run: run.table.branches()),
    Mode("dedup_index_stats", _dedup_index, _WH),
    Mode("rebuild_dedup_index", _dedup_index, _WH),
    Mode("bootstrap_dedup_index", _dedup_index, _WH),
    Mode("lookup", lambda run: {"key": run.args.lookup,
                                "rows": _rows(run.table.lookup(run.args.lookup))}),
    Mode("scan_range", _scan_range),
    # the maintenance group: any of these together, run in this order
    # and printed as one {name: result} document
    Mode("rollback", lambda run: run.table.rollback(
        _version_or_tag(run.args.rollback)), group=_MAINT),
    Mode("delete_where", lambda run: run.table.delete_where(run.args.delete_where),
         group=_MAINT),
    Mode("remap_vocab", _remap_vocab, group=_MAINT),
    Mode("trim_dup_spans", _trim_dup_spans, group=_MAINT),
    Mode("rebucket", lambda run: run.table.rebucket(run.args.rebucket), group=_MAINT),
    Mode("compact", lambda run: run.table.compact(
        max_buckets=run.args.compact_max_buckets), group=_MAINT),
    Mode("create_view", _create_view, group=_MAINT),
    Mode("refresh_view", _refresh_view, group=_MAINT),
    Mode("rename_column", lambda run: run.table.rename_column(
        *run.args.rename_column.split(":", 1)), group=_MAINT),
    Mode("drop_column", lambda run: run.table.drop_column(run.args.drop_column),
         group=_MAINT),
    Mode("set_property", _set_property, group=_MAINT, key="properties"),
    Mode("vacuum", _vacuum, group=_MAINT),
    Mode("outbox", _outbox),
    Mode("changes", _changes, ("out",)),
    Mode("routes_status", _routes_status, ("route", "warehouse"), table=False,
         route=True),
    Mode("reprocess_unrouted", lambda run: _router(run).reprocess_unrouted(),
         ("route", "warehouse"), table=False, route=True),
    Mode("reprocess_quarantine", lambda run: _engine(run).reprocess_quarantine(),
         _WH, then=_table_status),
)
TAIL = Mode(None, _tail, ("binlog", "checkpoint", "warehouse"), route=True)


def _opt(dest: str) -> str:
    return "--" + dest.replace("_", "-")


def _chosen(ap: argparse.ArgumentParser, args) -> list[Mode]:
    """The rows this run picks (one mode, or one group), checked
    against the table; any miss is a usage error (exit 2)."""
    # `is not`, not `in`: 0 == False, and --expire-binlog 0 picks its mode
    picked = [(m, getattr(args, m.flag)) for m in MODES]
    rows = [m for m, v in picked if v is not None and v is not False]
    if len({m.group or m.flag for m in rows}) > 1:
        ap.error(" and ".join(_opt(m.flag) for m in rows)
                 + " are separate modes; run them one at a time")
    rows = rows or [TAIL]
    if args.route:
        if not args.route_expr:
            ap.error("--route-expr is required with --route")
        if not all(m.route for m in rows):
            ap.error("--route only composes with the tailing modes")
        if any("=" not in r for r in args.route):
            ap.error("--route takes NAME=TABLE_PATH")
    elif any(m.table for m in rows) and not args.table:
        ap.error("--table is required (except in --route mode)")
    for m in rows:
        missing = [_opt(n) for n in m.needs if not getattr(args, n)]
        if missing:
            ap.error(f"{'/'.join(missing)} required "
                     + (f"with {_opt(m.flag)}" if m.flag else "when tailing"))
        problem = m.check and m.check(args)
        if problem:
            ap.error(problem)
    return rows


def _results(run: _Run, rows: list[Mode]):
    """The chosen rows' JSON documents, in print order; a ModeError
    ends the run with an ``{"error": ...}`` document."""
    try:
        if rows[0].group:
            yield {m.key or m.flag: m.run(run) for m in rows}
        else:
            yield rows[0].run(run)
            if rows[0].then:
                yield rows[0].then(run)
    except ModeError as e:
        run.exit_code = e.code
        yield {"error": str(e)}


def main(argv: list[str] | None = None) -> int:
    ap = _parser()
    args = ap.parse_args(argv)
    if args.fileio:
        os.environ["DEXSPARK_FILEIO"] = args.fileio
    rows = _chosen(ap, args)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dexspark-cdc").getOrCreate()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run = _Run(args, spark)
    for doc in _results(run, rows):
        if doc is not None:
            print(json.dumps(doc, default=str))
    return run.exit_code


if __name__ == "__main__":
    sys.exit(main())

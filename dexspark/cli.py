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

No ``--master`` handling here: spark-submit/cluster manager owns that.
The same code runs at N or 4N executors; partitioning is keyed, not
topology-aware (BASELINE.json north_rule).
"""

from __future__ import annotations

import argparse
import json
import os
import sys



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


def main(argv: list[str] | None = None) -> int:
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
    args = ap.parse_args(argv)
    if args.fileio:
        import os as _os_fio

        _os_fio.environ["DEXSPARK_FILEIO"] = args.fileio
    maintenance = (
        args.compact
        or args.vacuum
        or args.rebucket is not None
        or args.delete_where is not None
        or args.remap_vocab is not None
        or args.trim_dup_spans is not None
        or args.set_property is not None
        or args.rollback is not None
        or args.rename_column is not None
        or args.drop_column is not None
        or args.create_view is not None
        or args.refresh_view is not None
    )
    # `is not None`, matching the dispatch below: an EMPTY-STRING
    # operand (e.g. --lookup "" from an unquoted shell variable) is
    # still a lookup request, not a fall-through into tailing mode
    tailing = not (
        args.history
        or args.stats
        or args.lookup is not None
        or args.changes is not None
        or args.drift is not None
        or args.distinct_over is not None
        or args.compact_sketches is not None
        or args.quarantine_drift is not None
        or args.health
        or args.outbox is not None
        or args.scan_range is not None
        or args.compact_binlog is not None
        or args.expire_binlog is not None
        or args.reprocess_quarantine
        or args.reprocess_unrouted
        or args.routes_status
        or args.dedup_index_stats
        or args.rebuild_dedup_index
        or args.bootstrap_dedup_index
        or args.tag is not None
        or args.drop_tag is not None
        or args.tags
        or args.create_branch is not None
        or args.publish_branch is not None
        or args.drop_branch is not None
        or args.branches
        or maintenance
        or args.export_snapshot is not None
        or args.pack_corpus is not None
        or args.prepare_corpus is not None
        or args.sync_corpus is not None
        # a bare bootstrap exits after the load; with binlog/checkpoint
        # /warehouse it continues into the tail, whose own args are
        # checked at engine construction
        or args.bootstrap_snapshot is not None
    )
    if tailing and not (args.binlog and args.checkpoint and args.warehouse):
        ap.error("--binlog/--checkpoint/--warehouse are required when tailing")
    if args.route:
        if not args.route_expr:
            ap.error("--route-expr is required with --route")
        if not tailing and not (
            args.reprocess_unrouted
            or args.routes_status
            or args.expire_binlog is not None
        ):
            ap.error("--route only composes with the tailing modes")
        if (args.reprocess_unrouted or args.routes_status) and not args.warehouse:
            ap.error(
                "--warehouse is required with --reprocess-unrouted / "
                "--routes-status"
            )
        if any("=" not in r for r in args.route):
            ap.error("--route takes NAME=TABLE_PATH")
    elif (
        not args.table
        and args.drift is None
        and args.distinct_over is None
        and args.compact_sketches is None
        and args.quarantine_drift is None
        # log compaction reads/writes only the binlog — no table
        and args.compact_binlog is None
        # corpus preparation reads --corpus-src parquet — no table
        and args.prepare_corpus is None
        and args.sync_corpus is None
    ):
        ap.error("--table is required (except in --route mode)")
    if args.prepare_corpus is not None and not args.corpus_src:
        ap.error("--corpus-src is required with --prepare-corpus")
    if args.sync_corpus is not None and not args.corpus_src:
        ap.error("--corpus-src is required with --sync-corpus")
    if args.drift is not None and not args.warehouse:
        ap.error("--warehouse is required with --drift")
    if args.distinct_over is not None and not args.warehouse:
        ap.error("--warehouse is required with --distinct-over")
    if args.compact_sketches is not None and not args.warehouse:
        ap.error("--warehouse is required with --compact-sketches")
    if args.quarantine_drift is not None and not args.warehouse:
        ap.error("--warehouse is required with --quarantine-drift")
    if args.health and not (args.table and args.warehouse):
        ap.error("--table and --warehouse are required with --health")
    if (args.reprocess_unrouted or args.routes_status) and not args.route:
        ap.error("--reprocess-unrouted / --routes-status need --route mode")
    if args.bootstrap_snapshot is not None and args.snapshot_position is None:
        # an --export-snapshot dump carries its position in a sidecar
        import os as _os

        if not _os.path.isfile(
            _os.path.join(args.bootstrap_snapshot, "_position.json")
        ):
            ap.error(
                "--snapshot-position is required with --bootstrap-snapshot "
                "(no _position.json sidecar found in the dump)"
            )
    if args.compact_binlog and not args.binlog:
        ap.error("--binlog is required with --compact-binlog")
    if args.expire_binlog is not None and not (
        args.binlog and (args.table or args.route)
    ):
        ap.error(
            "--binlog plus --table (or --route mode, which uses the "
            "MIN route watermark) are required with --expire-binlog"
        )
    if args.reprocess_quarantine and not args.warehouse:
        ap.error("--warehouse is required with --reprocess-quarantine")
    if (
        args.dedup_index_stats
        or args.rebuild_dedup_index
        or args.bootstrap_dedup_index
    ) and not args.warehouse:
        ap.error(
            "--warehouse is required with --dedup-index-stats / "
            "--rebuild-dedup-index / --bootstrap-dedup-index (the index "
            "tables live under it)"
        )
    if args.changes and not args.out:
        ap.error("--out is required with --changes")

    from pyspark.sql import SparkSession

    from .config import EngineConfig, RuleSet
    from .lake import LakeTable
    from .schema import sequences_schema
    from .stream import CdcEngine

    spark = SparkSession.builder.appName("dexspark-cdc").getOrCreate()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if args.sync_corpus is not None:
        # incremental corpus prep: changelog window in, appended
        # window shards + state-table fold out (operators/corpus_sync)
        from .lake import LakeTable, default_io
        from .operators.corpus import CorpusConfig
        from .operators.corpus_sync import CorpusPipeline, read_frozen_dsir

        if not default_io().is_dir(
            os.path.join(args.corpus_src, "_snapshots")
        ):
            print(
                json.dumps(
                    {
                        "error": "--sync-corpus needs --corpus-src to be a "
                        "dexlake table root — the table's changelog drives "
                        "the incremental fold (use --prepare-corpus for "
                        "plain parquet)"
                    }
                )
            )
            return 2
        cfg = _corpus_cfg(args)
        src = LakeTable(spark, args.corpus_src)
        # the pipeline's state lives on its source table's FileIO; a
        # resumed pipeline gates under its frozen model, target or not
        if (
            cfg.dsir_frac is not None
            and not args.dsir_target
            and read_frozen_dsir(src.io, args.sync_corpus) is None
        ):
            print(
                json.dumps(
                    {
                        "error": "--dsir-frac needs --dsir-target until "
                        "a window has frozen the DSIR model (no "
                        "_dsir.json under --sync-corpus); without one "
                        "every window would pass ungated"
                    }
                )
            )
            return 2
        evals = [spark.read.parquet(p) for p in (args.corpus_eval or [])]
        pipe = CorpusPipeline(
            spark,
            src,
            args.sync_corpus,
            eval_sets=evals,
            config=cfg,
            dsir_target=(
                spark.read.parquet(args.dsir_target)
                if args.dsir_target
                else None
            ),
        )
        print(json.dumps(pipe.sync()))
        return 0

    if args.prepare_corpus is not None:
        # table-less: documents parquet in, packed training shards out
        from .operators.corpus import CorpusConfig, prepare_corpus

        cfg = _corpus_cfg(args)
        evals = [spark.read.parquet(p) for p in (args.corpus_eval or [])]
        # --corpus-src may be a plain documents parquet OR a dexlake
        # table root (sniffed by its _snapshots dir): the latter closes
        # the loop CDC-maintained table -> training shards — the table
        # already carries tokens, so prepare_corpus skips the
        # tokenizer and packs the CDC-merged payload directly. The
        # sniff goes through the FileIO seam (default_io), not a bare
        # os.path probe: under DEXSPARK_FILEIO=condput/s3 the
        # snapshots live in the object store, and misreading a table
        # root as plain parquet would bypass snapshot isolation and
        # MOR tombstones.
        from .lake import LakeTable, default_io

        if default_io().is_dir(os.path.join(args.corpus_src, "_snapshots")):
            src = LakeTable(spark, args.corpus_src).read()
        else:
            src = spark.read.parquet(args.corpus_src)
        if cfg.dsir_frac is not None and not args.dsir_target:
            ap.error("--dsir-frac needs --dsir-target in --prepare-corpus")
        report = prepare_corpus(
            spark,
            src,
            args.prepare_corpus,
            eval_sets=evals,
            config=cfg,
            dsir_target=(
                spark.read.parquet(args.dsir_target)
                if args.dsir_target
                else None
            ),
        )
        print(json.dumps(report))
        return 0

    if args.drift is not None:
        # table-less read-only mode: compare two epochs of the profile
        # sink (written while tailing with --profile-epochs)
        import os as _os

        from .operators.profile import drift as _drift

        e0, e1 = (int(x) for x in args.drift.split(","))
        prof_path = _os.path.join(args.warehouse, "profile")
        if not _os.path.isdir(prof_path):
            print(
                json.dumps(
                    {
                        "error": "no profile sink at "
                        + prof_path
                        + " — run the tail with --profile-epochs (or "
                        "EngineConfig(profile=True)) first; note a fully "
                        "caught-up rerun applies no batches and writes "
                        "no profiles"
                    }
                )
            )
            return 2
        prof = spark.read.parquet(prof_path)
        rows = _drift(prof, e0, e1).collect()
        print(
            json.dumps(
                {
                    "epoch_a": e0,
                    "epoch_b": e1,
                    "drift": [
                        {
                            "kind": r["kind"],
                            "key": r["key"],
                            "value_a": r["value_a"],
                            "value_b": r["value_b"],
                            "abs_diff": r["abs_diff"],
                        }
                        for r in sorted(
                            rows, key=lambda r: (r["kind"], r["key"])
                        )
                    ],
                }
            )
        )
        return 0

    if args.distinct_over is not None:
        # table-less read-only mode: union the mergeable HLL sketch
        # sink over an epoch window (--profile-epochs writes it) —
        # distinct keys over the window with NO table/binlog rescan
        import os as _os

        from .operators.profile import distinct_over as _distinct, read_sketches

        lo_s, hi_s = (args.distinct_over.split(",") + [""])[:2]
        lo = int(lo_s) if lo_s else None
        hi = int(hi_s) if hi_s else None
        sk_path = _os.path.join(args.warehouse, "profile_sketch")
        if not _os.path.isdir(sk_path):
            print(
                json.dumps(
                    {
                        "error": "no sketch sink at "
                        + sk_path
                        + " — run the tail with --profile-epochs (or "
                        "EngineConfig(profile=True)) to write per-epoch "
                        "distinct sketches first"
                    }
                )
            )
            return 2
        sk = read_sketches(spark, sk_path)
        rows = _distinct(sk, lo, hi).collect()
        print(
            json.dumps(
                {
                    "epoch_lo": lo,
                    "epoch_hi": hi,
                    "distinct": {
                        r["key"]: {
                            "n_epochs": r["n_epochs"],
                            "n_distinct": round(r["n_distinct"], 1),
                        }
                        for r in rows
                    },
                }
            )
        )
        return 0

    if args.quarantine_drift is not None:
        from .health import quarantine_drift

        e0_s, e1_s = args.quarantine_drift.split(",")
        print(
            json.dumps(
                quarantine_drift(spark, args.warehouse, int(e0_s), int(e1_s))
            )
        )
        return 0

    if args.compact_sketches is not None:
        import os as _os

        from .operators.profile import compact_sketches as _compact_sk

        if not _os.path.isdir(_os.path.join(args.warehouse, "profile_sketch")):
            print(
                json.dumps(
                    {
                        "error": "no sketch sink at "
                        + _os.path.join(args.warehouse, "profile_sketch")
                        + " — nothing to compact (--profile-epochs "
                        "writes it while tailing)"
                    }
                )
            )
            return 2
        info = _compact_sk(
            spark,
            _os.path.join(args.warehouse, "profile_sketch"),
            args.compact_sketches,
        )
        print(json.dumps({"through_epoch": args.compact_sketches, **info}))
        return 0

    if args.corpus_out is not None and args.dsir_frac is not None and not args.dsir_target:
        # the engine's pipeline keeps its state on its source table's
        # FileIO, one state dir per route; a resumed pipeline gates
        # under its frozen model, target or not
        from .operators.corpus_sync import read_frozen_dsir

        if args.route:
            sources = [
                (path, os.path.join(args.corpus_out, name))
                for name, _, path in (spec.partition("=") for spec in args.route)
            ]
        else:
            sources = [(args.table, args.corpus_out)] if args.table else []
        if any(read_frozen_dsir(LakeTable(spark, t).io, d) is None for t, d in sources):
            print(
                json.dumps(
                    {
                        "error": "--dsir-frac needs --dsir-target until "
                        "a window has frozen the DSIR model (no "
                        "_dsir.json under --corpus-out); without one "
                        "every window would pass ungated"
                    }
                )
            )
            return 2

    if args.create and args.branch is None and args.table:
        t0 = LakeTable(spark, args.table)
        if t0.current_version() == 0:
            LakeTable.create(
                spark, args.table, sequences_schema(), num_buckets=args.num_buckets
            )
    table = LakeTable(spark, args.table, branch=args.branch) if args.table else None

    rules = None
    if args.rules:
        if args.rules.endswith(".csvs"):
            # the reference's own codeless schema artifacts load
            # directly (CSV-Schema 1.1 / JSON Schema 2020-12 /
            # custom-poc rule list — rulesets/loaders.py)
            from .rulesets import load_schema_artifact

            rules, _ = load_schema_artifact(args.rules)
        else:
            with open(args.rules) as f:
                doc = json.load(f)
            if "validations" in doc or "$schema" in doc or (
                "properties" in doc and "rules" not in doc
            ):
                from .rulesets import load_schema_artifact

                rules, _ = load_schema_artifact(args.rules)
            else:
                # accept both the flat RuleSet dict and the shipped
                # rule-set artifact shape ({"header": ..., "rules":
                # ...}, see dexspark/rulesets/) — silently loading
                # zero rules from the nested form would be a trap
                rules = RuleSet.from_dict(
                    doc["rules"] if isinstance(doc.get("rules"), dict) else doc
                )
    cfg_kwargs = dict(
        num_buckets=args.num_buckets, applied_lineage=args.applied_lineage
    )
    if rules is not None:
        cfg_kwargs["rules"] = rules
    if args.suppress_stale:
        cfg_kwargs["suppress_stale"] = True
    if args.patch_events:
        cfg_kwargs["patch_events"] = True
    if args.near_dup_gate:
        cfg_kwargs["near_dup_gate"] = True
    if args.profile_epochs:
        cfg_kwargs["profile"] = True
    if args.near_dup_min_bands is not None:
        cfg_kwargs["near_dup_min_bands"] = args.near_dup_min_bands
    if args.merge_mode is not None:
        cfg_kwargs["merge_mode"] = args.merge_mode
    if args.compact_every is not None:
        cfg_kwargs["compact_every"] = args.compact_every
    if args.vacuum_keep_last is not None:
        cfg_kwargs["vacuum_keep_last"] = args.vacuum_keep_last
    if args.sink_retention_epochs is not None:
        cfg_kwargs["sink_retention_epochs"] = args.sink_retention_epochs
    if args.emit_outbox is not None:
        cfg_kwargs["outbox_dir"] = args.emit_outbox
    if args.corpus_out is not None:
        cfg_kwargs["corpus_dir"] = args.corpus_out
        cfg_kwargs["corpus_config"] = _corpus_cfg(args)
        cfg_kwargs["corpus_eval_paths"] = args.corpus_eval
        cfg_kwargs["corpus_dsir_target_path"] = args.dsir_target
    cfg = EngineConfig(**cfg_kwargs)

    if args.pack_corpus is not None:
        from .operators.packing import pack_best_fit, pack_sequences

        key = table.manifest().get("key", "doc_id")
        if args.pack_policy == "bestfit":
            packed = pack_best_fit(
                table.read(),
                args.seq_len,
                pad_id=args.pad_id,
                eos_id=args.eos_id,
                id_col=key,
            )
        else:
            packed = pack_sequences(
                table.read(),
                args.seq_len,
                eos_id=args.eos_id,
                pad_id=args.pad_id,
                id_col=key,
            )
        packed.write.mode("overwrite").parquet(args.pack_corpus)
        n = spark.read.parquet(args.pack_corpus).count()  # footer counts
        print(json.dumps({"packs": n, "seq_len": args.seq_len,
                          "policy": args.pack_policy,
                          "out": args.pack_corpus}))
        return 0

    if args.export_snapshot is not None:
        ver = args.export_version
        if ver is not None and ver.lstrip("-").isdigit():
            ver = int(ver)
        sidecar = table.export_snapshot(args.export_snapshot, version=ver)
        print(json.dumps({"export": sidecar}))
        return 0

    if args.bootstrap_snapshot is not None:
        import os as _os

        position = args.snapshot_position
        data_dir = args.bootstrap_snapshot
        sidecar_path = _os.path.join(data_dir, "_position.json")
        if _os.path.isfile(sidecar_path):
            # --export-snapshot layout: data under data/, position
            # from the sidecar unless explicitly overridden
            with open(sidecar_path) as fh:
                side = json.load(fh)
            if position is None:
                position = int(side["position"])
            data_dir = _os.path.join(data_dir, "data")
        snap = spark.read.parquet(data_dir)
        v = table.bootstrap(snap, position)
        print(
            json.dumps(
                {
                    "bootstrap": {
                        "version": v,
                        "position": position,
                        "epoch_watermark": table.epoch_state()[0],
                    }
                }
            )
        )
        if not (args.binlog and args.checkpoint and args.warehouse):
            return 0

    # metadata / read-only modes: no engine (and no warehouse) needed
    if args.health:
        from .health import binlog_lag, trigger_advice, warehouse_health

        h = warehouse_health(spark, table, args.warehouse)
        # trigger sizing from the deployment's own lineage history
        # (O(epochs); null fields when history can't separate the
        # per-trigger constant — see health.trigger_advice)
        h["trigger_advice"] = trigger_advice(spark, args.warehouse, io=table.io)
        if args.binlog:
            # optional consumer-lag section: one O(binlog) scan
            h["lag"] = binlog_lag(spark, table, args.binlog)
        print(json.dumps(h))
        return 0
    if args.history:
        print(json.dumps(table.history()))
        return 0
    if args.stats:
        print(json.dumps(table.stats()))
        return 0
    if args.tag is not None:
        name, _, v = args.tag.partition("=")
        print(json.dumps(table.tag(name, int(v) if v else None)))
        return 0
    if args.drop_tag is not None:
        table.drop_tag(args.drop_tag)
        print(json.dumps({"dropped": args.drop_tag}))
        return 0
    if args.tags:
        print(json.dumps(table.tags()))
        return 0
    if args.create_branch is not None:
        name, _, v = args.create_branch.partition("=")
        fork = None if not v else (int(v) if v.isdigit() else v)
        print(json.dumps(table.create_branch(name, fork)))
        return 0
    if args.publish_branch is not None:
        print(json.dumps(table.publish_branch(args.publish_branch)))
        return 0
    if args.drop_branch is not None:
        table.drop_branch(args.drop_branch)
        print(json.dumps({"dropped": args.drop_branch}))
        return 0
    if args.branches:
        print(json.dumps(table.branches()))
        return 0
    if (
        args.dedup_index_stats
        or args.rebuild_dedup_index
        or args.bootstrap_dedup_index
    ):
        import os as _os

        from .operators.dedup_index import (
            index_stats,
            rebuild_band_index,
            sync_indexes_from_table,
        )

        if args.bootstrap_dedup_index:
            # create-if-absent + full-history fold, exactly the
            # engine's own opener/sync (same schemas, same cursors) —
            # the first gated micro-batch then starts warm
            from dataclasses import replace

            from .stream import CdcEngine

            eng = CdcEngine(
                spark, table, args.warehouse,
                replace(cfg, near_dup_gate=True),
            )
            eng._sync_dedup_indexes()
            sig_t, band_t = eng._nd_sig, eng._nd_band
        else:
            # open, never create: stats/rebuild against a warehouse
            # that was never gated must not materialize empty tables
            sig_t = LakeTable(spark, _os.path.join(args.warehouse, "dedup_sig"))
            band_t = LakeTable(spark, _os.path.join(args.warehouse, "dedup_band"))
            if sig_t.current_version() == 0 or band_t.current_version() == 0:
                print(
                    json.dumps(
                        {
                            "error": "no near-dup index under this warehouse "
                            "(tail with --near-dup-gate first, or "
                            "--bootstrap-dedup-index)"
                        }
                    )
                )
                return 1
        out = {}
        if args.rebuild_dedup_index:
            # catch up first so the rebuild reflects the table head
            sync_indexes_from_table(
                table, sig_t, band_t, text=cfg.near_dup_column
            )
            out = rebuild_band_index(band_t, sig_t)
        out.update(index_stats(table, sig_t, band_t))
        print(json.dumps(out))
        return 0
    if args.lookup is not None:
        rows = [r.asDict(recursive=True) for r in table.lookup(args.lookup).collect()]
        print(json.dumps({"key": args.lookup, "rows": rows}, default=str))
        return 0
    if args.scan_range:
        lo, hi = args.scan_range
        rows = [
            r.asDict(recursive=True) for r in table.scan_range(lo, hi).collect()
        ]
        print(json.dumps({"lo": lo, "hi": hi, "rows": rows}, default=str))
        return 0
    if maintenance:
        out = {}
        if args.rollback is not None:
            tgt = args.rollback
            out["rollback"] = table.rollback(
                int(tgt) if tgt.lstrip("-").isdigit() else tgt
            )
        if args.delete_where is not None:
            out["delete_where"] = table.delete_where(args.delete_where)
        if args.remap_vocab is not None:
            import json as _json

            from .operators.vocabmap import remap_exprs

            with open(args.remap_vocab) as fh:
                mapping = {int(k): int(v) for k, v in _json.load(fh).items()}
            out["remap_vocab"] = table.rewrite_payload(
                remap_exprs(mapping, oov=args.remap_oov)
            )
        if args.trim_dup_spans is not None:
            from pyspark.sql import functions as F

            from .operators.spandedup import remove_duplicate_spans

            state = table.read()
            trimmed = remove_duplicate_spans(
                state, text="tokens", min_len=args.trim_dup_spans
            ).withColumn("n_tok", F.size("tokens").cast("int"))
            n_removed = int(
                trimmed.agg(F.sum("n_removed_tokens")).collect()[0][0] or 0
            )
            if n_removed:
                table.overwrite(trimmed.drop("n_removed_tokens"))
            out["trim_dup_spans"] = {
                "version": table.current_version(),
                "tokens_removed": n_removed,
                "min_len": args.trim_dup_spans,
            }
        if args.rebucket is not None:
            out["rebucket"] = table.rebucket(args.rebucket)
        if args.compact:
            out["compact"] = table.compact(max_buckets=args.compact_max_buckets)
        if args.create_view is not None:
            from .operators.mview import create_agg_view

            sums = dict(kv.split(":") for kv in args.view_sums.split(","))
            v = create_agg_view(
                spark,
                args.create_view,
                table,
                args.view_group.split(","),
                sums,
            )
            out["create_view"] = {"path": args.create_view, "version": v.current_version()}
        if args.refresh_view is not None:
            from .operators.mview import refresh_agg_view

            view = LakeTable(spark, args.refresh_view)
            props = view.manifest().get("properties", {})
            group = props["view.group_cols"].split(",")
            sums = dict(
                kv.split(":") for kv in props["view.sums"].split(",")
            )
            out["refresh_view"] = refresh_agg_view(table, view, group, sums)
        if args.rename_column is not None:
            o, _, n = args.rename_column.partition(":")
            out["rename_column"] = table.rename_column(o, n)
        if args.drop_column is not None:
            out["drop_column"] = table.drop_column(args.drop_column)
        if args.set_property is not None:
            props = {}
            for kv in args.set_property:
                k, _, v = kv.partition("=")
                props[k] = v if v != "" else None
            out["properties"] = table.alter_properties(props)
        if args.vacuum:
            kwargs = {"keep_last": args.keep_last, "dry_run": args.dry_run}
            if args.min_age_seconds is not None:
                kwargs["min_age_seconds"] = args.min_age_seconds
            out["vacuum"] = table.vacuum(**kwargs)
        print(json.dumps(out))
        return 0
    if args.outbox is not None:
        from .operators.outbox import emit_changes

        print(json.dumps(emit_changes(table, args.outbox)))
        return 0
    if args.changes is not None:
        parts = args.changes.split(",")
        from_v = int(parts[0])
        to_v = int(parts[1]) if len(parts) > 1 else None
        ch = table.changes(from_v, to_v)
        ch.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "from_version": from_v,
                    "to_version": to_v or table.current_version(),
                    "rows": spark.read.parquet(args.out).count(),
                    "out": args.out,
                }
            )
        )
        return 0

    if args.expire_binlog is not None and not args.route:
        from .events import expire_binlog

        t = LakeTable(spark, args.table, branch=args.branch)
        w, _tail = t.epoch_state()
        info = expire_binlog(
            args.binlog, w, keep_epochs=args.expire_binlog, dry_run=args.dry_run
        )
        print(json.dumps({"epoch_watermark": w, **info}))
        return 0

    if args.compact_binlog is not None:
        # no engine (and possibly no --warehouse) needed: pure
        # binlog-to-binlog maintenance
        from .events import compact_binlog

        info = compact_binlog(
            spark, args.binlog, args.compact_binlog, rules=cfg.rules
        )
        print(json.dumps(info))
        return 0

    if args.route:
        import os as _os

        from .router import RoutedEngine

        from dataclasses import replace as _replace

        if args.expire_binlog is not None:
            # fan-out retention: an epoch is dead only when EVERY
            # route has applied it — expire under the MIN watermark.
            # Needs only each route's epoch_state, so no engine (and
            # no --warehouse) is required.
            from .events import expire_binlog

            def _route_watermark(path: str) -> int:
                t = LakeTable(spark, path)
                if t.current_version() == 0:
                    # not-yet-created route (e.g. --create on a fresh
                    # warehouse): it has applied nothing, so its
                    # watermark is the pre-ingest -1 — nothing expires
                    return -1
                return t.epoch_state()[0]

            w = min(
                _route_watermark(spec.partition("=")[2])
                for spec in args.route
            )
            info = expire_binlog(
                args.binlog,
                w,
                keep_epochs=args.expire_binlog,
                dry_run=args.dry_run,
            )
            print(json.dumps({"min_epoch_watermark": w, **info}))
            return 0

        routes = {}
        for spec in args.route:
            name, _, path = spec.partition("=")
            rt = LakeTable(spark, path)
            if args.create and rt.current_version() == 0:
                rt = LakeTable.create(
                    spark, path, sequences_schema(), num_buckets=args.num_buckets
                )
            # an outbox dir holds ONE table's cursor and epoch space
            # (epoch = commit version): routes must not share one, so
            # --emit-outbox fans out to per-route subdirs
            rcfg = cfg
            if cfg.outbox_dir:
                rcfg = _replace(
                    cfg, outbox_dir=_os.path.join(cfg.outbox_dir, name)
                )
            # same isolation rule for the corpus pipeline: its state
            # tables carry ONE source table's version cursor
            if cfg.corpus_dir:
                rcfg = _replace(
                    rcfg, corpus_dir=_os.path.join(cfg.corpus_dir, name)
                )
            routes[name] = CdcEngine(
                spark, rt, _os.path.join(args.warehouse, name), rcfg
            )
        router = RoutedEngine(
            spark, args.warehouse, routes, args.route_expr,
            default=args.route_default,
        )
        if args.routes_status:
            status = {}
            for name, eng in routes.items():
                w, tl = eng.table.epoch_state()
                status[name] = {
                    "table_version": eng.table.current_version(),
                    "epoch_watermark": w,
                    "epoch_tail": tl,
                }
            try:
                unrouted = spark.read.parquet(router.unrouted_path).count()
            except Exception:
                unrouted = 0
            pin = None
            try:
                with open(router._pin_path) as f:
                    pin = json.load(f)["versions"]
            except OSError:
                pass
            print(
                json.dumps(
                    {
                        "routes": status,
                        "consistent_pin": pin,
                        "unrouted_rows": unrouted,
                    }
                )
            )
            return 0
        if args.reprocess_unrouted:
            print(json.dumps(router.reprocess_unrouted()))
            return 0
        if args.batch:
            router.apply_binlog(args.binlog)
        elif args.follow:
            q = router.run_stream(
                args.binlog,
                args.checkpoint,
                available_now=False,
                processing_time=args.trigger,
                max_files_per_trigger=args.max_files_per_trigger,
            )
            try:
                q.awaitTermination()
            finally:
                router.flush_epoch_markers()
        else:
            router.run_until_caught_up(
                args.binlog,
                args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
            )
        status = {}
        for name, eng in routes.items():
            w, tl = eng.table.epoch_state()
            status[name] = {
                "table_version": eng.table.current_version(),
                "epoch_watermark": w,
                "epoch_tail": tl,
            }
        print(json.dumps({"routes": status}))
        return 0

    engine = CdcEngine(spark, table, args.warehouse, cfg)

    def _status() -> None:
        w, tail = table.epoch_state()
        print(
            json.dumps(
                {
                    "table_version": table.current_version(),
                    "committed_epochs": sorted(table.committed_epochs()),
                    "epoch_watermark": w,
                    "epoch_tail": tail,
                }
            )
        )

    if args.reprocess_quarantine:
        info = engine.reprocess_quarantine()
        print(json.dumps(info))
        _status()
    elif args.batch:
        engine.apply_binlog(args.binlog)
        _status()
    elif args.follow:
        q = engine.run_stream(
            args.binlog,
            args.checkpoint,
            available_now=False,
            processing_time=args.trigger,
            max_files_per_trigger=args.max_files_per_trigger,
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
            args.binlog,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        _status()
    return 0


if __name__ == "__main__":
    sys.exit(main())

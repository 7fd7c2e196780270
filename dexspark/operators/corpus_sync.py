"""Incremental (changelog-driven) corpus preparation.

``prepare_corpus`` (operators/corpus.py) is the batch composite; this
module is its continuous-ingest form — the shape the north star
actually implies: the tokenized-sequence table keeps changing under
CDC, and the training corpus derived from it must follow WITHOUT
re-running the pipeline over 100 TB per refresh. ``CorpusPipeline``
tails the source LakeTable's changelog and folds each commit window
through the SAME gates as the batch pipeline, against persisted
state, appending packed shards per window:

    quality gate       map-only over the window's docs (text corpora)
    perplexity gate    optional (cfg.max_ppl): scored under an LM
                       FROZEN at the first window (``_lm.json``) —
                       retraining per window would silently shift the
                       admission boundary between windows
    exact dedup        content hash vs the persisted ``_hashes`` index
                       (bucket-pruned probe, O(window))
    near-dup dedup     the CDC-maintained minhash signature + LSH
                       posting-list indexes (operators/dedup_index) —
                       probe cost O(window band keys), never O(corpus)
    decontamination    broadcast eval-set gram join (O(window))
    targeted select    optional (cfg.dsir_frac): DSIR importance
                       resampling toward a target corpus — the
                       (model, cutoff) pair is FROZEN at the first
                       window (``_dsir.json``); each window gates by a
                       pure filter on the deterministic Gumbel score
    split assignment   deterministic hash bands (stable: adding docs
                       never moves existing ones)
    tokenize           the tokenizer is FROZEN at the first window
                       (learned merges persisted to ``_tokenizer.json``)
                       — retraining per window would silently change
                       every previously-packed token id
    pack               mapInArrow concat-and-chunk, one shard dir per
                       (split, window); shards are append-only

Per-window cost is O(change): no stage reads, shuffles or re-signs
the existing corpus. That is the whole point — the batch pipeline at
10^10 docs is a full-corpus job per refresh; this one is a micro-batch.

State layout under ``out_dir`` (every table a LakeTable whose epoch
markers carry the source-version cursor — the construction shared
with the engine's binlog epochs, ann.sync_index and mview):

    _members/      key doc_id: (_h, status, split, n_tok) for every
                   exact-stage survivor; status is 'accepted' (packed),
                   'near_dup' (shadowed by an indexed doc),
                   'decontaminated' or 'dsir_rejected'. Commits LAST —
                   its watermark IS
                   the pipeline cursor, so a crash anywhere replays
                   the window deterministically.
    _hashes/       key _h: content-hash -> owning doc_id (the
                   exact-dedup universe; a hash is freed when its
                   owner's content leaves the corpus).
    _sig/ _band/   the minhash signature + band posting-list indexes
                   over the near-dup universe (accepted +
                   decontaminated members).
    _retractions/  key doc_id: (reason, src_version). Packed shards
                   are immutable; a member that is later deleted or
                   updated is recorded here and consumers filter packs
                   by provenance (:meth:`CorpusPipeline.read_packs`
                   ``filter_retracted=True``) — the standard
                   data-deletion answer at training-shard scale.
    _tokenizer.json  frozen BPE merges (written once).
    _lm.json         frozen perplexity-gate LM (written once, only
                     when ``cfg.max_ppl`` is set).
    _dsir.json       frozen DSIR selection model + admission cutoff
                     (written once, only when ``cfg.dsir_frac`` is
                     set and a target corpus was provided).
    split=<s>/w<lo>-<hi>/  packed parquet shards for the window.

Replay safety: every gate decision is a deterministic function of
(window-start state, window changes). State tables that committed
before a crash are skipped on re-run (their epoch watermark already
covers the window); the probes they serve stay correct because a
batch doc matching its OWN just-committed hash/signature rows is
self-exempt. Shard dirs are whole-window overwrites.

Semantics notes (deliberate, documented divergences from batch):

* Rejection is final per content version — a doc rejected as a
  near-dup is NOT revived when its shadowing representative is later
  deleted (earliest-wins streaming-dedup semantics). Re-upserting the
  doc re-gates it.
* An update to a member retracts its old contribution and re-gates
  the new content in the same window — even if the content is
  unchanged (consumers using retractions see the doc move to the new
  window's shards; token state never goes stale).
* Docs rejected at quality/exact stages are untracked; an update to
  one simply arrives as a fresh doc.

Reference anchors: the reference validates files one upload at a time
against persisted config (fns-csv-pipeline Kotlin functions); this is
that per-arrival gate generalized to corpus membership, with the
lake's exactly-once machinery replacing Azure Function retries.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..lake import ConcurrentCommitError, LakeTable
from .corpus import CorpusConfig, content_hash_expr, hash_tokenize
from .decontaminate import decontaminate
from .dedup_index import (
    band_index_schema,
    index_schema,
    intra_batch_candidates,
    minhash_signatures,
    near_dup_candidates_indexed,
    sync_band_index,
    sync_dedup_index,
)
from .packing import pack_sequences
from .sampling import assign_split
from .textquality import filter_quality

_ST_ACCEPTED = "accepted"
_ST_NEAR_DUP = "near_dup"
_ST_DECON = "decontaminated"
_ST_DSIR = "dsir_rejected"


def _members_schema(key_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", key_type, False),
            T.StructField("_h", T.StringType(), True),
            T.StructField("status", T.StringType(), True),
            T.StructField("split", T.StringType(), True),
            T.StructField("n_tok", T.LongType(), True),
        ]
    )


def _hashes_schema(key_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField("_h", T.StringType(), False),
            T.StructField("owner", key_type, True),
        ]
    )


def _retractions_schema(key_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", key_type, False),
            T.StructField("reason", T.StringType(), True),
            T.StructField("src_version", T.LongType(), True),
        ]
    )


def read_frozen_dsir(io, out_dir: str) -> dict | None:
    """The DSIR (model, cutoff) pair frozen under ``out_dir``, or None
    before the first non-empty window has frozen one."""
    try:
        return json.loads(io.read_text(os.path.join(out_dir, "_dsir.json")))
    except FileNotFoundError:
        return None


class CorpusPipeline:
    """Continuous corpus preparation over a source LakeTable.

    ``source`` needs (key, <text>) — or, for the north-star
    tokenized-sequence table, (key, tokens) with no text: gates then
    run over the token arrays exactly as in the batch pipeline, the
    word-based quality gate is skipped, and eval sets must carry
    ``tokens``.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: LakeTable,
        out_dir: str,
        eval_sets: list[DataFrame] | None = None,
        config: CorpusConfig | None = None,
        text: str = "text",
        io=None,
        compact_every: int = 8,
        vacuum_keep_last: int = 20,
        dsir_target: DataFrame | None = None,
    ):
        self.spark = spark
        self.source = source
        self.out_dir = out_dir
        # FileIO seam: default to the SOURCE table's io so every piece
        # of pipeline state (state tables AND the frozen tokenizer)
        # lives on the same store as the table it derives from — a
        # CdcEngine-opened pipeline on an object-store table must not
        # silently fall back to local-FS state.
        self.io = io if io is not None else getattr(source, "io", None)
        io = self.io
        self.cfg = config or CorpusConfig()
        self.cfg.validate_fim()
        # state-table maintenance, mirroring the engine's sidecar
        # policy (EngineConfig.compact_every): each window is one MOR
        # merge per state table — without periodic compaction a
        # long-lived pipeline's probes pay growing per-bucket fold
        # depth, and without vacuum the snapshot history leaks
        self.compact_every = compact_every
        self.vacuum_keep_last = vacuum_keep_last
        self.eval_sets = list(eval_sets or [])
        src_cols = [f.name for f in source.schema.fields]
        self.has_text = text in src_cols
        self.text = text
        if not self.has_text and "tokens" not in src_cols:
            raise ValueError(
                f"source needs a {text!r} column or a pre-tokenized "
                "'tokens' column"
            )
        self.unit = text if self.has_text else "tokens"
        # DSIR targeted selection (cfg.dsir_frac): the target corpus is
        # only needed ONCE, at model-freeze time (first non-empty
        # window). A pipeline resumed after the freeze needs no target.
        self.dsir_target = dsir_target
        if self.dsir_target is not None and self.unit not in dsir_target.columns:
            raise ValueError(
                f"dsir_target lacks the {self.unit!r} column the corpus "
                "gates run on"
            )
        for ev in self.eval_sets:
            if self.unit not in ev.columns:
                raise ValueError(
                    f"eval set lacks the {self.unit!r} column the corpus "
                    "gates run on"
                )
        self.key_type = next(
            f.dataType for f in source.schema.fields if f.name == source.key
        )
        nb = source.num_buckets
        self.members = self._open(
            "_members", _members_schema(self.key_type), "doc_id", nb, io
        )
        self.hashes = self._open(
            "_hashes", _hashes_schema(self.key_type), "_h", nb, io
        )
        self.sig = self._open(
            "_sig", index_schema(self.key_type), "doc_id", nb, io
        )
        self.band = self._open(
            "_band", band_index_schema(self.key_type), "bkey", nb, io
        )
        self.retractions = self._open(
            "_retractions", _retractions_schema(self.key_type), "doc_id", nb, io
        )

    def _open(self, name, schema, key, num_buckets, io) -> LakeTable:
        root = os.path.join(self.out_dir, name)
        t = LakeTable(self.spark, root, io=io)
        if t.current_version() == 0:
            t = LakeTable.create(
                self.spark, root, schema, key=key,
                num_buckets=num_buckets, io=io,
            )
        return t

    # -- frozen tokenizer -------------------------------------------
    @property
    def _tok_path(self) -> str:
        return os.path.join(self.out_dir, "_tokenizer.json")

    def _read_frozen(self):
        try:
            doc = json.loads(self.io.read_text(self._tok_path))
        except FileNotFoundError:
            return None
        return [tuple(m) for m in doc["merges"]]

    def _frozen_merges(self, accepted: DataFrame, report: dict):
        """Load the persisted merge rules, or freeze them now (first
        window): explicit ``cfg.bpe_merges`` wins, else learn
        ``cfg.bpe_learn_merges`` merges from this window's accepted
        docs — the same post-gate position the batch pipeline learns
        at. Returns None for the hash stand-in tokenizer.

        Persistence goes through the FileIO seam (same store as the
        state tables — on an object-store io a raw ``os.path`` check
        would always miss and silently re-learn merges every window,
        drifting token ids). ``put_if_absent`` is the write-once
        freeze: a racing writer loses the conditional PUT and adopts
        the winner's merges."""
        frozen = self._read_frozen()
        if frozen is not None:
            return frozen
        merges = self.cfg.bpe_merges
        if merges is None and self.cfg.bpe_learn_merges > 0:
            from .bpe import learn_bpe

            merges = learn_bpe(
                accepted,
                self.cfg.bpe_learn_merges,
                text=self.text,
                max_words=self.cfg.bpe_max_words,
            )
            report["bpe_merges_learned"] = len(merges)
        if not merges:
            return None
        try:
            self.io.put_if_absent(
                self._tok_path,
                json.dumps({"merges": [list(m) for m in merges]}),
            )
        except ConcurrentCommitError:
            report.pop("bpe_merges_learned", None)
            return self._read_frozen()  # raced: the frozen rules win
        return merges

    # -- frozen perplexity LM ---------------------------------------
    @property
    def _lm_path(self) -> str:
        return os.path.join(self.out_dir, "_lm.json")

    def _read_frozen_lm(self):
        try:
            return json.loads(self.io.read_text(self._lm_path))
        except FileNotFoundError:
            return None

    def _frozen_lm(self, gated: DataFrame, report: dict):
        """Load the persisted perplexity-gate LM, or freeze one now
        (first non-empty window): learned on this window's
        post-quality docs — the same position the batch pipeline
        trains at. Same write-once ``put_if_absent`` contract as the
        tokenizer freeze: a racing writer adopts the winner's model,
        so gate decisions never depend on which replica won. An empty
        window freezes nothing (the gate no-ops until a window with
        content arrives — freezing a vocab-0 model would admit
        everything forever)."""
        from .lmfilter import learn_bigram_lm, lm_to_dict

        frozen = self._read_frozen_lm()
        if frozen is not None:
            return frozen
        lm = learn_bigram_lm(
            gated,
            text_col=self.unit,
            id_col="doc_id",
            min_count=self.cfg.lm_min_count,
        )
        doc = lm_to_dict(lm, self.cfg.lm_max_bigrams)
        if doc["vocab_size"] == 0:
            return None
        report["lm_vocab"] = doc["vocab_size"]
        try:
            self.io.put_if_absent(self._lm_path, json.dumps(doc))
        except ConcurrentCommitError:
            report.pop("lm_vocab", None)
            return self._read_frozen_lm()  # raced: the frozen LM wins
        return doc

    # -- frozen DSIR selection model + cutoff -----------------------
    @property
    def _dsir_path(self) -> str:
        return os.path.join(self.out_dir, "_dsir.json")

    def _frozen_dsir(self, accepted: DataFrame, report: dict):
        """Load the persisted DSIR (model, cutoff) pair, or freeze one
        now. The model is the target-vs-pool log-ratio learned with
        window-1's post-decontamination docs as the pool (the same
        position the batch pipeline learns at); the cutoff is window
        1's k-th largest Gumbel score, k = round(dsir_frac * window) —
        so window 1's own selection is EXACTLY the batch top-k, and
        every later window applies the frozen admission boundary as a
        pure filter (the lmfilter freeze discipline: re-deriving the
        cutoff per window would silently shift what "target-like
        enough" means as the pool drifts). Needs ``dsir_target`` only
        at freeze time; an empty window freezes nothing."""
        from .dsir import gumbel_scored, learn_dsir

        frozen = read_frozen_dsir(self.io, self.out_dir)
        if frozen is not None:
            return frozen
        if self.dsir_target is None:
            return None
        n = accepted.count()
        if n == 0:
            return None
        cfg = self.cfg
        model = learn_dsir(
            self.dsir_target,
            accepted,
            text_col=self.unit,
            id_col="doc_id",
            n_buckets=cfg.dsir_buckets,
            k_grams=tuple(cfg.dsir_grams),
            alpha=cfg.dsir_alpha,
        )
        k = max(1, int(round(cfg.dsir_frac * n)))
        kth = (
            gumbel_scored(
                accepted, model, seed=cfg.seed,
                text_col=self.unit, id_col="doc_id",
            )
            .orderBy(F.col("dsir_score").desc(), "doc_id")
            .limit(k)
            .agg(F.min("dsir_score").alias("cut"))
            .collect()[0]["cut"]
        )
        doc = {"model": model.to_dict(), "cutoff": float(kth)}
        report["dsir_frozen"] = {"pool": n, "k": k, "cutoff": float(kth)}
        try:
            self.io.put_if_absent(self._dsir_path, json.dumps(doc))
        except ConcurrentCommitError:
            report.pop("dsir_frozen", None)
            # raced: the frozen pair wins
            return read_frozen_dsir(self.io, self.out_dir)
        return doc

    # -- the fold ---------------------------------------------------
    def sync(self) -> dict:
        """Fold every source commit in ``(synced, current]`` into the
        corpus; returns the accounting report. No-op when current."""
        cfg = self.cfg
        synced = max(self.members.epoch_state()[0], 0)
        cur = self.source.current_version()
        if cur <= synced:
            return {"synced_through": synced, "applied": False}
        epochs = list(range(synced + 1, cur + 1))
        report: dict = {
            "window": [synced, cur],
            "synced_through": cur,
            "applied": True,
            "stages": {},
            "splits": {},
            "phase_sec": {},
        }
        _t = [time.monotonic()]

        def _mark(name: str) -> None:
            now = time.monotonic()
            report["phase_sec"][name] = round(now - _t[0], 3)
            _t[0] = now

        key, unit = self.source.key, self.unit

        # window collapsed to each key's final state (the
        # _window_latest construction, but keyed on the source's key
        # name and materialized once for the whole fold)
        ch = self.source.changes(synced, cur)
        latest = (
            ch.groupBy(key)
            .agg(
                F.max_by(
                    F.struct(unit, "_change_type"),
                    F.struct(
                        F.col("_commit_version"),
                        F.col("_change_type") != F.lit("delete"),
                    ),
                ).alias("_c")
            )
            .select(
                F.col(key).alias("doc_id"),
                F.col(f"_c.{unit}").alias(unit),
                F.col("_c._change_type").alias("_change_type"),
            )
            .localCheckpoint(eager=True)
        )
        report["stages"]["window_docs"] = latest.count()

        # members whose doc changed: their old contribution leaves the
        # corpus (probe sees the WINDOW-START state — members commits
        # last, so this is replay-stable)
        leaving = (
            self.members.probe(latest.select("doc_id"))
            .join(latest.select("doc_id", "_change_type"), "doc_id")
            .localCheckpoint(eager=True)
        )
        report["stages"]["retracted"] = leaving.count()
        retract_ids = leaving.select("doc_id")

        incoming = latest.filter(F.col("_change_type") != "delete").select(
            "doc_id", unit
        )
        report["stages"]["incoming"] = incoming.count()
        _mark("window_read")

        # 1) quality (text corpora)
        cur_df = incoming
        if cfg.quality and self.has_text:
            cur_df = filter_quality(
                cur_df, cfg.thresholds, text=unit, id_col="doc_id"
            ).localCheckpoint(eager=False)
            report["stages"]["after_quality"] = cur_df.count()
        elif cfg.quality:
            report["stages"]["after_quality"] = "skipped (no text column)"

        # 1b) perplexity gate under the frozen LM (cfg.max_ppl)
        if cfg.max_ppl is not None:
            from .lmfilter import filter_by_perplexity, lm_from_dict

            lmd = self._frozen_lm(cur_df, report)
            if lmd is not None:
                cur_df = filter_by_perplexity(
                    cur_df,
                    lm_from_dict(self.spark, lmd),
                    cfg.max_ppl,
                    text_col=unit,
                    id_col="doc_id",
                ).localCheckpoint(eager=False)
                report["stages"]["after_perplexity"] = cur_df.count()
            else:
                report["stages"]["after_perplexity"] = (
                    "skipped (no model yet)"
                )

        # 2) exact dedup: intra-window keep-min, then probe the
        # persisted hash index. A match is void when the matched hash
        # is owned by this doc itself (replay after a committed hash
        # merge) or by a doc whose content is leaving this window.
        hashed = cur_df.withColumn(
            "_h", content_hash_expr(unit, self.has_text)
        )
        if cfg.exact_dedup:
            win_keep = hashed.groupBy("_h").agg(
                F.min("doc_id").alias("doc_id")
            )
            hashed = hashed.join(win_keep, ["_h", "doc_id"], "left_semi")
            taken = (
                self.hashes.probe(hashed.select("_h"))
                .withColumnRenamed("owner", "_owner")
                .join(retract_ids.withColumn("_gone", F.lit(True)),
                      F.col("_owner") == F.col("doc_id"), "left")
                .filter(F.col("_gone").isNull())
                .select("_h", "_owner")
            )
            hashed = hashed.join(taken, "_h", "left").filter(
                F.col("_owner").isNull() | (F.col("_owner") == F.col("doc_id"))
            ).drop("_owner")
        exact = hashed.select("doc_id", unit, "_h").localCheckpoint(
            eager=True
        )
        report["stages"]["after_exact_dedup"] = exact.count()
        _mark("quality_exact")

        # 3) near-dup gate: sign once; corpus candidates from the
        # bucket-pruned posting probe (minus leaving docs' outgoing
        # content), intra-window candidates from the capped witness
        # self-join ordered by doc_id (arrival order == id order
        # within a window, matching the batch min-id representative).
        if cfg.near_dup:
            sigs = minhash_signatures(
                exact.select("doc_id", unit), text=unit, keep_short=False
            ).localCheckpoint(eager=True)
            # exclude (a) leaving docs' outgoing content and (b) any
            # same-window doc — on replay after a committed index sync
            # the probe would otherwise return this window's own docs,
            # gating docs the first run accepted (intra-window pairs
            # are the witness-ordered self-join's job, which stays
            # deterministic)
            corpus_pairs = (
                near_dup_candidates_indexed(
                    self.band, exact, text=unit, signatures=sigs
                )
                .join(
                    retract_ids.withColumnRenamed("doc_id", "corpus_doc_id"),
                    "corpus_doc_id",
                    "left_anti",
                )
                .join(
                    exact.select(F.col("doc_id").alias("corpus_doc_id")),
                    "corpus_doc_id",
                    "left_anti",
                )
            )
            intra = intra_batch_candidates(
                exact.withColumn("_nd_ord", F.col("doc_id")),
                text=unit,
                order_col="_nd_ord",
                signatures=sigs,
            )
            gated = (
                corpus_pairs.select("batch_doc_id")
                .unionByName(intra.select("batch_doc_id"))
                .distinct()
                .withColumnRenamed("batch_doc_id", "doc_id")
            )
            # no broadcast hint: on a bootstrap window `gated` is
            # O(corpus duplicates) — unbounded for the driver; AQE
            # broadcasts it when it is actually small
            survivors = exact.join(
                gated, "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
        else:
            sigs = minhash_signatures(
                exact.select("doc_id", unit), text=unit, keep_short=False
            ).localCheckpoint(eager=True)
            survivors = exact
        report["stages"]["after_near_dup"] = survivors.count()
        _mark("near_dup")

        # 4) decontamination (broadcast eval grams, O(window))
        accepted = survivors
        for ev in self.eval_sets:
            accepted = decontaminate(
                accepted,
                ev,
                n=cfg.decontaminate_ngram,
                min_hits=cfg.decontaminate_min_hits,
                text=unit,
                id_col="doc_id",
            )
        # 4b) DSIR targeted selection under the frozen (model, cutoff)
        # pair (cfg.dsir_frac): a pure filter on the deterministic
        # Gumbel score — map-only, O(window), replay-stable.
        # ``pre_dsir`` keeps the pre-gate pool so the members table can
        # record the dsir_rejected verdict distinctly.
        pre_dsir = None
        if cfg.dsir_frac is not None:
            accepted = accepted.localCheckpoint(eager=True)
            pre_dsir = accepted
            dsd = self._frozen_dsir(accepted, report)
            if dsd is not None:
                from .dsir import DsirModel, gumbel_scored

                accepted = gumbel_scored(
                    accepted,
                    DsirModel.from_dict(dsd["model"]),
                    seed=cfg.seed,
                    text_col=unit,
                    id_col="doc_id",
                ).filter(
                    F.col("dsir_score") >= dsd["cutoff"]
                ).drop("log_w", "dsir_score").localCheckpoint(eager=True)
                report["stages"]["after_dsir"] = accepted.count()
            else:
                report["stages"]["after_dsir"] = "skipped (no model yet)"

        accepted = accepted.localCheckpoint(eager=True)
        n_accepted = accepted.count()
        report["stages"]["accepted"] = n_accepted

        # 5) split + tokenize (frozen) + per-window pack per split
        accepted = assign_split(
            accepted, cfg.splits, key="doc_id", seed=cfg.seed
        )
        if unit != "tokens":
            merges = self._frozen_merges(accepted, report)
            if merges:
                from .bpe import bpe_encode

                accepted = bpe_encode(accepted, merges, text=unit)
            else:
                accepted = hash_tokenize(
                    accepted, text=unit, vocab_size=cfg.vocab_size
                )
        # shared post-tokenize FIM stage (hash-deterministic, so the
        # batch pipeline transforms the same docs identically)
        accepted = cfg.apply_fim(accepted, "doc_id")
        accepted = accepted.withColumn(
            "n_tok", F.size("tokens").cast("long")
        ).localCheckpoint(eager=True)
        _mark("decon_split_tokenize")

        wtag = f"w{synced + 1:08d}-{cur:08d}"
        # Crash-replay safety for the shard dirs: packs are written
        # BEFORE any state commit, and the cursor (members) commits
        # last — so a crash after the pack write replays the window.
        # If the source gained commits before the retry, the retry
        # folds a WIDENED window (same lo, larger hi) under a
        # different wtag; the crashed run's narrower dirs would never
        # be overwritten and read_packs would serve every doc of the
        # crashed window twice. Any sibling dir sharing this window's
        # lo is by construction such a superseded partial window —
        # remove it unconditionally (even when this window packs
        # nothing: the superseded dir may hold docs since deleted).
        for name in sorted(cfg.splits):
            for wlo, whi, path in self._window_dirs(name):
                if wlo == synced + 1 and whi != cur:
                    self._delete_dir(path)
        if n_accepted:
            # deterministic partitioning -> deterministic packs on
            # replay (the window dir is overwritten whole either way);
            # partition count sized to the window so tiny windows
            # don't pay one padded tail pack per idle partition
            nparts = max(1, min(
                self.spark.sparkContext.defaultParallelism,
                n_accepted // 256 + 1,
            ))
            for name in sorted(cfg.splits):
                part = accepted.filter(F.col("split") == name).select(
                    "doc_id", "tokens"
                )
                packed = pack_sequences(
                    part.repartition(nparts, F.col("doc_id")),
                    seq_len=cfg.seq_len,
                    eos_id=cfg.eos_id,
                    pad_id=cfg.pad_id,
                )
                dest = os.path.join(self.out_dir, f"split={name}", wtag)
                packed.write.mode("overwrite").parquet(dest)
                row = (
                    self.spark.read.parquet(dest)
                    .agg(
                        F.count("*").alias("n_packs"),
                        F.sum("n_real").alias("real_tokens"),
                    )
                    .collect()[0]
                )
                report["splits"][name] = {
                    "n_packs": int(row["n_packs"] or 0),
                    "real_tokens": int(row["real_tokens"] or 0),
                    "path": dest,
                }

        _mark("pack_write")

        # 6) state commits, sinks before the cursor, each idempotent
        # under its own epoch watermark (the crash-safe multi-table
        # order proven by the dedup-index sidecars)
        retr_rows = (
            leaving.filter(F.col("status") == _ST_ACCEPTED)
            .select(
                "doc_id",
                F.when(F.col("_change_type") == "delete", F.lit("deleted"))
                .otherwise(F.lit("updated"))
                .alias("reason"),
                F.lit(cur).cast("long").alias("src_version"),
            )
        )
        if max(self.retractions.epoch_state()[0], 0) < cur:
            if report["stages"]["retracted"]:
                self.retractions.merge(retr_rows, mode="mor", epochs=epochs)
            else:
                self.retractions.mark_epochs(epochs)

        if max(self.hashes.epoch_state()[0], 0) < cur:
            ups = exact.select("_h", F.col("doc_id").alias("owner"))
            if not cfg.exact_dedup:
                # without the gate several docs may share a hash; the
                # merge contract is one row per key
                ups = ups.groupBy("_h").agg(F.min("owner").alias("owner"))
            # free only hashes the leaving doc actually OWNS: with
            # exact_dedup off several members share a hash, and the
            # index row may record a different, still-live owner —
            # deleting on _h alone would orphan that doc's entry. One
            # extra bucket-pruned probe, O(leaving).
            leave_h = leaving.select(
                F.col("doc_id").alias("owner"), "_h"
            ).filter(F.col("_h").isNotNull())
            dels = (
                self.hashes.probe(leave_h.select("_h"))
                .join(leave_h, ["_h", "owner"], "left_semi")
                .select("_h")
            )
            if report["stages"]["after_exact_dedup"] or report["stages"]["retracted"]:
                self.hashes.merge(
                    ups, delete_keys=dels, mode="mor", epochs=epochs
                )
            else:
                self.hashes.mark_epochs(epochs)

        # near-dup universe delta: survivors + decontaminated members
        # enter; leaving members that were indexed leave. Synthesized
        # as a changes frame for the shared index folds (band BEFORE
        # sig — the band fold reads window-start signatures).
        index_dels = leaving.filter(
            F.col("status") != _ST_NEAR_DUP
        ).select("doc_id")
        unit_type = next(
            f.dataType for f in self.source.schema.fields if f.name == unit
        )
        synth = (
            survivors.select(
                "doc_id", unit, F.lit("upsert").alias("_change_type")
            )
            .unionByName(
                index_dels
                .join(survivors.select("doc_id"), "doc_id", "left_anti")
                .select(
                    "doc_id",
                    F.lit(None).cast(unit_type).alias(unit),
                    F.lit("delete").alias("_change_type"),
                )
            )
            # consumed by both index folds several times; one row per
            # key by construction (updated members re-entering appear
            # only as upserts)
            .localCheckpoint(eager=True)
        )
        if max(self.band.epoch_state()[0], 0) < cur:
            sync_band_index(
                self.band, self.sig, synth, text=unit,
                epochs=epochs, sigs=sigs, latest=synth,
            )
        if max(self.sig.epoch_state()[0], 0) < cur:
            sync_dedup_index(
                self.sig, synth, text=unit,
                epochs=epochs, sigs=sigs, latest=synth,
            )

        # the cursor: one merge recording every exact-stage survivor's
        # verdict, deleting members that left without re-entering
        acc_ids = accepted.select("doc_id", "split", "n_tok")
        # the frame that defines "passed decontamination": the pre-DSIR
        # pool when the gate ran, else the accepted frame itself
        decon_pool = pre_dsir if pre_dsir is not None else accepted
        decon_ids = (
            survivors.select("doc_id")
            .join(decon_pool.select("doc_id"), "doc_id", "left_anti")
            .withColumn("_st", F.lit(_ST_DECON))
        )
        dsir_ids = (
            decon_pool.select("doc_id")
            .join(accepted.select("doc_id"), "doc_id", "left_anti")
            .withColumn("_st", F.lit(_ST_DSIR))
        )
        nd_ids = (
            exact.select("doc_id")
            .join(survivors.select("doc_id"), "doc_id", "left_anti")
            .withColumn("_st", F.lit(_ST_NEAR_DUP))
        )
        verdicts = (
            exact.select("doc_id", "_h")
            .join(acc_ids, "doc_id", "left")
            .join(decon_ids.unionByName(nd_ids).unionByName(dsir_ids),
                  "doc_id", "left")
            .select(
                "doc_id",
                "_h",
                F.coalesce(F.col("_st"), F.lit(_ST_ACCEPTED)).alias("status"),
                "split",
                "n_tok",
            )
        )
        member_dels = retract_ids.join(
            exact.select("doc_id"), "doc_id", "left_anti"
        )
        if report["stages"]["after_exact_dedup"] or report["stages"]["retracted"]:
            self.members.merge(
                verdicts, delete_keys=member_dels, mode="mor", epochs=epochs
            )
        else:
            self.members.mark_epochs(epochs)
        _mark("state_commits")
        self._maintain()
        _mark("maintenance")
        return report

    def _maintain(self) -> None:
        """Bound the state tables' MOR depth + snapshot history (every
        table is single-row-per-key, so compact's per-key-winner
        rewrite is exact — the engine sidecars' argument)."""
        if self.compact_every <= 0 and self.vacuum_keep_last <= 0:
            return
        for t in (
            self.members, self.hashes, self.sig, self.band,
            self.retractions,
        ):
            if (
                self.compact_every > 0
                and int(t.manifest().get("mor_depth", 0)) >= self.compact_every
            ):
                t.compact(min_depth=self.compact_every)
            if self.vacuum_keep_last > 0:
                t.vacuum(keep_last=self.vacuum_keep_last)

    # -- shard-dir bookkeeping --------------------------------------
    # Pack shards are DATA files written by Spark's own committers, so
    # (per the FileIO contract — only manifests flow through the io
    # seam) they are listed/deleted through the Hadoop FileSystem of
    # their own path: the same filesystem Spark wrote them with, on
    # whatever scheme out_dir uses.
    _WDIR = re.compile(r"w(\d{8})-(\d{8})$")

    def _hadoop_fs(self, path: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def _window_dirs(self, split: str) -> list[tuple[int, int, str]]:
        """``(lo, hi, path)`` for every window shard dir of a split."""
        base = os.path.join(self.out_dir, f"split={split}")
        fs, jpath = self._hadoop_fs(base)
        if not fs.exists(jpath):
            return []
        out = []
        for st in fs.listStatus(jpath):
            m = self._WDIR.match(st.getPath().getName())
            if m and st.isDirectory():
                out.append(
                    (int(m.group(1)), int(m.group(2)),
                     st.getPath().toString())
                )
        return sorted(out)

    def _delete_dir(self, path: str) -> None:
        fs, jpath = self._hadoop_fs(path)
        fs.delete(jpath, True)

    # -- consumer surface -------------------------------------------
    def read_packs(
        self,
        split: str,
        filter_retracted: bool = False,
        shuffle_seed: int | None = None,
    ) -> DataFrame:
        """All packed shards of ``split`` across windows. With
        ``filter_retracted``, packs from windows STRICTLY BEFORE a
        contained doc's retraction are dropped (conservative
        whole-pack filtering over the ``docs`` provenance column — at
        2048-token packs a retraction costs at most a few packs); a
        doc re-accepted after an update keeps its new windows' packs,
        because the retraction's ``src_version`` equals the window
        that re-packed the new content.

        ``shuffle_seed``: deterministic global shuffle of the packs
        (training-epoch order randomization): one range-sort on
        ``xxhash64(seed, window_hi, pack_id)`` — a seeded, stable,
        distributed permutation; vary the seed per epoch.

        A split with no shard dirs yet (engine tail before the first
        non-empty window) returns an EMPTY frame with the pack
        schema, not an AnalysisException. Defense in depth against a
        crashed narrower window whose dir survived a cleanup race:
        only the max-``hi`` dir per window ``lo`` is read — sibling
        dirs sharing a ``lo`` are superseded partials."""
        best: dict[int, tuple[int, str]] = {}
        for lo, hi, path in self._window_dirs(split):
            if lo not in best or hi > best[lo][0]:
                best[lo] = (hi, path)
        paths = [p for _, p in sorted(best.values())]
        if not paths:
            from .packing import pack_schema

            schema = T.StructType(
                list(pack_schema().fields)
                + [T.StructField("window_hi", T.LongType(), True)]
            )
            return self.spark.createDataFrame([], schema)
        # window_hi (the window's upper source version) rides the dir
        # name; derived HERE because input_file_name() only resolves
        # on a single-source plan
        df = self.spark.read.parquet(*paths).withColumn(
            "window_hi",
            F.regexp_extract(
                F.input_file_name(), r"w\d{8}-(\d{8})", 1
            ).cast("long"),
        )
        def _shuffled(out: DataFrame) -> DataFrame:
            if shuffle_seed is None:
                return out
            # (window_hi, pack_id) is unique within a split, so the
            # hash gives a total order; sorted LAST so no later join
            # can disturb it
            return out.orderBy(
                F.xxhash64(
                    F.lit(int(shuffle_seed)), "window_hi", "pack_id"
                )
            )

        if not filter_retracted:
            return _shuffled(df)
        retr = self.retractions.read().select(
            F.col("doc_id").cast("string").alias("_rid"),
            F.col("src_version").alias("_rv"),
        )
        # pack identity = source file + pack_id (unique within a
        # window's write)
        keyed = df.withColumn(
            "_pid", F.concat(F.input_file_name(), F.col("pack_id"))
        )
        hit = (
            keyed.select(
                "_pid", "window_hi", F.explode("docs").alias("_rid")
            )
            .join(retr, "_rid")
            .filter(F.col("window_hi") < F.col("_rv"))
            .select("_pid")
            .distinct()
        )
        return _shuffled(keyed.join(hit, "_pid", "left_anti").drop("_pid"))

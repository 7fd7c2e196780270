"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard targeted-data-selection method for pre-training corpora
(used for LLaMA-style domain targeting and the RedPajama-v2 quality
work): fit two bag-of-hashed-n-grams distributions — p over a small
TARGET corpus (the domain you want more of) and q over the RAW pool —
and score every raw document with the importance log-weight

    log w(d) = sum over d's hashed n-grams b of [ log p(b) - log q(b) ]

then select k documents by Gumbel top-k over ``log w`` (sampling
without replacement proportional to w — plain top-k would take near
duplicates of the single most target-like document).

Scale shape (the whole point at 100 TB):

- **features** are map-only: staged word split -> word 1/2-grams
  (the engine-wide gram definition, operators/grams.py) -> xxhash64
  of the gram string -> pmod into ``n_buckets`` (default 8192).
  Hashing the gram STRING (not the raw token slice) keeps the pure-
  Python mirror (dexspark.xxh64) bit-equal for the test oracle, the
  same parity trick as operators/fim.py.
- **learn** is ONE exchange per corpus, keyed on at most ``n_buckets``
  values (map-side partial counts collapse everything), then a
  driver-side log-ratio over B floats. The model IS a B-length array.
- **score** is ZERO-shuffle: the log-ratio array rides as a dense
  array literal (the vocabmap LUT trick) and each document folds
  ``element_at(lut, bucket)`` over its own gram buckets — whole-stage
  codegen, no join, no Python, no exchange.
- **select**: Gumbel noise is derived from ``hash_frac(id, seed)``
  (operators/sampling.py) so the draw is deterministic, engine-
  independent, and stable under repartitioning. ``method='topk'``
  compiles to TakeOrderedAndProject (per-partition top-k, driver
  merge — fine for k up to millions); ``method='threshold'`` finds
  the score cutoff with ``approxQuantile`` and keeps the selection a
  pure filter — the 10^10-row path where even k rows on one ordering
  pass is too much.

Reference anchor: the reference admits files by written content rules
(SURVEY §2.3); DSIR is the same admission decision with a learned,
target-relative rule — the data-selection member of the quality-gate
family (textquality = written thresholds, lmfilter = likelihood under
a trusted LM, dsir = likelihood RATIO between target and pool).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from .grams import gram_strings
from .sampling import hash_frac

DEFAULT_BUCKETS = 8192
DEFAULT_GRAMS = (1, 2)


def _staged_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _w) with the word array STAGED into its own projection
    (the engine-wide quadratic-split rule). String columns split on
    single spaces; array columns (the north-star token payload) have
    elements stringified — same dtype switch as lmfilter/minhash."""
    from pyspark.sql.types import ArrayType

    if isinstance(df.schema[text_col].dataType, ArrayType):
        words = F.transform(F.col(text_col), lambda x: x.cast("string"))
    else:
        words = F.split(F.col(text_col), " ")
    return df.select(id_col, words.alias("_w"))


def _bucket_arrays(
    words: Column, n_buckets: int, k_grams: tuple[int, ...]
) -> Column:
    """Concatenated array of hashed-gram buckets (int) for all gram
    widths. ``pmod(xxhash64(gram-string), B)`` — nonnegative and
    Python-mirrorable (dexspark.xxh64 of ``" ".join(gram)``).

    The default widths get direct forms (measured 6x on the bench
    corpus): unigrams hash the word itself — no slice, no join;
    bigrams zip the array against its own 1-shift and hash the
    2-word concat — O(n) with no per-gram slice (the lmfilter
    ``arrays_zip`` trick). Wider grams fall back to the generic
    gram_strings path. Every part coalesces NULL word arrays to
    empty (a NULL-text doc has no grams, same as word_index)."""
    B = F.lit(n_buckets)
    empty = F.array().cast("array<int>")
    parts = []
    for k in k_grams:
        if k == 1:
            part = F.transform(
                words, lambda w: F.pmod(F.xxhash64(w), B).cast("int")
            )
        elif k == 2:
            n1 = F.greatest(F.size(words) - 1, F.lit(0))
            part = F.zip_with(
                F.slice(words, 1, n1),
                F.slice(words, 2, n1),
                lambda a, b: F.pmod(
                    F.xxhash64(F.concat_ws(" ", a, b)), B
                ).cast("int"),
            )
        else:
            part = F.transform(
                gram_strings(words, k),
                lambda g: F.pmod(F.xxhash64(g), B).cast("int"),
            )
        parts.append(F.coalesce(part, empty))
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def bucketed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    k_grams: tuple[int, ...] = DEFAULT_GRAMS,
) -> DataFrame:
    """(id, _b array<int>) — each document's hashed n-gram buckets,
    multiplicity preserved (DSIR weights count occurrences). Map-only."""
    staged = _staged_words(df, text_col, id_col)
    return staged.select(
        id_col, _bucket_arrays(F.col("_w"), n_buckets, k_grams).alias("_b")
    )


@dataclass
class DsirModel:
    """log p(b) - log q(b) per bucket, plus the featurization config
    (a scorer MUST featurize exactly as the learner did)."""

    log_ratio: list[float]
    n_buckets: int = DEFAULT_BUCKETS
    k_grams: tuple[int, ...] = DEFAULT_GRAMS
    alpha: float = 1.0  # additive smoothing used at fit time

    def to_dict(self) -> dict:
        return {
            "log_ratio": list(self.log_ratio),
            "n_buckets": self.n_buckets,
            "k_grams": list(self.k_grams),
            "alpha": self.alpha,
        }

    @classmethod
    def from_dict(cls, doc: dict) -> "DsirModel":
        return cls(
            log_ratio=[float(x) for x in doc["log_ratio"]],
            n_buckets=int(doc["n_buckets"]),
            k_grams=tuple(int(k) for k in doc["k_grams"]),
            alpha=float(doc["alpha"]),
        )


def _bucket_counts(feats: DataFrame, n_buckets: int) -> dict[int, int]:
    """bucket -> total occurrences. ONE exchange, at most ``n_buckets``
    keys after map-side partial aggregation; the collect is B rows."""
    rows = (
        feats.select(F.explode("_b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    return {int(r["b"]): int(r["c"]) for r in rows}


def learn_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    k_grams: tuple[int, ...] = DEFAULT_GRAMS,
    alpha: float = 1.0,
) -> DsirModel:
    """Fit the target (p) and raw (q) hashed-n-gram distributions and
    return their per-bucket log ratio.

    ``alpha`` is additive smoothing over the B buckets — every bucket
    gets a finite ratio, so unseen-in-target grams penalize instead of
    annihilating a document.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (log of an empty bucket)")
    tc = _bucket_counts(
        bucketed_features(target, text_col, id_col, n_buckets, k_grams),
        n_buckets,
    )
    rc = _bucket_counts(
        bucketed_features(raw, text_col, id_col, n_buckets, k_grams),
        n_buckets,
    )
    t_tot = sum(tc.values()) + alpha * n_buckets
    r_tot = sum(rc.values()) + alpha * n_buckets
    ratio = [
        math.log((tc.get(b, 0) + alpha) / t_tot)
        - math.log((rc.get(b, 0) + alpha) / r_tot)
        for b in range(n_buckets)
    ]
    return DsirModel(
        log_ratio=ratio, n_buckets=n_buckets, k_grams=k_grams, alpha=alpha
    )


def score_dsir(
    df: DataFrame,
    model: DsirModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Original rows + ``log_w`` (double). Zero-shuffle: the model is
    a dense array literal; each row folds its own buckets through it.
    A document with no grams (empty text) scores 0.0 — neutral, so
    downstream selection treats it by noise alone rather than crashing
    or silently dropping it (callers gate empties with textquality)."""
    lut = F.lit([float(x) for x in model.log_ratio])
    # fresh temp names against the caller's schema (engine rule);
    # case-insensitive, like Spark's column resolution
    taken = {c.lower() for c in df.columns}
    bname, wname = "_b", "_wtmp"
    while bname in taken:
        bname += "_"
    while wname in taken:
        wname += "_"
    from pyspark.sql.types import ArrayType

    if isinstance(df.schema[text_col].dataType, ArrayType):
        words = F.transform(F.col(text_col), lambda x: x.cast("string"))
    else:
        words = F.split(F.col(text_col), " ")
    staged = df.withColumn(wname, words).withColumn(
        bname, _bucket_arrays(F.col(wname), model.n_buckets, model.k_grams)
    )
    log_w = F.aggregate(
        F.transform(F.col(bname), lambda b: F.element_at(lut, b + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return staged.withColumn("log_w", log_w).drop(bname, wname)


def _gumbel(key: Column, seed: int) -> Column:
    """Deterministic standard-Gumbel draw from the seeded md5 hash
    fraction. Clamped away from 0 so ln never sees it."""
    u = F.greatest(hash_frac(key, seed), F.lit(1e-12))
    return -F.log(-F.log(u))


def gumbel_scored(
    df: DataFrame,
    model: DsirModel,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows + ``log_w`` + ``dsir_score`` (= log_w + deterministic
    Gumbel). The per-row half of importance resampling; selection is a
    top-k or a threshold filter over ``dsir_score``. The incremental
    corpus pipeline freezes a cutoff and gates each window with a pure
    filter on this column (map-only, O(window))."""
    return score_dsir(df, model, text_col, id_col).withColumn(
        "dsir_score", F.col("log_w") + _gumbel(F.col(id_col), seed)
    )


def resample_dsir(
    df: DataFrame,
    model: DsirModel,
    k: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "topk",
) -> DataFrame:
    """Gumbel top-k importance resampling: select ``k`` documents with
    probability proportional to their importance weight, without
    replacement — ``argtop_k(log_w + Gumbel)`` (the Gumbel-max trick).
    Deterministic given ``seed``; stable under repartitioning.

    ``method='topk'``: exact — orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, no full sort).
    ``method='threshold'``: finds the (1 - k/N) score quantile with
    approxQuantile and keeps selection a pure filter; returns ~k rows
    (sampling error of the quantile sketch) — the 10^10-row path.
    """
    scored = gumbel_scored(df, model, seed, text_col, id_col)
    if method == "topk":
        out = scored.orderBy(F.col("dsir_score").desc(), id_col).limit(int(k))
    elif method == "threshold":
        n = scored.count()
        if k >= n:
            out = scored
        else:
            q = 1.0 - (k / n)
            (cut,) = scored.approxQuantile("dsir_score", [q], 0.001)
            out = scored.filter(F.col("dsir_score") >= cut)
    else:
        raise ValueError(f"unknown resample method: {method!r}")
    return out.drop("dsir_score")

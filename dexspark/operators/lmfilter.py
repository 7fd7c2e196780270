"""N-gram language-model perplexity filtering (the CCNet/KenLM gate).

The standard web-corpus quality gate (CCNet, Wenzek et al. 2020;
used by LLaMA/RedPajama/CCNet pipelines): train a small n-gram
language model on trusted text, score every candidate document's
perplexity under it, and keep/band documents by perplexity —
low-perplexity ("head") text reads like the training corpus,
high-perplexity ("tail") text is noise, boilerplate, or another
language. The reference gates files on content rules before
accepting them (validation order 1-13, SURVEY §2.3); this is the
same admission gate for the training-corpus domain, with a learned
rule instead of a written one.

The model here is an interpolation-free bigram LM with add-one
(Laplace) smoothing over the training corpus's own vocabulary:

    p(w | v) = (c(v, w) + 1) / (c(v) + V)

where ``c(v, w)`` is the corpus bigram count, ``c(v)`` the count of
``v`` as a bigram context (documents are prefixed with a ``<s>``
sentinel so the first word is predicted too), and ``V`` the
unigram vocabulary size.  ``ppl(doc) = exp(-mean log p)`` over the
document's bigrams.  KenLM's Kneser-Ney machinery is a driver-side
refinement of the same counts; the distributed shape — which is what
matters at 100 TB — is identical: count n-grams, prune, join, sum.

Scale shape:
- **learn** is two map-side-partial aggregations: ONE shuffle of
  bigram keys (combineByKey semantics via groupBy().count()) and one
  tiny follow-on aggregation of contexts that reuses the bigram
  partitioning (Catalyst sees c1 = sum of c2 over the first key
  component, so no third scan of the corpus).  Vocabulary size is a
  1-row aggregate.
- **prune** (``min_count``) keeps only bigrams seen >= min_count
  times — the standard KenLM count-cutoff.  A pruned LM over real
  text is millions of rows, not billions, so the scoring join
  broadcasts; unpruned it is still a plain shuffle join on the gram
  key.  Pruned-away and unseen bigrams back off to the add-one
  floor 1 / (c(v) + V) (their numerator count contributes nothing).
- **score** is explode -> join(LM) -> groupBy(doc).  The explode is
  map-only; the join is broadcast for pruned LMs (AQE decides); the
  per-document sum is ONE shuffle with map-side partial aggregation.
  No Python anywhere — split/slice/zip/ln are all whole-stage
  codegen expressions.

Reference anchors: validation gate ordering
proof-of-concept/digital-preservation-poc (SURVEY §2.3 V1-V17);
quality-banding mirrors the engine's pass/quarantine split
(csvValidationFunction_Generic.kt classify-then-route shape).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

#: Sentinel prepended to every document so the first word is predicted
#: from a real context. Never occurs in the predicted-word position,
#: so it is excluded from the vocabulary by construction.
BOS = "<s>"


def _bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, v, w) — one row per bigram occurrence, BOS-prefixed.

    ``text_col`` may be a string column (split on spaces) or an array
    column (the north-star token payload; elements stringified) — the
    same dtype switch the minhash/ngram family uses. The split is
    staged into its own projection once (the engine-wide
    quadratic-split guard: every later expression references the
    staged array, never re-splits the string). Empty arrays drop out
    (an empty document has no bigrams to score; the gate form
    therefore drops it, like every other content gate).
    """
    from pyspark.sql.types import ArrayType

    if isinstance(docs.schema[text_col].dataType, ArrayType):
        # empty arrays have no bigrams; strings never hit this (split
        # of "" is [""]), so the string path stays at ONE split/scan
        docs = docs.filter(F.size(text_col) > 0)
        words = F.transform(F.col(text_col), lambda x: x.cast("string"))
    else:
        words = F.split(F.col(text_col), " ")
    staged = docs.select(id_col, words.alias("_w"))
    ctx = F.concat(
        F.array(F.lit(BOS)),
        F.expr("slice(_w, 1, greatest(size(_w) - 1, 0))"),
    )
    pairs = F.arrays_zip(ctx.alias("v"), F.col("_w").alias("w"))
    return staged.select(
        id_col, F.explode(pairs).alias("_g")
    ).select(id_col, F.col("_g.v").alias("v"), F.col("_g.w").alias("w"))


@dataclass
class BigramLM:
    """A trained bigram LM: the two count frames plus the scalars the
    smoothing formula needs. ``bigram`` may be count-pruned; ``context``
    never is (the denominator must stay exact for backoff)."""

    bigram: DataFrame  # (v, w, c2)
    context: DataFrame  # (v, c1)
    vocab_size: int

    def persist(self) -> "BigramLM":
        self.bigram.persist()
        self.context.persist()
        return self

    def unpersist(self) -> "BigramLM":
        self.bigram.unpersist()
        self.context.unpersist()
        return self


def learn_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> BigramLM:
    """Count-based bigram LM over ``docs``.

    ``min_count`` > 1 applies the KenLM-style count cutoff to the
    bigram table only — contexts and vocabulary stay exact so pruned
    mass backs off to the additive floor instead of renormalizing.
    """
    grams = _bigrams(docs, text_col, id_col)
    c2 = grams.groupBy("v", "w").agg(F.count("*").alias("c2"))
    # c1 and the vocabulary both fold straight off c2 (context count =
    # sum of its bigrams' counts; every predicted word appears in some
    # bigram) — the corpus itself is scanned ONCE, for the bigram
    # aggregate; everything downstream reads the far smaller count
    # table. Vocab comes from the UNPRUNED table: min_count must not
    # shrink the smoothing denominator.
    c1 = c2.groupBy("v").agg(F.sum("c2").alias("c1"))
    vocab = c2.agg(F.countDistinct("w").alias("n")).collect()[0]["n"] or 0
    if min_count > 1:
        c2 = c2.filter(F.col("c2") >= min_count)
    return BigramLM(bigram=c2, context=c1, vocab_size=int(vocab))


def score_perplexity(
    docs: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tok, ppl) — per-document perplexity under ``lm``.

    Unseen contexts score the uniform add-one floor ``1 / V``;
    unseen/pruned bigrams under a known context score
    ``1 / (c1 + V)``. Every document therefore gets a finite score —
    out-of-domain text lands in the tail band instead of failing.
    """
    grams = _bigrams(docs, text_col, id_col)
    v = float(lm.vocab_size)
    scored = (
        grams.join(lm.bigram, ["v", "w"], "left")
        .join(lm.context, ["v"], "left")
        .select(
            id_col,
            (
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(v))
            ).alias("_p"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        F.exp(-F.sum(F.log("_p")) / F.count("*")).alias("ppl"),
    )


def lm_to_dict(lm: BigramLM, max_bigrams: int = 250_000) -> dict:
    """Serialize a (bounded) LM for the frozen-gate contract.

    Keeps the ``max_bigrams`` highest-count bigrams (ties broken by
    the gram itself, so the cut is deterministic); contexts and the
    vocabulary scalar stay exact, so everything cut backs off to the
    additive floor — the same semantics as ``min_count`` pruning. The
    bounded form is what a pipeline freezes at window 1
    (``_lm.json``); an LM too big for the bound should stay a table
    and be joined, not frozen. Contexts cannot be cut without changing
    scores, so an LM with more than ``max_bigrams`` of them raises
    ``ValueError`` instead of reaching the driver whole.
    """
    n = int(max_bigrams)
    ctx = lm.context.limit(n + 1).collect()
    if len(ctx) > n:
        raise ValueError(
            f"LM has more than max_bigrams={n} contexts; too big to "
            "freeze — keep it a table and join it"
        )
    top = lm.bigram.orderBy(F.col("c2").desc(), "v", "w").limit(n).collect()
    return {
        "bigram": [[r["v"], r["w"], r["c2"]] for r in top],
        "context": [[r["v"], r["c1"]] for r in ctx],
        "vocab_size": lm.vocab_size,
    }


def lm_from_dict(spark, doc: dict) -> BigramLM:
    """Rebuild a scoring-ready LM from ``lm_to_dict`` output. The
    frames are driver-local lists, so the scoring joins broadcast."""
    bigram = spark.createDataFrame(
        [(v, w, int(c)) for v, w, c in doc["bigram"]],
        "v string, w string, c2 long",
    )
    context = spark.createDataFrame(
        [(v, int(c)) for v, c in doc["context"]], "v string, c1 long"
    )
    return BigramLM(
        bigram=bigram, context=context, vocab_size=int(doc["vocab_size"])
    )


def band(
    scored: DataFrame,
    head: float,
    tail: float,
    ppl_col: str = "ppl",
) -> DataFrame:
    """CCNet's head/middle/tail banding: ppl < head -> 'head',
    < tail -> 'middle', else 'tail'. Map-only."""
    c = F.col(ppl_col)
    return scored.withColumn(
        "band",
        F.when(c < head, "head").when(c < tail, "middle").otherwise("tail"),
    )


def filter_by_perplexity(
    docs: DataFrame,
    lm: BigramLM,
    max_ppl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents whose perplexity under ``lm`` is < ``max_ppl`` —
    the gate form (CCNet keeps head+middle). One scoring pass, then a
    semi join back to the full rows so untouched columns never ride
    through the aggregate."""
    keep = (
        score_perplexity(docs, lm, text_col, id_col)
        .filter(F.col("ppl") < max_ppl)
        .select(id_col)
    )
    return docs.join(keep, [id_col], "left_semi")

"""N-gram LM perplexity filter (operators/lmfilter) verification.

Three independent oracles:
- a DuckDB SQL twin of the whole learn+score pipeline over the real
  testdata documents table, compared with the driver gate's own
  row-set discipline (count + columns + order-insensitive values) —
  the same bar the 50 registered queries clear;
- a pure-Python reference implementation for the smoothing/backoff
  corners (unseen context, unseen word, count pruning) on crafted
  corpora;
- plan assertions: no per-row Python anywhere, the split staged once
  per scan (the engine-wide quadratic-split guard).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from dexspark.operators import lmfilter

SF_DIR = os.environ.get("DEXSPARK_TEST_SF", "/root/testdata/sf0.001")

# DuckDB twin of learn_bigram_lm + score_perplexity (add-one bigram
# LM, BOS-prefixed, trained and scored on the same corpus).
_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         list_prepend('<s>',
           string_split(text, ' ')[1:len(string_split(text, ' ')) - 1]) AS cs
  FROM documents
),
bigrams AS (
  SELECT doc_id, cs[g.i] AS v, ws[g.i] AS w
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
),
c2 AS (SELECT v, w, count(*) AS c2 FROM bigrams GROUP BY v, w),
c1 AS (SELECT v, sum(c2) AS c1 FROM c2 GROUP BY v),
vv AS (SELECT count(DISTINCT w) AS v FROM bigrams)
SELECT b.doc_id AS doc_id, count(*) AS n_tok,
       round(exp(-sum(ln((c2.c2 + 1.0) / (c1.c1 + vv.v))) / count(*)), 4)
         AS ppl
FROM bigrams b JOIN c2 USING (v, w) JOIN c1 USING (v), vv
GROUP BY b.doc_id
"""


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        return f"{v:.6g}" if isinstance(v, float) else v

    return sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=repr)


def _py_lm(train_texts, min_count=1):
    """Reference learn: returns (c2, c1, V) as plain dicts/int."""
    c2, c1, vocab = {}, {}, set()
    for t in train_texts:
        ws = t.split(" ")
        cs = [lmfilter.BOS] + ws[:-1]
        for v, w in zip(cs, ws):
            c2[(v, w)] = c2.get((v, w), 0) + 1
            c1[v] = c1.get(v, 0) + 1
            vocab.add(w)
    if min_count > 1:
        c2 = {k: n for k, n in c2.items() if n >= min_count}
    return c2, c1, len(vocab)


def _py_ppl(text, c2, c1, vv):
    ws = text.split(" ")
    cs = [lmfilter.BOS] + ws[:-1]
    logp = 0.0
    for v, w in zip(cs, ws):
        p = (c2.get((v, w), 0) + 1.0) / (c1.get(v, 0) + float(vv))
        logp += math.log(p)
    return len(ws), math.exp(-logp / len(ws))


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_matches_duckdb_oracle_on_testdata(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    lm = lmfilter.learn_bigram_lm(docs).persist()
    got = lmfilter.score_perplexity(docs, lm).select(
        "doc_id", "n_tok", F.round("ppl", 4).alias("ppl")
    )
    s_cols, s_rows = got.columns, [tuple(r) for r in got.collect()]

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(SF_DIR, 'documents.parquet')}')"
    )
    rel = con.sql(_ORACLE)
    d_cols, d_rows = [c.lower() for c in rel.columns], rel.fetchall()
    lm.unpersist()

    assert len(s_rows) == len(d_rows) > 0
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


def test_backoff_unseen_context_and_word(spark):
    train = ["a b a c", "b a a b"]
    score = ["a b", "z q", "a z"]  # z: unseen context+word; q unseen
    c2, c1, vv = _py_lm(train)
    lm = lmfilter.learn_bigram_lm(_docs(spark, train))
    assert lm.vocab_size == vv == 3
    got = {
        r["doc_id"]: (r["n_tok"], r["ppl"])
        for r in lmfilter.score_perplexity(_docs(spark, score), lm).collect()
    }
    for i, t in enumerate(score):
        n, ppl = _py_ppl(t, c2, c1, vv)
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(ppl, rel=1e-12), t


def test_min_count_pruning_backs_off(spark):
    train = ["a b a b a c", "c a b a"]
    score = ["a b c a", "c c c"]
    c2, c1, vv = _py_lm(train, min_count=2)
    lm = lmfilter.learn_bigram_lm(_docs(spark, train), min_count=2)
    # pruning drops singleton bigrams but never contexts
    kept = {(r["v"], r["w"]) for r in lm.bigram.collect()}
    assert kept == set(c2)
    got = {
        r["doc_id"]: r["ppl"]
        for r in lmfilter.score_perplexity(_docs(spark, score), lm).collect()
    }
    for i, t in enumerate(score):
        assert got[i] == pytest.approx(_py_ppl(t, c2, c1, vv)[1], rel=1e-12)


def test_band_and_filter(spark):
    train = ["a b a b a b", "z z q q z q"]
    docs = _docs(spark, ["a b a b", "a b z q", "q z q z"])
    lm = lmfilter.learn_bigram_lm(_docs(spark, train))
    scored = lmfilter.score_perplexity(docs, lm)
    ppls = {r["doc_id"]: r["ppl"] for r in scored.collect()}
    # thresholds chosen between the three observed scores
    lo, hi = sorted(ppls.values())[:2]
    head, tail = (lo + hi) / 2, (hi + max(ppls.values())) / 2
    bands = {
        r["doc_id"]: r["band"]
        for r in lmfilter.band(scored, head, tail).collect()
    }
    order = sorted(ppls, key=ppls.get)
    assert [bands[i] for i in order] == ["head", "middle", "tail"]

    kept = lmfilter.filter_by_perplexity(docs, lm, max_ppl=tail)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(order[:2])
    assert kept.columns == docs.columns  # full rows ride through


def test_token_array_corpus(spark):
    """The north-star payload: bigram LM straight over token-id
    arrays (stringified element switch, no text column)."""
    train = [[1, 2, 1, 3], [2, 1, 1, 2]]
    score = [[1, 2], [9, 8], [1, 9], []]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)],
        "doc_id long, tokens array<int>",
    )
    sdocs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(score)],
        "doc_id long, tokens array<int>",
    )
    c2, c1, vv = _py_lm([" ".join(map(str, t)) for t in train])
    lm = lmfilter.learn_bigram_lm(docs, text_col="tokens")
    assert lm.vocab_size == vv
    got = {
        r["doc_id"]: (r["n_tok"], r["ppl"])
        for r in lmfilter.score_perplexity(sdocs, lm, text_col="tokens").collect()
    }
    assert 3 not in got  # empty array: no bigrams, no score row
    for i, t in enumerate(score[:3]):
        n, ppl = _py_ppl(" ".join(map(str, t)), c2, c1, vv)
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(ppl, rel=1e-12)
    # and the gate form drops the empty doc along with the tail
    kept = lmfilter.filter_by_perplexity(
        sdocs, lm, max_ppl=1e9, text_col="tokens"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]


def test_lm_dict_roundtrip_and_cap(spark):
    train = ["a b a b a c", "c a b a d d"]
    score = ["a b c d", "d d a"]
    lm = lmfilter.learn_bigram_lm(_docs(spark, train))

    # uncapped round trip: identical scores
    lm2 = lmfilter.lm_from_dict(spark, lmfilter.lm_to_dict(lm))
    assert lm2.vocab_size == lm.vocab_size
    a = {r["doc_id"]: r["ppl"]
         for r in lmfilter.score_perplexity(_docs(spark, score), lm).collect()}
    b = {r["doc_id"]: r["ppl"]
         for r in lmfilter.score_perplexity(_docs(spark, score), lm2).collect()}
    assert a == b

    # capped: keeps exactly the top-k bigrams by (count desc, gram),
    # contexts stay exact, cut mass backs off — equal to a Python
    # model holding the same surviving bigrams (5 of 8: the cut falls
    # among the count-1 ties; the cap may not go below the 5 contexts)
    doc = lmfilter.lm_to_dict(lm, max_bigrams=5)
    assert len(doc["bigram"]) == 5
    c2_full, c1, vv = _py_lm(train)
    assert len(c2_full) == 8 and len(c1) == 5
    order = sorted(c2_full.items(), key=lambda kv: (-kv[1], kv[0]))
    c2_cap = dict(order[:5])
    assert {(v, w) for v, w, _ in doc["bigram"]} == set(c2_cap)
    lm3 = lmfilter.lm_from_dict(spark, doc)
    got = {r["doc_id"]: r["ppl"]
           for r in lmfilter.score_perplexity(_docs(spark, score), lm3).collect()}
    for i, t in enumerate(score):
        assert got[i] == pytest.approx(_py_ppl(t, c2_cap, c1, vv)[1], rel=1e-12)


def test_lm_dict_refuses_more_contexts_than_the_cap(spark):
    """Contexts are serialized whole (cutting one changes scores), so
    lm_to_dict collects at most max_bigrams + 1 of them and raises
    past the bound instead of pulling an unbounded table onto the
    driver."""
    lm = lmfilter.learn_bigram_lm(_docs(spark, ["a b a b a c", "c a b a d d"]))
    assert len(lmfilter.lm_to_dict(lm, max_bigrams=5)["context"]) == 5
    with pytest.raises(ValueError, match="contexts"):
        lmfilter.lm_to_dict(lm, max_bigrams=4)
    with pytest.raises(ValueError, match="contexts"):
        lmfilter.lm_to_dict(lm, max_bigrams=1)


def test_plans_python_free_and_split_staged_once(spark):
    d = _docs(spark, ["a b c d e", "b c d e a"])
    lm = lmfilter.learn_bigram_lm(d)
    scored = lmfilter.score_perplexity(d, lm)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # one staged split per corpus scan: score grams + the LM's two
    # count subtrees (bigram + context each carry the gram scan)
    opt = scored._jdf.queryExecution().optimizedPlan().toString()
    assert 1 <= opt.count("split(") <= 3

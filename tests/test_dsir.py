"""DSIR importance resampling: Python-mirror oracle (bit-level
featurization parity via dexspark.xxh64), planted-domain enrichment,
determinism/repartition invariance, threshold==topk agreement, plan
shape (zero-shuffle scoring), token-array corpora, edge docs."""

import math

import pytest
from pyspark.sql import functions as F

from dexspark.operators.dsir import (
    DsirModel,
    bucketed_features,
    learn_dsir,
    resample_dsir,
    score_dsir,
)
from dexspark.xxh64 import xxhash64

B = 64
KG = (1, 2)


def _py_buckets(text: str) -> list[int]:
    """The Python mirror of bucketed_features: word 1/2-grams of the
    single-space split, xxhash64 of the gram string, pmod B."""
    words = text.split(" ") if text is not None else []
    grams = []
    for k in KG:
        grams += [
            " ".join(words[i : i + k]) for i in range(len(words) - k + 1)
        ] if len(words) >= k else []
    return [xxhash64(g) % B for g in grams]


def _py_model(target_texts, raw_texts, alpha=1.0):
    tc, rc = {}, {}
    for texts, c in ((target_texts, tc), (raw_texts, rc)):
        for t in texts:
            for b in _py_buckets(t):
                c[b] = c.get(b, 0) + 1
    t_tot = sum(tc.values()) + alpha * B
    r_tot = sum(rc.values()) + alpha * B
    return [
        math.log((tc.get(b, 0) + alpha) / t_tot)
        - math.log((rc.get(b, 0) + alpha) / r_tot)
        for b in range(B)
    ]


def _py_logw(text, ratio):
    # same fold order as the Spark aggregate: document gram order
    acc = 0.0
    for b in _py_buckets(text):
        acc = acc + ratio[b]
    return acc


@pytest.fixture(scope="module")
def corpora(spark):
    # target: "spark" domain; raw pool: mixed domains, some sparky
    target = [
        (i, f"spark query engine plan spark shuffle stage {i % 3}")
        for i in range(20)
    ]
    raw = []
    for i in range(200):
        if i % 4 == 0:
            raw.append((i, f"spark plan shuffle query engine row {i % 5}"))
        else:
            raw.append((i, f"cat dog tree house garden bird {i % 7} walk"))
    t = spark.createDataFrame(target, "doc_id long, text string")
    r = spark.createDataFrame(raw, "doc_id long, text string")
    return t, r, dict(target), dict(raw)


def test_featurization_matches_python_mirror(spark, corpora):
    _, r, _, raw_texts = corpora
    got = {
        row["doc_id"]: list(row["_b"])
        for row in bucketed_features(r, n_buckets=B, k_grams=KG).collect()
    }
    for doc_id, text in raw_texts.items():
        assert got[doc_id] == _py_buckets(text), doc_id


def test_model_and_scores_match_python_mirror(spark, corpora):
    t, r, target_texts, raw_texts = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    ratio = _py_model(target_texts.values(), raw_texts.values())
    assert len(model.log_ratio) == B
    for b in range(B):
        assert math.isclose(model.log_ratio[b], ratio[b], rel_tol=1e-12)
    got = {
        row["doc_id"]: row["log_w"]
        for row in score_dsir(r, model).select("doc_id", "log_w").collect()
    }
    for doc_id, text in raw_texts.items():
        assert math.isclose(
            got[doc_id], _py_logw(text, model.log_ratio), rel_tol=1e-9
        ), doc_id


def test_resample_enriches_target_domain(spark, corpora):
    t, r, _, _ = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    picked = resample_dsir(r, model, k=40, seed=7).collect()
    assert len(picked) == 40
    sparky = sum(1 for row in picked if "spark" in row["text"])
    # 25% of the pool is spark-domain; importance resampling should
    # make the selection overwhelmingly spark-domain
    assert sparky >= 35


def test_resample_deterministic_and_partition_invariant(spark, corpora):
    t, r, _, _ = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    a = sorted(x["doc_id"] for x in resample_dsir(r, model, 25, seed=3).collect())
    b = sorted(
        x["doc_id"]
        for x in resample_dsir(r.repartition(7), model, 25, seed=3).collect()
    )
    c = sorted(x["doc_id"] for x in resample_dsir(r, model, 25, seed=4).collect())
    assert a == b
    assert a != c  # a different seed draws a different sample


def test_threshold_method_agrees_with_topk(spark, corpora):
    t, r, _, _ = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    topk = sorted(
        x["doc_id"] for x in resample_dsir(r, model, 30, seed=1).collect()
    )
    thr = sorted(
        x["doc_id"]
        for x in resample_dsir(r, model, 30, seed=1, method="threshold").collect()
    )
    # tiny data -> the quantile sketch is exact up to its epsilon;
    # allow a 1-element sliver either way, require full overlap else
    assert abs(len(thr) - len(topk)) <= 1
    assert len(set(thr) & set(topk)) >= 29


def test_score_plan_is_map_only(spark, corpora):
    _, r, _, _ = corpora
    model = DsirModel(log_ratio=[0.1] * B, n_buckets=B, k_grams=KG)
    plan = score_dsir(r, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_token_array_corpus(spark):
    t = spark.createDataFrame(
        [(0, [1, 2, 3, 1, 2]), (1, [1, 2, 1, 2, 3])],
        "doc_id long, tokens array<int>",
    )
    r = spark.createDataFrame(
        [(0, [1, 2, 3]), (1, [9, 8, 7, 6]), (2, [1, 2, 1])],
        "doc_id long, tokens array<int>",
    )
    model = learn_dsir(t, r, text_col="tokens", n_buckets=B, k_grams=KG)
    got = {
        row["doc_id"]: row["log_w"]
        for row in score_dsir(r, model, text_col="tokens").collect()
    }
    # mirror: stringified tokens joined like the string path
    for doc_id, toks in ((0, [1, 2, 3]), (1, [9, 8, 7, 6]), (2, [1, 2, 1])):
        text = " ".join(str(x) for x in toks)
        assert math.isclose(
            got[doc_id], _py_logw(text, model.log_ratio), rel_tol=1e-9
        )
    # the target-like docs outrank the alien one
    assert got[0] > got[1] and got[2] > got[1]


def test_edge_docs(spark, corpora):
    t, r, _, _ = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    edge = spark.createDataFrame(
        [(0, ""), (1, None), (2, "spark")],
        "doc_id long, text string",
    )
    got = {x["doc_id"]: x["log_w"] for x in score_dsir(edge, model).collect()}
    # "" splits to [""] -> one unigram; None -> no grams -> neutral 0.0
    assert got[1] == 0.0
    assert math.isclose(got[0], _py_logw("", model.log_ratio), rel_tol=1e-9)
    assert got[2] > 0  # a pure target word scores positive



def test_score_keeps_caller_columns_named_like_temps(spark, corpora):
    """A caller's own ``_wtmp`` / ``_b`` columns survive scoring
    untouched, and the scores match those of the plain frame."""
    t, r, _, raw_texts = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    mine = r.withColumn("_wtmp", F.lit("keep")).withColumn("_B", F.col("doc_id") * 2)
    got = score_dsir(mine, model).collect()
    assert len(got) == len(raw_texts)
    for row in got:
        assert row["_wtmp"] == "keep" and row["_B"] == row["doc_id"] * 2
        assert math.isclose(
            row["log_w"], _py_logw(raw_texts[row["doc_id"]], model.log_ratio), rel_tol=1e-9
        )

def test_model_round_trip():
    m = DsirModel(log_ratio=[0.5, -1.25], n_buckets=2, k_grams=(1,), alpha=0.5)
    m2 = DsirModel.from_dict(m.to_dict())
    assert m2 == m


def test_bad_alpha_rejected(spark, corpora):
    t, r, _, _ = corpora
    with pytest.raises(ValueError):
        learn_dsir(t, r, alpha=0.0)


def test_topk_selections_nest_as_k_grows(spark, corpora):
    """Gumbel top-k draws nest: the k=10 selection is a subset of the
    k=25 selection under the same seed (ablation-friendly, the same
    rate-monotone property the stratified sampler guarantees)."""
    t, r, _, _ = corpora
    model = learn_dsir(t, r, n_buckets=B, k_grams=KG)
    small = {x["doc_id"] for x in resample_dsir(r, model, 10, seed=5).collect()}
    big = {x["doc_id"] for x in resample_dsir(r, model, 25, seed=5).collect()}
    assert small < big

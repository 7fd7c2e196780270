"""Fill-in-the-middle transform (operators/fim.py).

Contract: deterministic hash-derived gate + cut points (bit-equal to
the Python xxhash64 mirror, so the whole transform is reconstructed
driver-side and compared row-for-row), token conservation (the
non-sentinel multiset is exactly the input), pure-JVM plan (no
Python eval), NULL/empty pass-through, and both PSM/SPM layouts."""

import pytest
from pyspark.sql import functions as F

from dexspark.operators.fim import fim_transform
from dexspark.xxh64 import xxhash64

PRE, MID, SUF = 50300, 50301, 50302
SEED = 7
RATE = 0.6


def _docs(spark):
    rows = [
        (f"d{i:03d}", list(range(i * 3, i * 3 + (i % 7) + 1)))
        for i in range(40)
    ]
    rows.append(("dempty", []))
    rows.append(("dnull", None))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def _py_gate(doc_id: str) -> bool:
    h = xxhash64(f"fimgate:{SEED}:{doc_id}")
    return (h % 1_000_000) / 1_000_000.0 < RATE


def _py_cut(tag: str, doc_id: str, n: int) -> int:
    return xxhash64(f"{tag}:{SEED}:{doc_id}") % (n + 1)


def _py_fim(doc_id: str, toks, mode: str):
    if not toks:
        return toks, False
    if not _py_gate(doc_id):
        return toks, False
    n = len(toks)
    c1, c2 = _py_cut("fimcut1", doc_id, n), _py_cut("fimcut2", doc_id, n)
    lo, hi = min(c1, c2), max(c1, c2)
    prefix, middle, suffix = toks[:lo], toks[lo:hi], toks[hi:]
    if mode == "psm":
        return [PRE] + prefix + [SUF] + suffix + [MID] + middle, True
    return [PRE, SUF] + suffix + [MID] + prefix + middle, True


@pytest.mark.parametrize("mode", ["psm", "spm"])
def test_matches_python_oracle_exactly(spark, mode):
    got = {
        r["doc_id"]: (r["tokens"], r["fim_applied"])
        for r in fim_transform(
            _docs(spark), PRE, MID, SUF, rate=RATE, seed=SEED, mode=mode
        ).collect()
    }
    for r in _docs(spark).collect():
        want_toks, want_applied = _py_fim(r["doc_id"], r["tokens"], mode)
        assert got[r["doc_id"]] == (want_toks, want_applied), r["doc_id"]
    # the gate actually mixes at this rate (both classes present)
    applied = [a for _, a in got.values()]
    assert any(applied) and not all(applied)


def test_token_conservation_and_layout(spark):
    out = fim_transform(
        _docs(spark), PRE, MID, SUF, rate=1.0, seed=SEED
    ).collect()
    for r in out:
        if not r["fim_applied"]:
            continue
        toks = r["tokens"]
        assert toks[0] == PRE
        assert toks.count(PRE) == toks.count(MID) == toks.count(SUF) == 1
        content = [t for t in toks if t not in (PRE, MID, SUF)]
        i = int(r["doc_id"][1:])
        assert sorted(content) == list(range(i * 3, i * 3 + (i % 7) + 1))


def test_rate_zero_is_identity_and_empty_passthrough(spark):
    out = {
        r["doc_id"]: (r["tokens"], r["fim_applied"])
        for r in fim_transform(
            _docs(spark), PRE, MID, SUF, rate=0.0, seed=SEED
        ).collect()
    }
    for r in _docs(spark).collect():
        assert out[r["doc_id"]] == (r["tokens"], False)
    # rate=1: empty/NULL still pass through
    out1 = {
        r["doc_id"]: r["fim_applied"]
        for r in fim_transform(
            _docs(spark), PRE, MID, SUF, rate=1.0, seed=SEED
        ).collect()
    }
    assert out1["dempty"] is False and out1["dnull"] is False


def test_plan_is_pure_jvm(spark):
    plan = fim_transform(
        _docs(spark), PRE, MID, SUF, rate=0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bad_mode_rejected(spark):
    with pytest.raises(ValueError, match="psm"):
        fim_transform(_docs(spark), PRE, MID, SUF, mode="pms")


def test_python_xxh64_matches_spark(spark):
    """The pure-Python xxh64 (bucket pruning's foundation) is
    bit-equal to Spark's xxhash64 for every key dtype the engine
    buckets on — strings (incl. empty, unicode, >32-byte), longs
    (incl. negative / extremes) and ints."""
    from dexspark.xxh64 import bucket_of, xxhash64

    strings = [
        "", "a", "doc-1", "q#42", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
        "long-key-" + "0123456789" * 10, "ünïcødé-κλειδί-鍵",
    ]
    rows = spark.createDataFrame(
        [(s,) for s in strings], "k string"
    ).select("k", F.xxhash64("k").alias("h")).collect()
    for r in rows:
        assert xxhash64(r["k"], "string") == r["h"], r["k"]

    longs = [0, 1, -1, 42, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]
    rows = spark.createDataFrame(
        [(v,) for v in longs], "k long"
    ).select("k", F.xxhash64("k").alias("h")).collect()
    for r in rows:
        assert xxhash64(r["k"], "long") == r["h"], r["k"]

    ints = [0, 1, -1, 1234567, -(2**31), 2**31 - 1]
    rows = spark.createDataFrame(
        [(v,) for v in ints], "k int"
    ).select("k", F.xxhash64("k").alias("h")).collect()
    for r in rows:
        assert xxhash64(r["k"], "int") == r["h"], r["k"]

    # bucket_of == pmod(xxhash64, nb) — the engine's bucket expr
    got = spark.createDataFrame([(s,) for s in strings], "k string").select(
        "k", F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b")
    ).collect()
    for r in got:
        assert bucket_of(r["k"], 16, "string") == r["b"]

"""Property-based invariants (hypothesis).

Load-bearing pieces of engine algebra get randomized checks on top of
the example-based suite:

- epoch watermark compaction: (watermark, tail) must represent exactly
  the committed set, regardless of arrival order or batch splits;
- the rule compiler: a row is clean iff it satisfies every rule — the
  Column-expression compiler agrees with a direct Python evaluation;
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from dexspark.config import RuleSet
from dexspark.lake import LakeTable

# --------------------------------------------------------------- epochs

epoch_sets = st.sets(st.integers(min_value=0, max_value=200), max_size=40)


@given(epoch_sets)
def test_compact_epochs_represents_exact_set(eps):
    w, tail = LakeTable._compact_epochs(-1, eps)
    represented = set(range(0, w + 1)) | set(tail)
    assert represented == eps
    assert all(t > w for t in tail)  # tail strictly above the watermark
    # watermark is maximal: the next epoch is not committed
    assert (w + 1) not in eps


@given(epoch_sets, epoch_sets)
def test_compact_epochs_split_invariant(a, b):
    """Folding in two batches in either order equals folding the union."""
    w1, t1 = LakeTable._compact_epochs(-1, a)
    w1, t1 = LakeTable._compact_epochs(w1, set(t1) | b)
    w2, t2 = LakeTable._compact_epochs(-1, b)
    w2, t2 = LakeTable._compact_epochs(w2, set(t2) | a)
    w3, t3 = LakeTable._compact_epochs(-1, a | b)
    assert (w1, t1) == (w2, t2) == (w3, t3)


@given(epoch_sets)
def test_compact_epochs_idempotent(eps):
    w, tail = LakeTable._compact_epochs(-1, eps)
    assert LakeTable._compact_epochs(w, tail) == (w, tail)


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=8),
        max_size=12,
    )
)
def test_next_epoch_state_exact_under_any_delivery_order(batches):
    """Full manifest-level epoch algebra: committing arbitrary batches
    in arbitrary order (including epochs BELOW the seeded base — the
    out-of-order-delivery hazard) represents EXACTLY the union of all
    delivered epochs, never more (silent swallow = data loss on
    redelivery filtering) and never less (manifest bloat aside,
    double-apply on replay)."""
    t = object.__new__(LakeTable)  # epoch algebra is state-free
    m: dict = {}
    seen: set[int] = set()
    for batch in batches:
        m = {**m, **t._next_epoch_state(m, batch)}
        seen |= set(batch)
        base = m["epoch_base"]
        w = m["epoch_watermark"]
        tail = set(m["epoch_tail"])
        represented = set(range(base + 1, w + 1)) | tail
        assert represented == seen
        # state is compact: tail never holds anything (base, w] covers
        assert not (tail & set(range(base + 1, w + 1)))


# ------------------------------------------------------------ validator

RULES = RuleSet(
    required=("a",),
    conditional_groups=(("b", "c"),),
    allowed_values=(("d", ("x", "y")),),
    max_length=(("a", 5),),
    int_fields=("e",),
    version_literal=(("v", "V1"),),
)

cell = st.one_of(st.none(), st.text(alphabet="xy 17Vq", max_size=7))
rows = st.lists(
    st.tuples(cell, cell, cell, cell, cell, cell), min_size=1, max_size=12
)


def _py_reasons(r):
    a, b, c, d, e, v = r
    blank = lambda x: x is None or x.strip() == ""  # noqa: E731
    out = []
    if blank(a):
        out.append("required")
    if blank(b) and blank(c):
        out.append("conditional")
    if d is not None and d not in ("x", "y"):
        out.append("allowed_values")
    if a is not None and len(a) > 5:
        out.append("max_length")
    if e is not None:
        try:
            int(e)
        except ValueError:
            out.append("int_field")
    if v != "V1":
        out.append("version")
    return sorted(out)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows)
def test_rule_compiler_matches_python(spark, data):
    from dexspark.validate import with_fail_reasons

    df = spark.createDataFrame(
        data, "a string, b string, c string, d string, e string, v string"
    )
    got = [
        sorted(x.split(":")[0] for x in r["fail_reasons"])
        for r in with_fail_reasons(df, RULES).collect()
    ]
    # order-insensitive multiset compare (collect() order is plan order
    # here: single input partition list, stable)
    want = [_py_reasons(r) for r in data]
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# int_field rule note: Spark's try_cast("long") accepts forms Python's
# int() rejects (e.g. "1.0"? no — but whitespace-padded ints yes), so
# the alphabet above avoids '.', '+', '-' to keep semantics aligned.

# ------------------------------------------------- duplicate spans

# small alphabet + short docs force heavy shared k-grams, so every
# code path (merge, intra-doc, near-miss) is hit; min_len=3 keeps the
# brute-force oracle cheap
span_corpora = st.lists(
    st.lists(st.integers(min_value=0, max_value=3), max_size=14),
    min_size=1,
    max_size=8,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(span_corpora)
def test_duplicate_spans_match_bruteforce(spark, corpora):
    from dexspark.operators.spandedup import duplicate_spans

    k = 3
    docs = {i: [str(t) for t in toks] for i, toks in enumerate(corpora)}
    # brute force: global k-gram counts -> covered positions -> islands
    counts: dict = {}
    for toks in docs.values():
        for i in range(len(toks) - k + 1):
            g = tuple(toks[i : i + k])
            counts[g] = counts.get(g, 0) + 1
    want: dict = {}
    for did, toks in docs.items():
        spans: list = []
        for p in range(len(toks) - k + 1):
            if counts[tuple(toks[p : p + k])] < 2:
                continue
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        if spans:
            want[did] = sorted(tuple(s) for s in spans)

    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id int, tokens array<string>"
    )
    got: dict = {}
    for r in duplicate_spans(df, text="tokens", min_len=k).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    got = {d: sorted(v) for d, v in got.items()}
    assert got == want

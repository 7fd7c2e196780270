"""Sequence shaping: chunk_documents (JVM windows) and pack_sequences
(concat-and-chunk packing via mapInArrow)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dexspark.operators.packing import chunk_documents, pack_sequences

EOS = 50256
PAD = 0


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


# ------------------------------------------------------------- chunking


def test_chunk_disjoint_and_tail(spark):
    df = _docs(spark, [("d1", list(range(7)), 7, "web"), ("d2", [9], 1, "code")])
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["tokens"], r["n_tok"])
        for r in chunk_documents(df, max_len=3).collect()
    }
    assert got == {
        ("d1", 0): ([0, 1, 2], 3),
        ("d1", 1): ([3, 4, 5], 3),
        ("d1", 2): ([6], 1),
        ("d2", 0): ([9], 1),
    }


def test_chunk_overlap_stride(spark):
    df = _docs(spark, [("d1", list(range(5)), 5, "web")])
    got = [
        r["tokens"]
        for r in chunk_documents(df, max_len=3, stride=2)
        .orderBy("chunk_idx")
        .collect()
    ]
    # python convention: [tokens[s:s+3] for s in range(0, 5, 2)]
    assert got == [[0, 1, 2], [2, 3, 4], [4]]


def test_chunk_empty_and_null_docs(spark):
    df = _docs(
        spark,
        [("e", [], 0, "web"), ("n", None, None, "web"), ("d", [1], 1, "web")],
    )
    got = chunk_documents(df, max_len=4).collect()
    assert [r["doc_id"] for r in got] == ["d"]


def test_chunk_passes_through_columns_and_is_jvm_only(spark):
    df = _docs(spark, [("d1", [1, 2, 3], 3, "books")])
    out = chunk_documents(df, max_len=2)
    assert set(out.columns) == {"doc_id", "source", "chunk_idx", "tokens", "n_tok"}
    assert out.filter(F.col("source") == "books").count() == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # pure JVM: no Arrow/pickle eval nodes


# -------------------------------------------------------------- packing


def _pack_rows(spark, rows, seq_len, parts=1, **kw):
    df = _docs(spark, rows).repartition(parts)
    return pack_sequences(df, seq_len, eos_id=EOS, pad_id=PAD, **kw).collect()


def test_pack_single_partition_exact(spark):
    rows = [
        ("a", [1, 2, 3], 3, "web"),
        ("b", [4, 5], 2, "web"),
        ("c", [6, 7, 8, 9], 4, "web"),
    ]
    # stream (sorted by doc_id): 1 2 3 E 4 5 E 6 7 8 9 E  (12 tokens)
    got = sorted(_pack_rows(spark, rows, seq_len=4), key=lambda r: r["pack_id"])
    assert [r["tokens"] for r in got] == [
        [1, 2, 3, EOS],
        [4, 5, EOS, 6],
        [7, 8, 9, EOS],
    ]
    assert [r["n_real"] for r in got] == [4, 4, 4]
    assert [r["docs"] for r in got] == [["a"], ["b", "c"], ["c"]]


def test_pack_pads_final_remainder(spark):
    got = _pack_rows(spark, [("a", [1, 2], 2, "web")], seq_len=5)
    assert len(got) == 1
    r = got[0]
    assert r["tokens"] == [1, 2, EOS, PAD, PAD]
    assert r["n_real"] == 3 and r["docs"] == ["a"]


def test_pack_long_doc_spans_packs(spark):
    got = sorted(
        _pack_rows(spark, [("a", list(range(1, 10)), 9, "web")], seq_len=4),
        key=lambda r: r["pack_id"],
    )
    assert [r["tokens"] for r in got] == [
        [1, 2, 3, 4],
        [5, 6, 7, 8],
        [9, EOS, PAD, PAD],
    ]
    assert [r["docs"] for r in got] == [["a"], ["a"], ["a"]]
    assert got[-1]["n_real"] == 2


def test_pack_empty_doc_contributes_eos_boundary(spark):
    rows = [("a", [1], 1, "web"), ("b", [], 0, "web"), ("c", None, None, "web")]
    got = _pack_rows(spark, rows, seq_len=8)
    assert len(got) == 1
    assert got[0]["tokens"] == [1, EOS, EOS, EOS, PAD, PAD, PAD, PAD]
    assert got[0]["docs"] == ["a", "b", "c"]


def test_pack_token_conservation_multi_partition(spark):
    """Invariant at scale shape: per partition, concatenating the
    packs' real tokens reproduces doc0+EOS+doc1+EOS+... exactly; all
    packs are exactly seq_len; pack_ids unique."""
    rng = np.random.default_rng(7)
    rows = [
        (f"d{i:04d}", [int(t) for t in rng.integers(1, 1000, rng.integers(0, 40))],
         0, "web")
        for i in range(300)
    ]
    rows = [(d, t, len(t), s) for d, t, _, s in rows]
    seq_len = 64
    df = _docs(spark, rows).repartition(8, "doc_id")
    packs = pack_sequences(df, seq_len, eos_id=EOS, pad_id=PAD).collect()

    assert all(len(r["tokens"]) == seq_len for r in packs)
    ids = [r["pack_id"] for r in packs]
    assert len(ids) == len(set(ids))

    # rebuild each partition's expected stream: group packs by the
    # partition prefix of pack_id, order by seq
    by_part: dict[str, list] = {}
    for r in packs:
        p, s = r["pack_id"].rsplit("-", 1)
        by_part.setdefault(p, []).append((int(s), r))
    # which docs landed in which partition (same repartition + sort)
    doc_part = {
        r["doc_id"]: r["p"]
        for r in df.withColumn("p", F.spark_partition_id()).select(
            "doc_id", "p"
        ).collect()
    }
    tok = dict((d, t) for d, t, _, _ in rows)
    for p, members in by_part.items():
        members.sort()
        stream = []
        for d in sorted(k for k, v in doc_part.items() if str(v) == p):
            stream.extend((tok[d] or []) + [EOS])
        got_stream = []
        for _, r in members:
            got_stream.extend(r["tokens"][: r["n_real"]])
        assert got_stream == stream, f"partition {p} stream mismatch"
    # every partition with docs produced packs
    assert set(by_part) == {str(v) for v in doc_part.values()}


def test_pack_rejects_bad_seq_len(spark):
    with pytest.raises(ValueError):
        pack_sequences(_docs(spark, [("a", [1], 1, "w")]), 1, eos_id=EOS)
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [("a", [1], 1, "w")]), 0)


def test_cli_pack_corpus(spark, tmp_warehouse, capsys):
    """--pack-corpus writes exact-seq_len training rows from a table;
    token conservation vs the table contents."""
    import json as _json
    import os

    from dexspark import cli
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema

    t = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t"), sequences_schema(),
        key="doc_id", num_buckets=2,
    )
    rows = [(f"d{i}", list(range(i % 7 + 1)), i % 7 + 1, "web") for i in range(50)]
    t.overwrite(spark.createDataFrame(rows, schema=sequences_schema()))

    out_dir = os.path.join(tmp_warehouse, "packed")
    rc = cli.main(
        ["--table", t.root, "--pack-corpus", out_dir, "--seq-len", "16",
         "--eos-id", "99", "--pad-id", "0"]
    )
    assert rc == 0
    info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    packed = spark.read.parquet(out_dir)
    assert info["packs"] == packed.count() and info["seq_len"] == 16
    got = packed.collect()
    assert all(len(r["tokens"]) == 16 for r in got)
    n_in = sum(len(tks) + 1 for _, tks, _, _ in rows)  # +EOS per doc
    assert sum(r["n_real"] for r in got) == n_in


# ---- best-fit (bin) packing: whole-document packs -------------------

def _bf_reconstruct(packs, doc_tokens, eos_id):
    """Assert the no-split invariant: each pack's real tokens equal the
    concatenation of its listed docs' tokens (+EOS each, when set)."""
    for r in packs:
        want = []
        for d in r["docs"]:
            want.extend(doc_tokens[d])
            if eos_id is not None:
                want.append(eos_id)
        assert list(r["tokens"][: r["n_real"]]) == want, r["pack_id"]
        assert all(t == 0 for t in r["tokens"][r["n_real"]:])


def test_best_fit_no_split_and_conservation(spark):
    from dexspark.operators.packing import pack_best_fit

    rows = [(f"d{i}", list(range(100 + i, 100 + i + (i % 9) + 1)))
            for i in range(40)]
    doc_tokens = {d: t for d, t in rows}
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>") \
        .coalesce(1)
    packs = pack_best_fit(df, seq_len=16, eos_id=99).collect()
    _bf_reconstruct(packs, doc_tokens, 99)
    # every doc in exactly one pack
    placed = [d for r in packs for d in r["docs"]]
    assert sorted(placed) == sorted(doc_tokens)
    assert len(placed) == len(set(placed))
    # conservation incl. one EOS per doc
    assert sum(r["n_real"] for r in packs) == sum(
        len(t) + 1 for t in doc_tokens.values()
    )
    assert all(len(r["tokens"]) == 16 for r in packs)


def test_best_fit_reaches_ffd_bin_count(spark):
    from dexspark.operators.packing import pack_best_fit

    # lengths 6,5,4,3,2 into capacity 10 -> FFD packs [6,4] and [5,3,2]
    rows = [(f"d{n}", list(range(n))) for n in (6, 5, 4, 3, 2)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>") \
        .coalesce(1)
    packs = pack_best_fit(df, seq_len=10, eos_id=None).collect()
    assert len(packs) == 2
    sizes = sorted(tuple(sorted(len(list(range(int(d[1:])))) for d in r["docs"]))
                   for r in packs)
    assert sizes == [(2, 3, 5), (4, 6)]


def test_best_fit_chunks_oversized_docs(spark):
    from dexspark.operators.packing import pack_best_fit

    rows = [("big", list(range(25))), ("s1", [1, 2]), ("s2", [3])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>") \
        .coalesce(1)
    packs = pack_best_fit(df, seq_len=10, eos_id=None).collect()
    # 25 tokens -> chunks of 10/10/5; every piece whole in a pack.
    # Multiset accounting over ALL real tokens proves nothing was
    # lost or duplicated across the chunk/pack composition.
    assert sum(r["n_real"] for r in packs) == 25 + 2 + 1
    from collections import Counter

    all_real = [int(x) for r in packs for x in r["tokens"][: r["n_real"]]]
    assert Counter(all_real) == Counter(list(range(25)) + [1, 2] + [3])


def test_best_fit_packs_equal_chunks_in_chunk_order(spark):
    """A document three capacities long chunks into three equal
    pieces that tie on (length, doc_id); chunk_idx breaks the tie, so
    the packs follow the document's token order."""
    from dexspark.operators.packing import pack_best_fit

    df = spark.createDataFrame(
        [("long", list(range(30))), ("s", [7])], "doc_id string, tokens array<int>"
    ).coalesce(1)
    packs = sorted(
        pack_best_fit(df, seq_len=10, eos_id=None).collect(),
        key=lambda r: int(r["pack_id"].split("-")[1]),
    )
    long_packs = [r for r in packs if r["docs"] == ["long"]]
    assert [r["tokens"] for r in long_packs] == [
        list(range(i, i + 10)) for i in (0, 10, 20)
    ]

def test_best_fit_empty_null_docs_and_determinism(spark):
    from dexspark.operators.packing import pack_best_fit

    rows = [("e", []), ("n", None), ("a", [7, 8, 9])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>") \
        .coalesce(1)
    packs = pack_best_fit(df, seq_len=8, eos_id=5).collect()
    placed = sorted(d for r in packs for d in r["docs"])
    assert placed == ["a", "e", "n"]  # empties still placed (EOS only)
    assert sum(r["n_real"] for r in packs) == 3 + 1 + 1 + 1
    a = sorted((r["pack_id"], tuple(r["tokens"])) for r in packs)
    b = sorted(
        (r["pack_id"], tuple(r["tokens"]))
        for r in pack_best_fit(df, seq_len=8, eos_id=5).collect()
    )
    assert a == b


def test_best_fit_plan_is_map_only(spark):
    from dexspark.operators.packing import pack_best_fit

    df = spark.createDataFrame(
        [("d", [1, 2, 3])], "doc_id string, tokens array<int>"
    )
    plan = (
        pack_best_fit(df, seq_len=8, eos_id=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1


def test_cli_pack_policy_bestfit(spark, tmp_warehouse, capsys):
    """--pack-policy bestfit routes --pack-corpus through the bin
    packer: whole-doc packs, conservation, padded rows."""
    import json as _json
    import os

    from dexspark import cli
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema

    t = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t"), sequences_schema(),
        key="doc_id", num_buckets=2,
    )
    rows = [(f"d{i}", list(range(i % 7 + 1)), i % 7 + 1, "web") for i in range(50)]
    t.overwrite(spark.createDataFrame(rows, schema=sequences_schema()))

    out_dir = os.path.join(tmp_warehouse, "packed_bf")
    rc = cli.main(
        ["--table", t.root, "--pack-corpus", out_dir, "--seq-len", "16",
         "--eos-id", "99", "--pad-id", "0", "--pack-policy", "bestfit"]
    )
    assert rc == 0
    info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["policy"] == "bestfit"
    got = spark.read.parquet(out_dir).collect()
    assert all(len(r["tokens"]) == 16 for r in got)
    placed = [d for r in got for d in r["docs"]]
    assert sorted(placed) == sorted(d for d, *_ in rows)  # whole, once
    assert sum(r["n_real"] for r in got) == sum(n + 1 for _, _, n, _ in rows)

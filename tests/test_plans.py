"""Physical-plan hygiene — the scale guarantees, asserted.

- no row-at-a-time Python (BatchEvalPython) anywhere in the engine's
  plans; only Arrow-vectorized exchange (MapInPandas / ArrowEvalPython)
  — BASELINE.json input_hint "no per-row Python";
- filter pushdown + column pruning reach the parquet scans.
"""

from pyspark.sql import functions as F, types as T

from dexspark import gen
from dexspark.config import sequences_ruleset
from dexspark.validate import arrow_validate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_arrow_validate_no_per_row_python(spark):
    df = gen.base_sequences(spark, n_docs=10, max_len=8)
    plan = _plan(arrow_validate(df, sequences_ruleset()))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan


def test_generator_is_jvm_only(spark):
    plan = _plan(gen.base_sequences(spark, n_docs=10))
    assert "Python" not in plan  # pure codegen: no Python boundary at all
    plan = _plan(gen.change_events(spark, n_events=10, n_docs=10))
    assert "Python" not in plan


def test_parquet_filter_pushdown_and_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    gen.base_sequences(spark, n_docs=100, max_len=8).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("source") == "web").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,web)]" in plan
    # column pruning: only the 2 referenced columns in ReadSchema
    assert "ReadSchema: struct<doc_id:string,source:string>" in plan


def test_parquet_binlog_scan_has_no_json_parse(spark, tmp_path):
    """The structured binlog path must decode columnar — no
    JsonToStructs / from_json anywhere in the plan, and column
    pruning must reach the parquet scan."""
    from dexspark.events import read_binlog_parquet

    p = str(tmp_path / "pq")
    gen.write_binlog_parquet(
        gen.change_events(spark, n_events=100, n_docs=20, n_epochs=2), p
    )
    df = read_binlog_parquet(spark, p).select("doc_id", "lsn")
    plan = _plan(df)
    assert "JsonToStructs" not in plan and "from_json" not in plan


def test_committed_epoch_predicate_is_compact(spark, tmp_path):
    """With 10k committed epochs the already-committed filter must be
    a watermark comparison, not a 10k-literal isin — the plan string
    stays O(1)."""
    import os

    from dexspark.config import EngineConfig
    from dexspark.lake import LakeTable
    from dexspark.schema import sequences_schema
    from dexspark.stream import CdcEngine

    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, sequences_schema(), num_buckets=2)
    table.overwrite(gen.base_sequences(spark, n_docs=5, max_len=4))
    table.merge(
        spark.createDataFrame([], sequences_schema()),
        epochs=list(range(10_000)),
    )
    w, tail = table.epoch_state()
    assert (w, tail) == (9_999, [])
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    with open(os.path.join(binlog, "epoch-010000-000.ndjson"), "w") as f:
        f.write(
            '{"op":"update","doc_id":"doc00000001","payload":{"tokens":[1],'
            '"n_tok":1,"source":"web"},"commit_ts":"2024-01-01 00:00:01",'
            '"lsn":1,"batch_epoch":10000}\n'
        )
    engine = CdcEngine(spark, table, str(tmp_path), EngineConfig(num_buckets=2))
    m = engine.apply_binlog(binlog)
    assert m.epochs == [10_000]  # fresh epoch applied over 10k committed
    assert table.epoch_state() == (10_000, [])
    # replaying the same file is a no-op against the compact predicate
    m2 = engine.apply_binlog(binlog)
    assert m2.epochs == []


def test_jvm_validator_has_no_python_nodes(spark):
    """The default validator is pure JVM expressions — no Python
    boundary of any kind in the plan (higher-order functions like
    exists()/filter() stay JVM-side even though they opt out of
    whole-stage codegen)."""
    from dexspark.validate import with_fail_reasons

    df = gen.base_sequences(spark, n_docs=10, max_len=8)
    plan = _plan(with_fail_reasons(df, sequences_ruleset()))
    assert "Python" not in plan
    assert "required:doc_id" in plan  # rules compiled into the projection


def test_minhash_banding_plan_is_join_free_with_partial_agg(spark):
    """The capped LSH banding rollup's scale shape, asserted: NO join
    anywhere (the r3 band self-join is gone), and the (band, key)
    bucket count keeps a map-side partial aggregate below its
    exchange so hot buckets collapse before the shuffle."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from dexspark.queries import dedup_minhash_lsh

    plan = _plan(dedup_minhash_lsh(spark, sf_dir))
    assert "Join" not in plan, plan
    # partial aggregate sits BELOW the first exchange (deeper in the
    # printed tree = later in the string), i.e. map-side combine
    assert "partial_count" in plan
    assert plan.index("Exchange") < plan.index("partial_count")


def test_every_registered_query_is_python_free(spark):
    """Blanket invariant over the ENTIRE 50-query driver surface: no
    plan contains row-at-a-time Python (BatchEvalPython). Arrow-
    vectorized nodes (MapInPandas / ArrowEvalPython / MapInArrow) are
    the only Python allowed — BASELINE.json input_hint 'no per-row
    Python' enforced globally, not per-query."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from dexspark.queries import QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_shingle_paths_split_once(spark):
    """Regression guard for the quadratic split-in-lambda bug: a
    string-text frame's shingle consumers must evaluate F.split a
    BOUNDED number of times per row — the word array is staged in its
    own projection, never inlined into the per-shingle lambda (where
    codegen subexpression elimination cannot reach it). Counted on the
    OPTIMIZED plan, so a future CollapseProject re-inline fails here."""
    from dexspark.operators.decontaminate import ngrams
    from dexspark.operators.dedup_index import minhash_signatures
    from dexspark.operators.spandedup import duplicate_spans
    from dexspark.operators.textquality import repetition_stats

    d = spark.range(5).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.repeat(F.concat(F.lit("w"), F.col("id"), F.lit(" ")), 30).alias("text"),
    )

    def n_splits(df) -> int:
        return df._jdf.queryExecution().optimizedPlan().toString().count("split(")

    # one split in the staging projection; keep_short=False adds one
    # more inside the pushed-down cheap size predicate
    for scheme in ("xxhash64", "md5"):
        assert n_splits(minhash_signatures(d, scheme=scheme)) == 1, scheme
        assert n_splits(minhash_signatures(d, scheme=scheme, keep_short=False)) == 2, scheme
    assert n_splits(ngrams(d, n=3)) == 1
    # repetition_stats stages _w and _lines: exactly two splits
    assert n_splits(repetition_stats(d)) == 2
    # duplicate_spans runs two consumers over the staged gram frame;
    # bound it rather than pin the plan shape exactly
    assert n_splits(duplicate_spans(d, min_len=3)) <= 4

"""Operator query surface for the driver contract (__spark_entry__).

Every SQL-expressible operator from SURVEY.md §2 gets a named query
over the driver's testdata tables plus a DuckDB oracle SQL twin in
ORACLE_SQL. Column names/aliases match exactly; floats are rounded to
stabilize cross-engine hashing; timestamps are exported as epoch
micros.

Sections:
  1. scans/filters/predicates   (F1-F7)
  2. validation rules           (V8, V10-V14, V17)
  3. aggregations               (A1-A5)
  4. windows                    (W)
  5. joins + TPC-H-ish          (J3/J4, q1/q3/q5, rollup)
  6. training-data ops: dedup (exact/minhash/simhash/ngram-jaccard/
     embedding-cosine), ANN search, text analysis
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# =====================================================================
# 1. scans / filters / predicates
# =====================================================================

# F1: extension predicate + 2-way partition + A1 pass/fail counts
# (reference: csvValidationFunction_Generic.kt:60-84 classifies blobs
# by lower(name).endsWith and renders pass/fail counts)
@query(
    "f1_suffix_partition",
    """
    SELECT CASE WHEN lower(source) LIKE '%0' THEN 'passed'
                WHEN lower(source) LIKE '%1' THEN 'failed'
                ELSE 'skipped' END AS status,
           count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def f1_suffix_partition(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    status = (
        F.when(F.lower("source").endswith("0"), "passed")
        .when(F.lower("source").endswith("1"), "failed")
        .otherwise("skipped")
    )
    return d.groupBy(status.alias("status")).agg(F.count("*").alias("n"))


# F2: single-key lookup filter (CSVValidationWhenFileNameProvided.kt:41-60)
# + V16: canonical column ordering before output (digital-preservation
# Entry.java:84-98 enforces order) — the Spark side starts from a
# scrambled projection and re-projects to the canonical sorted order.
@query(
    "f2_single_key_lookup",
    "SELECT doc_id, lang, n_chars, source FROM documents WHERE doc_id = 42",
)
def f2_single_key_lookup(spark, sf_dir):
    scrambled = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 42)
        .select("source", "n_chars", "doc_id", "lang")
    )
    return scrambled.select(*sorted(scrambled.columns))


# F3: event-type whitelist filter; unknown types skipped (FnDecompressor.kt:67-71)
@query(
    "f3_event_type_filter",
    """
    SELECT event_type, count(*) AS n FROM events
    WHERE event_type IN ('click','view','purchase') GROUP BY event_type
    """,
)
def f3_event_type_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# F4 (required-params null-check conjunction, FnDecompressor.kt:76-84)
# is folded into f6_metadata_required_keys below (envelope_valid
# column) — freeing a 50-query-window slot for patch_compose.


# F5: path destructure: split + element_at + size guard (FnDecompressor.kt:171-182)
@query(
    "f5_split_destructure",
    """
    SELECT doc_id,
           split_part(text, ' ', 1) AS first_word,
           len(string_split(text, ' ')) AS n_parts,
           CAST(len(string_split(text, ' ')) >= 5 AS INT) AS long_enough
    FROM documents
    """,
)
def f5_split_destructure(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    parts = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.element_at(parts, 1).alias("first_word"),
        F.size(parts).alias("n_parts"),
        (F.size(parts) >= 5).cast("int").alias("long_enough"),
    )


# F7 + J4: both existence anti-joins in one query (consolidated r3e
# to free a window slot for dedup_spans). F7: event refers to a
# missing entity (FnDecompressor.kt:98-101 doesBlobExist else FAIL);
# J4: sink rows with no matching change (customers that never
# ordered). Both anti-join shapes stay driver-verified.
@query(
    "f7_existence_antijoin",
    """
    SELECT 'orphan_events' AS side, count(*) AS n FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    UNION ALL
    SELECT 'customers_without_orders' AS side, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def f7_existence_antijoin(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    orphans = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("orphan_events").alias("side"), "n")
    )
    silent = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("customers_without_orders").alias("side"), "n")
    )
    return orphans.unionByName(silent)


# =====================================================================
# 2. validation rules over documents (SURVEY.md §2.3)
# =====================================================================

# V8: column-count / n_tok==len(tokens) analogue: n_chars == length(text)
@query(
    "v8_length_invariant",
    """
    SELECT CAST(n_chars = length(text) AS INT) AS ok, count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def v8_length_invariant(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        (F.col("n_chars") == F.length("text")).cast("int").alias("ok")
    ).agg(F.count("*").alias("n"))


# V10 + V11 in one probe: max field length (XLSX version sheet:
# field <= 2000 chars) and required/notEmpty (elr-schema.csvs:31,61
# patient_id notEmpty). Both rules grouped in a single pass — the
# engine's rule compiler evaluates every rule per row anyway (V17
# accumulation), so one groupBy over both flags exercises both.
@query(
    "v10_v11_field_rules",
    """
    SELECT CAST(n_chars > 400 AS INT) AS too_long,
           CAST(text IS NOT NULL AND trim(text) <> ''
            AND lang IS NOT NULL AND trim(lang) <> '' AS INT) AS required_ok,
           count(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def v10_v11_field_rules(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ok = (
        F.col("text").isNotNull()
        & (F.trim("text") != "")
        & F.col("lang").isNotNull()
        & (F.trim("lang") != "")
    )
    return d.groupBy(
        (F.col("n_chars") > 400).cast("int").alias("too_long"),
        ok.cast("int").alias("required_ok"),
    ).agg(F.count("*").alias("n"))


# V12: conditionally-required group: >=1 of N non-empty
# (ConditionallyRequiredFieldValidator.java:13-26 fails iff numSet==0)
@query(
    "v12_conditional_group",
    """
    SELECT event_type,
           CAST(sum(CASE WHEN (props IS NULL OR trim(props) = '')
                     AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def v12_conditional_group(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    all_blank = (F.col("props").isNull() | (F.trim("props") == "")) & F.col(
        "value"
    ).isNull()
    return e.groupBy("event_type").agg(
        F.sum(all_blank.cast("long")).alias("violations"), F.count("*").alias("n")
    )


# V13 + V14 in one probe: allowed-value list
# (cerberus_data_validation.py:40) and regex rule
# (proof-of-concept/README.md:116) — grouped together in one pass,
# same rationale as v10_v11_field_rules.
@query(
    "v13_v14_value_rules",
    """
    SELECT lang, CAST(lang IN ('en','es','de','fr','zh') AS INT) AS allowed,
           CAST(regexp_matches(text, '^(the|spark|join)\\s') AS INT) AS matched,
           count(*) AS n
    FROM documents GROUP BY 1, 2, 3
    """,
)
def v13_v14_value_rules(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        "lang",
        F.col("lang").isin("en", "es", "de", "fr", "zh").cast("int").alias("allowed"),
        F.col("text").rlike(r"^(the|spark|join)\s").cast("int").alias("matched"),
    ).agg(F.count("*").alias("n"))


# V17: error accumulation — all violated rules reported per row
# (ExternalFunctions.java:9-16), exported as a joined string
@query(
    "v17_fail_reasons",
    """
    SELECT doc_id,
           coalesce(array_to_string(list_filter([
             CASE WHEN n_chars <> length(text) THEN 'length_mismatch' END,
             CASE WHEN lang NOT IN ('en','es','de','fr','zh') THEN 'bad_lang' END,
             CASE WHEN n_chars > 400 THEN 'too_long' END
           ], x -> x IS NOT NULL), '|'), '') AS fail_reasons
    FROM documents
    """,
)
def v17_fail_reasons(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_chars") != F.length("text"), F.lit("length_mismatch")),
            F.when(~F.col("lang").isin("en", "es", "de", "fr", "zh"), F.lit("bad_lang")),
            F.when(F.col("n_chars") > 400, F.lit("too_long")),
        )
    )
    return d.select("doc_id", F.array_join(reasons, "|").alias("fail_reasons"))


# =====================================================================
# 3. aggregations
# =====================================================================

# A1: pass/fail counts per run (csvValidationFunction_Generic.kt:87-109)
@query(
    "a1_status_counts",
    """
    SELECT source, CAST(sum(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END) AS BIGINT) AS passed,
           CAST(sum(CASE WHEN n_chars <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS failed
    FROM documents GROUP BY source
    """,
)
def a1_status_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum((F.col("n_chars") > 200).cast("long")).alias("passed"),
        F.sum((F.col("n_chars") <= 200).cast("long")).alias("failed"),
    )


# A2: row-wise group-membership count via higher-order function
# (ConditionallyRequiredFieldValidator.java:16 stream().filter(isSet).count())
@query(
    "a2_group_membership",
    """
    SELECT num_set, count(*) AS n FROM (
      SELECT (CASE WHEN props IS NOT NULL AND trim(props) <> '' THEN 1 ELSE 0 END
            + CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END) AS num_set
      FROM events) GROUP BY num_set
    """,
)
def a2_group_membership(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    num_set = F.size(
        F.filter(
            F.array(
                (F.col("props").isNotNull() & (F.trim("props") != "")),
                F.col("value").isNotNull(),
                F.col("event_type").isNotNull(),
            ),
            lambda x: x,
        )
    )
    return e.groupBy(num_set.alias("num_set")).agg(F.count("*").alias("n"))


# A3: benchmark stats mean + stddev (ValidateEntry.java:135-164)
@query(
    "a3_phase_stats",
    """
    SELECT event_type, round(avg(value), 4) AS avg_value,
           round(stddev_pop(value), 4) AS sd_value, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def a3_phase_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_pop("value"), 4).alias("sd_value"),
        F.count("*").alias("n"),
    )


# A4: per-source lineage rollup (events applied / rejects per slice)
@query(
    "a4_source_rollup",
    """
    SELECT source, count(*) AS events_seen,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM documents GROUP BY source
    """,
)
def a4_source_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("events_seen"), F.sum("n_chars").alias("chars_total"))
    )


# A5: CDC dedup — latest change per key by (ts, id) total order
# (north_star window row_number). Registered query = the PRODUCTION
# plan only: the skew-proof single-shuffle max_by aggregate (map-side
# partial aggregation collapses hot keys before the exchange). The
# max_by ↔ window ↔ salted-two-phase equivalence is proven in pytest
# (tests/test_dedup.py parametrizes all three implementations against
# the same expected output, incl. a 1000-events-on-one-key skew case).
@query(
    "a5_dedup_latest",
    """
    SELECT user_id, event_type AS last_event_type,
           round(value, 4) AS last_value, event_id AS last_event_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def a5_dedup_latest(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    row = F.max_by(
        F.struct("event_type", "value", "event_id"), F.struct("ts", "event_id")
    ).alias("r")
    return (
        e.groupBy("user_id")
        .agg(row)
        .select(
            "user_id",
            F.col("r.event_type").alias("last_event_type"),
            F.round("r.value", 4).alias("last_value"),
            F.col("r.event_id").alias("last_event_id"),
        )
    )


# =====================================================================
# 4. windows
# =====================================================================

# Both window families in one query (ranking + ordered running
# aggregate): top-2 orders per customer by price, each carrying the
# running total of that customer's spend up to the order's date. One
# shuffle on the shared partition key feeds two window sorts. The
# running sum is order-deterministic (ordered frame), so a double
# round is hash-stable across engines.
@query(
    "w1_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rk, running_total FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
      FROM orders) WHERE rk <= 2
    """,
)
def w1_topk_per_group(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("running_total", F.round(F.sum("o_totalprice").over(w_run), 2))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk", "running_total")
    )


# =====================================================================
# 5. joins + TPC-H-ish headline queries
# =====================================================================

# J3: change-batch ⋈ target on key — the MERGE join shape; small dim
# side broadcast (SURVEY.md J3)
@query(
    "j3_key_join",
    """
    SELECT c.c_mktsegment, round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j3_key_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


# J4 folded into f7_existence_antijoin (r3e) — see section 1.


# TPC-H Q1 shape: pricing summary (flagship batch aggregate). Both
# engines compute each average as the exact mean of the per-row cents
# (floor(x*100+0.5), as in Q3), rounded half-up to 4 decimals in
# integer arithmetic — (200 * cents + n) div (2 * n) — and then divided
# by 10^4 once. round(avg(double), 4) disagreed at exact ties
# (19867 / 800 = 24.83375): Spark rounds the decimal rendering up,
# DuckDB the nearest double down. A DECIMAL avg does not help, since
# DuckDB's avg(DECIMAL) returns a DOUBLE.
def _avg_half_up4(c: str):
    return F.expr(
        f"(200 * sum(CAST(floor({c} * 100 + 0.5) AS BIGINT)) + count(*))"
        f" div (2 * count(*)) / 10000"
    )


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           (200 * sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) + count(*))
               // (2 * count(*)) / 10000 AS avg_qty,
           (200 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) + count(*))
               // (2 * count(*)) / 10000 AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            _avg_half_up4("l_quantity").alias("avg_qty"),
            _avg_half_up4("l_extendedprice").alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# TPC-H Q3 shape: shipping priority (3-way join, selective filters).
# Revenue is accumulated in integer CENTS (per-row floor(x*100+0.5) is
# the same IEEE double sequence on both engines, and bigint summation
# is order-independent) — a round(sum(double), 2) here measurably flips
# 2-decimal boundaries across 1,180 groups depending on partial-agg
# order, failing the cross-engine value hash.
@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderpriority
    """,
)
def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.sum(cents).alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderpriority")
    )


# TPC-H Q5 shape: multi-join star traversal, revenue per nation
@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# grouping sets: rollup totals (reference has none; standard engine op)
@query(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


# =====================================================================
# 6. training-data pipeline ops (dedup / similarity / text analysis)
# =====================================================================
# These go beyond the reference's own operators: the operations a
# large-scale training-data pipeline needs over the same engine.

# ---- exact dedup: hash-groupBy --------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("rep_doc"), F.count("*").alias("n_copies")
    )


# ---- shared shingle helpers ----------------------------------------

_SHINGLES_SQL = """
      SELECT DISTINCT doc_id, unnest(
        [array_to_string(w[i:i+{m}], ' ')
         FOR i IN range(1, greatest(len(w) - {m}, 0) + 1)]) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


# ---- n-gram Jaccard near-dup ----------------------------------------
# Pipeline: shingle explode -> DOCUMENT-FREQUENCY CAP -> co-occurrence
# self-join on shingle -> per-pair intersection count -> |A|+|B|-inter
# -> Jaccard histogram. The df cap is the scale guard: without it one
# hot shingle (a common 4-gram appearing in k docs) contributes k^2/2
# join rows, making the self-join quadratic at 100 TB. Shingles with
# df > _SHINGLE_DF_CAP are dropped from BOTH the intersection and the
# set sizes (standard "capped Jaccard" — hot shingles carry no dedup
# signal anyway). Histogram output keeps the result small +
# deterministic while still exercising the full pairwise pipeline.
_SHINGLE_DF_CAP = 30

_CAPPED_SHINGLES_SQL = f"""
      SELECT s.doc_id, s.shingle
      FROM ({_SHINGLES_SQL.format(m=3)}) s
      JOIN (SELECT shingle FROM ({_SHINGLES_SQL.format(m=3)})
            GROUP BY shingle HAVING count(*) <= {_SHINGLE_DF_CAP}) keep
        USING (shingle)
"""


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_CAPPED_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 1) AS jaccard_bucket,
           count(*) AS n_pairs
    FROM inter JOIN sizes sa ON inter.da = sa.doc_id
               JOIN sizes sb ON inter.db = sb.doc_id
    GROUP BY 1
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    from pyspark.sql import Window

    # Shape: ONE exchange of the big shingle frame, NO self-join.
    # The df cap is a COUNT OVER (PARTITION BY shingle) window —
    # spill-safe for arbitrarily hot shingles (WindowExec buffers a
    # partition group in an external sorter; a collect_list df-count
    # would build an unspillable O(df) buffer per hot shingle). The
    # groupBy(shingle) collect_list that follows REUSES the window's
    # hash partitioning (same key, no new exchange) and its lists are
    # bounded by the cap (<= 30 elements), so the co-occurring pairs
    # are generated JVM-side with nested array HOFs — O(cap^2/2) max
    # per shingle — instead of a self-join that re-shuffled the frame
    # twice and hash-probed 4M rows. Measured at sf0.1: 6.9-7.6 s
    # (join shape) -> 3.6-4.1 s, identical output. The list frame is
    # checkpointed once: it feeds both the pair explosion and the
    # per-doc size aggregate.
    #
    # r4b: shingles flow as 8-byte xxhash64 LONGS, not gram strings —
    # per-doc set semantics come from a MAP-SIDE array_distinct over
    # the per-row gram-hash array (the distinct() exchange of the
    # exploded string frame is gone entirely), and every downstream
    # exchange/sort/probe handles fixed-width longs instead of ~40-char
    # strings. Invisible to the DuckDB oracle: the output is the
    # jaccard-bucket histogram, identical unless two distinct grams
    # collide in 64 bits (~10⁻⁷ at sf0.1 volumes). The gram definition
    # is the engine-wide shared one (operators/grams.py), so this
    # query, the span-dedup anchors and the decontamination grams can
    # never drift apart.
    from .operators.grams import gram_hashes

    d0 = _t(spark, sf_dir, "documents")
    staged = d0.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    sh0 = staged.select(
        "doc_id",
        F.explode(F.array_distinct(gram_hashes(F.col("_w"), 4, "xxhash64"))).alias(
            "shingle"
        ),
    )
    w = Window.partitionBy("shingle")
    lists = (
        sh0.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        lists.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # da < db ordering comes from array_sort above (same string
    # ordering as the SQL oracle's a.doc_id < b.doc_id predicate)
    ds = F.col("ds")
    pair_arrays = F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + F.lit(2), F.size(ds)),
            lambda y: F.struct(x.alias("da"), y.alias("db")),
        ),
    )
    inter = (
        lists.filter(F.size("ds") >= 2)
        .select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .groupBy(F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    jac = (
        inter.join(sa, "da")
        .join(sb, "db")
        .select(
            F.round(
                F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i")), 1
            ).alias("jaccard_bucket")
        )
    )
    return jac.groupBy("jaccard_bucket").agg(F.count("*").alias("n_pairs"))


# ---- MinHash + LSH banding ------------------------------------------
# signature: 8 minhashes = min over shingles of 8-hex-char windows cut
# from TWO seeded md5s (4 windows each) — 2 hash computations per
# shingle instead of 8, measured 3.1 -> 2.4 s warm at sf0.1 with
# equivalent candidate statistics. Hex strings order identically in
# Spark and DuckDB; 4 bands of 2 rows; docs sharing a band bucket
# become candidate pairs.
_MINHASH_K = 8
_MINHASH_BANDS = 4
# Hot-band bound mirrored from the PRODUCTION near-dup index
# (operators/dedup_index.py POSTING_CAP): a band bucket contributes at
# most C(cap,2) candidate pairs, so a batch of near-identical docs can
# never go quadratic — the same contract the CDC-synced posting lists
# enforce. Kept numerically in sync by test_dedup (cap-equality
# assertion); a literal here because the oracle SQL string is built at
# import time.
_LSH_BUCKET_CAP = 128


def _mh_window_sql(k: int) -> str:
    return f"substring(md5('{k // 4}' || shingle), {1 + 8 * (k % 4)}, 8)"


def _minhash_pairs_ctes() -> str:
    """The shared CTE chain shingles -> signatures -> bands ->
    (bucket-capped) pairs, reused by the banding rollup and the
    components clustering oracle. bands_c keeps the FIRST cap docs per
    (band, key) in doc_id order — the deterministic witness set, same
    rule as dedup_index's capped postings."""
    sig_cols = ",\n      ".join(
        f"min({_mh_window_sql(k)}) AS h{k}" for k in range(_MINHASH_K)
    )
    rows_per_band = _MINHASH_K // _MINHASH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(_MINHASH_BANDS)
    )
    return f"""sh AS ({_SHINGLES_SQL.format(m=3)}),
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    bands_c AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, band, key,
               row_number() OVER (PARTITION BY band, key ORDER BY doc_id)
                 AS rn
        FROM bands)
      WHERE rn <= {_LSH_BUCKET_CAP}
    ),
    pairs AS (
      SELECT DISTINCT a.band, a.doc_id AS da, b.doc_id AS db
      FROM bands_c a JOIN bands_c b ON a.band = b.band AND a.key = b.key
       AND a.doc_id < b.doc_id
    )"""


def _minhash_sql() -> str:
    return f"""
    WITH {_minhash_pairs_ctes()}
    SELECT band, count(*) AS n_candidate_pairs FROM pairs GROUP BY band
    """


def _minhash_capped_buckets(spark, sf_dir) -> DataFrame:
    """(band, key, ds) — per band bucket, the sorted doc list capped at
    _LSH_BUCKET_CAP witnesses (first cap docs in doc_id order, the
    production POSTING_CAP rule from operators/dedup_index.py).

    Shape: ONE exchange on (band, key). The row_number window is
    spill-safe for arbitrarily hot buckets (external sorter), and the
    groupBy that follows reuses the window's hash partitioning — no
    second exchange. Every downstream list is <= cap elements, so
    pair generation is O(cap^2/2) per bucket, never quadratic in the
    corpus.

    Signature + band computation comes from the SHARED scheme in
    operators/dedup_index.py (the CDC-maintained dedup index), so the
    batch pipeline and the persisted index provably agree.
    keep_short=False: band buckets ignore null-signature docs, so the
    short-doc anti-join would be dead weight here."""
    from .operators.dedup_index import (
        band_keys,
        capped_band_lists,
        minhash_signatures,
    )

    sig = minhash_signatures(
        _t(spark, sf_dir, "documents"), keep_short=False, scheme="md5"
    )
    return capped_band_lists(band_keys(sig), cap=_LSH_BUCKET_CAP)


def _minhash_candidate_pairs(spark, sf_dir) -> DataFrame:
    """(band, da, db) LSH candidate pairs, bucket-capped — shared by
    the banding query and the connected-components clustering query;
    pair generation is the SHARED dedup_index.band_candidate_pairs
    (JVM-side nested HOFs from capped lists — no self-join)."""
    from .operators.dedup_index import band_candidate_pairs

    return band_candidate_pairs(_minhash_capped_buckets(spark, sf_dir))


@query("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark, sf_dir):
    # Candidate-pair COUNT per band needs only CAPPED BUCKET SIZES:
    # sum C(least(n, cap), 2). No lists, no window sort, no join —
    # a plain count() per (band, key) with map-side partial
    # aggregation (hot buckets collapse before the exchange), then a
    # tiny per-band rollup. The capped witness SET (who survives the
    # cap) is doc_id-order-deterministic, but the COUNT is the same
    # regardless, so this is exactly the bands_c-join count the
    # oracle computes.
    from .operators.dedup_index import band_keys, minhash_signatures

    sig = minhash_signatures(
        _t(spark, sf_dir, "documents"), keep_short=False, scheme="md5"
    )
    sizes = (
        band_keys(sig)
        .groupBy("band", "key")
        .agg(F.least(F.count("*"), F.lit(_LSH_BUCKET_CAP)).alias("n"))
    )
    return (
        sizes.filter(F.col("n") >= 2)
        .groupBy("band")
        .agg(
            F.sum(
                (F.col("n").cast("long") * (F.col("n") - 1) / 2).cast("long")
            ).alias("n_candidate_pairs")
        )
    )


# ---- near-dup CLUSTERING: candidate pairs -> dedup groups ------------
# The last step of every near-dup pipeline: LSH emits PAIRS, the dedup
# decision needs GROUPS. Distributed iterative min-label propagation
# (operators/components.py — one join + one aggregate per round,
# lineage-truncated); oracle = DuckDB recursive CTE computing the
# minimum reachable doc per vertex over the SAME candidate pairs.
def _components_sql() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    edges AS (
      SELECT da AS a, db AS b FROM (SELECT DISTINCT da, db FROM pairs)
      UNION ALL
      SELECT db AS a, da AS b FROM (SELECT DISTINCT da, db FROM pairs)
    ),
    reach(v, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    ),
    comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
    SELECT component, count(*) AS n_members, min(v) AS representative
    FROM comp GROUP BY component
    """


@query("dedup_components", _components_sql())
def dedup_components(spark, sf_dir):
    from .operators.components import dedup_groups

    pairs = _minhash_candidate_pairs(spark, sf_dir).select("da", "db").distinct()
    return dedup_groups(pairs)


# ---- Exact duplicate spans (Lee et al. exact-substring dedup) --------
# The REAL operator (operators/spandedup.py) under its md5 scheme: a
# k-gram duplicated anywhere in the corpus anchors a duplicated span;
# interval-union of [pos, pos+k) over dup-gram starts = the maximal
# duplicated spans of >= k tokens. Two shuffles: gram counts + the
# dup-only island window.
_SPAN_K = 8


def _span_sql(k: int = _SPAN_K) -> str:
    rng = f"range(1, greatest(len(w) - {k - 1}, 0) + 1)"
    return f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             unnest([i - 1 FOR i IN {rng}]) AS pos,
             unnest([md5(array_to_string(w[i:i+{k - 1}], ' ')) FOR i IN {rng}]) AS g
      FROM docs
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {k}
                  THEN 1 ELSE 0 END AS b
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {k} AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island
    """


@query("dedup_spans", _span_sql())
def dedup_spans(spark, sf_dir):
    from .operators.spandedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, min_len=_SPAN_K, scheme="md5")


# ---- SimHash ---------------------------------------------------------
# 16-bit simhash over word hashes (15 hex chars of md5 -> int64; per
# bit: sign of sum(+1/-1) weighted by word occurrences).
_SIMHASH_BITS = 16


def _simhash_sql() -> str:
    bit_sums = ",\n      ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(word), 1, 15))::BIGINT AS h FROM words
    ),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {combine} AS simhash FROM bits
    """


@query("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    h = F.conv(F.substring(F.md5(F.col("word").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    hashed = words.select("doc_id", h.alias("h"))
    bits = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    combine = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(1, _SIMHASH_BITS),
        F.when(F.col("s0") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return bits.select("doc_id", combine.cast("long").alias("simhash"))


# ---- embedding cosine near-dup --------------------------------------
# float32 -> float64 before multiply so both engines do the same math.

_COS_SQL_EXPR = """
      list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                FOR i IN range(1, len(a.embedding) + 1)])
      / sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                FOR i IN range(1, len(a.embedding) + 1)]))
      / sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                FOR i IN range(1, len(b.embedding) + 1)]))
"""


def _cos_spark(a: str, b: str) -> F.Column:
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    ax, bx = F.col(f"{a}.embedding"), F.col(f"{b}.embedding")
    return dot(ax, bx) / F.sqrt(dot(ax, ax)) / F.sqrt(dot(bx, bx))


# Scale path: candidate pairs come from sign-bit hyperplane LSH
# buckets (first 8 dims -> 256 buckets), NOT an all-pairs cross join —
# the join is bucket-equality, so candidate volume is ~N^2/256 worst
# case and bounded further by the per-bucket size cap (oversized
# buckets are dropped, degrading recall gracefully instead of going
# quadratic on a skewed bucket).
_SIGNBUCKET_SQL = """
      SELECT vec_id, embedding,
             array_to_string([CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END
                              FOR i IN range(1, 9)], '') AS bucket
      FROM embeddings
"""
_ANN_BUCKET_CAP = 512


def _signbucket_spark(e: DataFrame) -> DataFrame:
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at(F.col("embedding"), i) >= 0, "1").otherwise("0")
            for i in range(1, 9)
        ],
    )
    return e.withColumn("bucket", bucket)


def _bounded_buckets_spark(bk: DataFrame, cap: int = _ANN_BUCKET_CAP) -> DataFrame:
    """Drop rows whose LSH bucket holds more than ``cap`` vectors —
    the quadratic-bucket guard. The per-bucket histogram is tiny
    (<= 256 rows) so it broadcasts."""
    ok = (
        bk.groupBy("bucket")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= cap)
        .select("bucket")
    )
    return bk.join(F.broadcast(ok), "bucket")


_BOUNDED_BUCKETS_SQL = f"""
      SELECT b.* FROM ({_SIGNBUCKET_SQL}) b
      JOIN (SELECT bucket FROM ({_SIGNBUCKET_SQL})
            GROUP BY bucket HAVING count(*) <= {_ANN_BUCKET_CAP}) ok
        USING (bucket)
"""


@query(
    "dedup_embedding_cosine",
    f"""
    WITH bucketed AS ({_BOUNDED_BUCKETS_SQL})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COS_SQL_EXPR}, 4) AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_COS_SQL_EXPR} >= 0.2
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    bk = _bounded_buckets_spark(
        _signbucket_spark(_t(spark, sf_dir, "embeddings"))
    ).localCheckpoint(eager=False)
    a = bk.alias("a")
    b = bk.alias("b")
    cos = _cos_spark("a", "b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("_cos"),
        )
        .filter(F.col("_cos") >= 0.2)
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cos_sim"))
    )


# ---- ANN: brute-force top-k ------------------------------------------
@query(
    "ann_topk_bruteforce",
    f"""
    SELECT * FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL_EXPR}, 4) AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL_EXPR} DESC, b.vec_id) AS rk
      FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
    ) WHERE rk <= 10
    """,
)
def ann_topk_bruteforce(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 5).alias("a")
    b = e.alias("b")
    cos = _cos_spark("a", "b")
    scored = a.join(b, F.col("b.vec_id") != F.col("a.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.round("_cos", 4).alias("cos_sim"), "rk")
    )


# ---- ANN: LSH-bucketed (sign-bit hyperplane buckets) -----------------
# The scale path: bucket on the sign pattern of the first 8 dims, then
# search only within the query's bucket (candidate set ~ N/256),
# with the same per-bucket size cap as dedup_embedding_cosine bounding
# the worst-case skewed bucket.
@query(
    "ann_lsh_bucketed",
    f"""
    WITH bucketed AS ({_BOUNDED_BUCKETS_SQL})
    SELECT * FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket AS bucket,
             round({_COS_SQL_EXPR}, 4) AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL_EXPR} DESC, b.vec_id) AS rk
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id AND a.vec_id < 20
    ) WHERE rk <= 3
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    from pyspark.sql import Window

    bk = _bounded_buckets_spark(
        _signbucket_spark(_t(spark, sf_dir, "embeddings"))
    ).localCheckpoint(eager=False)
    a = bk.filter(F.col("vec_id") < 20).alias("a")
    b = bk.alias("b")
    cos = _cos_spark("a", "b")
    scored = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("a.bucket").alias("bucket"),
        cos.alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "bucket", F.round("_cos", 4).alias("cos_sim"), "rk")
    )


# ---- ANN: IVF (coarse cells + k-means refinement + nprobe) -----------
# The REAL operator (operators/ann.py): broadcast-centroid assignment,
# one Lloyd refinement iteration, per-cell posting lists, probed
# search. Run at FULL probe (nprobe == n_cells) so the result is
# provably exact — the oracle is the brute-force top-k SQL. Recall at
# partial probe is covered in tests/test_ann_ivf.py.
_IVF_CELLS = 8


@query(
    "ann_ivf",
    f"""
    SELECT * FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL_EXPR}, 4) AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL_EXPR} DESC, b.vec_id) AS rk
      FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
    ) WHERE rk <= 10
    """,
)
def ann_ivf(spark, sf_dir):
    from .operators.ann import build_index, centroids, refine_centroids, search

    e = _t(spark, sf_dir, "embeddings")
    cts = refine_centroids(e, centroids(e, _IVF_CELLS), iterations=1)
    index = build_index(e, n_cells=_IVF_CELLS, cts=cts)
    qs = e.filter(F.col("vec_id") < 5)
    return search(
        index, qs, k=10, nprobe=_IVF_CELLS, n_cells=_IVF_CELLS, cts=cts, round_to=4
    )


# =====================================================================
# 7. text analysis (language-ID, quality, token count, fingerprint)
# =====================================================================

# Token counting (whitespace + BPE-ish regex) AND quality scoring
# (stopword/punct ratios, length gate) consolidated into ONE per-doc
# stats query — a single scan computes both operator families,
# keeping two slots of the driver's 50-query window open for
# pack_sequences and dedup_components.
_STOPWORDS = ("the", "a", "of", "and", "to", "in")


@query(
    "text_quality_gates",
    None,  # SQL attached below — it needs helpers defined later
)
def text_quality_gates(spark, sf_dir):
    """The full per-document admission-gate surface in ONE query —
    token counting, the complete Gopher/MassiveText repetition-stats
    family + compiled threshold flags (operators/textquality.py), and
    the CCNet bigram-LM perplexity band (operators/lmfilter.py; LM
    learned with min_count=2 prune on the trusted slice doc_id%7==0,
    every other document scored under it; trusted docs carry sentinel
    0/0.0/'trained'). Consolidated per the <=50-query driver-window contract
    (tests/test_queries_oracle.py) — same pattern as the r3
    consolidations. All stats are per-row JVM expressions (one scan);
    the perplexity join is the lmfilter module's broadcast-friendly
    count-table join."""
    from .operators.lmfilter import (
        band as ppl_band,
        learn_bigram_lm,
        score_perplexity,
    )
    from .operators.textquality import quality_flags, repetition_stats

    d = _t(spark, sf_dir, "documents")
    stats = quality_flags(repetition_stats(d))
    # token-count columns need the word array too; staged split (the
    # engine-wide quadratic-split rule — the filter lambda below would
    # otherwise re-split per word)
    stats = stats.withColumn("_w", F.split(F.col("text"), " "))
    words = F.col("_w")
    stop_ratio = F.size(
        F.filter(words, lambda w: w.isin(*_STOPWORDS))
    ).cast("double") / F.size(words)
    punct_ratio = F.length(
        F.regexp_replace(F.col("text"), r"[^.!?,;:]", "")
    ).cast("double") / F.length("text")
    gated = stats.select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_ish"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.col("n_chars").between(100, 400).cast("int").alias("length_ok"),
        "n_words",
        "dup_word_frac",
        "dup_line_frac",
        "top_bigram_frac",
        "top_trigram_frac",
        "mean_word_len",
        "frac_alpha_words",
        "symbol_word_ratio",
        F.array_join("fail_reasons", "; ").alias("fail_summary"),
        F.col("quality_pass").cast("int").alias("quality_pass"),
    )
    lm = learn_bigram_lm(d.filter(F.col("doc_id") % 7 == 0), min_count=2)
    ppl = ppl_band(
        score_perplexity(d.filter(F.col("doc_id") % 7 != 0), lm),
        head=_PPL_HEAD,
        tail=_PPL_TAIL,
    ).withColumnRenamed("n_tok", "ppl_n_tok")
    # trusted (training-slice) docs carry sentinel 0/0.0/'trained'
    # instead of NULLs: the driver's row-sort compares cells directly,
    # and mixed None/str cells are unorderable in Python
    return gated.join(ppl, ["doc_id"], "left").select(
        *[c for c in gated.columns],
        F.coalesce("ppl_n_tok", F.lit(0)).alias("ppl_n_tok"),
        F.coalesce("ppl", F.lit(0.0)).alias("ppl"),
        F.coalesce("band", F.lit("trained")).alias("band"),
    )


# ---- sequence packing (concat-and-chunk into context windows) --------
# THE canonical LLM training-data op over this engine's domain
# (tokenized sequences): documents are concatenated in a deterministic
# order per source and chunked into fixed-size context windows; a doc
# belongs to the window its first token lands in. Pure window-cumsum —
# one shuffle on the packing partition key, no UDF; at 100 TB the
# per-source streams pack independently (source is the shuffle key),
# and a skewed source salts exactly like any hot aggregation key.
_PACK_CTX = 256


@query(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) + 1 AS n  -- +1 = EOS
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS e
      FROM toks
    ),
    spans AS (
      SELECT doc_id,
             CAST(floor((e - n) / {_PACK_CTX}.0) AS BIGINT) AS p0,
             CAST(floor((e - 1) / {_PACK_CTX}.0) AS BIGINT) AS p1
      FROM cum
    ),
    expanded AS (
      SELECT doc_id, unnest(range(p0, p1 + 1)) AS pack_seq FROM spans
    ),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM toks)
    SELECT pack_seq,
           count(*) AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(CASE WHEN pack_seq < (SELECT t FROM total) // {_PACK_CTX}
                THEN {_PACK_CTX}
                ELSE (SELECT t FROM total) % {_PACK_CTX} END AS INT)
             AS n_real
    FROM expanded GROUP BY pack_seq
    """,
)
def pack_sequences(spark, sf_dir):
    """Drives the REAL packer (operators/packing.pack_sequences — the
    mapInArrow concat-and-chunk engine op, bench'd at ~10M tokens/s)
    and aggregates its OUTPUT rows to an oracle-checkable summary:
    per pack, its sequence number, contributing-doc count, first/last
    contributor and real-token fill. The DuckDB twin derives the same
    numbers independently from the documents table by interval
    arithmetic over the concatenated stream — so a packer bug (lost
    remainder, wrong doc attribution, off-by-one at a chunk boundary)
    breaks the hash match.

    Determinism: the packer packs per partition; the query pins ONE
    deterministic stream (coalesce(1) + sort by doc_id) so the oracle
    is closed-form. The SCALE path packs per source/partition streams
    independently — same operator, no coalesce (see
    bench.measure_packing and tests/test_packing.py)."""
    from .operators.packing import pack_sequences as pack_op

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w).cast("int")
        ).alias("tokens"),
    ).coalesce(1)
    packed = pack_op(toks, seq_len=_PACK_CTX, eos_id=0)
    return packed.select(
        F.split(F.col("pack_id"), "-").getItem(1).cast("long").alias("pack_seq"),
        F.size("docs").alias("n_docs"),
        # the packer stringifies ids for pack lineage; the documents
        # table's doc_id is numeric — cast back for the oracle compare
        F.col("docs").getItem(0).cast("long").alias("first_doc"),
        F.element_at(F.col("docs"), -1).cast("long").alias("last_doc"),
        F.col("n_real"),
    )


_LANG_MARKERS = {
    "lang_a": ("the", "a", "fast", "slow"),
    "lang_b": ("join", "merge", "sort", "hash"),
    "lang_c": ("spark", "stream", "batch", "query"),
}


def _langid_sql() -> str:
    scores = ",\n      ".join(
        f"len(list_filter(string_split(text, ' '), w -> w IN {m!r})) AS {k}"
        for k, m in _LANG_MARKERS.items()
    )
    keys = list(_LANG_MARKERS)
    pred = (
        f"CASE WHEN {keys[0]} >= {keys[1]} AND {keys[0]} >= {keys[2]} THEN '{keys[0]}' "
        f"WHEN {keys[1]} >= {keys[2]} THEN '{keys[1]}' ELSE '{keys[2]}' END"
    )
    return f"""
    WITH scored AS (SELECT doc_id, {scores} FROM documents)
    SELECT doc_id, {pred} AS lang_pred FROM scored
    """


def _marker_hits(words: F.Column, markers: tuple[str, ...]) -> F.Column:
    # single-arg lambda (PySpark uses lambda arity: 2 args would mean
    # (element, index)); markers captured by closure
    def is_marker(w):
        return reduce(lambda a, s: a | (w == s), markers[1:], w == markers[0])

    return F.size(F.filter(words, is_marker))


@query("text_langid", _langid_sql())
def text_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # split staged once: the three marker counters each reference the
    # word array (linear, but 3 splits/row left inline)
    staged = d.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    words = F.col("_w")
    scored = staged.select(
        "doc_id",
        *[_marker_hits(words, m).alias(k) for k, m in _LANG_MARKERS.items()],
    )
    keys = list(_LANG_MARKERS)
    pred = (
        F.when(
            (F.col(keys[0]) >= F.col(keys[1])) & (F.col(keys[0]) >= F.col(keys[2])),
            keys[0],
        )
        .when(F.col(keys[1]) >= F.col(keys[2]), keys[1])
        .otherwise(keys[2])
    )
    return scored.select("doc_id", pred.alias("lang_pred"))


# Two fingerprint families: an order-insensitive content fingerprint
# (md5 of the sorted distinct vocabulary) and an order-SENSITIVE
# rolling (polynomial / Karp-Rabin) hash over per-word hashes —
# acc = (acc*B + h(word)) mod M left-to-right, so re-ordered
# documents fingerprint differently.
_RH_B = 1_000_003
_RH_M = 2_147_483_647


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fingerprint,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               [('0x' || substring(md5(w), 1, 15))::BIGINT
                FOR w IN string_split(lower(text), ' ')]),
             (acc, x) -> (acc * {_RH_B} + x) % {_RH_M}) AS rolling_fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(words)), " ").cast("binary")
    )
    wh = F.transform(
        words,
        lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    rolling = F.aggregate(
        wh,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_RH_B) + x) % F.lit(_RH_M),
    )
    return d.select("doc_id", fp.alias("fingerprint"), rolling.alias("rolling_fp"))


# ---- benchmark decontamination (n-gram overlap vs eval set) ----------
# Drives operators/decontaminate.py: benchmark docs = doc_id % 19 == 0
# (a deterministic in-corpus stand-in for an eval suite), corpus = the
# rest; a corpus doc is contaminated iff it shares >= 2 distinct word
# 4-grams with any benchmark doc. Plan: tiny benchmark gram set is
# BROADCAST, corpus grams stream map-side through the join; the one
# shuffle carries only matching grams (see module docstring for the
# 100 TB shape).
@query(
    "llm_decontaminate",
    f"""
    WITH sh AS ({_SHINGLES_SQL.format(m=3)}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 19 = 0),
    hits AS (
      SELECT s.doc_id, count(DISTINCT s.shingle) AS n_hits
      FROM sh s JOIN bench b USING (shingle)
      WHERE s.doc_id % 19 <> 0 GROUP BY 1
    )
    SELECT d.source,
           CAST(coalesce(h.n_hits, 0) >= 2 AS INT) AS contaminated,
           count(*) AS n_docs
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 19 <> 0
    GROUP BY 1, 2
    """,
)
def llm_decontaminate(spark, sf_dir):
    from dexspark.operators.decontaminate import contamination_hits

    d = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 19 == 0
    corpus = d.filter(~is_bench)
    hits = contamination_hits(corpus, d.filter(is_bench), n=4)
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy(
            "source",
            (F.coalesce("n_hits", F.lit(0)) >= 2).cast("int").alias("contaminated"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


# ---- data mixing: deterministic per-source token budgets -------------
# Drives operators/sampling.py's SCALABLE path (histogram + boundary
# window — the naive one-window-per-source plan would shuffle the
# whole corpus into #sources partitions). Budget rule: source srcK
# gets 1500 + 500*(K % 4) tokens; src19 has no budget and is dropped.
# The oracle states the SEMANTIC definition (one global window per
# source); exact<->scalable equality is additionally pytest-proven on
# random data (tests/test_llmprep.py).
@query(
    "llm_mix_token_budget",
    """
    WITH r AS (
      SELECT source, doc_id, n_chars,
             ('0x' || substr(md5('0' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS f
      FROM documents WHERE source <> 'src19'
    ),
    run AS (
      SELECT source, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY f, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsum
      FROM r
    )
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS kept_tokens
    FROM run
    WHERE rsum <= 1500 + 500 * (CAST(substr(source, 4, 8) AS INT) % 4)
    GROUP BY 1
    """,
)
def llm_mix_token_budget(spark, sf_dir):
    from dexspark.operators.sampling import mix_token_budget

    d = _t(spark, sf_dir, "documents")
    budgets = {f"src{i}": 1500 + 500 * (i % 4) for i in range(19)}
    mixed = mix_token_budget(d, budgets, tokens="n_chars", seed=0, n_buckets=64)
    return mixed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_tokens"),
    )


# ---- oracle SQL for text_quality_gates (query defined earlier) ------
# Recomputes every statistic of the consolidated per-document gate
# query in DuckDB: token counts, the full Gopher stats family (the
# top-n-gram mode count via unnest+group-by+max — the Spark side
# counts it per-row with a sort+run-length fold, no shuffle), the
# threshold flags (conditions/messages generated from
# QualityThresholds.rules() in BOTH engines so the fail_summary text
# cannot drift), and the CCNet bigram-LM perplexity band (identical
# add-one smoothing + min_count=2 prune; ppl is a double compared
# under the driver's 6-significant-digit normalization —
# summation-order noise is ~1e-13 relative, far below it).
_PPL_HEAD, _PPL_TAIL = 32.0, 36.0


def _quality_gates_sql() -> str:
    from .operators.textquality import QualityThresholds

    rules = QualityThresholds().rules()
    cases = ",\n             ".join(
        f"CASE WHEN {cond} THEN '{msg}' END" for msg, cond in rules
    )
    return rf"""
    WITH w AS (
      SELECT doc_id, text, n_chars,
             string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS lines
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w)-1,0)+1)) AS t(i)
    ),
    g3 AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, greatest(len(w)-2,0)+1)) AS t(i)
    ),
    m2 AS (SELECT doc_id, max(c) AS m FROM
             (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2) GROUP BY 1),
    m3 AS (SELECT doc_id, max(c) AS m FROM
             (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1,2) GROUP BY 1),
    stats AS (
      SELECT w.doc_id,
             len(string_split_regex(w.text, '\s+')) AS n_ws_tokens,
             len(regexp_extract_all(w.text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS n_bpe_ish,
             round(len(list_filter(w.w, x -> x IN {_STOPWORDS!r}))::DOUBLE
               / len(w.w), 4) AS stopword_ratio,
             round(length(regexp_replace(w.text, '[^.!?,;:]', '', 'g'))::DOUBLE
               / length(w.text), 4) AS punct_ratio,
             CASE WHEN w.n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
               AS length_ok,
             len(w.w) AS n_words,
             round(1.0 - len(list_distinct(w.w)) / greatest(len(w.w),1), 4)
               AS dup_word_frac,
             round(1.0 - len(list_distinct(w.lines)) / greatest(len(w.lines),1), 4)
               AS dup_line_frac,
             round(least(coalesce(m2.m,0) * 2.0 / greatest(len(w.w),1), 1.0), 4)
               AS top_bigram_frac,
             round(least(coalesce(m3.m,0) * 3.0 / greatest(len(w.w),1), 1.0), 4)
               AS top_trigram_frac,
             round(list_sum(list_transform(w.w, x -> length(x))) * 1.0
               / greatest(len(w.w),1), 4) AS mean_word_len,
             round(len(list_filter(w.w, x -> regexp_matches(x, '[a-zA-Z]')))
               * 1.0 / greatest(len(w.w),1), 4) AS frac_alpha_words,
             round((len(regexp_extract_all(w.text, '#'))
                    + len(regexp_extract_all(w.text, '\.\.\.'))) * 1.0
               / greatest(len(w.w),1), 4) AS symbol_word_ratio
      FROM w LEFT JOIN m2 ON w.doc_id=m2.doc_id LEFT JOIN m3 ON w.doc_id=m3.doc_id
    ),
    flagged AS (
      SELECT *, list_filter([{cases}], x -> x IS NOT NULL) AS reasons
      FROM stats
    ),
    bg AS (SELECT doc_id,
                  CASE WHEN i=1 THEN '<s>' ELSE w[i-1] END AS v,
                  w[i] AS wd
           FROM w, UNNEST(range(1, len(w)+1)) AS t(i)),
    c2 AS (SELECT v, wd, count(*) AS c2 FROM bg WHERE doc_id%7=0 GROUP BY 1,2),
    c1 AS (SELECT v, sum(c2) AS c1 FROM c2 GROUP BY 1),
    vv AS (SELECT count(DISTINCT wd) AS vsz FROM c2),
    c2p AS (SELECT * FROM c2 WHERE c2 >= 2),
    sc AS (SELECT bg.doc_id,
                  (coalesce(c2p.c2,0)+1.0)/(coalesce(c1.c1,0)+vv.vsz) AS p
           FROM bg LEFT JOIN c2p ON bg.v=c2p.v AND bg.wd=c2p.wd
                   LEFT JOIN c1 ON bg.v=c1.v
                   CROSS JOIN vv
           WHERE bg.doc_id % 7 <> 0),
    ppl AS (SELECT doc_id, count(*) AS ppl_n_tok,
                   exp(-sum(ln(p))/count(*)) AS ppl
            FROM sc GROUP BY 1)
    SELECT f.doc_id, f.n_ws_tokens, f.n_bpe_ish, f.stopword_ratio,
           f.punct_ratio, f.length_ok, f.n_words, f.dup_word_frac,
           f.dup_line_frac, f.top_bigram_frac, f.top_trigram_frac,
           f.mean_word_len, f.frac_alpha_words, f.symbol_word_ratio,
           coalesce(array_to_string(f.reasons, '; '), '') AS fail_summary,
           CAST(len(f.reasons) = 0 AS INT) AS quality_pass,
           coalesce(p.ppl_n_tok, 0) AS ppl_n_tok,
           coalesce(p.ppl, 0.0) AS ppl,
           CASE WHEN p.ppl IS NULL THEN 'trained'
                WHEN p.ppl < {_PPL_HEAD} THEN 'head'
                WHEN p.ppl < {_PPL_TAIL} THEN 'middle'
                ELSE 'tail' END AS band
    FROM flagged f LEFT JOIN ppl p ON f.doc_id = p.doc_id
    """


ORACLE_SQL["text_quality_gates"] = _quality_gates_sql()


# =====================================================================
# 8. multimodal plumbing + the CDC engine itself as queries
# =====================================================================

# Multimodal pipeline in one query: binary payload -> typed metadata
# via Arrow-batched mapInPandas (decode stub — see
# dexspark/operators/multimodal.py) -> frame sampling (JVM sequence +
# explode, one row per sampled frame). The stub's outputs are
# deterministic functions of the bytes, so even the Python-side path
# has a full SQL oracle.
@query(
    "multimodal_decode",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             text AS payload_text
      FROM documents
    ),
    h AS (SELECT media_id, kind, length(payload_text) AS n_bytes,
                 sha256(payload_text) AS dig,
                 ('0x' || substring(sha256(payload_text), 1, 8))::BIGINT AS seed
          FROM media),
    d AS (
      SELECT media_id, kind, n_bytes,
             CAST(seed % 1920 + 1 AS INT) AS width,
             CAST((seed // 1920) % 1080 + 1 AS INT) AS height,
             CAST(CASE WHEN kind = 'video' THEN seed % 240 + 1 ELSE 1 END AS INT)
               AS n_frames,
             substring(dig, 1, 16) AS sha_prefix
      FROM h)
    SELECT media_id, kind, n_bytes, width, height, sha_prefix,
           unnest(CASE WHEN kind = 'video'
                  THEN [CAST(x AS INT) for x in range(0, n_frames, 30)]
                  ELSE [0] END) AS frame_idx
    FROM d
    """,
)
def multimodal_decode(spark, sf_dir):
    from .operators.multimodal import (
        decode_media_stub,
        frame_sample,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return frame_sample(decode_media_stub(media), every_n=30).select(
        "media_id", "kind", "n_bytes", "width", "height", "sha_prefix", "frame_idx"
    )


# The CDC engine end-to-end as a query: deterministic base + binlog ->
# validate -> dedup -> MERGE -> final state. The Spark side exports its
# generated inputs (base table + raw ndjson change lines) to a fixed
# path; the oracle re-derives the final table state in pure SQL from
# those exports: JSON envelope parse (json_valid + required fields) ->
# payload rule predicates (required / n_tok==len(tokens) / token range
# / source whitelist, mirroring config.sequences_ruleset) -> last-
# writer-wins dedup (QUALIFY row_number over commit_ts DESC, lsn DESC)
# -> upsert/delete apply via anti-join against the base. Full replay
# equality vs the independent pandas oracle is additionally asserted
# in tests/test_cdc_end_to_end.
_CDC_EXPORT_DIR = "/tmp/dexspark_cdc_oracle"

_CDC_ORACLE_SQL = f"""
    WITH base AS (
      SELECT * FROM read_parquet('{_CDC_EXPORT_DIR}/base/*.parquet')
    ),
    raw AS (
      SELECT value FROM read_parquet('{_CDC_EXPORT_DIR}/events/*.parquet')
    ),
    p AS (
      SELECT json_extract_string(value, '$.op') AS op,
             json_extract_string(value, '$.doc_id') AS doc_id,
             json_extract_string(value, '$.commit_ts') AS commit_ts,
             TRY_CAST(json_extract_string(value, '$.lsn') AS BIGINT) AS lsn,
             TRY_CAST(json_extract_string(value, '$.batch_epoch') AS BIGINT)
               AS batch_epoch,
             TRY_CAST(json_extract(value, '$.payload.tokens') AS INTEGER[])
               AS tokens,
             TRY_CAST(json_extract_string(value, '$.payload.n_tok') AS INTEGER)
               AS n_tok,
             json_extract_string(value, '$.payload.source') AS source
      FROM raw WHERE json_valid(value)
    ),
    valid AS (
      SELECT * FROM p
      WHERE op IS NOT NULL AND doc_id IS NOT NULL AND commit_ts IS NOT NULL
        AND lsn IS NOT NULL AND batch_epoch IS NOT NULL
        AND op IN ('insert', 'update', 'delete')
        AND (op = 'delete' OR (
          tokens IS NOT NULL AND n_tok IS NOT NULL
          AND source IS NOT NULL AND trim(source) <> ''
          AND n_tok = len(tokens)
          AND len([t FOR t IN tokens IF t IS NULL OR t < 0 OR t >= 50257]) = 0
          AND source IN ('web', 'books', 'code', 'wiki')))
    ),
    latest AS (
      SELECT * FROM valid
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY commit_ts DESC, lsn DESC) = 1
    ),
    final AS (
      SELECT b.doc_id, b.tokens, b.n_tok, b.source FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, tokens, n_tok, source FROM latest WHERE op <> 'delete'
    )
    SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv, n_tok, source
    FROM final
"""


@query("cdc_apply_pipeline", _CDC_ORACLE_SQL)
def cdc_apply_pipeline(spark, sf_dir):
    import tempfile

    from . import gen
    from .config import EngineConfig
    from .lake import LakeTable
    from .schema import sequences_schema
    from .stream import CdcEngine

    tmp = tempfile.mkdtemp(prefix="dexspark-q-")
    base = gen.base_sequences(spark, n_docs=500, max_len=16)
    table = LakeTable.create(
        spark, os.path.join(tmp, "seq"), sequences_schema(), num_buckets=8
    )
    table.overwrite(base)
    binlog = os.path.join(tmp, "binlog")
    events = gen.change_events(
        spark, n_events=3000, n_docs=500, n_epochs=3, max_len=16, anomaly_pct=10
    )
    gen.write_binlog(events, binlog)
    # export the oracle's inputs: the base state + the exact raw ndjson
    # lines the engine will consume (fixed path; the driver runs the
    # Spark query before the oracle SQL)
    base.write.mode("overwrite").parquet(os.path.join(_CDC_EXPORT_DIR, "base"))
    events.select("value").write.mode("overwrite").parquet(
        os.path.join(_CDC_EXPORT_DIR, "events")
    )
    engine = CdcEngine(spark, table, tmp, EngineConfig(num_buckets=8))
    engine.apply_binlog(binlog)
    return table.read().select(
        "doc_id",
        F.array_join(F.col("tokens").cast("array<string>"), ",").alias("tokens_csv"),
        "n_tok",
        "source",
    )


# =====================================================================
# 9. remaining operator families: S3 JSON envelope parse, §2.8 scalars
# =====================================================================

# S3: lenient JSON envelope parse, raw preserved (FnDecompressor.kt:52-65)
@query(
    "s3_json_envelope_parse",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n, round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
)
def s3_json_envelope_parse(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value")
    )


# §2.8 date/time family: ISO parse/format, year-month rollup
# (reference: LocalDateTime ISO handling, DummyFSPAllAsOne.kt:130-133)
@query(
    "scalar_datetime_rollup",
    """
    SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
           CAST(strftime(o_orderdate, '%m') AS INT) AS mo,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def scalar_datetime_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))


# V1: file-not-empty — empty input partition detected, not crashed
# (XLSX order-3/4/5; cerberus_data_validation.py:60-61 df.empty)
@query(
    "v1_not_empty",
    """
    SELECT source, count(*) AS n_rows,
           CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blank,
           CAST(count(*) = sum(CASE WHEN text IS NULL OR trim(text) = ''
                               THEN 1 ELSE 0 END) AS INT) AS all_blank,
           CAST(sum(CASE WHEN trim(concat_ws('', text, lang, source)) = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blank_rows
    FROM documents GROUP BY source
    """,
)
def v1_not_empty(spark, sf_dir):
    # also carries V9 (blank-row detection, XLSX order-13):
    # trim(concat_ws('', cols)) == '' counted per source — folded in
    # here to keep the driver's 50-query window open for ann_ivf.
    d = _t(spark, sf_dir, "documents")
    blank = (F.col("text").isNull() | (F.trim("text") == "")).cast("long")
    blank_row = (F.trim(F.concat_ws("", "text", "lang", "source")) == "").cast("long")
    return d.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum(blank).alias("n_blank"),
        (F.count("*") == F.sum(blank)).cast("int").alias("all_blank"),
        F.sum(blank_row).alias("n_blank_rows"),
    )


# V7: header case/whitespace normalization (elr-schema.csvs:3
# @ignoreColumnNameCase; digital-preservation Entry.java:89-98). The
# Spark side feeds a deliberately messy header (' Doc_ID ', 'LANG ')
# through schema.normalize_columns; the oracle states the clean result.
@query(
    "v7_header_normalize",
    "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
)
def v7_header_normalize(spark, sf_dir):
    from .schema import normalize_columns

    messy = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias(" Doc_ID "), F.col("lang").alias("LANG ")
    )
    clean = normalize_columns(messy)
    return clean.groupBy("lang").agg(F.count("*").alias("n"))


# V9 (blank-row detection, XLSX order-13) is folded into
# v1_not_empty's per-source rollup above (n_blank_rows column) —
# one query covers both file-level emptiness and blank-row counting,
# keeping the driver's 50-query window open for ann_ivf.


# V15 (type-coercion via try_cast, cerberus_data_validation.py:38-39
# 'type': 'integer') is folded into scalar_string_family below
# (first_word_is_int column) — freeing a 50-query-window slot.


# F6: config-driven required-metadata-keys check over a map column,
# keys lowercased at load (FnDecompressor.kt:184-197;
# AzureBlobServiceImpl.kt:23 mapKeys{lowercase}) — exercises the
# §2.8 map family: from_json to map, transform_keys, element_at
@query(
    "f6_metadata_required_keys",
    """
    SELECT CAST(json_extract_string(props, '$.k') IS NOT NULL
                AND trim(json_extract_string(props, '$.k')) <> '' AS INT) AS has_required,
           CAST(user_id IS NOT NULL AND event_type IS NOT NULL
                AND trim(props) <> '' AND value IS NOT NULL AS INT) AS envelope_valid,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def f6_metadata_required_keys(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    meta = F.transform_keys(
        F.from_json(F.col("props"), "map<string,string>"), lambda k, _: F.lower(k)
    )
    v = F.element_at(meta, "k")
    has = (v.isNotNull() & (F.trim(v) != "")).cast("int")
    # F4's required-params conjunction (consolidated r3c)
    valid = (
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.trim("props") != "")
        & F.col("value").isNotNull()
    )
    return e.groupBy(
        has.alias("has_required"), valid.cast("int").alias("envelope_valid")
    ).agg(F.count("*").alias("n"))


# Patch composition (operators/patch.py compose_events): Debezium-
# style partial row images folded per key in (commit_ts, lsn) order —
# later setter of a column wins, a delete resets the window, a key
# whose last event is a delete is dropped. Synthesized deterministic
# patch stream over the events table: 'error' events are deletes,
# event_id % 3 picks the fields mask. Oracle: the same fold in SQL
# (row_number -> last-delete watermark -> arg_max per column over its
# setters). Values are null-coalesced up front: DuckDB's arg_max
# skips NULL values while the engine keeps "last setter's value even
# if null" — pinning non-null inputs keeps the two semantics aligned
# without weakening the fold under test.
@query(
    "patch_compose",
    """
    WITH ev AS (
      SELECT CAST(user_id AS VARCHAR) AS doc_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             ts, event_id AS lsn,
             coalesce(value, -1.0) AS value,
             event_type AS etype,
             CASE CAST(event_id % 3 AS INT)
               WHEN 0 THEN ['value'] WHEN 1 THEN ['etype']
               ELSE ['value', 'etype'] END AS fields
      FROM events WHERE user_id IS NOT NULL
    ),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ts, lsn) AS rn
      FROM ev
    ),
    ld AS (
      SELECT doc_id, coalesce(max(rn) FILTER (WHERE op = 'delete'), 0) AS last_del
      FROM ordered GROUP BY doc_id
    ),
    eff AS (
      SELECT o.* FROM ordered o JOIN ld USING (doc_id)
      WHERE o.rn > ld.last_del
    )
    SELECT doc_id,
           arg_max(value, rn) FILTER (WHERE list_contains(fields, 'value'))
             AS last_value,
           arg_max(etype, rn) FILTER (WHERE list_contains(fields, 'etype'))
             AS last_etype,
           count(*) AS n_eff
    FROM eff GROUP BY doc_id
    """,
)
def patch_compose(spark, sf_dir):
    from .operators.patch import compose_events

    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ev = e.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("ts").alias("commit_ts"),
        F.col("event_id").alias("lsn"),
        F.coalesce(F.col("value"), F.lit(-1.0)).alias("value"),
        F.col("event_type").alias("etype"),
        F.when(F.col("event_id") % 3 == 0, F.array(F.lit("value")))
        .when(F.col("event_id") % 3 == 1, F.array(F.lit("etype")))
        .otherwise(F.array(F.lit("value"), F.lit("etype")))
        .alias("fields"),
    )
    c = compose_events(ev, "doc_id", ["value", "etype"])
    return c.filter(~F.col("_final_delete")).select(
        "doc_id",
        F.col("_v_value").alias("last_value"),
        F.col("_v_etype").alias("last_etype"),
        F.col("_n_eff").cast("long").alias("n_eff"),
    )


# §2.8 string family in one pass: lower/endswith/trim/length/
# regexp_replace/concat_ws (csvValidationFunction_Generic.kt:65,71;
# Entry.java:81-102; FnDecompressor.kt:179) + V15 type coercion
# (try_cast integer parse, cerberus_data_validation.py:38-39) + the
# PII redaction operator (operators/redact.py) run over a synthesized
# PII-bearing string (the raw corpus has none): the oracle SQL chain
# is GENERATED from the operator's own DEFAULT_PATTERNS so the two
# sides cannot drift.
def _pii_oracle_exprs() -> tuple[str, str]:
    """(n_pii SQL, fully-redacted SQL) over the synthesized pii string,
    replaying redact()'s chained count-then-rewrite order in DuckDB."""
    from .operators.redact import DEFAULT_PATTERNS

    remaining = (
        "concat('mail ', source, '@example.com ip 10.0.0.', "
        "CAST(doc_id % 200 + 1 AS VARCHAR), ' txt ', text)"
    )
    counts = []
    for _name, pat, repl in DEFAULT_PATTERNS:
        counts.append(f"len(regexp_extract_all({remaining}, '{pat}'))")
        remaining = f"regexp_replace({remaining}, '{pat}', '{repl}', 'g')"
    return " + ".join(counts), remaining


_PII_N_SQL, _PII_RED_SQL = _pii_oracle_exprs()


@query(
    "scalar_string_family",
    f"""
    SELECT doc_id,
           lower(source) AS src_lower,
           CAST(ends_with(lower(source), '0') AS INT) AS src_ends_0,
           length(trim(text)) AS len_trim,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_novowel,
           concat_ws('|', lang, source) AS lang_src,
           CAST(TRY_CAST(split_part(text, ' ', 1) AS BIGINT) IS NOT NULL AS INT)
             AS first_word_is_int,
           CAST({_PII_N_SQL} AS BIGINT) AS n_pii,
           substring({_PII_RED_SQL}, 1, 40) AS redacted_head
    FROM documents
    """,
)
def scalar_string_family(spark, sf_dir):
    from .operators.redact import redact

    d = _t(spark, sf_dir, "documents")
    pii = F.concat(
        F.lit("mail "),
        F.col("source"),
        F.lit("@example.com ip 10.0.0."),
        (F.col("doc_id") % 200 + 1).cast("string"),
        F.lit(" txt "),
        F.col("text"),
    )
    red = redact(d.withColumn("pii_text", pii), text="pii_text")
    return red.select(
        "doc_id",
        F.lower("source").alias("src_lower"),
        F.lower("source").endswith("0").cast("int").alias("src_ends_0"),
        F.length(F.trim("text")).alias("len_trim"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_novowel"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1))
        .try_cast("long")
        .isNotNull()
        .cast("int")
        .alias("first_word_is_int"),
        F.col("n_pii").cast("long").alias("n_pii"),
        F.substring("pii_text", 1, 40).alias("redacted_head"),
    )


# Event-time tumbling window aggregate — the batch form of the
# streaming windowed agg (§2.9; same F.window expr runs unchanged
# under readStream + withWatermark, see tests/test_stream.py)
@query(
    "stream_window_counts",
    """
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_us,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            # ts is TIMESTAMP_NTZ; session tz is UTC, so the cast is exact
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("win_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


# As-of (backward) join — each event matched to the latest order of the
# same customer at-or-before the event time. Spark lacks a native
# ASOF JOIN: composed as range join + max_by reduction (tie-broken by
# orderkey so both engines are deterministic).
@query(
    "j5_asof_join",
    """
    WITH j AS (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rk
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      WHERE e.event_id < 2000
    )
    SELECT event_id, o_orderkey AS asof_orderkey,
           round(o_totalprice, 2) AS asof_totalprice
    FROM j WHERE rk = 1
    """,
)
def j5_asof_join(spark, sf_dir):
    # broadcast the FILTERED events side (bounded: event_id < 2000) —
    # broadcasting the unbounded orders table would blow executor
    # memory at larger scale factors
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    o = _t(spark, sf_dir, "orders")
    joined = F.broadcast(e).join(
        o,
        (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts),
    )
    best = F.max_by(
        F.struct("o_orderkey", "o_totalprice"), F.struct("o_orderdate", "o_orderkey")
    ).alias("b")
    return (
        joined.groupBy("event_id")
        .agg(best)
        .select(
            "event_id",
            F.col("b.o_orderkey").alias("asof_orderkey"),
            F.round("b.o_totalprice", 2).alias("asof_totalprice"),
        )
    )


# §2.7 set ops in one query: UNION ALL of two classified slices plus
# an INTERSECT slice tagged 'both' (docs that are long AND english).
@query(
    "setop_union_intersect",
    """
    SELECT doc_id, 'long' AS cls FROM documents WHERE n_chars > 300
    UNION ALL
    SELECT doc_id, 'english' AS cls FROM documents WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, 'both' AS cls FROM (
      SELECT doc_id FROM documents WHERE lang = 'en'
      INTERSECT
      SELECT doc_id FROM documents WHERE n_chars > 300)
    """,
)
def setop_union_intersect(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    long_docs = d.filter(F.col("n_chars") > 300).select(
        "doc_id", F.lit("long").alias("cls")
    )
    en_docs = d.filter(F.col("lang") == "en").select(
        "doc_id", F.lit("english").alias("cls")
    )
    both = (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .intersect(d.filter(F.col("n_chars") > 300).select("doc_id"))
        .select("doc_id", F.lit("both").alias("cls"))
    )
    return long_docs.unionByName(en_docs).unionByName(both)


# S6: recursive archive fan-out — the REAL operator
# (operators/decompress.py mirroring FnDecompressor.kt:118-150,199-245)
# over a deterministic nested-zip corpus: flat, nested zip-in-zip,
# directory entries, empty zip + non-zip payload (error rows), and a
# 12-deep depth bomb that must trip the recursion cap. The oracle is
# the hand-enumerated entry manifest as a VALUES literal.
@query("s6_explode_fanout", None)
def s6_explode_fanout(spark, sf_dir):
    from .operators.decompress import read_and_explode
    from .operators.zipcorpus import write_corpus

    corpus_dir = write_corpus()
    entries = read_and_explode(spark, corpus_dir)
    # NULL-free projection (sentinels '' / -1) so cross-engine rowset
    # hashing never has to order NULLs
    return entries.select(
        F.element_at(F.split("source_path", "/"), -1).alias("source_file"),
        F.coalesce("entry_path", F.lit("")).alias("entry_path"),
        F.coalesce("n_bytes", F.lit(-1)).alias("n_bytes"),
        F.coalesce(F.md5("content"), F.lit("")).alias("content_md5"),
        F.coalesce(
            F.split_part(F.col("error"), F.lit(":"), F.lit(1)), F.lit("")
        ).alias("error_kind"),
    )


from .operators.zipcorpus import expected_values_sql as _s6_values  # noqa: E402

ORACLE_SQL["s6_explode_fanout"] = _s6_values()

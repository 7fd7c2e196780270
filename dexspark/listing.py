"""Listing validation — the reference's HTTP "interactive query".

Mirrors `cdc-dex-csv-validator` (csvValidationFunction_Generic.kt:
22-109): list a container/directory recursively, classify every file
by extension into passed / failed / skipped, and render a small
report. Re-expressed as a DataFrame over the file listing so the same
code works on millions of objects (the driver only collects the
aggregated report, never the listing).

- F1: suffix predicate + 2-way partition (`.csv` passes; known
  non-CSV suffixes fail; everything else skipped);
- F2: single-file variant (`filepath` param,
  CSVValidationWhenFileNameProvided.kt:41-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

FAIL_SUFFIXES = (".xml", ".gz", ".zip", ".txt", ".parquet", ".xlsx", ".json")


def list_files(spark: SparkSession, root: str) -> DataFrame:
    """Recursive listing as a DataFrame(path, size, mtime)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .option("recursiveFileLookup", True)
        .load(root)
    )
    return df.select(
        F.col("path"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("mtime"),
    )


def classify_listing(listing: DataFrame, pass_suffix: str = ".csv") -> DataFrame:
    """F1: add a status column (passed / failed / skipped)."""
    low = F.lower(F.col("path"))
    failed = F.lit(False)
    for s in FAIL_SUFFIXES:
        failed = failed | low.endswith(s)
    status = (
        F.when(low.endswith(pass_suffix), "passed")
        .when(failed, "failed")
        .otherwise("skipped")
    )
    return listing.withColumn("status", status)


def validate_listing(spark: SparkSession, root: str) -> dict:
    """The interactive entry point: returns the report the reference's
    HTTP function rendered (see :func:`listing_report`). One
    listing/scan feeds BOTH the counts and the example sample — the
    binaryFile listing is the expensive part on a millions-of-objects
    container, so it must not run twice."""
    return listing_report(
        classify_listing(list_files(spark, root)).localCheckpoint(eager=True)
    )


def listing_report(classified: DataFrame) -> dict:
    """Counts + per-status file lists of a classified listing, capped
    for driver safety. The example list is capped BEFORE aggregation
    with a two-phase top-k: first the smallest 100 paths per (status,
    salt) bucket — 256-way parallel, each task sorting a bounded slice
    — then the smallest 100 of the <=25,600 survivors per status. No
    executor ever sorts or buffers the full listing of a
    millions-of-objects container (a single status-partitioned window
    would funnel everything through 3 tasks)."""
    from pyspark.sql import Window

    counts = {
        r["status"]: r["n"]
        for r in classified.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    salted = classified.withColumn("_salt", F.pmod(F.xxhash64("path"), F.lit(256)))
    w1 = Window.partitionBy("status", "_salt").orderBy("path")
    w2 = Window.partitionBy("status").orderBy("path")
    sample = (
        salted.withColumn("_rk", F.row_number().over(w1))
        .filter(F.col("_rk") <= 100)
        .withColumn("_rk2", F.row_number().over(w2))
        .filter(F.col("_rk2") <= 100)
        .groupBy("status")
        .agg(F.sort_array(F.collect_list("path")).alias("paths"))
        .collect()
    )
    return {
        "counts": counts,
        "examples": {r["status"]: list(r["paths"]) for r in sample},
    }


def validate_file(spark: SparkSession, root: str, filepath: str) -> str:
    """F2: classify one named file (CSVValidationWhenFileNameProvided).

    The match is '/'-anchored (exact path or a whole-name suffix), so
    querying '1.csv' can no longer match 'table1.csv'."""
    classified = classify_listing(list_files(spark, root))
    anchored = filepath if filepath.startswith("/") else "/" + filepath
    row = (
        classified.filter(
            (F.col("path") == filepath) | F.col("path").endswith(anchored)
        )
        .select("status")
        .head()
    )
    return row["status"] if row else "missing"

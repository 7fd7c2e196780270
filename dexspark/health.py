"""One-shot operator health rollup: table + every warehouse sink.

The reference surfaces run state piecemeal (per-run report rows,
csvValidationFunction_Generic.kt:87-109; per-phase statistics,
ValidateEntry.java:135-164); an operator of a long-running tail needs
one answer to "is this deployment healthy?" without knowing which of
the six sinks to query. ``warehouse_health`` assembles it:

- table: manifest-only :meth:`LakeTable.stats` (zero Spark jobs) plus
  the epoch exactly-once state;
- per-sink: epoch-partition counts from a driver listing through the
  table's :class:`~dexspark.lake.FileIO` (no jobs) and bounded row
  counts (lineage is O(groups)-sized by design; the quarantine/applied
  sinks are sized by the retention window, not stream lifetime, so a
  count over them is a bounded job);
- quarantine: top fail reasons (explode + groupBy, one bounded job) —
  the "what is breaking right now" answer.

Everything degrades gracefully: a sink that was never written (the
feature is off) reports ``null`` rather than failing, so the same
command works against any deployment shape.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from .lake import FileIO, default_io


def _epoch_dirs(path: str, io: FileIO) -> tuple[int, int] | None:
    """(non-negative epoch partitions, fallback partitions) — the
    negative/NULL space holds unattributable anomaly rows and is a
    distinct health signal from stream progress."""
    if not io.is_dir(path):
        return None
    pos = neg = 0
    for d in io.list_dir(path):
        if not d.startswith("batch_epoch="):
            continue
        try:
            if int(d.split("=", 1)[1]) >= 0:
                pos += 1
            else:
                neg += 1
        except ValueError:
            neg += 1  # __HIVE_DEFAULT_PARTITION__ (NULL epochs)
    return pos, neg


def _sink_rollup(spark: SparkSession, path: str, io: FileIO):
    counts = _epoch_dirs(path, io)
    if counts is None:
        return None
    # a healthy run can leave the sink dir EMPTY (zero quarantined
    # rows); spark.read.parquet on it cannot infer a schema and would
    # crash the health check for the healthiest deployment
    rows = 0 if counts == (0, 0) else spark.read.parquet(path).count()
    return {"epochs": counts[0], "fallback_epochs": counts[1], "rows": rows}


def warehouse_health(
    spark: SparkSession,
    table,
    warehouse: str,
    top_reasons: int = 10,
) -> dict:
    """Health snapshot for a table + its warehouse sinks. ``table`` is
    a :class:`~dexspark.lake.LakeTable` (may be a branch view); the
    sinks are listed through its FileIO."""
    io = table.io
    w, tail = table.epoch_state()
    health: dict = {
        "table": {
            **table.stats(),
            "epoch_watermark": w,
            "epoch_tail": tail,
        },
        "sinks": {},
    }
    sinks = health["sinks"]
    for name in ("lineage", "applied", "profile"):
        sinks[name] = _sink_rollup(spark, os.path.join(warehouse, name), io)

    sk_path = os.path.join(warehouse, "profile_sketch")
    live = _epoch_dirs(sk_path, io)
    if live is None:
        sinks["profile_sketch"] = None
    else:
        sinks["profile_sketch"] = {
            "live_epochs": live[0],
            "packed": io.is_dir(os.path.join(sk_path, "_packed")),
        }

    q_path = os.path.join(warehouse, "quarantine")
    q = _quarantine_rollup(spark, q_path, top_reasons, io)
    sinks["quarantine"] = q
    return health


def _quarantine_rollup(spark: SparkSession, q_path: str, top_reasons: int, io: FileIO):
    q = _sink_rollup(spark, q_path, io)
    if q is not None and q.get("rows") == 0:
        q["top_reasons"] = []
    elif q is not None:
        reasons = (
            spark.read.parquet(q_path)
            .select(F.explode("fail_reasons").alias("reason"))
            .groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "reason")
            .limit(top_reasons)
            .collect()
        )
        q["top_reasons"] = [{"reason": r["reason"], "n": r["n"]} for r in reasons]
    return q


def binlog_lag(spark: SparkSession, table, binlog: str) -> dict:
    """How far behind the binlog head this table is: events whose
    ``batch_epoch`` is not yet committed (above the watermark and not
    in the out-of-order tail), from ONE scan of the binlog.

    This is the consumer-lag question (Kafka ``records-lag``), asked
    in the engine's own epoch terms so it needs no knowledge of
    Structured Streaming's checkpoint internals. Cost is O(binlog) —
    an explicit diagnostic, not a per-batch path; column pruning
    reaches the JSON parser (only ``batch_epoch`` is read).
    Unattributable events (NULL/negative epochs) are counted
    separately — they will quarantine, not apply. The log's encoding
    is auto-sniffed like every other consumer (``apply_binlog``,
    the router): a structured parquet log read as JSON would count
    every event unattributable."""
    from .events import open_binlog

    w, tail = table.epoch_state()
    ev = open_binlog(spark, binlog).select("batch_epoch")
    e = F.col("batch_epoch")
    pending = e.isNotNull() & (e >= 0) & (e > w)
    if tail:  # committed out-of-order epochs above the watermark
        pending = pending & ~e.isin([int(t) for t in tail])
    agg = ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(pending.cast("long")).alias("pending_events"),
        F.sum((e.isNull() | (e < 0)).cast("long")).alias("unattributable"),
        F.count_distinct(F.when(pending, e)).alias("pending_epochs"),
        F.max(F.when(pending, e)).alias("head_epoch"),
    ).first()
    return {
        "epoch_watermark": w,
        "head_epoch": agg["head_epoch"],
        "pending_epochs": agg["pending_epochs"],
        "pending_events": int(agg["pending_events"] or 0),
        "unattributable_events": int(agg["unattributable"] or 0),
        "total_events": agg["total_events"],
    }


def quarantine_drift(
    spark: SparkSession,
    warehouse: str,
    epoch_a: int,
    epoch_b: int,
    io: FileIO | None = None,
) -> dict:
    """Error-mix drift between two epochs of the quarantine sink:
    per-reason FRACTIONS of that epoch's reason occurrences (a row
    carrying two reasons contributes to both — V17 accumulates all
    reasons; fractions mean a traffic-volume change doesn't read as
    a mix change), their delta,
    and the L1 distance between the mixes (0 = identical error mix,
    2 = disjoint) — "did a producer start failing differently", the
    quarantine-side complement of :func:`~dexspark.operators.profile.
    drift`. One bounded job over two epoch partitions (partition
    pruning reaches the scan). A missing or EMPTY quarantine (the
    healthy case) reports zero occurrences and zero drift instead of
    failing schema inference. ``io`` lists the sink (default:
    :func:`~dexspark.lake.default_io`)."""
    q_path = os.path.join(warehouse, "quarantine")
    if _epoch_dirs(q_path, io or default_io()) in (None, (0, 0)):
        return {
            "epoch_a": int(epoch_a),
            "epoch_b": int(epoch_b),
            "occurrences_a": 0,
            "occurrences_b": 0,
            "reasons": {},
            "drift_l1": 0.0,
        }
    q = spark.read.parquet(q_path)
    e = F.col("batch_epoch")
    both = (
        q.filter(e.isin(int(epoch_a), int(epoch_b)))
        .select(e.alias("ep"), F.explode("fail_reasons").alias("reason"))
        .groupBy("ep", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = both.collect()
    tot = {epoch_a: 0, epoch_b: 0}
    mix: dict[str, dict[int, int]] = {}
    for r in rows:
        tot[r["ep"]] += r["n"]
        mix.setdefault(r["reason"], {})[r["ep"]] = r["n"]
    out = {}
    l1 = 0.0
    for reason, by_ep in sorted(mix.items()):
        fa = by_ep.get(epoch_a, 0) / tot[epoch_a] if tot[epoch_a] else 0.0
        fb = by_ep.get(epoch_b, 0) / tot[epoch_b] if tot[epoch_b] else 0.0
        l1 += abs(fb - fa)
        out[reason] = {
            "frac_a": round(fa, 6),
            "frac_b": round(fb, 6),
            "delta": round(fb - fa, 6),
        }
    return {
        "epoch_a": int(epoch_a),
        "epoch_b": int(epoch_b),
        "occurrences_a": tot[epoch_a],
        "occurrences_b": tot[epoch_b],
        "reasons": out,
        "drift_l1": round(l1, 6),
    }


def trigger_advice(
    spark: SparkSession,
    warehouse: str,
    target_overhead: float = 0.1,
    io: FileIO | None = None,
) -> dict:
    """Trigger sizing advice from the stream's OWN lineage sink.

    BENCH.md's scaling sections pin the strong-scaling shortfall at
    small triggers to a per-trigger fixed cost (scheduling + plan
    build + commit) that the data-proportional work must amortize:
    efficiency collapses when batches are small, and is recovered by
    sizing triggers so per-batch compute dominates the constant. This
    turns that measurement into an operator-facing answer, computed
    from the deployment's own history rather than a hard-coded
    constant: a least-squares fit of per-batch wall time =
    ``fixed + rate * events`` over the lineage sink's epochs (one
    bounded O(epochs) job — lineage is O(groups)-sized by design),
    then the smallest events/trigger at which the fixed share is
    ≤ ``target_overhead``.

    Returns ``{batches, per_trigger_fixed_ms, us_per_event,
    median_events_per_trigger, overhead_at_median,
    recommended_min_events_per_trigger, target_overhead}``; fields are
    null when the sink is missing or has <3 distinct batch sizes (a
    one-size history cannot separate slope from intercept — run with
    varied trigger sizes, or accept the cross-deployment default of
    sizing compute ≥ ~10x the constant). ``io`` lists the sink
    (default: :func:`~dexspark.lake.default_io`)."""
    path = os.path.join(warehouse, "lineage")
    empty = {
        "batches": 0,
        "per_trigger_fixed_ms": None,
        "us_per_event": None,
        "median_events_per_trigger": None,
        "overhead_at_median": None,
        "recommended_min_events_per_trigger": None,
        "target_overhead": target_overhead,
    }
    if _epoch_dirs(path, io or default_io()) in (None, (0, 0)):
        return empty
    rows = (
        spark.read.parquet(path)
        .groupBy("batch_epoch")
        .agg(
            F.sum("events_seen").alias("events"),
            F.max("wall_ms").alias("wall_ms"),
        )
        .filter(F.col("wall_ms").isNotNull() & (F.col("events") > 0))
        .collect()
    )
    pts = [(int(r["events"]), float(r["wall_ms"])) for r in rows]
    out = dict(empty, batches=len(pts))
    if len({e for e, _ in pts}) < 3:
        return out
    n = float(len(pts))
    sx = sum(e for e, _ in pts)
    sy = sum(w for _, w in pts)
    sxx = sum(e * e for e, _ in pts)
    sxy = sum(e * w for e, w in pts)
    denom = n * sxx - sx * sx
    if denom <= 0:
        return out
    rate = (n * sxy - sx * sy) / denom  # ms per event
    fixed = (sy - rate * sx) / n
    if rate <= 0 or fixed < 0:
        # a degenerate fit (noise-dominated history, or fixed cost
        # below measurement resolution) yields no useful advice
        return out
    med = sorted(e for e, _ in pts)[len(pts) // 2]
    t = min(max(float(target_overhead), 1e-6), 0.99)
    rec = int(fixed * (1.0 - t) / (t * rate)) + 1
    out.update(
        per_trigger_fixed_ms=round(fixed, 1),
        us_per_event=round(rate * 1000.0, 4),
        median_events_per_trigger=int(med),
        overhead_at_median=round(fixed / (fixed + rate * med), 4),
        recommended_min_events_per_trigger=rec,
    )
    return out

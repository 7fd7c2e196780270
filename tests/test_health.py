"""One-shot health rollup (health.warehouse_health, CLI --health)."""

import json
import os

from dexspark import gen
from dexspark.config import EngineConfig
from dexspark.health import warehouse_health
from dexspark.lake import FileIO, LakeTable, LocalFileIO
from dexspark.schema import sequences_schema
from dexspark.stream import CdcEngine


def _run_engine(spark, tmp_warehouse, **cfg_kwargs):
    binlog = os.path.join(tmp_warehouse, "binlog")
    gen.write_binlog(
        gen.change_events(
            spark, n_events=2000, n_docs=300, n_epochs=3, max_len=16,
            anomaly_pct=10,
        ),
        binlog,
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t"), sequences_schema(),
        key="doc_id", num_buckets=4,
    )
    eng = CdcEngine(
        spark, table, tmp_warehouse, EngineConfig(num_buckets=4, **cfg_kwargs)
    )
    eng.apply_binlog(binlog)
    return table, eng


def test_health_full_deployment(spark, tmp_warehouse):
    table, eng = _run_engine(
        spark, tmp_warehouse, profile=True, applied_lineage=True
    )
    h = warehouse_health(spark, table, tmp_warehouse)

    t = h["table"]
    assert t["epoch_watermark"] == 2 and t["epoch_tail"] == []
    assert t["version"] == table.current_version()

    s = h["sinks"]
    assert s["lineage"]["epochs"] == 3 and s["lineage"]["rows"] > 0
    assert s["applied"]["epochs"] == 3 and s["applied"]["rows"] > 0
    assert s["profile"]["epochs"] == 3
    assert s["profile_sketch"] == {"live_epochs": 3, "packed": False}

    q = s["quarantine"]
    assert q["rows"] > 0  # anomaly_pct=10 guarantees rejects
    assert q["top_reasons"] and all(
        r["n"] > 0 and isinstance(r["reason"], str) for r in q["top_reasons"]
    )
    # descending, ties broken by reason
    ns = [r["n"] for r in q["top_reasons"]]
    assert ns == sorted(ns, reverse=True)
    json.dumps(h)  # fully serializable


def test_health_minimal_deployment(spark, tmp_warehouse):
    """Sinks that are off report null, not errors."""
    table, _ = _run_engine(spark, tmp_warehouse)  # no profile/applied
    h = warehouse_health(spark, table, tmp_warehouse)
    s = h["sinks"]
    assert s["applied"] is None
    assert s["profile"] is None
    assert s["profile_sketch"] is None
    assert s["lineage"]["epochs"] == 3
    assert s["quarantine"]["rows"] > 0


def test_cli_health_mode(spark, tmp_warehouse, capsys):
    from dexspark import cli

    table, _ = _run_engine(spark, tmp_warehouse, profile=True)
    rc = cli.main(
        ["--table", table.root, "--warehouse", tmp_warehouse, "--health"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["table"]["epoch_watermark"] == 2
    assert out["sinks"]["profile"]["epochs"] == 3
    assert out["sinks"]["quarantine"]["top_reasons"]


def test_binlog_lag(spark, tmp_warehouse):
    """Lag counts exactly the events in uncommitted non-negative
    epochs; falls to zero after applying."""
    from dexspark.health import binlog_lag

    binlog = os.path.join(tmp_warehouse, "binlog")
    gen.write_binlog(
        gen.change_events(
            spark, n_events=1200, n_docs=200, n_epochs=4, max_len=8,
            anomaly_pct=10,
        ),
        binlog,
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t"), sequences_schema(),
        key="doc_id", num_buckets=4,
    )
    lag0 = binlog_lag(spark, table, binlog)
    # fresh table: everything attributable is pending
    assert lag0["epoch_watermark"] == -1
    assert lag0["pending_epochs"] == 4 and lag0["head_epoch"] == 3
    assert (
        lag0["pending_events"] + lag0["unattributable_events"]
        == lag0["total_events"]
        == 1200
    )

    eng = CdcEngine(spark, table, tmp_warehouse, EngineConfig(num_buckets=4))
    eng.apply_binlog(binlog)
    lag1 = binlog_lag(
        spark, LakeTable(spark, os.path.join(tmp_warehouse, "t")), binlog
    )
    assert lag1["epoch_watermark"] == 3
    assert lag1["pending_events"] == 0 and lag1["pending_epochs"] == 0
    assert lag1["head_epoch"] is None
    assert lag1["unattributable_events"] == lag0["unattributable_events"]


def test_cli_health_with_lag(spark, tmp_warehouse, capsys):
    from dexspark import cli

    table, _ = _run_engine(spark, tmp_warehouse)
    binlog = os.path.join(tmp_warehouse, "binlog")
    rc = cli.main(
        [
            "--table", table.root, "--warehouse", tmp_warehouse,
            "--binlog", binlog, "--health",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["lag"]["pending_events"] == 0
    assert out["lag"]["epoch_watermark"] == 2


def test_quarantine_drift_exact_and_cli(spark, tmp_warehouse, capsys):
    """Hand-built quarantine partitions -> exact fractions/deltas/L1;
    CLI mode agrees."""
    from dexspark import cli
    from dexspark.health import quarantine_drift

    rows = (
        # epoch 0: 3 rows -> reasons A(2), B(2)  (one row has both)
        [(0, ["A"]), (0, ["A", "B"]), (0, ["B"])]
        # epoch 1: 2 rows -> reasons B(1), C(1)
        + [(1, ["B"]), (1, ["C"])]
    )
    df = spark.createDataFrame(
        rows, "batch_epoch long, fail_reasons array<string>"
    )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_epoch")
        .parquet(os.path.join(tmp_warehouse, "quarantine"))
    )
    d = quarantine_drift(spark, tmp_warehouse, 0, 1)
    # fractions are of REASON OCCURRENCES per epoch: e0 tot=4, e1 tot=2
    assert d["occurrences_a"] == 4 and d["occurrences_b"] == 2
    assert d["reasons"]["A"] == {"frac_a": 0.5, "frac_b": 0.0, "delta": -0.5}
    assert d["reasons"]["B"] == {"frac_a": 0.5, "frac_b": 0.5, "delta": 0.0}
    assert d["reasons"]["C"] == {"frac_a": 0.0, "frac_b": 0.5, "delta": 0.5}
    assert d["drift_l1"] == 1.0

    rc = cli.main(
        ["--warehouse", tmp_warehouse, "--quarantine-drift", "0,1"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == d


def test_binlog_lag_parquet_encoding(spark, tmp_warehouse):
    """A structured parquet binlog must sniff correctly: read as JSON
    it would count every event unattributable (regression)."""
    from dexspark.health import binlog_lag

    binlog = os.path.join(tmp_warehouse, "plog")
    gen.write_binlog_parquet(
        gen.change_events(
            spark, n_events=600, n_docs=100, n_epochs=3, max_len=8,
            anomaly_pct=0,
        ),
        binlog,
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t2"), sequences_schema(),
        key="doc_id", num_buckets=4,
    )
    lag = binlog_lag(spark, table, binlog)
    assert lag["total_events"] == 600
    assert lag["unattributable_events"] == 0
    assert lag["pending_epochs"] == 3


def test_health_empty_quarantine_dir(spark, tmp_warehouse):
    """A fully-healthy run can leave the quarantine dir EMPTY (created,
    zero rows): health must report rows=0, not crash on parquet schema
    inference (regression)."""
    from dexspark.health import warehouse_health

    table = LakeTable.create(
        spark, os.path.join(tmp_warehouse, "t3"), sequences_schema(),
        key="doc_id", num_buckets=2,
    )
    os.makedirs(os.path.join(tmp_warehouse, "quarantine"))
    h = warehouse_health(spark, table, tmp_warehouse)
    assert h["sinks"]["quarantine"] == {
        "epochs": 0,
        "fallback_epochs": 0,
        "rows": 0,
        "top_reasons": [],
    }


# ------------------------------------------------------ trigger advice


def _write_lineage(spark, warehouse, pts):
    """Synthetic lineage sink: one (epoch, events, wall_ms) row each,
    written with the production sink schema/partitioning."""
    from dexspark.lineage import LINEAGE_SCHEMA

    rows = [
        (int(ep), 0, "binlog", int(ev), int(ev), 0, 0, int(ev), int(wall))
        for ep, (ev, wall) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, LINEAGE_SCHEMA)
    df.write.partitionBy("batch_epoch").parquet(
        os.path.join(warehouse, "lineage")
    )


def test_trigger_advice_recovers_fixed_and_rate(spark, tmp_path):
    """An exactly-linear wall(events) history: the fit must recover
    the constant and the marginal rate, and the recommendation is the
    closed-form amortization point."""
    from dexspark.health import trigger_advice

    wh = str(tmp_path)
    fixed, rate = 900.0, 0.002  # ms, ms/event (the BENCH.md shape)
    pts = [(n, fixed + rate * n) for n in (50_000, 150_000, 400_000, 1_000_000)]
    _write_lineage(spark, wh, pts)
    a = trigger_advice(spark, wh, target_overhead=0.1)
    assert a["batches"] == 4
    assert abs(a["per_trigger_fixed_ms"] - fixed) < 1.0
    assert abs(a["us_per_event"] - rate * 1000) < 0.05
    # fixed/(fixed + rate*n) <= 0.1  =>  n >= 9*fixed/rate = 4.05M
    assert a["recommended_min_events_per_trigger"] == int(9 * fixed / rate) + 1
    med = a["median_events_per_trigger"]
    assert med == 400_000
    assert abs(
        a["overhead_at_median"] - fixed / (fixed + rate * med)
    ) < 1e-3
    # recommendation really hits the target
    n = a["recommended_min_events_per_trigger"]
    assert fixed / (fixed + rate * n) <= 0.1


def test_trigger_advice_degrades_gracefully(spark, tmp_path):
    from dexspark.health import trigger_advice

    # no sink at all
    a = trigger_advice(spark, str(tmp_path / "nowhere"))
    assert a["batches"] == 0 and a["recommended_min_events_per_trigger"] is None
    # constant batch size: slope/intercept are not separable
    wh = str(tmp_path / "flat")
    _write_lineage(spark, wh, [(100_000, 1000), (100_000, 1100), (100_000, 900)])
    a = trigger_advice(spark, wh)
    assert a["batches"] == 3
    assert a["recommended_min_events_per_trigger"] is None


def test_trigger_advice_in_cli_health(spark, tmp_warehouse, capsys):
    """--health carries the advice section end-to-end (real engine
    lineage; 3 equal-ish epochs -> graceful null advice is fine, the
    contract is presence + serializability)."""
    import sys

    from dexspark.cli import main as cli_main

    table, eng = _run_engine(spark, tmp_warehouse)
    argv = [
        "dexspark", "--table", os.path.join(tmp_warehouse, "t"),
        "--warehouse", tmp_warehouse, "--health",
    ]
    old = sys.argv
    try:
        sys.argv = argv
        assert cli_main() == 0
    finally:
        sys.argv = old
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ta = out["trigger_advice"]
    assert ta["batches"] >= 3
    assert set(ta) >= {
        "per_trigger_fixed_ms", "us_per_event",
        "recommended_min_events_per_trigger", "target_overhead",
    }


# ------------------------------------------------------ FileIO seam


class _ListingIO(FileIO):
    """Listing-only FileIO over an in-memory directory tree."""

    def __init__(self, tree):
        self.tree = tree
        self.listed = []

    def is_dir(self, path):
        return path in self.tree

    def list_dir(self, path):
        self.listed.append(path)
        return sorted(self.tree.get(path, ()))


def test_sink_listing_goes_through_fileio(spark, tmp_path):
    """Epoch partitions are counted from the FileIO's listing, not the
    local disk: the fake store's dirs exist nowhere on disk."""
    from dexspark.health import _epoch_dirs, quarantine_drift, trigger_advice

    wh = str(tmp_path / "store")
    q = os.path.join(wh, "quarantine")
    io = _ListingIO(
        {
            q: [
                "batch_epoch=0",
                "batch_epoch=7",
                "batch_epoch=-1",
                "batch_epoch=__HIVE_DEFAULT_PARTITION__",
                "_SUCCESS",
            ],
            os.path.join(wh, "lineage"): [],
        }
    )
    assert _epoch_dirs(q, io) == (2, 2)
    assert _epoch_dirs(os.path.join(wh, "applied"), io) is None
    assert io.listed == [q]
    # an empty lineage sink in the store is "no history", no Spark read
    assert trigger_advice(spark, wh, io=io)["batches"] == 0
    assert io.listed[-1] == os.path.join(wh, "lineage")
    # a store without a quarantine sink reports zero drift
    assert quarantine_drift(spark, wh, 0, 1, io=_ListingIO({}))["drift_l1"] == 0.0


def test_health_lists_sinks_through_table_fileio(spark, tmp_warehouse):
    """warehouse_health lists the sinks through the table's FileIO."""

    class Recording(LocalFileIO):
        def __init__(self):
            self.listed = []

        def list_dir(self, path):
            self.listed.append(path)
            return super().list_dir(path)

    root = os.path.join(tmp_warehouse, "t4")
    LakeTable.create(spark, root, sequences_schema(), key="doc_id", num_buckets=2)
    os.makedirs(os.path.join(tmp_warehouse, "quarantine"))
    io = Recording()
    h = warehouse_health(spark, LakeTable(spark, root, io=io), tmp_warehouse)
    assert h["sinks"]["quarantine"]["rows"] == 0
    assert os.path.join(tmp_warehouse, "quarantine") in io.listed

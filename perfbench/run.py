"""dexspark benchmark: one workload per run.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout (the directory holding
``dexspark/`` and ``BENCHMARK.json``). Spark runs as ``local[nproc]``
in this one process, with a driver heap sized from ``/proc/meminfo``,
and writes only under ``<checkout>/.perfbench_work``.

Output: a host record line, a summary line, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` its per-layer metrics, and the
spans go to ``.perfbench_work/records/spans-<workload>-<seed>.jsonl``.
Exit code 0 means every correctness gate passed.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def _import_program() -> None:
    """Import dexspark from this checkout, or fail: the benchmark must
    never measure some other copy that happens to be importable."""
    sys.path.insert(0, CHECKOUT)
    import dexspark

    where = os.path.dirname(os.path.abspath(dexspark.__file__))
    if where != os.path.join(CHECKOUT, "dexspark"):
        raise ImportError(f"dexspark imported from {where}, not from {CHECKOUT}")


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": statistics.median(res.setup_s),
        "cpu_s": res.cpu_s,
        "peak_rss_mb": res.peak_rss_mb,
    }


def _record_key(workload: str, seconds: int, size) -> str:
    """Untraced runs are comparable when workload, run length and sizes
    agree; the seed may differ."""
    digest = hashlib.sha1(repr(size).encode()).hexdigest()[:10]
    return f"e2e-{workload}-s{seconds}-{digest}"


def tracing_overhead(work, key: str, traced: dict) -> tuple[float, int]:
    """Traced ``cpu_s`` against the median ``cpu_s`` of the untraced
    runs recorded in this checkout under ``key``, as a percentage, with
    the number of untraced runs it rests on (0: no reference yet)."""
    ref = []
    for p in glob.glob(os.path.join(work.records, f"{key}-*.json")):
        with open(p) as f:
            ref.append(json.load(f)["cpu_s"])
    if not ref:
        return 0.0, 0
    base = statistics.median(ref)
    return 100.0 * (traced["cpu_s"] - base) / base, len(ref)


def run(workload: str, seed: int, seconds: int, trace: bool, size=None) -> tuple[dict, int]:
    """Run one workload in this process; returns the result object
    (the last output line) and the exit code."""
    from dexspark.session import get_spark
    from pyspark import SparkContext

    from perfbench import host, trace as tracing, workloads

    fn, default_size = workloads.WORKLOADS[workload]
    size = size or default_size
    key = _record_key(workload, seconds, size)
    work = host.Workdir(CHECKOUT)
    work.reset()
    cores = host.nproc()
    mem_mb = host.mem_total_mb()
    heap_mb = host.driver_heap_mb(mem_mb)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf=host.spark_conf(work, heap_mb, trace),
    )
    gateway = SparkContext._gateway
    try:
        print(
            json.dumps(
                {
                    "host": {
                        "nproc": cores,
                        "mem_total_mb": mem_mb,
                        "driver_heap_mb": heap_mb,
                        "jvm_codegen_mrows_per_s": round(host.codegen_rate_probe(spark), 1),
                    }
                }
            ),
            flush=True,
        )
        tracer = tracing.Tracer() if trace else None
        ctx = workloads.Ctx(spark, work, seed, gateway.proc.pid, tracer)
        res = fn(ctx, size)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        # a later session in this process starts a new JVM
        SparkContext._gateway = SparkContext._jvm = None

    e2e = end_to_end(res)
    spec = _load_spec()
    if trace:
        layers = dict(res.layers)
        ops = res.info["ops"]
        for k, v in tracing.event_log_totals(work.path("eventlog"), res.windows).items():
            layers[f"spark.{k}"] = v / ops
        for layer, s in tracer.self_time_by_layer().items():
            layers[f"self.{layer}_s"] = s
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.cpu_s"] = e2e["cpu_s"]
        layers["trace.overhead_pct"], layers["trace.reference_runs"] = tracing_overhead(
            work, key, e2e
        )
        tracer.dump(os.path.join(work.records, f"spans-{workload}-{seed}.jsonl"))
        values, wanted = layers, spec["per_layer"]
    else:
        with open(os.path.join(work.records, f"{key}-{seed}.json"), "w") as f:
            json.dump(e2e, f)
        values, wanted = e2e, spec["end_to_end"]
    work.clear()

    summary = {"workload": workload, "seed": seed, "trace": trace, **res.info}
    summary["setup_samples_s"] = res.setup_s
    summary["op_samples"] = len(res.op_s)
    summary["op_p50_s"] = statistics.median(res.op_s)
    summary["work_s"] = res.work_s
    summary["e2e"] = e2e
    if res.failures:
        summary["failures"] = res.failures
    print(json.dumps({"summary": summary}), flush=True)
    out = {
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    return out, 0 if out["correct"] else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t0 = time.monotonic()
    _import_program()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    out, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"# run took {time.monotonic() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())

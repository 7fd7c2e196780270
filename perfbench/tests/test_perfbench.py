"""The benchmark's own tests: a tiny-scale pass of each workload, the
exact repeat of its counts, and the correctness gate's teeth.

    python -m pytest perfbench/tests -q

Each workload test starts and stops its own Spark JVM, as a benchmark
run does, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, CHECKOUT)

from perfbench import gates, qdata, run  # noqa: E402
from perfbench.workloads import StreamSize, SuiteSize  # noqa: E402

TINY = {
    "stream_tail": StreamSize(
        docs=300, epochs=3, events_per_epoch=100, buckets=2, setups=2, lookups=2, scans=1
    ),
    "query_suite": SuiteSize(
        tables=qdata.QuerySize(
            customers=40,
            orders=200,
            lineitems=800,
            parts=40,
            suppliers=5,
            events=200,
            users=10,
            documents=200,
            embeddings=200,
            bpe_docs=60,
            bpe_words_per_doc=10,
        ),
        bpe_merges=40,
        setups=2,
    ),
}

# Layer groups each workload exercises: every per-layer metric under
# these prefixes must be measured, not left at the default.
LAYERS = {
    "stream_tail": ("stream.", "lake.", "lineage.", "sstream.", "spark.", "corpus_sync.", "trace."),
    "query_suite": ("queries.", "spark.", "trace."),
}
# Counts that must repeat exactly for one seed (zero-valued ones too).
EXACT = ("spark.codegen_compiles", "spark.jobs", "lake.compactions")


def _exact(name: str) -> bool:
    return name in EXACT or (name.startswith("lake.io.") and name.endswith("_calls"))


def spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload, trace, capsys):
    out, code = run.run(workload, seed=7, seconds=1, trace=trace, size=TINY[workload])
    printed = capsys.readouterr().out.strip().splitlines()
    assert any(line.startswith('{"host"') for line in printed)
    assert code == 0, printed
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_pass_prints_every_metric_with_its_unit(workload, capsys):
    s = spec()
    assert workload in {w["name"] for w in s["workloads"]}
    for trace, wanted in ((False, s["end_to_end"]), (True, s["per_layer"])):
        out = _run(workload, trace, capsys)
        assert out["correct"] is True
        assert out["failed"] == 0 and out["attempted"] >= 1
        assert set(out["metrics"]) == {m["name"] for m in wanted}
        for m in wanted:
            got = out["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], float)
        if not trace:
            assert all(v["value"] > 0 for v in out["metrics"].values())
        else:
            layer_values = out["metrics"]
    measured = {
        k for k, v in layer_values.items() if v["value"] != 0 and k.startswith(LAYERS[workload])
    }
    assert measured, workload
    assert layer_values["trace.reference_runs"]["value"] >= 1


def test_counts_repeat_exactly_for_one_seed(capsys):
    a = _run("stream_tail", True, capsys)["metrics"]
    b = _run("stream_tail", True, capsys)["metrics"]
    exact = [k for k in a if _exact(k)]
    assert len(exact) == len(EXACT) + 4
    assert {k: a[k]["value"] for k in exact} == {k: b[k]["value"] for k in exact}


def _rows(state):
    from pyspark.sql import Row

    return [Row(doc_id=k, **v) for k, v in state.items()]


def _expected():
    from dexspark.oracle import OracleResult

    state = {
        "doc00000001": {"tokens": [5, 6, 7], "n_tok": 3, "source": "a"},
        "doc00000002": {"tokens": [8], "n_tok": 1, "source": "b"},
    }
    return OracleResult(state=state, quarantined=2)


def test_gate_passes_on_matching_state():
    exp = _expected()
    assert gates.check_cdc(exp, _rows(exp.state), quarantine_rows=2) == []


def test_gate_fails_on_one_flipped_token():
    table = _rows(_expected().state)
    exp = _expected()
    exp.state["doc00000001"]["tokens"][1] += 1
    assert gates.check_cdc(exp, table, quarantine_rows=2)


def test_gate_fails_on_one_missing_key():
    table = _rows(_expected().state)
    exp = _expected()
    del exp.state["doc00000002"]
    assert gates.check_cdc(exp, table, quarantine_rows=2)


def test_gate_fails_on_quarantine_count():
    exp = _expected()
    assert gates.check_cdc(exp, _rows(exp.state), quarantine_rows=1)


def test_lookup_gate_fails_on_flipped_token():
    rows = _rows({"doc00000001": _expected().state["doc00000001"]})
    exp = _expected()
    assert gates.check_lookup(exp.state, "doc00000001", rows) == []
    exp.state["doc00000001"]["tokens"][0] += 1
    assert gates.check_lookup(exp.state, "doc00000001", rows)

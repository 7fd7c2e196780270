"""The CLI mode table, checked without a Spark session.

Under the ``no_spark`` fixture ``SparkSession.builder`` raises, so a
run that gets past the mode checks stops with ``_ReachedSpark`` and a
run the checks refuse exits 2 without starting Spark. The last test
runs ``--validate-csv`` in a real session.
"""

import json
import os

import pytest

from dexspark import cli

# flags that tune a mode rather than pick one; a flag that is neither
# a MODES row nor listed here would fall into the tail unnoticed
MODIFIERS = frozenset("""
    table binlog checkpoint warehouse fileio create num_buckets rules branch
    route route_expr route_default applied_lineage batch follow trigger
    max_files_per_trigger suppress_stale patch_events profile_epochs
    near_dup_gate near_dup_min_bands merge_mode compact_every
    vacuum_keep_last sink_retention_epochs emit_outbox corpus_out
    corpus_src corpus_eval corpus_splits bpe_merges fim_rate fim_ids
    fim_mode max_ppl semantic_dedup semantic_tau dsir_frac dsir_target
    dsir_buckets seq_len eos_id pad_id pack_policy out remap_oov
    compact_max_buckets keep_last dry_run min_age_seconds view_group
    view_sums snapshot_position export_version
""".split())

_ACTIONS = {a.dest: a for a in cli._parser()._actions}
_VALUES = {"route": "a=/nonexistent/a", "route_expr": "'a'", "scan_range": "k"}


class _ReachedSpark(Exception):
    pass


class _Builder:
    def appName(self, name):
        raise _ReachedSpark(name)


@pytest.fixture()
def no_spark(monkeypatch):
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "builder", _Builder())


def _flag(dest: str) -> list[str]:
    act = _ACTIONS[dest]
    if act.nargs == 0:
        return [act.option_strings[0]]
    n = act.nargs if isinstance(act.nargs, int) else 1
    value = _VALUES.get(dest, "1" if act.type in (int, float) else "x")
    return [act.option_strings[0]] + [value] * n


def _argv(row: cli.Mode) -> dict[str, list[str]]:
    """dest -> its argv piece, for a run of ``row`` with every need met."""
    dests = ([row.flag] if row.flag else []) + list(row.needs)
    if row.table:
        dests.append("table")
    if "route" in row.needs:
        dests.append("route_expr")
    if row.flag == "bootstrap_snapshot":
        dests.append("snapshot_position")
    return {d: _flag(d) for d in dests}


def _main(*pieces: list[str]):
    return cli.main([tok for piece in pieces for tok in piece])


_ROWS = list(cli.MODES) + [cli.TAIL]
_ROW = {m.flag: m for m in cli.MODES}


@pytest.mark.parametrize("row", _ROWS, ids=lambda r: r.flag or "tail")
def test_row_with_its_needs_reaches_spark(row, no_spark):
    with pytest.raises(_ReachedSpark):
        _main(*_argv(row).values())


@pytest.mark.parametrize("row", _ROWS, ids=lambda r: r.flag or "tail")
def test_row_missing_a_needed_flag_exits_2(row, no_spark):
    argv = _argv(row)
    needed = [d for d in argv if d != row.flag]
    for dest in needed:
        with pytest.raises(SystemExit) as exc:
            _main(*(v for d, v in argv.items() if d != dest))
        assert exc.value.code == 2, dest


def test_exclusive_modes_exit_2(no_spark):
    table = _flag("table")
    for argv in (
        ["--history", "--stats"],
        ["--lookup", "K", "--changes", "1,2", "--out", "D"],
    ):
        with pytest.raises(SystemExit) as exc:
            _main(table, argv)
        assert exc.value.code == 2
    # every pair of rows from different groups
    for i, a in enumerate(cli.MODES):
        for b in cli.MODES[i + 1:]:
            if a.group and a.group == b.group:
                continue
            with pytest.raises(SystemExit) as exc:
                _main(*_argv(a).values(), *_argv(b).values())
            assert exc.value.code == 2, (a.flag, b.flag)


def test_legal_combinations_reach_spark(no_spark):
    maintenance = [m for m in cli.MODES if m.group == "maintenance"]
    tail = list(_argv(cli.TAIL).values())
    route = [_flag("route"), _flag("route_expr"), _flag("warehouse")]
    for argv in (
        [piece for m in maintenance for piece in _argv(m).values()],
        list(_argv(_ROW["bootstrap_snapshot"]).values()) + tail,
        route + [_flag("reprocess_unrouted")],
        route + [_flag("routes_status")],
        route + [_flag("expire_binlog"), _flag("binlog")],
        route + [_flag("binlog"), _flag("checkpoint")],
        [_flag("table"), _flag("binlog"), ["--expire-binlog", "0"]],
    ):
        with pytest.raises(_ReachedSpark):
            _main(*argv)


def test_route_only_composes_with_route_modes(no_spark):
    route = [_flag("route"), _flag("route_expr")]
    for row in cli.MODES:
        if not row.route:
            with pytest.raises(SystemExit) as exc:
                _main(*route, *_argv(row).values())
            assert exc.value.code == 2, row.flag


def test_every_flag_is_a_mode_or_a_modifier(no_spark):
    dests = set(_ACTIONS) - {"help"}
    flags = [m.flag for m in cli.MODES]
    assert len(flags) == len(set(flags))  # one row per mode flag
    assert not set(flags) & MODIFIERS
    assert dests == set(flags) | MODIFIERS, (
        f"unowned: {sorted(dests - set(flags) - MODIFIERS)}; "
        f"stale: {sorted((set(flags) | MODIFIERS) - dests)}"
    )


def test_validate_csv_reports_listing_and_csv_checks(spark, tmp_path, capsys):
    root = tmp_path / "drop"
    root.mkdir()
    (root / "good.csv").write_text("doc_id,n_chars\nd1,5\nd2,\n")
    (root / "bad header.csv").write_text("doc_id,doc_id\nd1,d1\n")
    (root / "notes.txt").write_text("not a csv\n")
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps({"required": ["doc_id", "n_chars"]}))

    assert cli.main(["--validate-csv", str(root), "--rules", str(rules)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["listing"]["counts"] == {"passed": 2, "failed": 1}
    assert out["listing"]["examples"]["failed"][0].endswith("notes.txt")
    csv = out["csv"]
    assert csv["files"] == {"ok": 1, "file_error": 1}
    assert csv["rows"] == {"n_rows": 2, "n_clean": 1, "n_quarantine": 1}
    failing = {os.path.basename(f["file_path"]): f for f in csv["failing"]}
    assert set(failing) == {"good.csv", "bad header.csv"}
    assert failing["bad header.csv"]["file_error"].startswith("header:")
    assert failing["good.csv"]["n_quarantine"] == 1

"""Correctness gates. They run outside the timed window; each returns a
list of failure messages (empty when the output is correct)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dexspark import oracle
from dexspark.operators.bpe import encode_word

# tools/check_oracle.py's value normalisation and order-insensitive
# row sets, so the suite is judged exactly as the oracle check judges it
from tools.check_oracle import TABLES, _rowset


def expected_cdc(binlog_files: list[str], base_state: dict[str, dict]) -> oracle.OracleResult:
    """Pure-Python replay of the change log over the base table."""
    return oracle.replay(sorted(binlog_files), base_state=base_state)


def check_cdc(expected: oracle.OracleResult, table_rows, quarantine_rows: int) -> list[str]:
    """Full-table per-doc_id equality with the replay, and one
    quarantine row per event the replay quarantined."""
    failures = []
    try:
        oracle.assert_equal_state(expected.state, table_rows)
    except AssertionError as e:
        failures.append(f"table state differs from oracle replay: {str(e)[:300]}")
    if quarantine_rows != expected.quarantined:
        failures.append(
            f"quarantine holds {quarantine_rows} rows, oracle replay quarantined {expected.quarantined}"
        )
    return failures


def check_lookup(expected_state: dict[str, dict], key: str, rows) -> list[str]:
    got = oracle.state_from_rows(rows)
    want = {key: expected_state[key]} if key in expected_state else {}
    if got != want:
        return [f"lookup({key!r}) returned {sorted(got)} rows that differ from the oracle"]
    return []


def check_corpus(pipe, splits, source_keys: set[str]) -> list[str]:
    """Every accepted member is in some pack, and no pack left after
    retraction filtering holds a doc that is retracted (not accepted
    now) or deleted from the source table."""
    members = {r["doc_id"]: r["status"] for r in pipe.members.read().select("doc_id", "status").collect()}
    accepted = {d for d, s in members.items() if s == "accepted"}

    def packed(filter_retracted: bool) -> set[str]:
        out: set[str] = set()
        for split in splits:
            df = pipe.read_packs(split, filter_retracted=filter_retracted)
            out |= {r[0] for r in df.select(F.explode("docs")).distinct().collect()}
        return out

    failures = []
    missing = accepted - packed(False)
    if missing:
        failures.append(f"{len(missing)} accepted docs are in no pack, e.g. {sorted(missing)[:3]}")
    live = packed(True)
    retracted = live - accepted
    if retracted:
        failures.append(f"{len(retracted)} live-pack docs are not accepted, e.g. {sorted(retracted)[:3]}")
    deleted = live - source_keys
    if deleted:
        failures.append(f"{len(deleted)} live-pack docs were deleted upstream, e.g. {sorted(deleted)[:3]}")
    return failures


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"create view {t} as select * from read_parquet('{p}')")
    return con


def check_query(con, sql: str, columns: list[str], rows) -> list[str]:
    """A collected Spark result vs the DuckDB twin: columns, row count,
    values."""
    s_cols = [c.lower() for c in columns]
    s_rows = [tuple(r) for r in rows]
    rel = con.sql(sql)
    d_cols = [c.lower() for c in rel.columns]
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns {sorted(s_cols)} != {sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"row count {len(s_rows)} != {len(d_rows)}"]
    if _rowset(s_cols, s_rows) != _rowset(d_cols, d_rows):
        return ["values differ from the DuckDB oracle"]
    return []


def check_bpe(texts: dict[str, str], merges, rows, sample: int = 50) -> list[str]:
    """``bpe_encode``'s rows for the first ``sample`` doc ids equal
    per-word ``encode_word`` concatenated over the doc's text."""
    ranks = {tuple(p): r for r, p in enumerate(merges)}
    got = {r["doc_id"]: list(r["tokens"]) for r in rows}
    ids = sorted(texts)[:sample]
    bad = [d for d in ids if got.get(d) != [t for w in texts[d].split() for t in encode_word(w, ranks)]]
    if bad:
        return [f"bpe_encode differs from encode_word on {len(bad)} of {len(ids)} sampled docs"]
    return []

"""Output checks, run after each operation's clock has stopped. Each
returns a list of problems; an empty list means the output is correct.
Every expected value comes from DuckDB (``gen.py`` or the registry's
``oracle_sql()``), never from Spark."""

from __future__ import annotations

import glob
import json
import os
import sys
from urllib.parse import unquote

import duckdb


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)))}")
    return con


def _files(path: str, pattern: str = "*.parquet") -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", pattern), recursive=True))


def _plist(files: list[str]) -> str:
    return "[" + ",".join(f"'{f}'" for f in files) + "]"


def check_fetch_prices(out: str, day: str, exp: dict, result) -> list[str]:
    """Target rows and each quarantine lane equal the DuckDB counts."""
    con = _con()
    bad = []
    target = con.execute(f"SELECT count(*) FROM read_parquet({_plist(_files(out + '/prices'))})").fetchone()[0]
    if target != exp["target"]:
        bad.append(f"fetch_prices target rows {target} != {exp['target']}")
    errors = _files(f"{out}/errors/day={day}")
    lanes = dict(con.execute(
        f"SELECT __error_reason, count(*) FROM read_parquet({_plist(errors)}) GROUP BY 1").fetchall()
    ) if errors else {}
    for lane, key in (("null_primary_key", "null_pk"), ("duplicate_record", "duplicate")):
        if lanes.get(lane, 0) != exp[key]:
            bad.append(f"fetch_prices lane {lane} rows {lanes.get(lane, 0)} != {exp[key]}")
    if result.bad_count != exp["null_pk"] + exp["duplicate"]:
        bad.append(f"fetch_prices bad_count {result.bad_count} != {exp['null_pk'] + exp['duplicate']}")
    return bad


def delta_live_files(table: str) -> list[str]:
    """Data files of the latest version of a delta table, by replaying its
    transaction log (last checkpoint, then the JSON commits after it)."""
    log = os.path.join(table, "_delta_log")
    live: set[str] = set()
    start = -1
    last_cp = os.path.join(log, "_last_checkpoint")
    if os.path.exists(last_cp):
        with open(last_cp) as fh:
            start = json.load(fh)["version"]
        cps = sorted(glob.glob(os.path.join(log, f"{start:020d}.checkpoint*.parquet")))
        rows = _con().execute(
            f"SELECT add.path FROM read_parquet({_plist(cps)}) WHERE add IS NOT NULL").fetchall()
        live = {r[0] for r in rows}
    for path in sorted(glob.glob(os.path.join(log, "*.json"))):
        version = int(os.path.basename(path).split(".")[0])
        if version <= start:
            continue
        with open(path) as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
    return sorted(os.path.join(table, unquote(p)) for p in live)


def check_scd2(out: str, exp: dict) -> list[str]:
    """At most one current row per key, non-overlapping intervals, and
    history and current counts equal to DuckDB's."""
    files = delta_live_files(f"{out}/history")
    if not files:
        return ["scd2 history table has no live files"]
    con = _con()
    con.execute(f"CREATE VIEW h AS SELECT * FROM read_parquet({_plist(files)})")
    current, history = con.execute(
        "SELECT count(*) FILTER (WHERE is_current), count(*) FILTER (WHERE NOT is_current) FROM h"
    ).fetchone()
    multi = con.execute(
        "SELECT count(*) FROM (SELECT 1 FROM h WHERE is_current GROUP BY instrument, trade_date "
        "HAVING count(*) > 1)").fetchone()[0]
    overlap = con.execute(
        """SELECT count(*) FROM (
               SELECT eff_start_ts, eff_end_ts,
                      lead(eff_start_ts) OVER (PARTITION BY instrument, trade_date
                                               ORDER BY eff_start_ts) AS next_start
               FROM h)
           WHERE eff_end_ts <= eff_start_ts OR (next_start IS NOT NULL AND eff_end_ts > next_start)"""
    ).fetchone()[0]
    bad = []
    if current != exp["scd2_current"]:
        bad.append(f"scd2 current rows {current} != {exp['scd2_current']}")
    if history != exp["scd2_history"]:
        bad.append(f"scd2 history rows {history} != {exp['scd2_history']}")
    if multi:
        bad.append(f"scd2 {multi} keys with more than one current row")
    if overlap:
        bad.append(f"scd2 {overlap} overlapping or empty intervals")
    return bad


def check_sessions(out: str, exp: dict) -> list[str]:
    """Landed sessions equal DuckDB's sessionization of the deduplicated
    events (sessions the watermark has closed), and none landed twice, so
    no event is counted twice."""
    files = _files(f"{out}/sessions")
    rows = _con().execute(
        f"SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S.%f'), user_id, n_events "
        f"FROM read_parquet({_plist(files)})").fetchall() if files else []
    got = sorted(list(r) for r in rows)
    want = sorted(exp["sessions"])
    bad = []
    if len({(r[0], r[1]) for r in got}) != len(got):
        bad.append("sessions: a session landed more than once")
    if got != want:
        missing = [w for w in want if w not in got][:2]
        extra = [g for g in got if g not in want][:2]
        bad.append(f"sessions: {len(got)} landed != {len(want)} expected; "
                   f"missing {missing} extra {extra}")
    return bad


def _canon():
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from compare_oracle import canon  # the repository's oracle comparison

    return canon


def query_oracles(tables: str, names: list[str]) -> dict:
    """Each query's expected rows: its ``oracle_sql()`` entry under DuckDB
    over the generated tables, in compare_oracle's canonical form."""
    import __spark_entry__ as entry_mod

    canon = _canon()
    con = _con()
    for t in entry_mod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    sqls = entry_mod.oracle_sql()
    out = {}
    for name in names:
        res = con.execute(sqls[name])
        cols = [d[0].lower() for d in res.description]
        out[name] = (sorted(cols), canon(res.fetchall(), cols))
    return out


def check_query(path: str, name: str, oracle: tuple) -> list[str]:
    """A query's written result against its oracle, compared the way
    ``tools/compare_oracle.py`` compares (columns by name, order-free
    rows, 6-decimal floats)."""
    canon = _canon()
    files = _files(path)
    if not files:
        return [f"{name}: no result files"]
    res = _con().execute(f"SELECT * FROM read_parquet({_plist(files)})")
    cols = [d[0].lower() for d in res.description]
    want_cols, want_rows = oracle
    if sorted(cols) != want_cols:
        return [f"{name}: columns {sorted(cols)} != {want_cols}"]
    got = canon(res.fetchall(), cols)
    if len(got) != len(want_rows):
        return [f"{name}: {len(got)} rows != {len(want_rows)}"]
    if got != want_rows:
        diff = [(a, b) for a, b in zip(got, want_rows) if a != b][:2]
        return [f"{name}: value mismatch, first {diff}"]
    return []

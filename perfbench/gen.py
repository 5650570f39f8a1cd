"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload etl_chain --seed 7 --out DIR

Writes the inputs of one workload under ``DIR/inputs`` and the expected
outputs, computed with DuckDB from those same files (never with Spark),
to ``DIR/expected.json``. The same seed gives byte-identical inputs. The
program under test later receives only the files under ``DIR/inputs``.

Runs as one process: NumPy draws the data, pyarrow writes it, and DuckDB
(limited to ``nproc`` threads) derives the expectations.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sizes  # noqa: E402

DAY0 = np.datetime64("2024-01-02T00:00:00", "us")
HOUR_US = 3_600_000_000
MINUTE_US = 60_000_000


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)))}")
    return con


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- etl_chain ---------------------------------------------------------------


def _ticks(rng: np.random.Generator, day: int) -> pa.Table:
    """One day of share-price ticks for the fetch_prices job: unique
    (instrument, trade_ts) keys, then ~2% null primary keys and ~5% exact
    duplicates (same key and price, later ingest_seq), shuffled."""
    n = sizes.TICKS_PER_DAY
    inst = np.arange(n) % sizes.INSTRUMENTS
    ts = DAY0 + np.timedelta64(day * 24 * HOUR_US, "us") + (
        (np.arange(n) // sizes.INSTRUMENTS) * 1_000_000 + inst * 1_000
    ).astype("timedelta64[us]")
    price = np.round(rng.uniform(1.0, 500.0, n), 4)
    null_inst = rng.random(n) < sizes.NULL_PK_SHARE / 2
    null_ts = rng.random(n) < sizes.NULL_PK_SHARE / 2
    dup_src = rng.choice(n, int(n * sizes.DUP_SHARE), replace=False)
    dup_src = dup_src[~(null_inst[dup_src] | null_ts[dup_src])]
    rows = np.concatenate([np.arange(n), dup_src])
    order = rng.permutation(len(rows))
    rows = rows[order]
    instrument = pa.array([f"TICK{i:04d}" for i in inst[rows]])
    instrument = pc.if_else(pa.array(null_inst[rows]), pa.scalar(None, pa.string()), instrument)
    trade_ts = pc.if_else(
        pa.array(null_ts[rows]), pa.scalar(None, pa.timestamp("us")), pa.array(ts[rows])
    )
    return pa.table(
        {
            "instrument": instrument,
            "trade_ts": trade_ts,
            "price": pa.array(price[rows]),
            "ingest_seq": pa.array(np.arange(len(rows), dtype=np.int64)),
        }
    )


def _snapshot(rng: np.random.Generator, state: dict, day: int) -> pa.Table:
    """Full daily snapshot for the SCD2 job: every key seen so far, ~2% of
    them with a changed close, plus one new trade_date per instrument."""
    if day == 0:
        for i in range(sizes.INSTRUMENTS):
            for d in range(sizes.SCD2_DATES):
                state[(f"TICK{i:04d}", d)] = round(float(rng.uniform(1, 500)), 4)
    else:
        keys = list(state)
        for j in rng.choice(len(keys), int(len(keys) * sizes.SCD2_CHANGE_SHARE), replace=False):
            state[keys[j]] = round(state[keys[j]] + 0.5, 4)
        for i in range(sizes.INSTRUMENTS):
            state[(f"TICK{i:04d}", sizes.SCD2_DATES + day - 1)] = round(float(rng.uniform(1, 500)), 4)
    keys = list(state)
    close = np.array([state[k] for k in keys])
    return pa.table(
        {
            "instrument": pa.array([k[0] for k in keys]),
            "trade_date": pa.array(
                (np.datetime64("2023-01-01") + np.array([k[1] for k in keys])).astype("datetime64[D]")
            ),
            "low": pa.array(np.round(close * 0.9, 4)),
            "high": pa.array(np.round(close * 1.1, 4)),
            "close": pa.array(close),
        }
    )


def _events(rng: np.random.Generator, inc: int, next_id: int, carry: list) -> tuple[list, int, list]:
    """One stream increment as JSON lines: events spread over
    ``STREAM_SPAN_H`` hours, starting up to 10 minutes before the previous
    increment ended (out of order across files), ~1% duplicate ids (half
    replayed from the previous increment)."""
    n = sizes.EVENTS_PER_INC
    start = DAY0 + np.timedelta64(inc * sizes.STREAM_SPAN_H * HOUR_US - (10 * MINUTE_US if inc else 0), "us")
    span = sizes.STREAM_SPAN_H * HOUR_US + (10 * MINUTE_US if inc else 0)
    ts = start + rng.integers(0, span, n).astype("timedelta64[us]")
    users = rng.integers(0, sizes.STREAM_USERS, n)
    kinds = np.array(["view", "click", "cart", "buy"])[rng.integers(0, 4, n)]
    value = np.round(rng.uniform(0, 100, n), 2)
    rows = [
        {
            "event_id": int(next_id + k),
            "ts": str(ts[k]).replace("T", " "),
            "user_id": int(users[k]),
            "event_type": str(kinds[k]),
            "value": float(value[k]),
        }
        for k in range(n)
    ]
    n_dup = int(n * sizes.STREAM_DUP_SHARE)
    dups = [dict(rows[j]) for j in rng.choice(n, n_dup - len(carry[: n_dup // 2]), replace=False)]
    out = rows + dups + carry[: n_dup // 2]
    order = rng.permutation(len(out))
    out = [out[j] for j in order]
    # replay candidates for the next increment: events from the last
    # 30 minutes, still inside the 2-hour dedup watermark
    tail = ts.max() - np.timedelta64(30 * MINUTE_US, "us")
    next_carry = [dict(rows[k]) for k in np.nonzero(ts >= tail)[0][: n_dup]]
    return out, next_id + n, next_carry


def gen_etl_chain(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    inputs = os.path.join(out, "inputs")
    state: dict = {}
    carry: list = []
    next_id = 0
    for day in range(sizes.OPS):
        _write(_ticks(rng, day), f"{inputs}/ticks/day={day:02d}/ticks.parquet")
        _write(_snapshot(rng, state, day), f"{inputs}/ranges/day={day:02d}/ranges.parquet")
        ev, next_id, carry = _events(rng, day, next_id, carry)
        os.makedirs(f"{inputs}/events_staged", exist_ok=True)
        with open(f"{inputs}/events_staged/inc{day:02d}.json", "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in ev)
    return expect_etl_chain(inputs)


def expect_etl_chain(inputs: str) -> dict:
    """Expected outputs of every operation, with DuckDB over the inputs."""
    con = _duck()
    ops = []
    for day in range(sizes.OPS):
        ticks = f"{inputs}/ticks/day={day:02d}/ticks.parquet"
        t = con.execute(
            f"""SELECT count(*) FILTER (WHERE instrument IS NULL OR trade_ts IS NULL),
                       count(*) FILTER (WHERE instrument IS NOT NULL AND trade_ts IS NOT NULL),
                       count(DISTINCT (instrument, trade_ts)) FILTER (
                           WHERE instrument IS NOT NULL AND trade_ts IS NOT NULL),
                       count(*)
                FROM '{ticks}'"""
        ).fetchone()
        ranges = ",".join(f"'{inputs}/ranges/day={d:02d}/ranges.parquet'" for d in range(day + 1))
        # versions per key: one per change of (low, high, close) between
        # consecutive snapshots the key appears in
        s = con.execute(
            f"""WITH snaps AS (
                    SELECT instrument, trade_date, low, high, close,
                           CAST(regexp_extract(filename, 'day=(\\d+)', 1) AS INT) AS day
                    FROM read_parquet([{ranges}], filename = true)),
                lagged AS (
                    SELECT *, lag((low, high, close)) OVER (
                        PARTITION BY instrument, trade_date ORDER BY day) AS prev
                    FROM snaps)
                SELECT count(DISTINCT (instrument, trade_date)),
                       count(*) FILTER (WHERE prev IS NOT NULL AND prev <> (low, high, close)),
                       (SELECT count(*) FROM read_parquet('{inputs}/ranges/day={day:02d}/ranges.parquet'))
                FROM lagged"""
        ).fetchone()
        events = ",".join(f"'{inputs}/events_staged/inc{d:02d}.json'" for d in range(day + 1))
        e = con.execute(
            f"""WITH raw AS (
                    SELECT * FROM read_json([{events}], columns = {{
                        event_id: 'BIGINT', ts: 'TIMESTAMP', user_id: 'BIGINT',
                        event_type: 'VARCHAR', value: 'DOUBLE'}})),
                uniq AS (SELECT DISTINCT * FROM raw),
                marked AS (
                    SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                        < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
                    FROM uniq),
                numbered AS (
                    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                               ROWS UNBOUNDED PRECEDING) AS sid
                    FROM marked),
                sessions AS (
                    SELECT user_id, min(ts) AS session_start,
                           max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
                    FROM numbered GROUP BY user_id, sid),
                -- Spark keeps the watermark in milliseconds: the latest
                -- event time truncated to ms, minus the 2-hour delay; a
                -- session is emitted once its end is <= the watermark
                watermark AS (
                    SELECT date_trunc('millisecond', max(ts)) - INTERVAL 2 HOUR AS wm FROM raw)
                SELECT (SELECT count(*) FROM raw) - (SELECT count(*) FROM uniq) AS dups,
                       (SELECT count(*) FROM read_json('{inputs}/events_staged/inc{day:02d}.json')) AS rows_in,
                       list((strftime(session_start, '%Y-%m-%d %H:%M:%S.%f'), user_id, n_events)
                            ORDER BY user_id, session_start)
                           FILTER (WHERE session_end <= (SELECT wm FROM watermark))
                FROM sessions"""
        ).fetchone()
        ops.append(
            {
                "null_pk": t[0],
                "duplicate": t[1] - t[2],
                "target": t[2],
                "ticks_in": t[3],
                "scd2_current": s[0],
                "scd2_history": s[1],
                "ranges_in": s[2],
                "event_dups": e[0],
                "events_in": e[1],
                "sessions": [list(x) for x in (e[2] or [])],
            }
        )
    return {"workload": "etl_chain", "ops": ops}


# -- query_mix ---------------------------------------------------------------

_WORDS = (
    "the a data spark query join scan filter window merge sort hash table row "
    "column batch stream key value order line part customer vector big small "
    "fast slow agg group dup"
).split()


def gen_query_mix(seed: int, out: str) -> dict:
    """The ten star-schema tables ``__spark_entry__._views`` registers, in
    the schemas of the repository's synthetic test data, at a fixed small
    scale; the seed varies every value."""
    rng = np.random.default_rng(seed)
    d = os.path.join(out, "inputs", "tables")
    n_cust, n_supp, n_part = sizes.QM_CUSTOMERS, sizes.QM_SUPPLIERS, sizes.QM_PARTS
    n_ord, n_line, n_ev = sizes.QM_ORDERS, sizes.QM_LINEITEMS, sizes.QM_EVENTS
    n_doc, n_vec = sizes.QM_DOCS, sizes.QM_VECS
    i32, i64 = pa.int32(), pa.int64()
    days = np.datetime64("1992-01-01", "us") + (rng.integers(0, 365 * 7, n_ord) * 86_400_000_000).astype(
        "timedelta64[us]"
    )
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)
            ],
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{_WORDS[i % 7]} widget" for i in rng.integers(0, 1000, n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])[rng.integers(0, 5, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
            "o_orderdate": pa.array(days),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)
            ],
        },
    }
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days[l_order] + (rng.integers(1, 122, n_line) * 86_400_000_000).astype("timedelta64[us]")),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us") + rng.integers(0, 7 * 24 * HOUR_US, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, max(20, n_ev // 50), n_ev), i64),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    lens = rng.integers(8, 80, n_doc)
    texts = [" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)) for k in lens]
    # near-duplicate pairs so the dedup queries have work to find
    for j in range(0, n_doc // 10):
        texts[n_doc - 1 - j] = texts[j] + " " + _WORDS[j % len(_WORDS)]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 5, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    emb = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        _write(t, f"{d}/{name}.parquet")
        rows[name] = t.num_rows
    return {"workload": "query_mix", "rows": rows}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_chain", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    gen = gen_etl_chain if a.workload == "etl_chain" else gen_query_mix
    expected = gen(a.seed, a.out)
    with open(os.path.join(a.out, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

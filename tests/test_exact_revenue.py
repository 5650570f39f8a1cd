"""q1, q3, q5, q6 and q10 sum revenue in exact DECIMAL arithmetic: on
tables whose exact sums sit on a half-cent tie, Spark and the DuckDB
oracle both round the tie up, as the exact answer does. Summed as
doubles, in any order, the three order-1 lines below come to
203693.22499999998, which rounds to 203693.22."""

import datetime
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

DAY = datetime.datetime(1996, 6, 1)

#: (orderkey, returnflag, linestatus, price, discount, tax): group A/F
#: (order 1) has the exact discounted sum 203693.225, group N/O (order 2)
#: the exact charge sum 49918.785. Only order 1 falls in q5's date window.
LINES = [
    (1, "A", "F", "99370.84", "0.07", "0.00"),
    (1, "A", "F", "54238.74", "0.07", "0.00"),
    (1, "A", "F", "66126.43", "0.08", "0.00"),
    (2, "N", "O", "105.36", "0.03", "0.00"),
    (2, "N", "O", "10233.05", "0.10", "0.02"),
    (2, "N", "O", "44420.49", "0.09", "0.00"),
]

TABLES = {
    "lineitem": pa.table({
        "l_orderkey": pa.array([r[0] for r in LINES], pa.int64()),
        "l_suppkey": pa.array([1] * len(LINES), pa.int64()),
        "l_quantity": [1.0] * len(LINES),
        "l_extendedprice": [float(r[3]) for r in LINES],
        "l_discount": [float(r[4]) for r in LINES],
        "l_tax": [float(r[5]) for r in LINES],
        "l_returnflag": [r[1] for r in LINES],
        "l_linestatus": [r[2] for r in LINES],
        "l_shipdate": pa.array([DAY] * len(LINES), pa.timestamp("us")),
    }),
    "orders": pa.table({
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_custkey": pa.array([1, 1], pa.int64()),
        "o_orderdate": pa.array([DAY, DAY.replace(year=1995)], pa.timestamp("us")),
    }),
    "customer": pa.table({"c_custkey": pa.array([1], pa.int64()), "c_nationkey": pa.array([1], pa.int32())}),
    "supplier": pa.table({"s_suppkey": pa.array([1], pa.int64()), "s_nationkey": pa.array([1], pa.int32())}),
    "nation": pa.table({
        "n_nationkey": pa.array([1], pa.int32()), "n_name": ["JAPAN"], "n_regionkey": pa.array([1], pa.int32()),
    }),
    "region": pa.table({"r_regionkey": pa.array([1], pa.int32()), "r_name": ["ASIA"]}),
}


def _exact(order: int, charge: bool = False) -> float:
    """Half-up cents of one order's exact discounted (or charge) sum."""
    total = Decimal(0)
    for o, _, _, price, disc, tax in LINES:
        if o == order:
            v = Decimal(price) * (1 - Decimal(disc))
            total += v * (1 + Decimal(tax)) if charge else v
    return float(total.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("revenue_ties")
    for name, table in TABLES.items():
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


def _both_engines(spark, tie_dir, key):
    import __spark_entry__ as em

    spark_rows = [r.asDict() for r in em.queries()[key](spark, tie_dir).collect()]
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tie_dir}/{name}.parquet'")
    rel = con.sql(em.oracle_sql()[key])
    duck_rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    return spark_rows, duck_rows


def test_q1_half_cent_ties(spark, tie_dir):
    assert (_exact(1), _exact(2, charge=True)) == (203693.23, 49918.79)
    for rows in _both_engines(spark, tie_dir, "q1_pricing_summary"):
        got = {(r["l_returnflag"], r["l_linestatus"]): (r["sum_disc_price"], r["sum_charge"]) for r in rows}
        assert got == {
            ("A", "F"): (_exact(1), _exact(1, charge=True)),
            ("N", "O"): (_exact(2), _exact(2, charge=True)),
        }


def test_q5_half_cent_tie(spark, tie_dir):
    spark_rows, duck_rows = _both_engines(spark, tie_dir, "q5_local_supplier_volume")
    assert spark_rows == duck_rows == [{"n_name": "JAPAN", "revenue": _exact(1)}]


LATE = datetime.datetime(1998, 6, 1)

#: (orderkey, returnflag, shipdate, price, discount) for q3, q6 and q10.
#: Order 1 repeats the order-1 lines above, returned and shipped after
#: q3's cutoff: its exact discounted sum is 203693.225 again. Order 2's
#: 1996 lines sit in q6's discount band; their exact price × discount sum
#: is 13968.295, and summed as doubles in any order it lands just below.
LATE_LINES = [
    (1, "R", LATE, "99370.84", "0.07"),
    (1, "R", LATE, "54238.74", "0.07"),
    (1, "R", LATE, "66126.43", "0.08"),
    (2, "N", DAY, "87461.18", "0.06"),
    (2, "N", DAY, "68061.12", "0.05"),
    (2, "N", DAY, "75965.26", "0.07"),
]

LATE_TABLES = {
    **TABLES,
    "lineitem": pa.table({
        "l_orderkey": pa.array([r[0] for r in LATE_LINES], pa.int64()),
        "l_suppkey": pa.array([1] * len(LATE_LINES), pa.int64()),
        "l_quantity": [1.0] * len(LATE_LINES),
        "l_extendedprice": [float(r[3]) for r in LATE_LINES],
        "l_discount": [float(r[4]) for r in LATE_LINES],
        "l_returnflag": [r[1] for r in LATE_LINES],
        "l_shipdate": pa.array([r[2] for r in LATE_LINES], pa.timestamp("us")),
    }),
    "orders": pa.table({
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_custkey": pa.array([1, 1], pa.int64()),
        "o_orderdate": pa.array([LATE.replace(month=1), DAY.replace(year=1995)], pa.timestamp("us")),
        "o_orderpriority": ["1-URGENT", "2-HIGH"],
    }),
    "customer": pa.table({
        "c_custkey": pa.array([1], pa.int64()),
        "c_nationkey": pa.array([1], pa.int32()),
        "c_name": ["Customer#1"],
        "c_mktsegment": ["BUILDING"],
        "c_acctbal": [711.56],
    }),
}


def _late_exact(order: int, discount_only: bool = False) -> float:
    """Half-up cents of one LATE_LINES order's exact sum of price ×
    (1 - discount), or of price × discount."""
    total = sum(
        Decimal(price) * (Decimal(disc) if discount_only else 1 - Decimal(disc))
        for o, _, _, price, disc in LATE_LINES
        if o == order
    )
    return float(total.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


@pytest.fixture(scope="module")
def late_tie_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("late_revenue_ties")
    for name, table in LATE_TABLES.items():
        pq.write_table(table, str(d / f"{name}.parquet"))
    return str(d)


def test_q3_half_cent_tie(spark, late_tie_dir):
    assert _late_exact(1) == 203693.23
    for rows in _both_engines(spark, late_tie_dir, "q3_shipping_priority"):
        assert [(r["o_orderkey"], r["revenue"]) for r in rows] == [(1, _late_exact(1))]


def test_q6_half_cent_tie(spark, late_tie_dir):
    assert _late_exact(2, discount_only=True) == 13968.30
    for rows in _both_engines(spark, late_tie_dir, "q6_forecast_revenue"):
        assert rows == [{"revenue": _late_exact(2, discount_only=True), "n_lines": 3}]


def test_q10_half_cent_tie(spark, late_tie_dir):
    for rows in _both_engines(spark, late_tie_dir, "q10_returned_items"):
        assert [(r["c_custkey"], r["revenue"]) for r in rows] == [(1, _late_exact(1))]

"""Exact money arithmetic on a hand-built star-schema fixture.

Two groups that a float or plain-bigint money path gets wrong:
  - a line whose discounted revenue ends exactly on a half cent
    ($1,356,081.50 at a 15% discount = $1,152,669.275), which a binary
    double rounds down while the half-up answer is .28;
  - ten lines at ~$1e12 whose charge, summed in 1e-6 dollar units,
    passes 2^63 (a naive bigint sum overflows).

Both the Spark queries and their DuckDB oracles must equal the half-up
cents that ``decimal.Decimal`` computes. The big group's total stays
below 2^53 cents, so its 2-decimal double is exact in both engines.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_big_data_processing_spark import queries as Q

#: (returnflag, brand, price cents, discount cents, tax cents) per line
HALF_CENT = [("H", "Brand#H", 135608150, 15, 0)]
BIG = [
    ("B", "Brand#B", 100_000_000_000_000 + 37 * i, 3 + i % 5, 7) for i in range(10)
]
LINES = HALF_CENT + BIG


def _half_up(units: int, per_cent: int) -> float:
    cents = (Decimal(units) / per_cent).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    return float(cents / 100)


def _expected(flag: str) -> dict[str, float]:
    lines = [ln for ln in LINES if ln[0] == flag]
    disc = sum(p * (100 - d) for _, _, p, d, _ in lines)
    charge = sum(p * (100 - d) * (100 + t) for _, _, p, d, t in lines)
    return {"disc": _half_up(disc, 100), "charge": _half_up(charge, 10_000)}


@pytest.fixture(scope="module")
def money_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("money")
    n = len(LINES)
    brands = sorted({b for _, b, *_ in LINES})
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
                "l_partkey": pa.array(
                    [brands.index(b) + 1 for _, b, *_ in LINES], pa.int64()
                ),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_linenumber": pa.array([1] * n, pa.int32()),
                "l_quantity": pa.array([1.0] * n),
                "l_extendedprice": pa.array([p / 100 for _, _, p, _, _ in LINES]),
                "l_discount": pa.array([dc / 100 for _, _, _, dc, _ in LINES]),
                "l_tax": pa.array([t / 100 for *_, t in LINES]),
                "l_returnflag": pa.array([f for f, *_ in LINES]),
                "l_linestatus": pa.array(["F"] * n),
                "l_shipdate": pa.array(
                    [dt.datetime(1995, 1, 1)] * n, pa.timestamp("us")
                ),
            }
        ),
        d / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(range(1, len(brands) + 1), pa.int64()),
                "p_name": pa.array(["part"] * len(brands)),
                "p_brand": pa.array(brands),
                "p_type": pa.array(["STANDARD"] * len(brands)),
                "p_size": pa.array([1] * len(brands), pa.int32()),
                "p_retailprice": pa.array([1.0] * len(brands)),
            }
        ),
        d / "part.parquet",
    )
    return str(d)


def _both(spark, money_dir: str, name: str, key: str) -> tuple[dict, dict]:
    df = Q.QUERIES[name](spark, money_dir)
    spark_rows = {r[key]: r.asDict() for r in df.collect()}
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{money_dir}/{t}.parquet'")
    rel = con.sql(Q.ORACLE[name])
    oracle_rows = {
        r[rel.columns.index(key)]: dict(zip(rel.columns, r)) for r in rel.fetchall()
    }
    return spark_rows, oracle_rows


def test_fixture_is_discriminating():
    """The half-cent line rounds down as a binary double, and the big
    group's charge sum is past 2^63 sub-cent units."""
    assert round(135608150 * 85 / 10000, 2) == 1152669.27
    assert _expected("H")["disc"] == 1152669.28
    assert sum(p * (100 - d) * (100 + t) for _, _, p, d, t in BIG) >= 2**63


def test_pricing_summary_money_is_exact(spark, money_dir):
    spark_rows, oracle_rows = _both(
        spark, money_dir, "pricing_summary", "l_returnflag"
    )
    for flag in ("H", "B"):
        want = _expected(flag)
        for rows in (spark_rows, oracle_rows):
            assert rows[flag]["sum_disc_price"] == want["disc"], (flag, rows[flag])
            assert rows[flag]["sum_charge"] == want["charge"], (flag, rows[flag])


def test_brand_volume_revenue_is_exact(spark, money_dir):
    spark_rows, oracle_rows = _both(spark, money_dir, "brand_volume", "p_brand")
    for flag, brand in (("H", "Brand#H"), ("B", "Brand#B")):
        want = _expected(flag)["disc"]
        assert spark_rows[brand]["revenue"] == want, spark_rows[brand]
        assert oracle_rows[brand]["revenue"] == want, oracle_rows[brand]

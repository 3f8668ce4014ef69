"""Engine-identical numeric idioms for oracle pairs (round-3).

Round 2's only hash-fail (a price upsert) and three latent
divergences found by full-precision canonicalization (TPC-H Q7 and
Q10 revenue, a ratio estimator) were all the same class: a derived
double crossing a rounding boundary differently in Spark and DuckDB. Spark's round()
HALF_UPs the shortest decimal repr of the double; DuckDB rounds the
scaled binary value — at a half-cent boundary they disagree by a cent.

These tests pin the three replacement idioms on CONSTRUCTED boundary
inputs (values sitting exactly at x.xx5), asserting Spark == DuckDB
bit-for-bit:

  1. scalar money:   floor(x*100 + 0.5) / 100
  2. money sums:     cast(round(sum(cast(v AS DECIMAL(18,4))), 2) AS DOUBLE)
  3. huge deriveds:  round(x, -6) — step >= 1e6x the ulp noise
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

# prices whose *1.1 product sits exactly at a half-cent (e.g. 19.95 ->
# 21.945) plus plain cases; these are the price-upsert shape
BOUNDARY_PRICES = [19.95, 0.05, 315754.29 / 1.1, 123.45, 999999.95, 0.25]


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def test_scalar_floor_form_matches_duckdb(spark, duck):
    rows = [(i, p) for i, p in enumerate(BOUNDARY_PRICES)]
    sdf = spark.createDataFrame(rows, "k int, price double").select(
        "k", (F.floor(F.col("price") * F.lit(1.1) * F.lit(100.0) + F.lit(0.5)) / 100.0).alias("p")
    )
    got = {r["k"]: r["p"] for r in sdf.collect()}
    vals = ", ".join(f"({i}, {p!r})" for i, p in rows)
    want = dict(
        duck.execute(
            f"SELECT k, floor(price * 1.1::DOUBLE * 100.0 + 0.5) / 100.0 "
            f"FROM (VALUES {vals}) t(k, price)"
        ).fetchall()
    )
    # repr-identical == bit-identical doubles
    assert {k: repr(v) for k, v in got.items()} == {k: repr(v) for k, v in want.items()}


def test_decimal_sum_form_matches_duckdb(spark, duck):
    # many 4-decimal volumes whose sum ends at an exact half-cent
    # (…xx50) — a raw double sum + round(,2) is the divergence shape
    rows = [(i % 7, i * 0.9995 + 0.0005) for i in range(1, 400)]
    sdf = (
        spark.createDataFrame(rows, "g int, v double")
        .groupBy("g")
        .agg(F.round(F.sum(F.col("v").cast("decimal(18,4)")), 2).cast("double").alias("s"))
    )
    got = {r["g"]: repr(r["s"]) for r in sdf.collect()}
    vals = ", ".join(f"({g}, {v!r})" for g, v in rows)
    want = {
        g: repr(s)
        for g, s in duck.execute(
            f"SELECT g, cast(round(sum(cast(v AS DECIMAL(18,4))), 2) AS DOUBLE) "
            f"FROM (VALUES {vals}) t(g, v) GROUP BY g"
        ).fetchall()
    }
    assert got == want


def test_decimal_cast_lands_on_grid_never_ties(spark, duck):
    # the idiom's premise: a double holding a <=4-true-decimal money
    # value casts to DECIMAL(18,4) identically in both engines (ON the
    # grid, never at a cast tie)
    vals = [round(x * 0.0001, 4) for x in range(99990, 100011)] + [19.95 * 1.1]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.col("v").cast("decimal(18,4)").cast("string").alias("d")
    )
    got = sorted(r["d"] for r in sdf.collect())
    lits = ", ".join(f"({v!r})" for v in vals)
    want = sorted(
        str(r[0])
        for r in duck.execute(
            f"SELECT cast(v AS DECIMAL(18,4)) FROM (VALUES {lits}) t(v)"
        ).fetchall()
    )
    assert got == want


def test_negative_scale_round_matches_duckdb(spark, duck):
    vals = [3843293037650976.0, 3843293037650971.0, 1500000.0, 2499999.9]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.round("v", -6).alias("r")
    )
    got = sorted(repr(r["r"]) for r in sdf.collect())
    # v must be ::DOUBLE — a bare VALUES literal parses as DECIMAL in
    # DuckDB and round() then returns DECIMAL (the oracle-type trap in
    # the verify skill); real oracle inputs are computed doubles
    lits = ", ".join(f"({v!r}::DOUBLE)" for v in vals)
    want = sorted(
        repr(r[0])
        for r in duck.execute(f"SELECT round(v, -6) FROM (VALUES {lits}) t(v)").fetchall()
    )
    assert got == want
    # and the idiom's purpose: 5-ulp noise at 4e15 rounds to the SAME value
    assert len({repr(r["r"]) for r in sdf.limit(2).collect()}) == 1

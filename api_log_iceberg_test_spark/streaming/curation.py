"""Streaming corpus curation: the LLM-data quality gate as a continuous
pipeline.

Documents arriving on a stream are scored with the SAME pure-expression
text metrics as the batch operator (:func:`operators.text.analyze` family)
and split into accept/reject flows. Because every metric is a stateless
codegen projection, the streaming form needs no watermark, no state store,
and no shuffle — per-micro-batch throughput is scan-bound, identical to the
batch plan, and the batch/streaming parity test is exact equality.

At 100 TB/day this is the shape you want: quality filtering happens ON
INGEST (one pass, before storage costs accrue), with rejected docs routed
to a quarantine sink for audit instead of silently dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ensure_event_time

from ..operators import text


def quality_columns() -> list[Column]:
    """The curation feature set as reusable column expressions."""
    return [
        text.token_count("text").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        text.langid("text").alias("lang_pred"),
    ]


def scored_stream(stream: DataFrame) -> DataFrame:
    """Document stream + quality features (stateless projection)."""
    return stream.select("*", *quality_columns())


def quality_gate(
    stream: DataFrame,
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Split a document stream into (accepted, rejected) flows.

    Both returned DataFrames are streaming and independently sinkable (the
    scored projection is computed per branch; Spark reuses the scan within
    each micro-batch plan). Rejected rows keep their scores so the
    quarantine sink records WHY each doc failed.
    """
    scored = scored_stream(stream)
    accept = (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    # NULL text ⇒ NULL predicate: where(p) and where(~p) would BOTH drop the
    # row (three-valued logic) — exactly the silent loss the quarantine
    # split exists to prevent. Coalesce so null-scored docs are quarantined.
    accept = F.coalesce(accept, F.lit(False))
    return scored.where(accept), scored.where(~accept)


def trending_terms(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-1-hour-``ts``-window term counts over a document stream — the
    corpus-drift / trending-vocabulary monitor.

    Emits ``(window_start, window_end, term, cnt)`` in append mode once the
    watermark passes a window. Ranking inside the stream would need a
    non-time window function (unsupported on streaming frames); rank the
    materialized output with :func:`top_k_terms` instead — the sink table
    is tiny (|windows| × |vocab|), so the split costs nothing.

    Scale: explode fans each doc into its tokens BEFORE the shuffle, but
    the shuffled rows are (window, term) pairs pre-combined map-side by the
    partial aggregation — state is O(|windows in flight| × |vocab|),
    bounded by the watermark.
    """
    from ..operators.text import norm_text

    toks = ensure_event_time(stream, "ts").withWatermark("ts", watermark).select(
        F.col("ts"),
        F.explode(F.split(norm_text("text"), " ")).alias("term"),
    )
    return (
        toks.where(F.col("term") != "")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "term",
            "cnt",
        )
    )


def top_k_terms(counts: DataFrame, k: int = 10) -> DataFrame:
    """Top-k terms per window over a materialized trending_terms output
    (batch frame). Deterministic: ties break toward the lexicographically
    smaller term."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("window_start", "rank")
    )

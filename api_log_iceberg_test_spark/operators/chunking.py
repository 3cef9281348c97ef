"""Document chunking and sequence packing for LLM training pipelines.

Two pre-training data-prep primitives the reference's relational surface
has no analog for (extension surface, like dedup/similarity):

- :func:`chunk_documents` — split each document's token stream into
  consecutive fixed-token-budget chunks (context-window preparation).
- :func:`pack_sequences` — greedy contiguous packing of documents into
  fixed-token-budget training bins, parallelized over hash buckets so no
  global ordering is ever materialized.

Both are pure DataFrame ops with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import norm_text, token_count


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into consecutive chunks of ``max_tokens``
    whitespace tokens (last chunk may be short).

    Returns ``(doc_id, chunk_idx, chunk_text, n_chunk_tokens)`` — one row
    per chunk, ``chunk_idx`` 0-based within the document.

    Scale: narrow per-row explode (a doc yields ceil(n/max) rows — bounded
    fan-out, no shuffle at all); the slice/concat runs on the token array
    already produced by the scan-side projection. Chunk rows inherit the
    scan's partitioning, so a downstream ``maxRecordsPerFile`` shard write
    needs no exchange either.
    """
    # blank/whitespace-only docs produce ZERO chunks (split('') would
    # otherwise yield a phantom 1-token empty chunk)
    nrm_df = df.select(F.col("doc_id"), norm_text(text_col).alias("_norm")).where(
        F.length("_norm") > 0
    )
    toks = F.split(F.col("_norm"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(max_tokens)).cast("int")
    ex = nrm_df.select(
        F.col("doc_id"),
        toks.alias("_toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_i"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_i") * max_tokens + 1, max_tokens)
    return ex.select(
        F.col("doc_id"),
        F.col("chunk_idx"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def pack_sequences(df: DataFrame, budget: int = 512, num_buckets: int = 8) -> DataFrame:
    """Greedy contiguous packing of documents into fixed-token training
    bins: within each of ``num_buckets`` hash buckets, documents are laid
    end-to-end in ``doc_id`` order and a document belongs to the bin its
    START offset falls in (``bin_id = start_offset div budget``) — the
    deterministic streaming approximation of bin packing (docs may straddle
    a boundary; exact first-fit is inherently sequential).

    Returns ``(bucket, doc_id, n_tokens, bin_id, cum_tokens)``.

    Scale: the running sum is windowed PER BUCKET, so parallelism =
    ``num_buckets`` (set it to O(cluster cores) at scale) and no global
    sort/single-partition window ever exists. One shuffle on the bucket
    key; skew-free because bucket = id mod N over unique ids.
    """
    base = df.select(
        F.col("doc_id"),
        (F.col("doc_id") % num_buckets).alias("bucket"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "bucket",
        F.col("doc_id"),
        "n_tokens",
        # integer DIV keeps the bin arithmetic exact (no double rounding)
        F.expr(f"(cum_tokens - n_tokens) DIV {budget}").alias("bin_id"),
        "cum_tokens",
    )


def pack_batches(df: DataFrame, budget: int = 512, num_buckets: int = 8) -> DataFrame:
    """Concat-and-chunk packing v2: emit the BATCHES, not just offsets.

    :func:`pack_sequences` assigns each document to the bin its start
    offset falls in; this operator completes the pipeline the way LLM
    pre-training actually packs data ("concat then chunk"): per hash
    bucket, documents are laid end-to-end in ``doc_id`` order and the
    token stream is cut into exact ``budget``-token batches — a document
    straddling a boundary contributes a SEGMENT to each bin it overlaps.
    One output row per (bucket, bin) describes the emitted batch:

    ``(bucket, bin_id, n_docs, n_tokens_bin, n_full_docs, n_partial_docs,
    first_doc, last_doc)``

    where ``n_tokens_bin == budget`` for every bin except each bucket's
    tail bin — the invariant that makes the batches directly trainable.

    Scale: same shape as :func:`pack_sequences` — the running-offset
    window is per bucket (parallelism = ``num_buckets``, set to O(cores)
    at scale; no global sort exists), then a bounded explode of each doc
    over the ceil(n/budget)+1 bins it can overlap, then one agg on
    (bucket, bin_id). Empty docs are dropped up front (they contribute no
    tokens to any batch; dropping them before the window leaves every
    offset unchanged). The whole plan is codegen expressions — no UDFs.
    """
    base = df.select(
        F.col("doc_id"),
        (F.col("doc_id") % num_buckets).alias("bucket"),
        token_count("text").cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = base.withColumn("end_off", F.sum("n_tokens").over(w)).select(
        "bucket",
        F.col("doc_id"),
        "n_tokens",
        (F.col("end_off") - F.col("n_tokens")).alias("start_off"),
        "end_off",
    )
    b = F.lit(budget)
    seg = spans.select(
        "bucket",
        F.col("doc_id"),
        "start_off",
        "end_off",
        F.explode(
            F.sequence(
                F.expr(f"start_off DIV {budget}"),
                F.expr(f"(end_off - 1) DIV {budget}"),
            )
        ).alias("bin_id"),
    )
    seg_tokens = F.least(F.col("end_off"), (F.col("bin_id") + 1) * b) - F.greatest(
        F.col("start_off"), F.col("bin_id") * b
    )
    is_full = (F.col("start_off") >= F.col("bin_id") * b) & (
        F.col("end_off") <= (F.col("bin_id") + 1) * b
    )
    return (
        seg.select(
            "bucket",
            "bin_id",
            F.col("doc_id"),
            seg_tokens.alias("seg_tokens"),
            is_full.cast("int").alias("is_full"),
        )
        .groupBy("bucket", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("seg_tokens").alias("n_tokens_bin"),
            F.sum("is_full").alias("n_full_docs"),
            (F.count(F.lit(1)) - F.sum("is_full")).alias("n_partial_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )

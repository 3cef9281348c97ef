"""TF-IDF keyword extraction over the documents corpus.

Classic three-stage distributed shape, all compact-key shuffles:

1. term frequencies: explode tokens → count per (doc, term);
2. document frequencies: count distinct docs per term (broadcastable —
   vocabulary ≪ corpus at any scale);
3. score tf·idf with smooth idf = ln((N+1)/(df+1)) + 1, keep top-k terms
   per doc via row_number.

The explode multiplies rows by tokens/doc, but rows are (id, term) pairs —
bytes stay small; at 100 TB the groupBy gets map-side partial aggregation
so the shuffle carries one row per distinct (doc, term) per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import fan_out
from .text import token_count, tokens


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document of a (doc_id, text) frame.

    Output: (doc_id, term, tf, score, rank); deterministic tiebreak on term.

    r15: the corpus size N rides the PLAN as a broadcast
    1-row aggregate instead of a driver-side ``df.count()`` — one Spark
    job instead of two, no action at construction time, and the count
    branch overlaps the tokenize branch instead of serializing before it
    (guide §2.6). The score arithmetic is bit-identical: ``log((N+1)/
    (df+1)) + 1`` over the same doubles.
    """
    # parallel tokenize pass on narrow scans; no-op on wide ones (r15)
    docs = fan_out(df.select("doc_id", "text"))
    terms = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf already holds one row per distinct (doc, term): document frequency
    # is a plain count over it — the previous countDistinct over a SECOND
    # tokenize/explode of the corpus doubled the dominant scan cost
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    scored = tf.join(F.broadcast(dfreq), "term").join(F.broadcast(nd))
    scored = scored.withColumn(
        "score",
        F.round(
            F.col("tf")
            * (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def vocabulary(df: DataFrame, top_k: int = 50) -> DataFrame:
    """Corpus vocabulary of a (doc_id, text) frame: top-k terms by total
    count, with document frequency — the tokenizer-training /
    vocab-building pass of an LLM data pipeline.

    Plan: explode → one groupBy(term) computing count + approx-exact df
    (count_distinct) — map-side partial agg makes the shuffle carry one row
    per distinct term per partition, and the result is vocabulary-sized
    (≪ corpus) at any scale. Deterministic tiebreak on the term string.
    """
    terms = fan_out(df.select("doc_id", "text")).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("total_cnt"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("total_cnt"), F.asc("term"))
        .limit(top_k)
    )


#: BM25's term-saturation and length-normalization constants (Lucene's
#: defaults), shared with the DuckDB oracle of q_bm25_topk.
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 20) -> DataFrame:
    """Okapi BM25 retrieval: top-k (doc_id, text) documents for a bag of
    query terms, k1 = ``_BM25_K1`` and b = ``_BM25_B``.

    The scoring function behind Lucene/Elasticsearch defaults and the
    lexical half of every hybrid (BM25 + dense) retrieval stack:

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Plan shape (the part that matters at 100 TB):

    * the query-term filter lands BEFORE the (doc, term) aggregation, so
      the explode stream collapses to rows matching |query| terms —
      selectivity |query|/|vocab| — before anything shuffles;
    * dl (doc length) is a codegen regex count (``token_count``), not a
      second explode; avgdl and N reduce to ONE broadcast row
      (the equi-height-histogram bounds pattern);
    * per-term document frequencies are |query|-row tiny → broadcast;
    * final ranking is a TakeOrderedAndProject top-k, no global sort.

    Ties break on doc_id; score is rounded to 6dp for cross-engine hash
    stability.
    """
    k1, b = _BM25_K1, _BM25_B
    qlits = [t for t in query_terms if t]
    # parallel tokenize pass on narrow scans; no-op on wide ones (r15)
    docs = fan_out(df.select("doc_id", "text")).select(
        "doc_id",
        F.col("text").alias("_text"),
        token_count("text").cast("double").alias("dl"),
    )
    stats = docs.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    terms = docs.select(
        "doc_id", "dl", F.explode(tokens("_text")).alias("term")
    ).filter(F.col("term").isin(qlits))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * norm)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("_s"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

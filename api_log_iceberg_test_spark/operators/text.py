"""Text analysis operators: token counting, quality scoring, language ID,
fingerprinting.

All pure Column expressions (regexp + higher-order functions) so they run
inside whole-stage codegen at 100 TB — a corpus-wide quality pass is one
narrow projection over the scan, no shuffle at all. Each has an exact DuckDB
oracle because the same algorithm is expressible in both SQL dialects.

NOTE on casing: ENGINE-side code uses plain ``F.lower()`` everywhere. The
Java-equivalent ``jlower`` machinery in :mod:`.casing` is an ORACLE-side
equivalence shim only — it rewrites the DuckDB SQL's ``lower()`` (utf8proc
SIMPLE case mapping) to reproduce the JVM's FULL Unicode mapping that
``F.lower()`` already applies. Spark code never needs it; the asymmetry is
deliberate (the engine defines the semantics, the oracle imitates them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import fan_out

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and explicit so the oracle SQL can inline
#: the identical lists.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}

#: Stopwords for quality scoring (English-ish filler terms).
QUALITY_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is"]


def _strip_ends(col: Column | str) -> Column:
    r"""Lowercased text with ALL leading/trailing whitespace removed (Java
    \s class). ``F.trim`` strips spaces ONLY — a trailing tab/newline/CR
    would survive it and split() would then emit a phantom empty token
    (the norm_text docstring's gotcha; a review pass found tokens()/
    token_count/fingerprint still using F.trim and diverging from the
    norm_text-based metrics on such inputs).

    ``\z`` (absolute end), NOT ``$``: Java regex ``$`` without MULTILINE
    matches *before a final line terminator*, and Java's line terminators
    include U+0085/U+2028/U+2029 which ``\s`` does NOT match — so ``\s+$``
    on ``'0 \x85'`` would strip the INTERIOR space and glue the two tokens
    into one, diverging from the DuckDB oracle's RE2 semantics (RE2 ``$``
    = absolute end)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), r"^\s+|\s+\z", "")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of fully-stripped, lowercased text."""
    return F.split(_strip_ends(col), r"\s+")


def norm_text(col: Column | str) -> Column:
    """Fully-stripped, lowercased, single-spaced text — the token stream as
    ONE string. Token-level metrics run as codegen'd regex/length ops over
    this instead of interpreted (CodegenFallback) higher-order array
    functions."""
    return F.regexp_replace(_strip_ends(col), r"\s+", " ")


def _word_count_pattern(words: list[str]) -> str:
    r"""Regex counting occurrences of whole whitespace-tokens from ``words``.

    Leading ``(?:^| )`` anchors to a token start; the ``(?= |\z)`` lookahead
    enforces token end WITHOUT consuming the next token's separator, so
    consecutive stopwords all count; alternation backtracks until the full
    token matches (e.g. 'and' is not half-matched by 'a'). Words are
    regex-escaped — a caller-supplied list like ['c++'] must count
    literally, not blow up the pattern. ``\z`` not ``$``: Java ``$``
    matches before a final U+0085/U+2028/U+2029 line terminator, which
    would let the lookahead accept a token PREFIX on such text (see
    _strip_ends)."""
    import re

    return r"(?:^| )(?:" + "|".join(re.escape(w) for w in words) + r")(?= |\z)"


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(_strip_ends(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation
    boundaries (a cheap BPE-like proxy for LLM token budgeting).

    regexp: word chars runs + single non-word non-space chars each count.
    """
    c = F.col(col) if isinstance(col, str) else col
    spaced = F.regexp_replace(c, r"([^\w\s])", r" $1 ")
    stripped = F.regexp_replace(spaced, r"^\s+|\s+\z", "")
    return F.when(F.length(stripped) == 0, F.lit(0)).otherwise(
        F.size(F.split(stripped, r"\s+"))
    )


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are stopwords (regex token count
    over the normalized string — no interpreted array filter)."""
    nrm = norm_text(col)
    n = F.size(F.split(nrm, " "))
    hits = F.regexp_count(nrm, F.lit(_word_count_pattern(stopwords or QUALITY_STOPWORDS)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are common punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[.,!?;:'\"()\-]", "")
    n = F.length(c)
    return F.when(n > 0, (n - F.length(stripped)).cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def digit_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[0-9]", "")
    n = F.length(c)
    return F.when(n > 0, (n - F.length(stripped)).cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def mean_token_length(col: Column | str) -> Column:
    """Mean token length via pure string arithmetic: on single-spaced text,
    sum(len(token)) == len(text) - (n_tokens - 1) — no per-token loop."""
    nrm = norm_text(col)
    n = F.size(F.split(nrm, " "))
    total = F.length(nrm) - (n - F.lit(1))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite document quality in [0,1]: rewards moderate length and
    word shape, penalizes punctuation/digit noise.

    score = 0.25·len_ok + 0.25·wordlen_ok + 0.25·(1-punct) + 0.25·(1-digit)
    with len_ok = min(n_tokens/20, 1), wordlen_ok = 1 if mean token length
    in [3,10] else 0. Fully deterministic arithmetic → exact oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c).cast("double")
    len_ok = F.least(n / F.lit(20.0), F.lit(1.0))
    mtl = mean_token_length(c)
    wordlen_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        0.25 * len_ok + 0.25 * wordlen_ok + 0.25 * (1.0 - punct_ratio(c)) + 0.25 * (1.0 - digit_ratio(c)),
        6,
    )


def langid(col: Column | str) -> Column:
    """Stopword-vote language ID over :data:`LANG_STOPWORDS`.

    Counts token hits per language; highest count wins, ties broken by
    language-code order; 'und' (undetermined) when no list scores > 0.
    """
    nrm = norm_text(col)
    scores = []
    for code, words in sorted(LANG_STOPWORDS.items()):
        scores.append(
            (code, F.regexp_count(nrm, F.lit(_word_count_pattern(words))))
        )
    best = F.lit("und")
    best_score = F.lit(0)
    # forward sorted order + strict > : a later code only replaces an earlier
    # one when strictly higher, so the alphabetically-first code wins ties
    # (matches the oracle's de>en>es>fr CASE priority)
    for code, score in scores:
        is_better = score > best_score
        best = F.when(is_better, F.lit(code)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


#: PII patterns scrubbed from training text, applied in order. URL before
#: email (URLs may embed '@'); SSN before phone (a phone regex would
#: half-match an SSN's 3-2-4 groups otherwise). RE2-compatible (no
#: backreferences/lookbehind) so the DuckDB oracle uses the SAME patterns.
#: Shared VERBATIM with the DuckDB oracle, so every class must mean the
#: same set in Java regex and RE2: \d and the literal classes do; \s does
#: NOT (RE2 \s excludes \x0b vertical tab), so the URL terminator class is
#: spelled explicitly (Java-\s members).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^ \t\n\x0b\f\r]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def pii_counts(col: Column | str) -> list[Column]:
    """One count column per PII category (computed BEFORE scrubbing)."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}") for name, pat, _ in PII_PATTERNS
    ]


def scrub_pii(col: Column | str) -> Column:
    """Replace each PII category with its placeholder token, in
    :data:`PII_PATTERNS` order. Pure codegen regexp_replace chain — a
    corpus-wide scrub is a narrow projection over the scan, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set. Detects bag-of-words-identical docs (shuffled word order)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def analyze(df: DataFrame) -> DataFrame:
    """Full text-analysis projection: one narrow pass, all metrics.

    The normalized string is materialized once as a column — metric
    expressions reference it instead of re-normalizing (Catalyst keeps a
    non-cheap producer column shared when referenced many times).
    """
    c = F.col("text")
    # one normalized-string column; every token metric is a codegen'd
    # regex/length op over it (no interpreted array HOFs in this pass)
    with_toks = df.withColumn("_norm", norm_text(c))
    nrm = F.col("_norm")
    n = F.size(F.split(nrm, " "))
    total_len = F.length(nrm) - (n - F.lit(1))
    mtl = F.when(n > 0, total_len.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    swr = F.when(
        n > 0,
        F.regexp_count(nrm, F.lit(_word_count_pattern(QUALITY_STOPWORDS))).cast("double")
        / n.cast("double"),
    ).otherwise(F.lit(0.0))
    n_tok = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(n)
    lang_scores = []
    for code, words in sorted(LANG_STOPWORDS.items()):
        lang_scores.append((code, F.regexp_count(nrm, F.lit(_word_count_pattern(words)))))
    best = F.lit("und")
    best_score = F.lit(0)
    # forward order + strict > : alphabetically-first code wins ties (see langid)
    for code, score in lang_scores:
        is_better = score > best_score
        best = F.when(is_better, F.lit(code)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    pr = punct_ratio(c)
    dr = digit_ratio(c)
    len_ok = F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0))
    wordlen_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return with_toks.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_subword_tokens"),
        F.round(mtl, 6).alias("mean_token_len"),
        F.round(swr, 6).alias("stopword_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(dr, 6).alias("digit_ratio"),
        F.round(
            0.25 * len_ok + 0.25 * wordlen_ok + 0.25 * (1.0 - pr) + 0.25 * (1.0 - dr), 6
        ).alias("quality"),
        best.alias("lang_pred"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(nrm, " "))))
        ).alias("fingerprint"),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document.

    Columns: ``n_tokens``, ``top_unigram_frac`` (count of the most frequent
    token / total tokens), ``dup_token_frac`` (fraction of tokens that are
    repeats of an earlier token), ``dup_bigram_frac`` (fraction of
    overlapping word bigrams that are repeats). High values flag
    boilerplate/spam documents that exact- and near-dup passes miss because
    the repetition is *within* the document (Rae et al., Gopher §A.1.1 —
    public heuristic, independently expressed).

    Scale: the distinct/total token and bigram counts are a narrow codegen
    projection over the scan (regex lookahead extraction, no interpreted
    HOFs). Only the top-unigram mode needs an explode → two-level
    aggregation (both with map-side partial agg) and a doc_id join of
    5 small int columns — no text ever shuffles.
    """
    nrm_df = df.select(F.col("doc_id"), norm_text("text").alias("_norm"))
    toks = F.split(F.col("_norm"), " ")
    n = F.when(F.length("_norm") == 0, F.lit(0)).otherwise(F.size(toks))
    # ALL overlapping bigrams (not distinct) via the word-anchored lookahead
    bigrams = F.regexp_extract_all(F.col("_norm"), F.lit(r"(?:^| )(?=(\S+ \S+))"), 1)
    base = nrm_df.select(
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("_n_distinct"),
        F.size(bigrams).alias("_n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("_n_distinct_bigrams"),
    )
    tf = (
        nrm_df.where(F.length("_norm") > 0)
        .select(F.col("doc_id"), F.explode(toks).alias("_term"))
        .groupBy("doc_id", "_term")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .groupBy("doc_id")
        .agg(F.max("_cnt").alias("_top_cnt"))
    )
    nt = F.col("n_tokens")
    nb = F.col("_n_bigrams")
    return base.join(tf, "doc_id", "left").select(
        F.col("doc_id"),
        nt,
        F.when(
            nt > 0, F.round(F.col("_top_cnt").cast("double") / nt.cast("double"), 6)
        ).otherwise(F.lit(0.0)).alias("top_unigram_frac"),
        F.when(
            nt > 0,
            F.round((nt - F.col("_n_distinct")).cast("double") / nt.cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("dup_token_frac"),
        F.when(
            nb > 0,
            F.round(
                (nb - F.col("_n_distinct_bigrams")).cast("double") / nb.cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
    )


def unigram_lm_scores(df: DataFrame) -> DataFrame:
    """Per-document unigram language-model score (CCNet-style LM filter).

    Corpus curation pipelines score documents by how "typical" their token
    stream is under a language model and drop the tails (CCNet uses a
    KenLM 5-gram; the unigram variant is its shuffle-friendly proxy). The
    model here IS the corpus: p(t) = count(t) / N over all documents, and a
    document's score is the mean log-probability of its tokens, with
    ``ppl_proxy = exp(-avg_logprob)`` as the human-readable knob (higher =
    rarer vocabulary; both tails are suspect — boilerplate at the low end,
    gibberish at the high end).

    Returns ``(doc_id, n_tokens, avg_logprob, ppl_proxy)`` for every doc
    with ≥1 token.

    Scale: one shuffle of (id, term) builds the vocabulary; the join back
    runs on the same term key so Catalyst reuses the exchange; the grand
    total attaches as a 1-row broadcast cross join (never a shuffle); the
    final per-doc mean shuffles (id, logp) pairs. Vocabulary never needs to
    broadcast, so an open-vocab 100 TB corpus (billions of distinct terms)
    changes nothing structurally.
    """
    # r15 note: a fan_out before this tokenize was MEASURED as a wash-to-
    # regression (0.67→0.71 s interleaved) — the plain split is too cheap
    # to pay a round-robin exchange for at bench scale; left serial.
    tok = df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    logp = F.log(F.col("cnt") / F.col("n_total"))
    avg = F.avg(logp)
    return (
        tok.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(avg, 4).alias("avg_logprob"),
            F.round(F.exp(-avg), 2).alias("ppl_proxy"),
        )
    )


def bpe_pair_counts(df: DataFrame, top_k: int = 50) -> DataFrame:
    """Adjacent-symbol pair frequencies — the first BPE merge iteration.

    Tokenizer training (Sennrich-style BPE) repeatedly merges the most
    frequent adjacent symbol pair; this operator computes the statistics
    that drive that choice at corpus scale: every in-word character bigram
    plus the terminal ``(last_char, </w>)`` pair, weighted by word
    frequency. Returns the ``top_k`` pairs as ``(left, right, pair_cnt)``.

    Scale: the token stream collapses to the *vocabulary* first (one
    shuffle of (word) with map-side partial counts — the classic BPE trick:
    pair counting is per distinct word × frequency, never per token), so
    the char-level posexplode fans out over |vocab| rows, not |corpus|
    tokens. All pair extraction is codegen substring arithmetic — no HOFs,
    no Python.
    """
    # r15 note: fan_out here measured 0.40→0.53 s (regression) — see
    # unigram_lm_scores; the split-only pass stays serial on narrow scans.
    tok = df.select(F.explode(tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = tok.groupBy("word").agg(F.count(F.lit(1)).alias("word_cnt"))
    n = F.length("word")
    ex = vocab.select(
        "word",
        "word_cnt",
        n.alias("n"),
        F.posexplode(F.sequence(F.lit(1), n)).alias("_p", "i"),
    )
    pairs = ex.select(
        F.expr("substring(word, i, 1)").alias("left"),
        F.when(F.col("i") < F.col("n"), F.expr("substring(word, i + 1, 1)"))
        .otherwise(F.lit("</w>"))
        .alias("right"),
        "word_cnt",
    )
    return (
        pairs.groupBy("left", "right")
        .agg(F.sum("word_cnt").alias("pair_cnt"))
        .orderBy(F.desc("pair_cnt"), "left", "right")
        .limit(top_k)
    )

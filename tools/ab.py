"""Interleaved whole-query A/B: a git revision's package vs the working tree.

Usage: python tools/ab.py <sf_dir> <rounds> q1,q2,... [rev]

With ``rev``, ``git archive`` extracts that revision's package into a temp
dir under the name ``ab_old``, its query catalog (``ab_old.queries``) is
loaded next to the working tree's, and the temp dir goes on PYTHONPATH so
the Python workers of ``mapInPandas`` / UDF queries import the old copy
too. Both arms then run in ONE session, old,new,old,new…, so host load
stripes hit both equally. Without ``rev`` only the working tree is timed.

Each query first runs once per arm (the cold pass: plan analysis and
codegen; printed, kept out of the median), then ``rounds`` steady passes
per arm; every pass executes the whole query into a noop sink, as
bench.py does. Printed: one line per query with each arm's cold time,
samples and median (and the new/old median ratio), and bench.py's
calibration probe at the start and the end.

``rev`` must contain the catalog module (``queries.QUERIES``). For a "before"
plan dump, run tools/explain_dump.py in a ``git worktree`` of that revision.
"""

from __future__ import annotations

import importlib
import io
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "api_log_iceberg_test_spark"
ALIAS = "ab_old"

sys.path.insert(0, ROOT)


def archive(rev: str, dest: str) -> None:
    """Extract ``rev``'s package into ``dest``/ALIAS. The package imports
    itself only relatively, so the renamed copy never reaches the working
    tree."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", rev, PACKAGE], check=True, capture_output=True
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    os.rename(os.path.join(dest, PACKAGE), os.path.join(dest, ALIAS))


def add_path(path: str) -> None:
    """Make packages under ``path`` importable here and, for a session
    built afterwards, in its Python workers (they inherit PYTHONPATH)."""
    sys.path.insert(0, path)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (path, ROOT, os.environ.get("PYTHONPATH")) if p
    )


def load_catalog(package: str) -> dict:
    """name → builder(spark, sf_dir) from ``package``'s query catalog."""
    return importlib.import_module(f"{package}.queries").QUERIES


def main() -> None:
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    sf_dir, rounds = sys.argv[1], int(sys.argv[2])
    names = [n for n in sys.argv[3].split(",") if n]
    rev = sys.argv[4] if len(sys.argv) == 5 else None
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        add_path(tmp)
        arms = {}
        if rev:
            archive(rev, tmp)
            arms["old"] = load_catalog(ALIAS)
        arms["new"] = load_catalog(PACKAGE)
        run_ab(sf_dir, rounds, names, arms)


def run_ab(sf_dir: str, rounds: int, names: list[str], arms: dict) -> None:
    from api_log_iceberg_test_spark.session import build_session

    spark = build_session(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py's warm-up: JVM, codegen, Python/Arrow workers
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    def probe() -> float:
        t0 = time.time()
        spark.range(256_000_000, numPartitions=32).selectExpr(
            "sum(pmod(xxhash64(id), 1000003))"
        ).collect()
        return round(time.time() - t0, 3)

    def run(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    print(f"probe_start {probe()}", flush=True)
    for name in names:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        cold = {arm: run(qs[name]) for arm, qs in arms.items()}
        samples: dict[str, list[float]] = {arm: [] for arm in arms}
        for _ in range(rounds):
            for arm, qs in arms.items():
                samples[arm].append(run(qs[name]))
        med = {arm: statistics.median(s) for arm, s in samples.items()}
        line = " | ".join(
            f"{arm} cold={cold[arm]:.3f} samples={samples[arm]} med={med[arm]:.3f}"
            for arm in arms
        )
        if "old" in arms:
            line += f" | ratio={med['new'] / med['old']:.3f}"
        print(f"{name}: {line}", flush=True)
    print(f"probe_end {probe()}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

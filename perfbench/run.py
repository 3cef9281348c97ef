"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

Workloads (see README.md; BENCHMARK.json lists the ones compared between
commits): ``log_analytics`` and ``curation`` run registered queries over
the sf0.01 tables in ``data/``, rows ordered by the seed;
``lakehouse_ingest`` drives generator → staged flush → commit → reads →
compaction. Spark runs at ``local[N]``, N = ``$SPARK_GRAFT_CPUS`` or the
CPU count. The run builds its inputs from ``--seed``, runs a cold pass,
an untimed pass that checks every answer against DuckDB, and then one
steady pass per 2.5 s of ``--seconds`` (at least two); ``lakehouse_ingest``
checks its row counts and reads between its timed steps. It prints a
report and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. All files it
writes stay under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("log_analytics", "curation", "lakehouse_ingest")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def spec() -> dict:
    """BENCHMARK.json: the metric names, units and bounds a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest whole percentile with at least 10
    samples beyond it, or None when there are 10 samples or fewer."""
    if len(samples) <= 10:
        return None
    pct = int(100 * (1 - 10 / len(samples))) / 100
    return pct, sorted(samples)[int(pct * len(samples)) - 1]


def end_to_end(samples: dict[str, list[float]]) -> dict:
    """Cold, steady and per-operation latency metrics from timed samples.

    The first sample of each operation is its cold execution; the rest
    are steady."""
    steady = [t for s in samples.values() for t in s[1:]]
    return {
        "cold_total_s": sum(s[0] for s in samples.values()),
        "steady_total_s": sum(statistics.median(s[1:]) for s in samples.values() if len(s) > 1),
        "query_p50_s": statistics.median(steady),
        "query_tail": tail(steady),
        "steady_n": len(steady),
    }


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _session(work: str, cores: int, traced: bool):
    from api_log_iceberg_test_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:  # keep every job and stage of the run in the REST status store
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(args: argparse.Namespace, work: str) -> dict:
    import spans
    import workloads as wl

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    cpu0 = _cpu_times()
    tracer = spans.Tracer(bool(args.trace))
    ingest = args.workload == "lakehouse_ingest"

    def build():
        spark = _session(work, cores, bool(args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    t0 = time.perf_counter()
    try:
        spark, setups = wl.set_up(build, tracer, work, args.seed, ingest)
        run = wl.Run(spark, tracer, work, args.seed, args.seconds)
        run.meta.update(
            workload=args.workload, seed=args.seed, trace=args.trace, cpus=cores,
            master=spark.sparkContext.master, setups_s=setups,
        )
        if ingest:
            wl.run_ingest(run)
        else:
            names = wl.LOG_ANALYTICS if args.workload == "log_analytics" else wl.CURATION
            wl.setup_queries(run)
            wl.run_queries(run, names)
        heap = tracer.peak_heap_mb()
        tracer.collect()
        if args.trace and ingest:
            run.check("trace.flush_jobs", lambda: [
                f"{s['exec_id']}: ingest.flush span has no Spark jobs"
                for s in tracer.spans if s["name"] == "ingest.flush" and not s.get("jobs")
            ])
    finally:
        _stop()
    run.meta["wall_s"] = time.perf_counter() - t0

    e2e = end_to_end(run.samples)
    report = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_total_s": (e2e["cold_total_s"], "s"),
        "steady_total_s": (e2e["steady_total_s"], "s"),
        "query_p50_s": (e2e["query_p50_s"], "s"),
        "peak_heap_mb": (heap, "MB"),
    }
    if e2e["query_tail"]:
        pct, value = e2e["query_tail"]
        report[f"query_tail_s(p{pct * 100:.0f},n={e2e['steady_n']})"] = (value, "s")
    report.update(run.extra)
    report["failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
    cpu1 = _cpu_times()
    if len(cpu0) > 7 and len(cpu1) == len(cpu0):
        # share of CPU time the hypervisor gave to other guests during the run
        run.meta["steal_frac"] = (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1)
    # the host slowed down during the run by more than a compared metric may
    ratio = run.meta["calib_end_s"] / run.meta["calib_start_s"]
    bound = min(m["bound"] for m in spec()["end_to_end"] if m["name"] != "setup_s")
    run.meta.update(calib_ratio=ratio, contended=ratio > 1 + bound)
    layers = {}
    if args.trace:
        layers = spans.layer_metrics(run.tracer.spans, cores)
        layers["spark.compile_s"] = sum(
            s[0] - statistics.median(s[1:]) for s in run.samples.values() if len(s) > 1
        )
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        run.tracer.write(os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    return {
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "report": report,
        "layers": layers,
        "meta": run.meta,
        "samples": run.samples,
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package by path; temp files, Spark's local
    # dirs and the JVMs' files stay in the run dir (no /tmp/hsperfdata_*)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "results", name), "w") as f:
        json.dump(result, f, indent=1)
    for err in result["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    meta = result["meta"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} master={meta['master']}")
    for key, (value, unit) in result["report"].items():
        print(f"  {key:24s} {value:14.4f} {unit}")
    for key in ("setups_s", "wall_s", "calib_start_s", "calib_end_s", "calib_ratio", "contended",
                "loadavg_start", "loadavg_end", "steal_frac"):
        print(f"  meta.{key:19s} {meta.get(key)}")
    values = result["layers"] if args.trace else {k: v for k, (v, _) in result["report"].items()}
    listed = spec()["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's own tests: metric arithmetic, seeded inputs, flush
spans that carry their streaming jobs, and the known
commit-after-compaction row loss the ingest workload is ordered around.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_tail_keeps_ten_samples_beyond_the_percentile():
    samples = [float(i) for i in range(1, 41)]
    pct, value = run.tail(samples)
    assert pct == 0.75
    assert sum(s > value for s in samples) == 10
    assert run.tail(samples[:10]) is None


def test_end_to_end_splits_cold_from_steady():
    m = run.end_to_end({"a": [5.0, 1.0, 3.0], "b": [2.0, 1.0, 1.0]})
    assert m["cold_total_s"] == 7.0
    assert m["steady_total_s"] == 2.0 + 1.0
    assert m["query_p50_s"] == 1.0
    assert m["steady_n"] == 4


def _read(directory) -> dict:
    import pyarrow.parquet as pq

    return {t: pq.read_table(os.path.join(directory, f"{t}.parquet")) for t in inputs.TABLES}


def _sorted(table):
    return table.sort_by([(c, "ascending") for c in table.column_names if c != "embedding"])


def test_inputs_are_the_seeded_row_order_of_the_committed_tables(tmp_path):
    import pyarrow.parquet as pq

    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        inputs.write_inputs(str(tmp_path / name), seed)
    base, a, b, c = (_read(d) for d in (inputs.DATA, tmp_path / "a", tmp_path / "b", tmp_path / "c"))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    for t in inputs.TABLES:
        committed = pq.ParquetFile(os.path.join(inputs.DATA, f"{t}.parquet")).schema
        assert pq.ParquetFile(tmp_path / "c" / f"{t}.parquet").schema.equals(committed), t
        assert _sorted(c[t]).equals(_sorted(base[t])), t
    assert base["lineitem"].num_rows == 60_000


def test_committed_tables_are_the_repository_testdata():
    import pyarrow.parquet as pq
    from tests.conftest import SF001

    if not os.path.isdir(SF001):
        pytest.skip("the repository's sf0.01 testdata is not on this host")
    for t in inputs.TABLES:
        theirs = os.path.join(SF001, f"{t}.parquet")
        ours = os.path.join(inputs.DATA, f"{t}.parquet")
        assert pq.ParquetFile(ours).schema.equals(pq.ParquetFile(theirs).schema), t
        assert pq.read_table(ours).equals(pq.read_table(theirs)), t


@pytest.fixture(scope="module")
def spark():
    from api_log_iceberg_test_spark.session import build_session

    s = build_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_flush_span_carries_the_streaming_jobs(spark, tmp_path):
    from api_log_iceberg_test_spark.generator import generate_api_logs
    from api_log_iceberg_test_spark.ingest import IngestConfig, start_staged_ingest
    from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA

    src, target = str(tmp_path / "src"), str(tmp_path / "table" / "api")
    generate_api_logs(spark, 200, seed=1, span_days=1, num_partitions=2).write.parquet(src)
    tracer = spans.Tracer(True)
    tracer.bind(spark)
    attrs = {}
    with tracer.span("ingest.flush", "round0", attrs):
        stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(src)
        q = start_staged_ingest(
            stream, target, IngestConfig(flush_count=50, checkpoint_dir=str(tmp_path / "ckpt")),
            available_now=True,
        )
        attrs["stream_run_id"] = str(q.runId)
        q.awaitTermination(120)
    tracer.collect()
    assert tracer.spans[0]["jobs"] > 0
    assert tracer.spans[0]["tasks"] > 0


@pytest.mark.xfail(
    strict=True,
    reason="commit_staged walks the live tree with os.walk without following links, so a "
    "day partition that compact_parquet_table(partition_subdir=...) turned into a symlink "
    "is left out of the next version",
)
def test_commit_after_partition_compaction_keeps_rows(spark, tmp_path):
    from api_log_iceberg_test_spark.generator import generate_api_logs
    from api_log_iceberg_test_spark.ingest import IngestConfig, commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import compact_parquet_table, read_compacted_table
    from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA

    src, target = str(tmp_path / "src"), str(tmp_path / "table" / "api")
    config = IngestConfig(flush_count=50, checkpoint_dir=str(tmp_path / "ckpt"))

    def ingest(batch: int) -> None:
        generate_api_logs(spark, 300, seed=batch, span_days=2, num_partitions=2).write.parquet(
            f"{src}/b{batch}"
        )
        stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(f"{src}/*")
        start_staged_ingest(stream, target, config, available_now=True).awaitTermination(120)
        assert commit_staged(target) == 1

    ingest(0)
    day = sorted(d for d in os.listdir(os.path.realpath(target)) if d.startswith("_day="))[0]
    compact_parquet_table(spark, target, partition_subdir=day)
    assert read_compacted_table(spark, target).count() == 300
    ingest(1)
    assert read_compacted_table(spark, target).count() == 600

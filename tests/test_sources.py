"""JSONL/CSV source round-trips: schema binding, corrupt-record capture,
streaming ingest parity across formats."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from api_log_iceberg_test_spark import sources
from api_log_iceberg_test_spark.generator import generate_api_logs
from api_log_iceberg_test_spark.ingest import IngestConfig, start_ingest
from api_log_iceberg_test_spark.schema import API_LOG_COLUMNS


def _sorted_rows(df):
    return sorted(
        df.select(*API_LOG_COLUMNS).collect(), key=lambda r: r["requestId"]
    )


def test_jsonl_roundtrip(spark, tmp_path):
    logs = generate_api_logs(spark, 300, seed=61)
    src = str(tmp_path / "logs_json")
    logs.coalesce(2).write.json(src, timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    back = sources.read_jsonl_logs(spark, src)
    assert sources.corrupt_records(back).count() == 0
    assert _sorted_rows(sources.valid_records(back)) == _sorted_rows(logs)


def test_csv_roundtrip(spark, tmp_path):
    logs = generate_api_logs(spark, 300, seed=62)
    src = str(tmp_path / "logs_csv")
    # \N null sentinel on BOTH sides: CSV can't otherwise distinguish the
    # generator's empty-string object (ListBuckets) from NULL
    logs.coalesce(2).write.csv(
        src,
        header=True,
        timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS",
        nullValue=r"\N",
    )
    back = sources.read_csv_logs(spark, src)
    assert sources.corrupt_records(back).count() == 0
    assert _sorted_rows(sources.valid_records(back)) == _sorted_rows(logs)


def test_jsonl_corrupt_lines_quarantined(spark, tmp_path):
    """A torn line must neither fail the job nor leak into the load path."""
    logs = generate_api_logs(spark, 50, seed=63)
    src = str(tmp_path / "logs_bad")
    logs.coalesce(1).write.json(src, timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    # a separate shipped file with torn lines (appending to a Spark-written
    # part file would only corrupt its Hadoop .crc sidecar)
    with open(os.path.join(src, "shipped-torn.json"), "w") as f:
        f.write('{"time": "not-a-record", truncated\n')
        f.write("totally not json\n")
    back = sources.read_jsonl_logs(spark, src)
    bad = sources.corrupt_records(back).collect()
    assert len(bad) == 2
    assert sources.valid_records(back).count() == 50


def test_streaming_jsonl_to_ingest(spark, tmp_path):
    """JSONL drop-directory → start_ingest: the whole ingest pipeline is
    source-format-agnostic (same schema contract as the parquet source)."""
    logs = generate_api_logs(spark, 200, seed=64)
    src = str(tmp_path / "drop")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    logs.write.json(src, timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    q = start_ingest(
        sources.stream_jsonl_logs(spark, src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(tgt)
    assert got.count() == 200
    # event-time values survive the format hop (_day is derived from time)
    assert got.filter(F.col("time").isNull()).count() == 0


def test_streaming_quarantine_captures_torn_lines(spark, tmp_path):
    """The streaming path must capture torn lines for quarantine, not
    silently drop them (review finding)."""
    logs = generate_api_logs(spark, 50, seed=77)
    src = tmp_path / "drop"
    src.mkdir()
    sources.read_jsonl_logs  # module import sanity
    logs.coalesce(1).write.json(
        str(src / "good"), timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS"
    )
    part = next((src / "good").glob("part-*.json"))
    (src / "in.jsonl").write_text(part.read_text() + '{"torn": \n')
    import shutil

    shutil.rmtree(src / "good")

    raw = sources.stream_jsonl_raw(spark, str(src))
    out_ok = str(tmp_path / "ok")
    out_bad = str(tmp_path / "bad")
    for df, out, ck in [
        (sources.valid_records(raw), out_ok, "c1"),
        (sources.corrupt_records(raw), out_bad, "c2"),
    ]:
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert spark.read.parquet(out_ok).count() == 50
    bad = spark.read.parquet(out_bad).collect()
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith('{"torn"')


def test_orc_roundtrip(spark, tmp_path):
    df = generate_api_logs(spark, 200, seed=11)
    p = str(tmp_path / "logs_orc")
    sources.write_orc_logs(df, p)
    back = sources.read_orc_logs(spark, p)
    assert back.count() == 200
    assert back.columns == df.columns
    # value-level parity on a stable projection
    a = sorted((r["requestId"], r["name"]) for r in df.collect())
    b = sorted((r["requestId"], r["name"]) for r in back.collect())
    assert a == b


def test_text_source_parses_jsonl(spark, tmp_path):
    df = generate_api_logs(spark, 50, seed=12)
    p = str(tmp_path / "logs_jsonl_as_text")
    df.coalesce(1).write.json(p, timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    parsed = sources.read_text_logs(spark, p)
    assert sources.valid_records(parsed).count() == 50
    assert sources.corrupt_records(parsed).count() == 0

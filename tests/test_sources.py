"""Tests for the corpus readers (the reference's three map-file variants,
src/mapreduce.cpp:1060-1558) and the trivial KV sinks — exercised on a
scratch corpus under the repo's .tmp dir — for the base-table source's
schema memo and timestamp normalization, and for the settings of the
session factory that short queries and long test runs depend on."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.errors.utils as perr
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import core
from gpu_mapreduce_spark.queries.core_ops import scan_roundtrip
from gpu_mapreduce_spark.sources import tables, text_corpus
from tests.conftest import SF_DIR, named_actions

TMP = "/root/repo/.tmp/corpus"


@pytest.fixture(scope="module")
def corpus_dir():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(f"{TMP}/sub", exist_ok=True)
    with open(f"{TMP}/a.txt", "w") as f:
        f.write("alpha beta\ngamma\n")
    with open(f"{TMP}/sub/b.txt", "w") as f:
        f.write("delta\n")
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_read_files_whole_and_recursive(spark, corpus_dir):
    rows = {r.filename: r.text for r in text_corpus.read_files(spark, corpus_dir).collect()}
    assert rows == {"a.txt": "alpha beta\ngamma\n", "b.txt": "delta\n"}


def test_read_lines_record_safe(spark, corpus_dir):
    rows = sorted(
        (r.filename, r.line) for r in text_corpus.read_lines(spark, corpus_dir).collect()
    )
    assert rows == [("a.txt", "alpha beta"), ("a.txt", "gamma"), ("b.txt", "delta")]


def test_read_files_binary(spark, corpus_dir):
    rows = {os.path.basename(r.path): bytes(r.content)
            for r in text_corpus.read_files_binary(spark, corpus_dir).collect()}
    assert rows["a.txt"] == b"alpha beta\ngamma\n"
    assert rows["b.txt"] == b"delta\n"


def test_task_range(spark):
    df = text_corpus.task_range(spark, 10, num_partitions=4)
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r.itask for r in df.collect()) == list(range(10))


def test_wordfreq_from_files_end_to_end(spark, corpus_dir):
    """The reference's flagship demo pipeline (examples/wordfreq.cpp:64-93):
    read files → tokenize → count → top-k, over the file reader."""
    from gpu_mapreduce_spark.operators import text

    docs = text_corpus.read_files(spark, corpus_dir)
    top = text.wordfreq(text.tokenize(docs), ntop=3).collect()
    counts = {(r.word, r.cnt) for r in top}
    # corpus: alpha beta gamma delta — all count 1; top-3 by (cnt desc, word)
    assert counts == {("alpha", 1), ("beta", 1), ("delta", 1)}


def test_clone_and_scan_sink(spark, corpus_dir):
    kv = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    cloned = core.clone(kv).collect()
    assert sorted((r.k, list(r.vals)) for r in cloned) == [("a", [1]), ("a", [2])]
    out = f"{TMP}/sink"
    core.scan_sink(kv, out)
    back = spark.read.csv(out).collect()
    assert len(back) == 2


def _table_call(spark, group, sf_dir, name):
    """`tables.table(...)` under job group `group`: (frame, named jobs)."""
    out = {}
    got = named_actions(
        spark, group, lambda: out.update(df=tables.table(spark, sf_dir, name))
    )
    return out["df"], got


def test_warm_table_call_runs_no_job(spark):
    """The second call of a table reads with the memoized schema: no
    schema-inference job, and the same dtypes as the first call."""
    first, _ = _table_call(spark, "table_first", SF_DIR, "lineitem")
    warm, got = _table_call(spark, "table_warm", SF_DIR, "lineitem")
    assert not got, got
    assert warm.dtypes == first.dtypes


def test_replaced_table_file_is_reread(spark, tmp_path):
    """os.replace of the file with another schema changes the memo key, so
    the next call sees the new columns and rows."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.table(spark, str(tmp_path), "region").dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), tmp_path / "new.parquet")
    os.replace(tmp_path / "new.parquet", path)
    df = tables.table(spark, str(tmp_path), "region")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_timestamp_kinds_normalize_on_miss_and_hit(spark, tmp_path):
    """TIMESTAMP_NTZ, naive timestamp[ns] and tz-aware timestamp[ns, UTC]
    all come out as session-UTC timestamp, with identical values on the
    call that infers the schema and on the memoized call; a genuine bigint
    stays a bigint."""
    t = datetime(2024, 1, 2, 3, 4, 5, 678901)
    ns = int(t.replace(tzinfo=timezone.utc).timestamp()) * 10**9 + 678901234
    pq.write_table(
        pa.table(
            {
                "ntz": pa.array([t], pa.timestamp("us")),
                "ns_naive": pa.array([ns], pa.timestamp("ns")),
                "ns_utc": pa.array([ns], pa.timestamp("ns", tz="UTC")),
                "n": pa.array([ns], pa.int64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    micros = ns // 1000
    for _ in ("miss", "hit"):
        df = tables.table(spark, str(tmp_path), "events")
        assert df.dtypes == [
            ("ntz", "timestamp"),
            ("ns_naive", "timestamp"),
            ("ns_utc", "timestamp"),
            ("n", "bigint"),
        ]
        row = df.select(
            *(F.unix_micros(c) for c in ("ntz", "ns_naive", "ns_utc")), "n"
        ).collect()[0]
        assert tuple(row) == (micros, micros, micros, ns)


def test_table_errors_are_unchanged(spark, tmp_path):
    with pytest.raises(KeyError):
        tables.table(spark, SF_DIR, "no_such_table")
    with pytest.raises(AnalysisException):
        tables.table(spark, str(tmp_path), "orders")


def test_warm_scan_roundtrip_reads_back_without_inference(spark):
    """The CSV dump is read back with the writer's schema and the source
    schema is memoized, so a warm call runs no csv or parquet job."""
    scan_roundtrip(spark, SF_DIR).collect()
    got = named_actions(
        spark,
        "scan_roundtrip_warm",
        lambda: scan_roundtrip(spark, SF_DIR).collect(),
        ("csv", "parquet"),
    )
    assert not got, got


def test_column_building_captures_no_call_site(spark, monkeypatch):
    """The session from get_spark turns DataFrame call-site capture off, so
    building a Column makes no PySparkCurrentOrigin round trip. The
    process-wide cache of the setting is cleared first, so it is read
    from this session."""
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)
    sent = []
    send = GatewayClient.send_command

    def record(client, command, *a, **k):
        sent.append(command)
        return send(client, command, *a, **k)

    monkeypatch.setattr(GatewayClient, "send_command", record)
    F.col("a") * 2
    assert sent, "no py4j command recorded"
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]


def test_driver_heap_fits_in_physical_memory(spark):
    """The session's driver heap ceiling is at most half the host's physical
    memory: a local-mode heap allowed past it grows until the kernel's OOM
    killer ends the one JVM, and every later test with it."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    mb = spark._jvm.org.apache.spark.util.Utils.memoryStringToMb(mem)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert mb <= phys_mb // 2, (mem, phys_mb)

"""The parquet read path (``sources/tables.read_parquet``): the schema it
plans from equals Spark's own inference, repeat opens run no Spark job,
rewritten files and changed confs are never served a stale schema, the
paths Spark must resolve itself read or raise exactly as before, and
concurrent opens are safe."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_spotify.functions.concurrency import overlap
from spark_spotify.sources import tables as T
from spark_spotify.sources.tables import (
    TABLES,
    load_table,
    read_parquet,
    table_rows,
)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.fixture()
def confs(spark):
    """Restore every inference conf a test flips."""
    saved = {k: spark.conf.get(k) for k in T._INFER_CONFS}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_tables_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _same_as_spark(spark, *paths):
    assert read_parquet(spark, *paths).schema == spark.read.parquet(
        *paths
    ).schema, paths


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_schema_matches_spark_on_source_tables(
    spark, sf_dir, confs, nanos_as_long
):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos_as_long)
    for name in TABLES:
        _same_as_spark(spark, f"{sf_dir}/{name}.parquet")


def test_schema_matches_spark_on_warehouse_tables(spark, sf_dir, warehouse):
    """Every part, every table's whole part set and every deletion-vector
    sidecar, after two incremental batches, a compaction, a MOR delete
    and a schema-evolving commit."""
    from spark_spotify.etl.pipeline import (
        TABLES as WH_TABLES,
        _current_version,
        _read_manifest_file,
        compact_table,
        delete_rows,
        read_table,
        rename_column,
        run_incremental_etl,
        split_ts,
        widen_column,
    )

    events = load_table(spark, sf_dir, "events")
    cut = split_ts(events)
    run_incremental_etl(spark, events.filter(F.col("ts") <= cut), warehouse, 1)
    run_incremental_etl(spark, events, warehouse, 2)
    compact_table(spark, warehouse, "fact", "c1")
    delete_rows(
        spark, warehouse, "silver", F.col("event_type") == "error", "d1",
        mode="mor",
    )
    widen_column(spark, warehouse, "fact", "date_key", "long")
    rename_column(warehouse, "dim_user", "total_plays", "plays")

    sidecars = 0
    for table in WH_TABLES:
        m = _read_manifest_file(
            warehouse, table, _current_version(warehouse, table)
        )
        tdir = os.path.join(warehouse, table)
        parts = [os.path.join(tdir, p) for p in m["parts"]]
        for p in parts:
            _same_as_spark(spark, p)
        _same_as_spark(spark, *parts)
        for names in m["dv"].values():
            for n in names:
                _same_as_spark(spark, os.path.join(tdir, n))
                sidecars += 1
        assert read_table(spark, warehouse, table).count() >= 0
    assert sidecars, "the MOR delete left no sidecar to check"
    assert "plays" in read_table(spark, warehouse, "dim_user").columns
    assert dict(read_table(spark, warehouse, "fact").dtypes)[
        "date_key"
    ] == "bigint"


def test_repeat_load_table_runs_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    j0 = _jobs(spark)
    df = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    assert _jobs(spark) == j0
    assert df.columns and "ts" in ev.columns


def test_read_table_of_spark_written_parts_runs_no_job(spark, warehouse):
    """Zero jobs even on the first open, also when the parts' writers
    recorded different nullability for the same column (the scan makes
    every column nullable), and for a staging dir whose name Spark's
    listing would hide if it were a file."""
    from spark_spotify.etl.pipeline import (
        _commit_append,
        _manifest,
        read_table,
    )

    ids = spark.range(20)
    _commit_append(
        ids.select(F.col("id").alias("event_id"), F.lit("x").alias("tag")),
        warehouse,
        "t",
        1,
    )
    _commit_append(
        ids.select(
            F.when(F.col("id") > 3, F.col("id")).alias("event_id"),
            F.lit(None).cast("string").alias("tag"),
        ),
        warehouse,
        "t",
        2,
    )
    stage = os.path.join(warehouse, "t", "_stage_x")
    ids.write.parquet(stage)
    j0 = _jobs(spark)
    df = read_table(spark, warehouse, "t")
    staged = read_parquet(spark, stage)
    assert _jobs(spark) == j0
    parts = [os.path.join(warehouse, "t", p) for p in _manifest(warehouse, "t")]
    assert len(parts) == 2
    assert df.schema == spark.read.parquet(*parts).schema
    assert staged.schema == spark.read.parquet(stage).schema
    assert df.count() == 40


def test_rewritten_file_gets_new_schema_and_rows(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert table_rows(str(tmp_path), "t") == 2
    pq.write_table(
        pa.table(
            {
                "a": pa.array(["x", "y", "z"], pa.string()),
                "b": pa.array([1.0, 2.0, 3.0], pa.float64()),
            }
        ),
        path,
    )
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert table_rows(str(tmp_path), "t") == 3
    assert df.count() == 3


def test_inference_confs_change_the_schema(spark, tmp_path, confs):
    """A legacy TIMESTAMP(NANOS) file resolves to bigint under
    nanosAsLong and is rejected without it; a non-UTC-adjusted
    timestamp[us] resolves to timestamp_ntz or timestamp with
    inferTimestampNTZ.  The memo never serves one conf's answer to the
    other."""
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
        nanos,
        version="2.6",
        coerce_timestamps=None,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception) as ref:
        spark.read.parquet(nanos).schema
    with pytest.raises(Exception) as got:
        read_parquet(spark, nanos).schema
    assert type(got.value) is type(ref.value)

    ntz = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), ntz
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    seen = set()
    for flag in ("true", "false", "true"):
        spark.conf.set(key, flag)
        _same_as_spark(spark, ntz)
        seen.add(read_parquet(spark, ntz).dtypes[0][1])
    assert seen == {"timestamp_ntz", "timestamp"}


def test_fallback_paths_read_or_raise_as_before(spark, tmp_path):
    missing = str(tmp_path / "missing.parquet")
    empty = tmp_path / "empty"
    empty.mkdir()
    for p in (missing, str(empty)):
        assert T._data_files((p,)) is None
        with pytest.raises(Exception) as ref:
            spark.read.parquet(p)
        with pytest.raises(Exception) as got:
            read_parquet(spark, p)
        assert type(got.value) is type(ref.value)
        assert getattr(got.value, "getCondition", lambda: None)() == getattr(
            ref.value, "getCondition", lambda: None
        )()

    hive = str(tmp_path / "hive")
    spark.range(6).select(
        F.col("id"), (F.col("id") % 2).alias("k")
    ).write.partitionBy("k").parquet(hive)
    assert T._data_files((hive,)) is None
    got, ref = read_parquet(spark, hive), spark.read.parquet(hive)
    assert got.schema == ref.schema and "k" in got.columns
    assert sorted(got.collect()) == sorted(ref.collect())
    # a file beside a partition directory is Spark's call too
    pq.write_table(
        pa.table({"id": pa.array([9])}), os.path.join(hive, "stray.parquet")
    )
    assert T._data_files((hive,)) is None

    summary = str(tmp_path / "summary")
    spark.range(3).write.parquet(summary)
    shutil.copy(
        next(
            os.path.join(summary, f)
            for f in os.listdir(summary)
            if f.endswith(".parquet")
        ),
        os.path.join(summary, "_common_metadata"),
    )
    assert T._data_files((summary,)) is None
    assert T._data_files((str(tmp_path / "*.parquet"),)) is None
    assert T._data_files(("file:" + summary,)) is None


def test_concurrent_opens_are_safe(spark, sf_dir, tmp_path, monkeypatch):
    spark_written = str(tmp_path / "sw")
    spark.range(10).write.parquet(spark_written)
    paths = [
        f"{sf_dir}/lineitem.parquet",
        f"{sf_dir}/customer.parquet",
        spark_written,
    ]
    refs = {p: spark.read.parquet(p).schema for p in paths}
    got = overlap(
        *[
            (lambda p=p: (p, read_parquet(spark, p).schema))
            for p in paths * 4
        ]
    )
    assert all(s == refs[p] for p, s in got)

    # the memo stays inside its bound under concurrent inserts
    monkeypatch.setattr(T, "_MEMO_MAX", 3)
    small = []
    for i in range(8):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({f"c{i}": pa.array([i])}), p)
        small.append(p)
    got = overlap(
        *[(lambda p=p: read_parquet(spark, p).columns) for p in small]
    )
    assert got == [[f"c{i}"] for i in range(8)]
    assert len(T._memo) <= 3

    # many more writers than cores, switching threads as often as possible
    def hammer(t):
        for i in range(500):
            T._memo_put(("stress", t, i), i)
            T._memo_get(("stress", t, i // 2))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        overlap(*[(lambda t=t: hammer(t)) for t in range(16)])
    finally:
        sys.setswitchinterval(old)
    assert len(T._memo) <= 3

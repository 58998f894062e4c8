"""Parquet table catalog over the driver's synthetic warehouse.

Replaces the reference's three storage tiers (MongoDB bronze, PostgreSQL
silver/gold — SURVEY.md §1.1) with columnar Parquet scans.  Catalyst pushes
filters and prunes columns into these scans for free; at 100 TB the same reads
would hit a date-partitioned Parquet/Delta layout and get partition pruning on
top (the reference's incremental watermark scan, daily_etl_pipeline.py:132-137,
becomes a pruned partition read).
"""

from __future__ import annotations

import json
import math
import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

from spark_spotify.session import pin_session

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table. Plain column-pruned, filter-pushdown parquet
    scan — never collect, and no schema-inference job on a repeat open:
    the scan goes through :func:`read_parquet`, which plans it from the
    schema Spark would infer, memoised under the file's (path, size,
    mtime) identity and the inference confs.  The first open of a
    pyarrow-written file pays Spark's one inference job; every later open
    of the unchanged file pays none.

    ``events.ts`` has shipped as both parquet TIMESTAMP (current testdata,
    timestamp[us]) and TIMESTAMP(NANOS) read as a long
    (``spark.sql.legacy.parquet.nanosAsLong``, older drops).  Branch on the
    column's actual type: timestamps pass through untouched; a bigint is
    truncated ns->us — the same truncation DuckDB applies — so event-time
    values are bit-identical across engines either way.
    """
    pin_session(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        return normalize_event_ts(df)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# -- the read path ---------------------------------------------------------
#
# ``spark.read.parquet(path)`` with no schema runs one Spark job just to
# read a footer (ParquetUtils.inferSchema -> mergeSchemasInParallel), on
# every open of the same unchanged files.  ``read_parquet`` hands Spark the
# schema it would infer instead, so the open costs no job:
#
# - files Spark wrote carry their schema as JSON under
#   ``_SPARK_SCHEMA_KEY``; Spark's inference (mergeSchema=false) returns
#   exactly that JSON, made nullable, so when every data file carries the
#   same schema it is used directly (zero jobs, even cold);
# - anything else (pyarrow-written sources, files that disagree, a session
#   with mergeSchema on) runs Spark's own inference once and memoises the
#   result under the exact file identity plus the confs that change it;
# - paths Spark must resolve itself (non-local, missing, empty,
#   hive-partitioned, with summary files, globs) go to the plain
#   ``spark.read.parquet`` unchanged, so they read or raise as before.
#
# Footers and inferred schemas share ONE bounded memo; opens from
# ``overlap()`` pool threads may race, and a race can only repeat a footer
# read or an inference.

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_MEMO_MAX = 4096
_memo: OrderedDict = OrderedDict()
_memo_lock = threading.Lock()

FileId = tuple[str, int, int]  # (absolute path, size, mtime_ns)


def _memo_get(key):
    with _memo_lock:
        v = _memo.get(key)
        if v is not None:
            _memo.move_to_end(key)
        return v


def _memo_put(key, value) -> None:
    with _memo_lock:
        _memo[key] = value
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_MAX:
            _memo.popitem(last=False)


def _hidden(name: str) -> bool:
    """Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName),
    without its summary-file exception: summary files are handled by the
    caller."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(paths: tuple[str, ...]) -> list[FileId] | None:
    """Identity of every data file Spark would list under ``paths``,
    sorted; None when Spark's own read must decide (a path that is not a
    plain local file or flat directory of files, a missing or empty path,
    a hive-partitioned or nested directory, summary files)."""
    if not paths:
        return None
    out: list[FileId] = []
    for p in paths:
        if ":" in p or any(c in p for c in "*?[]{}\\"):
            return None  # a URI or a glob: Spark resolves it
        try:
            st = os.stat(p)
        except OSError:
            return None
        if stat.S_ISREG(st.st_mode):
            if _hidden(os.path.basename(p)):
                return None  # Spark's listing drops it: nothing to read
            out.append((os.path.abspath(p), st.st_size, st.st_mtime_ns))
            continue
        if not stat.S_ISDIR(st.st_mode):
            return None
        n = 0
        try:
            with os.scandir(p) as it:
                for e in it:
                    if e.name.startswith(("_metadata", "_common_metadata")):
                        return None
                    if _hidden(e.name):
                        continue
                    if not e.is_file():
                        return None
                    est = e.stat()
                    out.append(
                        (os.path.abspath(e.path), est.st_size, est.st_mtime_ns)
                    )
                    n += 1
        except OSError:
            return None
        if not n:
            return None
    return sorted(out)


def _footer(f: FileId) -> tuple[str | None, int] | None:
    """(Spark schema JSON or None, row count) from one file's footer — a
    driver-side pyarrow metadata read, memoised under the file identity.
    None when the footer is unreadable (Spark's own read then raises its
    own error)."""
    key = ("footer", f)
    hit = _memo_get(key)
    if hit is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            md = pq.read_metadata(f[0])
        except (OSError, pa.ArrowException):
            return None
        raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        hit = (raw.decode("utf-8") if raw is not None else None, md.num_rows)
        _memo_put(key, hit)
    return hit


def _as_nullable(t: DataType) -> DataType:
    """Spark's ``DataType.asNullable``: every field, array element and map
    value nullable, recursively."""
    if isinstance(t, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(
            _as_nullable(t.keyType), _as_nullable(t.valueType), True
        )
    return t


def _spark_schema(raw: str) -> StructType | None:
    """One footer's Spark schema JSON as the scan sees it (nullable), or
    None for a legacy schema string, which Spark parses itself."""
    key = ("json", raw)
    schema = _memo_get(key)
    if schema is None:
        try:
            schema = _as_nullable(StructType.fromJson(json.loads(raw)))
        except (ValueError, KeyError, TypeError):
            return None
        _memo_put(key, schema)
    return schema


def _footer_schema(
    spark: SparkSession, files: list[FileId]
) -> StructType | None:
    """The schema Spark's inference would return, read from the footers
    alone, or None when that needs Spark's own inference.  Writers
    differ in the nullability they record for the same columns; the scan
    discards it (``asNullable``), so files agree when their nullable
    schemas do."""
    if str(spark.conf.get("spark.sql.parquet.mergeSchema")).lower() != "false":
        return None
    schema = None
    for f in files:
        footer = _footer(f)
        s = _spark_schema(footer[0]) if footer and footer[0] else None
        if s is None or (schema is not None and s != schema):
            return None
        schema = s
    return schema


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the same DataFrame, planned from the schema Spark would infer (see
    the read-path notes above).  Every parquet open in the package goes
    through here or passes an explicit schema."""
    files = _data_files(paths)
    if files is None:
        return spark.read.parquet(*paths)
    schema = _footer_schema(spark, files)
    if schema is None:
        key = (
            "infer",
            tuple(files),
            tuple(str(spark.conf.get(k)) for k in _INFER_CONFS),
        )
        schema = _memo_get(key)
        if schema is None:
            df = spark.read.parquet(*paths)
            _memo_put(key, df.schema)
            return df
    return spark.read.schema(schema).parquet(*paths)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce ``events.ts`` to session-zone TIMESTAMP whatever the file wrote.

    - timestamp (LTZ): pass through;
    - timestamp_ntz (current testdata, parquet timestamp[us]
      isAdjustedToUTC=false): reinterpret in the UTC-pinned session zone —
      identical wall-clock and epoch micros;
    - bigint (legacy TIMESTAMP(NANOS) via nanosAsLong): truncate ns->us,
      matching DuckDB's own ns->us truncation.

    Shared by the batch catalog and the streaming reader so the two paths
    can never diverge again (round-1 postmortem: they did).
    """
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "timestamp":
        return df
    if ts_type.startswith("timestamp"):
        return df.withColumn("ts", F.to_timestamp(F.col("ts")))
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def fan_out(df: DataFrame, min_partitions: int = 32) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row work (shingling,
    hashing, gram explosion).

    Small dimension-sized tables arrive as a single parquet row group — one
    input partition — so without this every downstream per-row expression
    runs on one core no matter how wide the cluster is.  The repartition
    shuffles only the *input* rows (cheap), not the exploded output.  At
    100 TB inputs already arrive in thousands of file splits and this becomes
    a no-op: we only widen, never coalesce.

    Partition count is ESTIMATED from the scan's input files (a driver-side
    metadata call; ``df.rdd.getNumPartitions()`` would force the Python RDD
    conversion on every load).  File count alone is not enough — Spark
    packs small files together (``spark.sql.files.maxPartitionBytes`` /
    ``openCostInBytes``), so 40×1 MB files still land in ONE scan
    partition; when the sizes are locally resolvable we replay the packing
    formula, and when they are not (object-store paths) many files are
    taken at face value — the conservative direction, since widening is
    the cheap side of the trade-off."""
    files = df.inputFiles()
    if len(files) < min_partitions:
        return df.repartition(min_partitions)
    spark = df.sparkSession
    max_split = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes")
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes")
    total = 0
    for f in files:
        path = f.removeprefix("file:")
        if not os.path.isfile(path):
            return df  # non-local storage: trust the split count
        total += os.path.getsize(f.removeprefix("file:"))
    est = math.ceil((total + len(files) * open_cost) / max(max_split, 1))
    if est >= min_partitions:
        return df
    return df.repartition(min_partitions)


def _bytes_conf(spark: SparkSession, key: str) -> int:
    """Parse a size conf like '134217728b' / '128m' to bytes."""
    raw = str(spark.conf.get(key)).strip().lower()
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3}
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet FOOTERS — a driver-side metadata
    read, no Spark job — for plan-time sizing decisions (broadcast
    gating, quantizer cell counts).  Returns None when the path is not
    a plain local file or flat directory (object store, partitioned) or
    a footer is unreadable; callers must then take the conservative
    branch (no broadcast / default sizing).  Served from the read path's
    footer memo, keyed on each file's (path, size, mtime) identity, so a
    rewritten file is re-read and repeated plan construction costs
    nothing."""
    files = _data_files((f"{sf_dir}/{name}.parquet",))
    if files is None:
        return None
    footers = [_footer(f) for f in files]
    if None in footers:  # unreadable footer => size unknown => no broadcast
        return None
    return sum(n for _, n in footers)


def dim_broadcast(
    df: DataFrame, sf_dir: str, table: str, max_rows: int
) -> DataFrame:
    """Broadcast hint gated on ``table``'s parquet-footer row count: the
    hint is only attached when the dim PROVABLY fits (hints are honored
    unconditionally, so an unconditional hint on a corpus-scaled dim —
    customer/supplier/part grow with SF — would collect the whole table
    to the driver on a real cluster).  Unknown or over-bound sizes leave
    the join a plain equi-join; AQE still converts it to a broadcast at
    runtime if the built side turns out small."""
    n = table_rows(sf_dir, table)
    if n is not None and n <= max_rows:
        return F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so Spark SQL text queries can run
    against the same catalog names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

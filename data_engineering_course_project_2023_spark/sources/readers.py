"""Scan-side operators (SURVEY §2.1).

Reference behaviors re-expressed declaratively so Catalyst pushes work
into the scan:

- S1 JSON-lines scan  (ref: src/utils/utils.py:17-34) — schema-pinned
  ``spark.read.json``; no inference, single pass.
- S2 row-range subset (ref: src/utils/utils.py:22-30) — offset/limit on a
  deterministic ordering.
- S3 scan-time predicate (ref: src/utils/utils.py:27) — ordinary
  ``filter``; pushdown gets it into the scan for free.
- S7 re-scan staged parts (ref: src/utils/databases.py:369-383) — a glob
  path replaces the reference's sequential per-part loop.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schemas import DRIVER_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _footer_schema(path: str) -> pa.Schema:
    """The parquet footer schema of ``path``: a metadata-only read (no
    data IO, no Spark job), so safe at any scale. For a directory, the
    footer of its first part file."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"{path}: no parquet part files")
        path = os.path.join(path, parts[0])
    return pq.read_schema(path)


def _check_columns(path: str, name: str, file_cols: list[str]) -> None:
    """Raise unless the file's columns are exactly the declared ones, in
    order. A declared read schema would otherwise turn a missing or
    renamed column into a silent all-null column."""
    declared = DRIVER_TABLES[name].fieldNames()
    if file_cols == declared:
        return
    missing = [c for c in declared if c not in file_cols]
    extra = [c for c in file_cols if c not in declared]
    if missing:
        why = f"declared column {missing[0]!r} is missing from the file"
    elif extra:
        why = f"file column {extra[0]!r} is not declared"
    else:
        i = next(i for i, (f, d) in enumerate(zip(file_cols, declared)) if f != d)
        why = (
            f"column {i} is {file_cols[i]!r} in the file but {declared[i]!r} "
            "in the declared schema"
        )
    raise ValueError(f"{path}: does not match schemas.DRIVER_TABLES[{name!r}]: {why}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table with its declared schema.

    ``spark.read.parquet`` — predicate pushdown, column pruning and
    partition-splitting (``spark.sql.files.maxPartitionBytes``) all apply;
    at 100 TB the same call scans a multi-file partitioned layout
    unchanged.

    The read schema is ``schemas.DRIVER_TABLES[name]``, so planning the
    scan launches no Spark job. Without a schema, Spark 4.1 runs a
    one-task footer-inference job ("parquet at <unknown>:0") per table
    per query before the query is even planned: 317 jobs that compute
    nothing over a full 237-query registry sweep. Measured on a 4-vCPU
    VM with perfbench ``registry_mix`` (together with the schema-pinned
    stage re-read in ``operators.dedup.stage_parquet``), 10 interleaved
    parent/change pairs on seeds 1–10: ``setup_s`` lower in 10/10,
    median 0.623 → 0.509 s (−18%; parent quartile spread 0.034 s);
    held-out seed, 3 pairs: 0.605 → 0.450 s, lower in 3/3. ``cpu_s``
    31.1 → 32.0 s, inside the parent's quartile spread of 1.3 s: each
    inference job is one tiny task, so the gain is per-query latency.
    Jobs per op in the traced pass: enrichment_join 5 → 3,
    discount_forecast 3 → 2, daily_event_counts 3 → 2,
    kmv_distinct_users 7 → 6, semdedup_keep 8 → 7.

    A declared schema must not hide a missing or renamed column, so the
    file's footer (one pyarrow metadata read, no Spark job) is checked
    first: its column names and order must equal the declared ones, or
    this raises naming the column. Types are pinned by
    ``tests/test_sources.py`` against Spark's own inference.

    Nanosecond-precision timestamps (which Spark's readers reject as
    timestamps) are read as int64 nanos and floored to micros — exactly
    the truncation DuckDB/Arrow consumers apply — so cross-engine values
    agree. The nanos column is declared ``LongType`` in the read schema,
    which Spark 4.1 honours on both parquet readers without
    ``spark.sql.legacy.parquet.nanosAsLong``, so no session conf is
    touched.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer_schema(path)
    _check_columns(path, name, footer.names)
    ns_cols = [
        f.name for f in footer
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    schema = StructType([
        StructField(f.name, LongType(), f.nullable) if f.name in ns_cols else f
        for f in DRIVER_TABLES[name].fields
    ])
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Scan the driver tables into a dict of DataFrames."""
    return {
        name: load_table(spark, sf_dir, name)
        for name in (names or DRIVER_TABLES.keys())
    }


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    required_non_null: list[str] | None = None,
) -> DataFrame:
    """S1+S3: schema-pinned JSONL scan with scan-time predicate.

    The reference streams the file line-by-line keeping only rows with
    non-null key columns (utils.py:27); here the filter is declarative and
    Catalyst pushes it down (for parquet all the way into row groups).
    """
    df = spark.read.schema(schema).json(path)
    if required_non_null:
        cond = None
        for c in required_non_null:
            this = F.col(c).isNotNull()
            cond = this if cond is None else (cond & this)
        df = df.filter(cond)
    return df


def scan_subset(df: DataFrame, order_by: str, start_row: int, rows: int) -> DataFrame:
    """S2: read ``rows`` rows starting at ``start_row``.

    The reference does this imperatively while streaming the file
    (utils.py:22-30). Relationally the subset is only well-defined against
    an ordering, so we require an explicit sort key and use Spark's
    native offset/limit (both push into ``CollectLimitExec``).
    """
    return df.orderBy(order_by).offset(start_row).limit(rows)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """S1-analog for delimited text: schema-pinned CSV scan.

    The schema is required, never inferred — inference is a full extra
    pass over the data (prohibitive at 100 TB) and non-deterministic
    under sampling. Quoted fields handle embedded delimiters/newlines
    per RFC 4180 (Spark's multiLine stays off: one-record-per-line keeps
    the input splittable, which multiline CSV is not)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", delimiter)
        .csv(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S1-analog for ORC: like parquet, a columnar self-describing
    format — predicate pushdown and column pruning reach the stripe
    level, so the same declarative plans stay scan-efficient."""
    return spark.read.orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Media-file ingest via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content) with the raw bytes in
    ``content`` — the entry point for the multimodal pipeline
    (operators/multimodal.py consumes these rows as opaque blobs).

    Pushed-down pruning: ``pathGlobFilter`` keeps non-matching files
    unopened, and a ``length`` predicate prunes on the file-status
    metadata WITHOUT reading content — pass max_bytes to skip oversized
    media at list time. Each file is one row (the format is not
    splittable); at 100 TB the unit of parallelism is the file, so
    shard media into object-store-friendly sizes upstream, not into a
    few giant archives."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df

"""Parquet table loaders for the driver-generated testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

The ``events`` table models samsa's message log (reference
samsa/kafka/storage.py:228-253 consumes keyed messages; FIXTURES.md §1 maps
key -> ``user_id``, arrival order -> ``(ts, event_id)``). Its ``ts`` column
has shipped in two parquet encodings across driver testdata generations —
TIMESTAMP(NANOS) (rounds 1-4; Spark can only read it as a nanosecond long
via ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP(MICROS)
``isAdjustedToUTC=false`` (round 5+; Spark reads TIMESTAMP_NTZ natively).
``load`` normalizes either encoding to the same contract:

- ``ts_us``: microsecond epoch BIGINT — the canonical ordering column. The
  DuckDB oracle computes ``epoch_us(ts)`` over the same file (truncating to
  µs in the NANOS case), so all ordering/comparison is done at microsecond
  precision with ``event_id`` as the deterministic tie-break on both sides.
- ``ts``: TIMESTAMP_NTZ at microsecond precision (timezone-free arithmetic,
  so results don't depend on the session timezone).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from samsa_spark.session import scoped_conf

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

# Timestamp columns that need normalization to the (ts TIMESTAMP_NTZ µs,
# ts_us BIGINT) contract, whatever parquet encoding the testdata generation
# used (NANOS-as-long or native MICROS).
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition DataFrame from a small driver-side row list.

    ``spark.createDataFrame(list, schema)`` parallelizes the list over
    ``defaultParallelism`` Python-RDD slices (32 here), and each slice costs
    one Python-worker round trip at execution. Worse, a downstream
    ``coalesce(1)`` — the natural move for a tiny meta/sentinel artifact —
    drains all 32 slices SEQUENTIALLY through one task: measured 5-7 s to
    write ONE ROW (r14 optimization round; a 1-slice frame writes the same
    row in ~0.35 s). Every local-list frame in an operator path goes
    through here so the slice count never silently re-inflates."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def arrow_to_pandas(df: DataFrame):
    """``df.toPandas()`` over the Arrow transfer, enabled for the duration
    of the call only: the external driver's vanilla session has it off,
    and flipping it for good could change how that session's OWN
    ``toPandas`` comparisons materialize (:func:`session.scoped_conf`)."""
    with scoped_conf(df.sparkSession, "spark.sql.execution.arrow.pyspark.enabled", "true"):
        return df.toPandas()


def _single_row_group_rows(path: str) -> int | None:
    """Row count if the file is a single parquet row group, else None.

    The driver-generated testdata ships each table as ONE row group, which
    caps Spark's scan parallelism at one task regardless of
    maxPartitionBytes (row groups are the minimum split unit). Production
    data at 100 TB has thousands of splits, so this is purely a testdata
    artifact — detected here and compensated with an explicit repartition.
    """
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        return md.num_rows if md.num_row_groups == 1 else None
    except Exception:
        return None


def _parquet_ts_is_utc_adjusted(path: str, col: str) -> bool:
    """True if the parquet timestamp column is isAdjustedToUTC=true.

    Arrow surfaces the parquet flag as the field's ``tz`` attribute
    (``None`` for wall-clock/NTZ encodings, a zone string for
    instant/adjusted ones). Unreadable metadata FAILS CLOSED: this branch
    only runs for the rare instant-typed read, and guessing "not adjusted"
    on a file Spark can still read would silently disable the very refusal
    this function exists to enforce (a warning in driver logs is easy to
    miss; a UTC-adjusted file would then quietly diverge from the oracle).
    """
    try:
        import pyarrow.parquet as pq

        return getattr(pq.read_schema(_one_part(path)).field(col).type, "tz", None) is not None
    except Exception as e:
        raise ValueError(
            f"could not inspect the parquet timestamp encoding of {path}:{col} "
            f"({e!r}); refusing to guess — if the column is "
            "isAdjustedToUTC=true, results would silently diverge from the "
            "DuckDB oracle. Fix the file metadata (or extend tables.load for "
            "this encoding) before loading it."
        ) from e


def _one_part(path: str):
    """The path itself for a single-file table, else the first part file of
    a directory-style parquet table (what Spark writes — all parts share one
    schema, so any part answers a schema question). LOCAL filesystem paths
    only (os.listdir): the testdata layout and local multi-part writes. A
    URI-addressed store (hdfs://, s3a://) would need the Hadoop FileSystem
    API or pyarrow.dataset here — out of scope for the schema probe, whose
    callers all read local testdata."""
    import os

    if not os.path.isdir(path):
        return path
    parts = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not parts:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return os.path.join(path, parts[0])


def load(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Load one testdata table, normalizing nanosecond timestamps.

    ``spread=True`` repartitions a single-row-group input across all cores —
    callers with CPU-heavy per-row work (shingling, hashing, wide decimal
    aggregation) opt in; cheap pipelines skip the extra shuffle. The
    explicit partition count matters: AQE preserves user-specified
    repartition numbers but would coalesce a count-less repartition of a
    small file right back to one partition.
    """
    # The driver hands us its own SparkSession; this conf is runtime-settable
    # and required before the first read of a NANOS parquet file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if spread and _single_row_group_rows(path) is not None:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    for c in _TS_COLS.get(name, ()):
        dtype = df.schema[c].dataType
        if isinstance(dtype, LongType):
            # TIMESTAMP(NANOS) parquet read under nanosAsLong (rounds 1-4).
            df = (
                df.withColumnRenamed(c, f"_{c}_ns")
                # integer div: going through double would lose precision at
                # 1.7e18 ns (double is exact only to 2^53).
                .withColumn(f"{c}_us", F.expr(f"_{c}_ns div 1000"))
                .withColumn(
                    c,
                    F.expr(f"timestampadd(MICROSECOND, _{c}_ns div 1000, {_EPOCH_NTZ})"),
                )
                .drop(f"_{c}_ns")
            )
        elif isinstance(dtype, TimestampNTZType):
            # Native TIMESTAMP(MICROS) isAdjustedToUTC=false (round 5+).
            # timestampdiff against the NTZ epoch is timezone-free, unlike
            # unix_micros which would route through the session timezone.
            df = df.withColumn(
                f"{c}_us", F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {c})")
            )
        elif isinstance(dtype, TimestampType):
            # Instant-typed read (only if NTZ inference is off): unix_micros
            # is exact on instants; re-anchor ts to NTZ for the contract.
            # This assumes the parquet column is isAdjustedToUTC=false (raw
            # micros == NTZ wall clock). An adjusted-to-UTC encoding would
            # make ts a UTC wall clock while DuckDB reads TIMESTAMPTZ —
            # silently diverging from the oracle — so check and refuse.
            if _parquet_ts_is_utc_adjusted(path, c):
                raise ValueError(
                    f"{path}:{c} is parquet TIMESTAMP(isAdjustedToUTC=true); "
                    "tables.load only supports wall-clock (NTZ) encodings — "
                    "the DuckDB oracle would read this as TIMESTAMPTZ and "
                    "diverge. Extend tables.load before using this data."
                )
            df = df.withColumn(f"{c}_us", F.unix_micros(F.col(c))).withColumn(
                c, F.expr(f"timestampadd(MICROSECOND, unix_micros({c}), {_EPOCH_NTZ})")
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def free_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks of a localCheckpoint-ed frame.

    ``df.rdd.unpersist()`` does NOT work here — it unpersists a derived
    conversion RDD, not the checkpointed blocks, which belong to the
    LogicalRDD inside the checkpointed plan (CLAUDE.md note 34). Only call
    this on frames that will never be read again: unpersisting a
    localCheckpoint destroys blocks AND lineage (note 45), so any later
    action on ``df`` fails irrecoverably. Best-effort by design — a py4j
    surface change must not turn cleanup into a crash."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass  # swallowed: only the block-release is best-effort — a leaked
        # block costs session memory, not correctness, and the internal
        # _jdf path may shift across Spark versions

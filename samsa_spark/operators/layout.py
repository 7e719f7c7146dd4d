"""Z-order (Morton-curve) data layout — multi-dimensional clustering for
scan pruning (zo1/zo2/zo3).

The reference engine has no layout control at all (a RocksDB K/V store,
reference samsa/db/rocksdb.py:1-60 — one key order, no secondary
dimension); every lakehouse engine grew one because single-column sort
helps exactly one predicate. Interleaving the bits of k >= 2 (quantized)
dimensions makes rows that are close in ANY dimension land close on
disk, so per-file parquet min/max stats become tight boxes in EVERY
clustered column and a multi-dimensional range query prunes most files —
the OPTIMIZE ZORDER BY lever of Delta/Iceberg, re-expressed as plain
DataFrame algebra. The write side (:func:`write_zordered`) also emits a
per-file stats manifest; the read side (:func:`read_zordered`) serves a
box query by opening ONLY the stats-intersecting files.

Scale shape: computing z is a pure per-row integer projection (the k=2
magic spread is six shift/mask rounds per dimension; general k is an
unrolled k*bits-term bit loop — whole-stage codegen either way, no UDF);
the layout write is ONE repartitionByRange(z) + sortWithinPartitions(z)
— a single range shuffle, the same cost class as any clustered write —
plus one hash-aggregate manifest pass. Nothing is driver-sized except
the read-time manifest file list (file-count cardinality, the
read_shards_pruned argument); the curve arithmetic is exact BIGINT
(ANSI-safe: inputs are masked to ``bits`` before spreading and
``k*bits <= 63``, so no shift can overflow), and the identical
expressions run in DuckDB, which is what puts the curve itself inside
the exact-oracle gate (zo1 at k=2, zo3 at k=3) and the full
write->prune->read lifecycle too (zo2 — pruning is sound for any
layout, so the oracle is a plain box filter). The pruning claims are
locked by pytests: per-file parquet min/max stats must box-overlap a
far smaller file fraction under the z layout than under a one-column
sort, and read_zordered must OPEN at most half the files for a narrow
second-dimension box while returning rows exactly equal to a full scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from samsa_spark import tables
from samsa_spark.session import scoped_conf

# Bit-spread masks for interleaving 16-bit dims into a 32-bit-per-dim
# Morton code (the classic magic-number spread; each step doubles the gap
# between occupied bit positions). All masks are positive in signed 64-bit.
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

ZORDER_BITS = 16


def _spread_bits(col: Column, bits: int) -> Column:
    """Spread the low ``bits`` bits of a BIGINT so bit i lands at 2*i —
    pure shift/mask arithmetic, exact and overflow-free for bits <= 16."""
    x = col.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue(col_a: Column, col_b: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton z-value of two dimensions quantized to [0, 2^bits): a's bit i
    at position 2i, b's at 2i+1. bits <= 16 (two 16-bit dims fill 32 bits —
    the masked spread guarantees no signed-64 overflow)."""
    if not 1 <= bits <= 16:
        raise ValueError(f"zvalue supports 1..16 bits per dimension, got {bits}")
    return _spread_bits(col_a, bits).bitwiseOR(
        F.shiftleft(_spread_bits(col_b, bits), 1)
    ).alias("z")


def _nd_bits(k: int, bits: int | None) -> int:
    """Per-dimension bit budget for a k-dim curve: caller's choice
    validated against the signed-64 ceiling, or the widest default that
    fits (16 a dim up to k=3, 63//k past it)."""
    if k < 2:
        raise ValueError(f"a z-curve needs >= 2 dimensions, got {k}")
    if bits is None:
        return min(ZORDER_BITS, 63 // k)
    if bits < 1 or k * bits > 63:
        raise ValueError(
            f"zvalue_nd: {k} dims x {bits} bits = {k * bits} z bits — must "
            f"stay within signed BIGINT (k*bits <= 63; bits=None picks "
            f"{min(ZORDER_BITS, 63 // k)})"
        )
    return bits


def zvalue_nd(cols, bits: int | None = None) -> Column:
    """Morton z-value of k >= 2 dimensions, each quantized to [0, 2^bits):
    dim d's bit i lands at position ``i*k + d`` (for k=2 this is exactly
    :func:`zvalue`'s layout, and that magic-spread fast path is used).
    General k interleaves with an unrolled bit loop — ``k*bits`` pure
    shift/mask terms, whole-stage codegen, no UDF; ``k*bits <= 63`` keeps
    every intermediate positive in signed 64-bit (ANSI-safe)."""
    cols = list(cols)
    k = len(cols)
    bits = _nd_bits(k, bits)
    if k == 2:
        return zvalue(cols[0], cols[1], bits)
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        x = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), i * k + d)
            )
    return z.alias("z")


def _zvalue_nd_sql(exprs, bits: int | None = None) -> str:
    """The k-dim curve as DuckDB SQL — the same unrolled bit loop,
    textually (shared by the zo3 oracle)."""
    exprs = list(exprs)
    k = len(exprs)
    bits = _nd_bits(k, bits)
    terms = []
    for d, e in enumerate(exprs):
        x = f"({e} & {(1 << bits) - 1})"
        for i in range(bits):
            terms.append(f"((({x} >> {i}) & 1) << {i * k + d})")
    return "(" + " | ".join(terms) + ")"


def _zvalue_sql(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """The identical curve arithmetic as DuckDB SQL (shared by the zo1
    oracle) — one spread expression per dimension, textually unrolled."""

    def spread(expr: str) -> str:
        x = f"({expr} & {(1 << bits) - 1})"
        for shift, mask in _SPREAD:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    return f"({spread(a)} | ({spread(b)} << 1))"


def _quantized(col: str, lo, hi, bits: int) -> Column:
    """Min-max scale a numeric column into [0, 2^bits): raw key values
    rarely fill the bit budget (a 100-supplier dim masked raw would leave
    the top 9 bits constant and the curve would degenerate to a
    partkey-only sort), so the LAYOUT quantizes each dimension over its
    observed range first. The zo1 ORACLE query deliberately uses raw
    masked values instead: exact integers, no scaling float in the
    cross-engine path."""
    if hi == lo:
        return F.lit(0).cast("long")
    scale = ((1 << bits) - 1) / float(hi - lo)
    return F.floor((F.col(col) - F.lit(lo)).cast("double") * F.lit(scale)).cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    *cols: str,
    n_files: int = 32,
    bits: int | None = None,
) -> DataFrame:
    """Write ``df`` as ``n_files`` parquet files under ``<path>/data``
    clustered along the z-curve of k >= 2 ``cols``, each dimension
    min-max-quantized into the full bit budget first: ONE stats pass (all
    dims' min/max in a single aggregate — the same driver scalars any
    range-clustered write computes) + one range shuffle on z + an
    in-partition sort, so every file owns a contiguous z-range — a tight
    min/max box in EVERY clustered column. The z column itself is dropped
    (it is derivable; layouts should not leak helper columns).

    Also writes ``<path>/manifest``: one row per data file with its row
    count, byte size, and per-dimension min/max — derived from the written
    files' ``_metadata`` with one hash aggregate (the write_shards
    pattern, never a driver listing loop). :func:`read_zordered` prunes by
    it, so a box query opens only the files whose stats-box intersects —
    at 100k-file scale one small manifest read beats touching every
    parquet footer. Returns the manifest."""
    cols = list(cols)
    bits = _nd_bits(len(cols), bits)
    n_rows, *stats = df.agg(
        F.count(F.lit(1)), *[f(c) for c in cols for f in (F.min, F.max)]
    ).first()
    q = [
        _quantized(c, stats[2 * i], stats[2 * i + 1], bits)
        for i, c in enumerate(cols)
    ]
    spark = df.sparkSession
    # The range exchange places file boundaries from a reservoir sample of
    # 100 keys per file, seeded by the sampled RDD's id: the boundaries (and
    # how many files a box query opens) moved with whatever ran earlier in
    # the session. Asking for a key per input row makes the sample every row
    # up to Spark's own 1e6-key sample cap, so the boundaries are exact
    # quantiles of z there and a bounded sample beyond it.
    with scoped_conf(
        spark,
        "spark.sql.execution.rangeExchange.sampleSizePerPartition",
        str(max(100, -(-n_rows // n_files))),
    ):
        (
            df.withColumn("_z", zvalue_nd(q, bits))
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(f"{path}/data")
        )
    manifest = (
        spark.read.parquet(f"{path}/data")
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_size").alias("n_bytes"),
            *cols,
        )
        .groupBy("file", "n_bytes")
        .agg(
            F.count("*").alias("n_rows"),
            *[
                m(c).alias(f"{m.__name__}_{c}")
                for c in cols
                for m in (F.min, F.max)
            ],
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    spark.catalog.refreshByPath(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest")


def read_zordered(spark: SparkSession, path: str, box: dict) -> DataFrame:
    """Data-skipping read of a :func:`write_zordered` layout: serve the
    conjunctive box query ``{col: (lo, hi), ...}`` by consulting the
    manifest's per-file min/max and handing the scan ONLY the files whose
    stats-box intersects — skipped files are never listed, opened, or
    footer-read (the read_shards_pruned contract). Row-for-row equal to a
    full scan with the same predicate for ANY layout (stats are sound
    regardless of clustering, and the residual filter still applies); the
    SKIP RATE is the z-curve's doing — under it a narrow box in ANY
    clustered dimension prunes most files, which a one-column sort only
    does for its own column. The manifest collect is file-list metadata at
    file-count cardinality, never data."""
    m = spark.read.parquet(f"{path}/manifest")
    dims = {c[4:] for c in m.columns if c.startswith("min_")}
    unknown = set(box) - dims
    if unknown:
        raise ValueError(
            f"read_zordered: {sorted(unknown)} not among this layout's "
            f"clustered dimensions {sorted(dims)} — a non-clustered column "
            "has no per-file stats here; filter the returned frame instead"
        )
    hit = m
    residual = F.lit(True)
    for c, (lo, hi) in box.items():
        hit = hit.where((F.col(f"max_{c}") >= lo) & (F.col(f"min_{c}") <= hi))
        residual = residual & F.col(c).between(lo, hi)
    files = [r.file for r in hit.select("file").collect()]
    if not files:
        return spark.read.parquet(f"{path}/data").where(F.lit(False)).where(residual)
    return spark.read.option("basePath", f"{path}/data").parquet(*files).where(residual)


ZO1_GATE_BITS = 5  # 5 bits/dim -> z in [0, 1024): bounded output, and the
# LOW key bits vary at every testdata scale (bucketing raw z by its HIGH
# bits instead degenerates to one bucket while keys are small — probed)


def zorder_curve_stats(lineitem: DataFrame, bits: int = ZO1_GATE_BITS) -> DataFrame:
    """zo1 — the curve arithmetic under the exact-oracle gate: z-values of
    (l_partkey, l_suppkey) masked to ``bits`` per dimension, one output
    row per occupied curve point: ``(z_bucket, n_rows, min_part, max_part,
    min_supp, max_supp)``. This runs the full spread/interleave chain
    (the same :func:`zvalue` the layout writer uses) over exact BIGINTs,
    replicated verbatim in the DuckDB twin — the gate locks the
    arithmetic; the LAYOUT locality claim (tight per-file boxes under
    min-max quantization) is the pytest file-stats test's job."""
    z = zvalue(F.col("l_partkey"), F.col("l_suppkey"), bits)
    return (
        lineitem.select(z.alias("z_bucket"), "l_partkey", "l_suppkey")
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("z_bucket")
    )


_ZO1_SQL = f"""
WITH z AS (
  SELECT {_zvalue_sql("l_partkey", "l_suppkey", ZO1_GATE_BITS)} AS z_bucket,
         l_partkey, l_suppkey
  FROM lineitem
)
SELECT z_bucket, count(*) AS n_rows,
       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
FROM z GROUP BY z_bucket ORDER BY z_bucket
"""


ZO3_GATE_BITS = 4  # 3 dims x 4 bits -> z in [0, 4096): bounded output, and
# the LOW key bits vary at every testdata scale (note 56's rule, zo1's
# rationale at k=3). Third dim l_linenumber spans 1..7 — fully inside 4
# raw bits, so the masked oracle exercises a genuinely 3-dim curve.


def zorder_curve_stats_3d(lineitem: DataFrame, bits: int = ZO3_GATE_BITS) -> DataFrame:
    """zo3 — the k-dim curve arithmetic under the exact-oracle gate:
    z-values of (l_partkey, l_suppkey, l_linenumber) masked to ``bits``
    per dimension, one output row per occupied curve point. Runs the same
    unrolled bit-loop interleave :func:`write_zordered` uses for k >= 3
    (the k=2 magic spread is zo1's gate), replicated verbatim in the
    DuckDB twin — the gate locks the arithmetic; the k=3 LAYOUT locality
    claim is the pytest file-stats test's job."""
    z = zvalue_nd(
        [F.col("l_partkey"), F.col("l_suppkey"), F.col("l_linenumber")], bits
    )
    return (
        lineitem.select(z.alias("z_bucket"), "l_partkey", "l_suppkey", "l_linenumber")
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
            F.min("l_linenumber").alias("min_line"),
            F.max("l_linenumber").alias("max_line"),
        )
        .orderBy("z_bucket")
    )


_ZO3_SQL = f"""
WITH z AS (
  SELECT {_zvalue_nd_sql(["l_partkey", "l_suppkey", "l_linenumber"], ZO3_GATE_BITS)} AS z_bucket,
         l_partkey, l_suppkey, l_linenumber
  FROM lineitem
)
SELECT z_bucket, count(*) AS n_rows,
       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
       min(l_linenumber) AS min_line, max(l_linenumber) AS max_line
FROM z GROUP BY z_bucket ORDER BY z_bucket
"""


# zo2's box: the bottom 1/8 of each clustered dimension's observed range —
# derived from min/max (integer-exact in both engines) so the query keeps
# its meaning at every scale (note 29/51: key domains grow with sf; an
# absolute box would drift from "narrow" to "empty" or "everything").
_ZO2_DIV = 8


def zorder_pruned_read(spark: SparkSession, lineitem: DataFrame) -> DataFrame:
    """zo2 — the write->prune->read lifecycle under the exact gate: write
    lineitem z-ordered on (l_partkey, l_suppkey) into a fresh staging dir,
    then :func:`read_zordered` a narrow 2-D box out of it. The result is
    layout-independent (pruning is sound for any clustering), which is
    exactly what makes it oracle-checkable — the DuckDB twin is a plain
    box filter on the source table; the pytest locks the part that SQL
    can't see (files actually opened <= half the layout)."""
    import tempfile

    base = tempfile.mkdtemp(prefix="samsa-zo2-")
    li = lineitem.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    write_zordered(li, base, "l_partkey", "l_suppkey", n_files=16)
    pk0, pk1, sk0, sk1 = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).first()
    box = {
        "l_partkey": (pk0, pk0 + (pk1 - pk0) // _ZO2_DIV),
        "l_suppkey": (sk0, sk0 + (sk1 - sk0) // _ZO2_DIV),
    }
    return read_zordered(spark, base, box)


_ZO2_SQL = f"""
WITH s AS (
  SELECT min(l_partkey) AS pk0, max(l_partkey) AS pk1,
         min(l_suppkey) AS sk0, max(l_suppkey) AS sk1
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
FROM lineitem, s
WHERE l_partkey BETWEEN pk0 AND pk0 + (pk1 - pk0) // {_ZO2_DIV}
  AND l_suppkey BETWEEN sk0 AND sk0 + (sk1 - sk0) // {_ZO2_DIV}
"""


def build_queries():
    def _zo1(spark: SparkSession, sf: str) -> DataFrame:
        return zorder_curve_stats(tables.load(spark, sf, "lineitem"))

    def _zo2(spark: SparkSession, sf: str) -> DataFrame:
        return zorder_pruned_read(spark, tables.load(spark, sf, "lineitem"))

    def _zo3(spark: SparkSession, sf: str) -> DataFrame:
        return zorder_curve_stats_3d(tables.load(spark, sf, "lineitem"))

    return {
        "zo1_zorder_curve": (_zo1, _ZO1_SQL),
        "zo2_zorder_pruned_read": (_zo2, _ZO2_SQL),
        "zo3_zorder_curve_3d": (_zo3, _ZO3_SQL),
    }

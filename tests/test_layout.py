"""Z-order layout (layout.py): curve arithmetic against a pure-Python
Morton model and the DuckDB oracle, plus the claim that actually matters —
a z-clustered parquet layout gives tight per-file min/max boxes in BOTH
dimensions, so a small 2-D box query stats-prunes most files where a
one-column sort cannot."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tests.oracle import check_query


def _morton(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zo1_oracle_match(spark):
    ok, msg = check_query(spark, "zo1_zorder_curve", SF_SMALL)
    assert ok, msg


def test_zvalue_matches_python_morton(spark):
    """The six shift/mask rounds must equal the textbook bit loop on edge
    and interior values (0, max, asymmetric, both-dims-set)."""
    from samsa_spark.operators.layout import zvalue

    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (65535, 0), (7, 65535)]
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", zvalue(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == _morton(r.a, r.b), (r.a, r.b, r.z)


def test_zvalue_property_random_pairs(spark):
    """Randomized parity with the textbook bit loop + the tile property
    that makes the layout work: two points sharing their top j bits in
    BOTH dims share the top 2j bits of z (same curve tile)."""
    import random

    rnd = random.Random(13)
    from samsa_spark.operators.layout import zvalue

    cases = [(rnd.randrange(1 << 16), rnd.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", zvalue(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == _morton(r.a, r.b)
    for a, b in cases[:50]:
        for j in (2, 5, 9):
            a2 = (a & ~((1 << (16 - j)) - 1)) | rnd.randrange(1 << (16 - j))
            b2 = (b & ~((1 << (16 - j)) - 1)) | rnd.randrange(1 << (16 - j))
            assert _morton(a, b) >> (32 - 2 * j) == _morton(a2, b2) >> (32 - 2 * j)


def test_zvalue_masks_high_bits(spark):
    """Inputs past 2^bits must be masked, not overflow (ANSI) or collide
    structurally: zvalue(x + 2^16, y) == zvalue(x, y)."""
    from samsa_spark.operators.layout import zvalue

    df = spark.createDataFrame([(70000, 3)], "a long, b long").select(
        zvalue(F.col("a"), F.col("b")).alias("z")
    )
    assert df.collect()[0].z == _morton(70000 & 0xFFFF, 3)


def _stats_overlap_fraction(path: str, box_a, box_b, col_a: str, col_b: str) -> float:
    """Fraction of part files whose per-file (min, max) box intersects the
    query box — exactly what row-group/file stats pruning can skip."""
    import os

    import pyarrow.parquet as pq

    parts = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert parts
    hit = 0
    for p in parts:
        md = pq.ParquetFile(p).metadata
        mins = {col_a: None, col_b: None}
        maxs = {col_a: None, col_b: None}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in mins and col.statistics is not None:
                    lo, hi = col.statistics.min, col.statistics.max
                    mins[name] = lo if mins[name] is None else min(mins[name], lo)
                    maxs[name] = hi if maxs[name] is None else max(maxs[name], hi)
        if (
            mins[col_a] <= box_a[1]
            and maxs[col_a] >= box_a[0]
            and mins[col_b] <= box_b[1]
            and maxs[col_b] >= box_b[0]
        ):
            hit += 1
    return hit / len(parts)


def test_zordered_layout_prunes_2d_box_queries(spark, tmp_path):
    """Write the same lineitem projection (a) sorted by l_partkey alone and
    (b) z-ordered on (l_partkey, l_suppkey), 16 files each. The one-column
    sort prunes partkey boxes perfectly but is USELESS for the second
    dimension (every file spans the whole suppkey range); the z layout
    must prune BOTH: a narrow-suppkey box overlaps a strictly smaller file
    fraction than linear's all-files, and a narrow-partkey box still
    prunes most files (the curve's trade: neither dimension is perfect,
    both are good)."""
    from samsa_spark import tables
    from samsa_spark.operators.layout import write_zordered

    li = tables.load(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pk_lo, pk_hi = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    sk_lo, sk_hi = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    narrow_pk = (pk_lo, pk_lo + max(1, (pk_hi - pk_lo) // 20))  # ~5% of partkeys
    narrow_sk = (sk_lo, sk_lo + max(1, (sk_hi - sk_lo) // 20))  # ~5% of suppkeys
    full_pk, full_sk = (pk_lo, pk_hi), (sk_lo, sk_hi)
    linear = str(tmp_path / "linear")
    zpath = str(tmp_path / "zorder")
    (
        li.repartitionByRange(16, F.col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(linear)
    )
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=16)

    # second-dimension box: linear cannot prune at all, z must
    lin_sk = _stats_overlap_fraction(linear, full_pk, narrow_sk, "l_partkey", "l_suppkey")
    z_sk = _stats_overlap_fraction(zpath + "/data", full_pk, narrow_sk, "l_partkey", "l_suppkey")
    assert lin_sk > 0.9, f"one-column sort unexpectedly pruned dim 2: {lin_sk}"
    assert z_sk < lin_sk and z_sk <= 0.5, (z_sk, lin_sk)

    # first-dimension box: z keeps pruning most files (linear is perfect here)
    z_pk = _stats_overlap_fraction(zpath + "/data", narrow_pk, full_sk, "l_partkey", "l_suppkey")
    assert z_pk <= 0.5, z_pk

    # and the layout is lossless: same rows back
    a = spark.read.parquet(zpath + "/data").groupBy().agg(
        F.count("*"), F.sum("l_partkey"), F.sum("l_suppkey")
    ).collect()
    b = li.groupBy().agg(F.count("*"), F.sum("l_partkey"), F.sum("l_suppkey")).collect()
    assert a == b


def _morton_nd(vals, k: int, bits: int) -> int:
    z = 0
    for d, v in enumerate(vals):
        v &= (1 << bits) - 1
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * k + d)
    return z


def test_zo2_and_zo3_oracle_match(spark):
    for name in ("zo2_zorder_pruned_read", "zo3_zorder_curve_3d"):
        ok, msg = check_query(spark, name, SF_SMALL)
        assert ok, msg


def test_zvalue_nd_matches_python_model(spark):
    """The unrolled k-dim bit loop against the textbook model at k=3 and
    k=4 (edge + interior values), and the k=2 fast path must equal the
    magic-spread zvalue exactly."""
    import random

    from samsa_spark.operators.layout import zvalue, zvalue_nd

    rnd = random.Random(14)
    for k, bits in ((3, 4), (3, 16), (4, 15)):
        cases = [tuple(0 for _ in range(k)), tuple((1 << bits) - 1 for _ in range(k))]
        cases += [tuple(rnd.randrange(1 << bits) for _ in range(k)) for _ in range(50)]
        schema = ", ".join(f"c{d} long" for d in range(k))
        df = spark.createDataFrame(cases, schema).select(
            *[f"c{d}" for d in range(k)],
            zvalue_nd([F.col(f"c{d}") for d in range(k)], bits).alias("z"),
        )
        for r in df.collect():
            vals = [r[f"c{d}"] for d in range(k)]
            assert r.z == _morton_nd(vals, k, bits), (k, bits, vals, r.z)
    pairs = [(rnd.randrange(1 << 16), rnd.randrange(1 << 16)) for _ in range(100)]
    df = spark.createDataFrame(pairs, "a long, b long").select(
        zvalue(F.col("a"), F.col("b")).alias("z2"),
        zvalue_nd([F.col("a"), F.col("b")]).alias("znd"),
    )
    assert all(r.z2 == r.znd for r in df.collect())


def test_zvalue_nd_bit_budget_validation():
    """k*bits must stay within signed BIGINT; bits=None picks the widest
    fit per dimension."""
    import pytest

    from samsa_spark.operators.layout import _nd_bits

    assert _nd_bits(2, None) == 16
    assert _nd_bits(3, None) == 16
    assert _nd_bits(4, None) == 15
    assert _nd_bits(8, None) == 7
    with pytest.raises(ValueError, match="63"):
        _nd_bits(4, 16)
    with pytest.raises(ValueError, match="dimensions"):
        _nd_bits(1, 8)


def test_read_zordered_prunes_files_and_matches_full_scan(spark, tmp_path):
    """The round-13 verdict's ask: a narrow SECOND-dimension box through
    read_zordered must (a) OPEN at most half the layout's files (asserted
    on the scan's actual inputFiles, not just stats), and (b) return rows
    exactly equal to a full scan with the same predicate."""
    from samsa_spark import tables
    from samsa_spark.operators.layout import read_zordered, write_zordered

    li = tables.load(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    path = str(tmp_path / "z2")
    manifest = write_zordered(li, path, "l_partkey", "l_suppkey", n_files=16)
    n_files = manifest.count()
    assert n_files == 16

    sk_lo, sk_hi = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    box = {"l_suppkey": (sk_lo, sk_lo + max(1, (sk_hi - sk_lo) // 20))}
    pruned = read_zordered(spark, path, box)
    opened = pruned.inputFiles()
    assert 0 < len(opened) <= n_files / 2, (len(opened), n_files)

    full = spark.read.parquet(path + "/data").where(
        F.col("l_suppkey").between(*box["l_suppkey"])
    )
    key = lambda r: (r.l_orderkey, r.l_linenumber)
    assert sorted(pruned.collect(), key=key) == sorted(full.collect(), key=key)

    # empty box: no file intersects, result is empty but well-formed
    empty = read_zordered(spark, path, {"l_suppkey": (sk_hi + 10, sk_hi + 20)})
    assert empty.count() == 0
    assert set(empty.columns) == set(li.columns)

    # a non-clustered column has no stats here — fail actionably
    import pytest

    with pytest.raises(ValueError, match="clustered dimensions"):
        read_zordered(spark, path, {"l_orderkey": (0, 10)})


def test_zordered_layout_k3_prunes_every_dimension(spark, tmp_path):
    """k=3 layout locality (round-13 verdict task 8): a narrow box in ANY
    single clustered dimension must stats-prune at least half the files —
    real table layouts cluster 3-4 columns and each must keep pruning."""
    from samsa_spark import tables
    from samsa_spark.operators.layout import read_zordered, write_zordered

    li = tables.load(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )
    path = str(tmp_path / "z3")
    # l_linenumber spans 1..7 — a deliberately tiny-range dim, the case
    # _quantized must spread into the full bit budget (note 56).
    manifest = write_zordered(
        li, path, "l_partkey", "l_suppkey", "l_linenumber", n_files=32
    )
    n_files = manifest.count()
    bounds = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    boxes = {
        "l_partkey": (bounds[0], bounds[0] + max(1, (bounds[1] - bounds[0]) // 20)),
        "l_suppkey": (bounds[2], bounds[2] + max(1, (bounds[3] - bounds[2]) // 20)),
        "l_linenumber": (7, 7),  # ~1/7 of rows; rare enough to prune
    }
    for col, (lo, hi) in boxes.items():
        pruned = read_zordered(spark, path, {col: (lo, hi)})
        opened = len(pruned.inputFiles())
        # write_zordered cuts file boundaries at exact quantiles of z (its
        # range sample covers every row), so the count does not depend on
        # what ran earlier in the session
        assert opened <= n_files / 2, (col, opened, n_files)
        got = pruned.count()
        want = li.where(F.col(col).between(lo, hi)).count()
        assert got == want, (col, got, want)

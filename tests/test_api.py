"""StateTable facade: the samsa migration surface over batch operators."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import tempfile

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


def _events(spark):
    from samsa_spark import tables

    return tables.load(spark, SF_SMALL, "events")


def test_from_log_get_put_delete_roundtrip(spark):
    from samsa_spark.api import StateTable
    from samsa_spark.operators.state import compact_latest

    ev = _events(spark)
    thr = ev.agg({"event_id": "max"}).collect()[0][0] // 2
    half1 = ev.where(f"event_id <= {thr}")
    half2 = ev.where(f"event_id > {thr}")

    table = StateTable.from_log(half1)
    applied = table.apply(half2)

    want = {tuple(r) for r in compact_latest(ev).collect()}
    got = {tuple(r) for r in applied.to_df().collect()}
    assert got == want

    # point lookup: hit and miss
    some_user = ev.select("user_id").first().user_id
    hit = applied.get(some_user)
    assert hit is not None and hit["user_id"] == some_user
    assert applied.get(10**9) is None

    # delete
    pruned = applied.delete_where(F.col("last_event_type") == "error")
    assert pruned.to_df().where("last_event_type = 'error'").count() == 0


def test_save_and_load_bucketed(spark):
    from samsa_spark.api import StateTable

    ev = _events(spark)
    table = StateTable.from_log(ev)
    base = tempfile.mkdtemp(prefix="samsa-api-")
    path = os.path.join(base, "state")
    table.save_as(path, bucket_col="user_id")
    back = StateTable.load(spark, path)
    assert {tuple(r) for r in back.to_df().collect()} == {
        tuple(r) for r in table.to_df().collect()
    }
    # each bucket file is key-sorted too, and get serves from the buckets
    files = _row_group_ranges(path, "user_id")
    assert len(files) > 1
    _assert_disjoint_ascending(files)
    some = [r.user_id for r in back.to_df().select("user_id").limit(5).collect()]
    want = {k: _spark_get(back, k) for k in [*some, 10**9]}
    got = {}
    assert _jobs_in(spark, "samsa-bucketed-get", lambda: got.update({k: back.get(k) for k in want})) == []
    assert got == want and all(got[k] is not None for k in some)


# -- the footer-index read path of loaded tables ---------------------------------

TYPED_DDL = (
    "k bigint, s string, i int, d double, b boolean, dt date, ts timestamp, tsn timestamp_ntz, "
    "dec decimal(12,2), arr array<int>, m map<string,int>, st struct<x:int,y:string>, bin binary"
)


def _typed_rows(n: int) -> list[tuple]:
    """One row per key ``k = 3 * i`` (so ``3 * i + 1`` misses), every column
    type the read path converts, with NaN and NULLs mixed in; one row has a
    NULL key."""
    base_d, base_ts = datetime.date(2020, 1, 1), datetime.datetime(2021, 3, 1, 12, 0, 0)
    rows = []
    for i in range(n):
        rows.append((
            3 * i,
            f"s{i:05d}",
            None if i % 13 == 0 else i % 7,
            float("nan") if i % 5 == 0 else i / 3,
            None if i % 11 == 0 else i % 2 == 0,
            base_d + datetime.timedelta(days=i),
            base_ts + datetime.timedelta(seconds=i, microseconds=i),
            base_ts + datetime.timedelta(minutes=i, microseconds=7),
            decimal.Decimal(i) / 100,
            None if i % 17 == 0 else [i, None, -i],
            {"a": i, "b": None},
            (i, None if i % 3 == 0 else f"n{i}"),
            bytes([i % 256, 0, 255]),
        ))
    rows.append((None, "null-key", *rows[1][2:]))
    return rows


@pytest.fixture(scope="module")
def typed_tables(spark, tmp_path_factory):
    """The typed rows saved by save_as over 3 write tasks in small row
    groups, loaded once with key ``k`` and once with key ``(k, s)``."""
    from samsa_spark import api
    from samsa_spark.api import StateTable

    path = str(tmp_path_factory.mktemp("typed") / "t")
    df = spark.createDataFrame(_typed_rows(3000), TYPED_DDL).repartition(3)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(api, "ROW_GROUP_BYTES", 1 << 14)
        StateTable(df, keys=("k",)).save_as(path)
    return path, StateTable.load(spark, path, keys=("k",)), StateTable.load(spark, path, keys=("k", "s"))


def _spark_get(table, *key_values):
    cond = None
    for k, v in zip(table.keys, key_values):
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    rows = table.to_df().where(cond).limit(1).collect()
    return rows[0].asDict() if rows else None


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_get_equals_spark_on_every_column_type(spark, typed_tables):
    """Hits, misses, a NULL key, keys of a mismatched type and a two-column
    key: the footer read gives what ``where(...).limit(1).collect()`` does,
    value for value (repr: NaN, Decimal scale, naive datetimes)."""
    _, by_k, by_ks = typed_tables
    probes = [(0,), (3,), (15,), (2997,), (8997,), (4,), (9000,), (-3,), (None,), ("3",), (3.0,), (2**40,)]
    for key in probes:
        got = by_k.get(*key)
        assert repr(got) == repr(_spark_get(by_k, *key)), key
    for key in [(3, "s00001"), (3, "s00002"), (4, "s00001"), (8997, "s02999"), (None, "null-key"), ("3", "s00001")]:
        got = by_ks.get(*key)
        assert repr(got) == repr(_spark_get(by_ks, *key)), key
    assert by_k.get(15)["d"] != by_k.get(15)["d"]  # NaN made the trip
    assert by_k.get(3 * 13)["i"] is None and by_k.get(None) is None


def test_footer_get_runs_no_spark_job(spark, typed_tables):
    """A loaded table's get, hit or miss, starts no Spark job; the same get
    on a table with no files behind it does (the check can see jobs)."""
    from samsa_spark.api import StateTable

    _, by_k, by_ks = typed_tables

    def gets():
        assert by_k.get(3) is not None and by_k.get(4) is None
        assert by_ks.get(3, "s00001") is not None and by_ks.get(3, "x") is None

    assert _jobs_in(spark, "samsa-footer-get", gets) == []
    derived = StateTable(by_k.to_df(), keys=("k",))
    assert _jobs_in(spark, "samsa-spark-get", lambda: derived.get(3)) != []


def _row_group_ranges(path: str, key: str) -> list[list[tuple]]:
    """Per parquet file under ``path``, its row groups' (min, max) of
    ``key``, from the footers."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        md = pq.read_metadata(f)
        j = [md.schema.column(c).path for c in range(md.num_columns)].index(key)
        out.append([
            (md.row_group(g).column(j).statistics.min, md.row_group(g).column(j).statistics.max)
            for g in range(md.num_row_groups)
        ])
    return out


def test_save_as_writes_key_sorted_row_groups(spark, typed_tables):
    """Every file's row groups hold ascending, non-overlapping key ranges,
    so a hit reads at most one row group per file."""
    path, _, _ = typed_tables
    files = _row_group_ranges(path, "k")
    assert len(files) == 3 and all(len(groups) > 1 for groups in files)
    _assert_disjoint_ascending(files)


def _assert_disjoint_ascending(files: list[list[tuple]]) -> None:
    for groups in files:
        assert all(lo <= hi for lo, hi in groups)
        assert all(a[1] < b[0] for a, b in zip(groups, groups[1:])), groups


def test_get_falls_back_to_spark_when_files_lack_a_column(spark, tmp_path):
    """A loaded table whose files do not hold every column (here a partition
    directory column) is answered by the Spark query, correctly."""
    from samsa_spark.api import StateTable

    path = str(tmp_path / "parted")
    spark.createDataFrame([(i, i % 3, f"v{i}") for i in range(30)], "k bigint, part int, v string").write.partitionBy(
        "part"
    ).parquet(path)
    table = StateTable.load(spark, path, keys=("k",))
    got = {}
    assert _jobs_in(spark, "samsa-fallback-get", lambda: got.update(hit=table.get(4), miss=table.get(100))) != []
    assert got == {"hit": {"k": 4, "v": "v4", "part": 1}, "miss": None}

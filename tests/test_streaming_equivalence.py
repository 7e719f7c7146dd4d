"""The native last-writer-wins aggregate against the pandas fold.

``StatefulStream`` keeps plain and marker-tombstone state as a streaming
``max(struct(order..., value...[, _tombstoned]))`` aggregate and keeps the
pandas fold (``_build_fold``) for ``ttl``, ``eager_delete`` and checkpoints
the fold already wrote. Pinned here on seeded feeds, each split over 1-4
triggers:

- ``read_state`` equals the fold run over the same triggers for every key
  whose order tuples are unique and non-NULL, and equals the documented
  winner for every key: ties on the order tuple are broken by the payload
  (then the tombstone flag), and a NULL sorts below every value;
- the ``updates()`` contract: every key touched in a trigger emits one row,
  a key's emitted order never goes backwards, and ``replay_changelog`` of
  the rows equals ``read_state``;
- a checkpoint written by the fold resumes on the fold, with exact state
  and ``numRowsTotal`` equal to the reference key count.
"""

from __future__ import annotations

import contextlib
import os
import random
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.test_fold_properties import FakeState

KEY = "user_id"
ORDER = ("ts_us", "event_id")
VALUES = ("event_type", "value")
COLS = (KEY, *ORDER, *VALUES)
DDL = "user_id long, ts_us long, event_id long, event_type string, value double"
ARROW = pa.schema(
    [(KEY, pa.int64()), ("ts_us", pa.int64()), ("event_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64())]
)
TOMB = ("event_type", "error")
CONFIGS = {"plain": None, "marker": TOMB}
# (seed, triggers): every split from 1 to 4 triggers, under both configs
FEEDS = {"plain": ((8301, 1), (8302, 3)), "marker": ((8303, 2), (8304, 4))}


def _feed(seed: int, n: int, order_nulls: bool = True, eid0: int = 0) -> list[list[tuple]]:
    """A seeded keyed feed cut into ``n`` triggers: repeated keys within a
    trigger, out-of-order events across triggers and NULL payloads; with
    ``order_nulls``, also NULL order columns and equal order tuples carrying
    different payloads."""
    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error"]

    def maybe(v, p, on=True):
        return None if on and rng.random() < p else v

    events = []
    for eid in range(eid0, eid0 + 100):
        events.append((
            rng.randrange(20),
            maybe(rng.randrange(40), 0.03, order_nulls),
            maybe(eid, 0.03, order_nulls),
            maybe(rng.choice(types), 0.1),
            maybe(rng.choice([0.5, 1.0, 2.5, 7.0]), 0.2),
        ))
    if order_nulls:
        for k, ts, eid, _, _ in rng.sample(events, 6):
            events.append((k, ts, eid, rng.choice(types + [None]), rng.choice([None, 3.0, 9.5])))
    rng.shuffle(events)
    cuts = sorted(rng.sample(range(1, len(events)), n - 1))
    return [events[lo:hi] for lo, hi in zip([0, *cuts], [*cuts, len(events)])]


def _spark_key(row: tuple) -> tuple:
    """Spark's struct ordering for the documented winner: field by field,
    NULL below every value."""
    return tuple((0,) if v is None else (1, v) for v in row)


def _documented_state(triggers, tombstone) -> dict:
    """Per key, the max of (order..., value...[, tombstoned]) under Spark's
    ordering; marker-deleted keys dropped."""
    best = {}
    for trig in triggers:
        for k, *rest in trig:
            cand = tuple(rest)
            if tombstone is not None:
                cand += (cand[2] == tombstone[1],)
            if k not in best or _spark_key(cand) > _spark_key(best[k]):
                best[k] = cand
    if tombstone is None:
        return best
    return {k: v[:-1] for k, v in best.items() if not v[-1]}


def _fold_state(triggers, tombstone, keys) -> dict:
    """The pandas fold, run per key over the same trigger batches."""
    from samsa_spark.streaming.state_stream import _build_fold

    fold = _build_fold(KEY, ORDER, VALUES, tombstone, False)
    states = {k: FakeState() for k in keys}
    for trig in triggers:
        for k in keys:
            rows = [r for r in trig if r[0] == k]
            if rows:
                pdf = pd.DataFrame(rows, columns=list(COLS)).astype({"ts_us": "int64", "event_id": "int64"})
                list(fold((k,), iter([pdf]), states[k]))
    out = {}
    for k, st in states.items():
        v = tuple(st.get)
        if tombstone is None:
            out[k] = v
        elif not v[-1]:
            out[k] = v[:-1]
    return out


def _clean_keys(triggers) -> set:
    """Keys whose order tuples are all non-NULL and pairwise distinct: the
    keys on which the fold's result does not depend on arrival order."""
    seen, bad = {}, set()
    for trig in triggers:
        for k, ts, eid, _, _ in trig:
            orders = seen.setdefault(k, set())
            if ts is None or eid is None or (ts, eid) in orders:
                bad.add(k)
            orders.add((ts, eid))
    return set(seen) - bad


def _write_triggers(src: str, triggers, start: int = 0) -> None:
    os.makedirs(src, exist_ok=True)
    for i, trig in enumerate(triggers, start):
        cols = list(zip(*trig))
        table = pa.table({c: list(v) for c, v in zip(COLS, cols)}, schema=ARROW)
        pq.write_table(table, os.path.join(src, f"t{i:02d}.parquet"))


def _stream_src(spark, src):
    from pyspark.sql.types import StructType

    from samsa_spark.streaming.sources import file_stream

    return file_stream(spark, src, StructType.fromDDL(DDL), max_files_per_trigger=1)


def _state(spark, chk) -> dict:
    from samsa_spark.streaming.state_stream import read_state

    return {r[0]: tuple(r[1:]) for r in read_state(spark, chk).collect()}


@contextlib.contextmanager
def _few_partitions(spark):
    """Two state partitions per fresh checkpoint: one RocksDB store each,
    and these feeds are a few dozen keys."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Every (config, seed) feed drained once through StatefulStream with a
    parquet changelog, one file per trigger."""
    from samsa_spark.streaming.state_stream import StatefulStream

    base = tmp_path_factory.mktemp("equiv")
    out = {}
    with _few_partitions(spark):
        for name, tomb in CONFIGS.items():
            for seed, n in FEEDS[name]:
                d = os.path.join(base, f"{name}-{seed}")
                triggers = _feed(seed, n)
                _write_triggers(f"{d}/src", triggers)
                ss = StatefulStream(spark, KEY, ORDER, VALUES, tombstone=tomb)
                q = ss.run_available_now(_stream_src(spark, f"{d}/src"), f"{d}/ck", f"{d}/cl")
                out[name, seed] = (triggers, d, q)
    return out


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_aggregate_equals_fold_and_documented_winner(spark, runs, name):
    tomb = CONFIGS[name]
    for seed, _ in FEEDS[name]:
        triggers, d, q = runs[name, seed]
        got = _state(spark, f"{d}/ck")
        assert got == _documented_state(triggers, tomb), seed
        keys = {r[0] for t in triggers for r in t}
        clean = _clean_keys(triggers)
        assert clean and clean != keys, "feed must mix clean keys with tie/NULL keys"
        fold = _fold_state(triggers, tomb, clean)
        assert {k: v for k, v in got.items() if k in clean} == {
            k: v for k, v in fold.items() if k in clean
        }, seed
        # the new path ran, on the engine: no pandas operator in the plan
        assert q.lastProgress.stateOperators[0].operatorName == "stateStoreSave"


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_updates_touched_keys_order_monotone_and_replay(spark, runs, name):
    from samsa_spark.streaming.state_stream import replay_changelog

    for seed, _ in FEEDS[name]:
        triggers, d, _ = runs[name, seed]
        rows = sorted(spark.read.parquet(f"{d}/cl").collect(), key=lambda r: r._batch_id)
        # every key touched in a trigger emits exactly one row
        per_batch = Counter(r._batch_id for r in rows)
        assert sorted(len({r[0] for r in t}) for t in triggers) == sorted(per_batch.values()), seed
        last = {}
        for r in rows:
            order = _spark_key((r.ts_us, r.event_id))
            assert order >= last.get(r.user_id, order), (seed, r)
            last[r.user_id] = order
        replay = {r[0]: tuple(r[1:]) for r in replay_changelog(spark, f"{d}/cl", KEY).select(*COLS).collect()}
        assert replay == _state(spark, f"{d}/ck"), seed


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_fold_checkpoint_resumes_on_fold(spark, name, tmp_path):
    """A checkpoint the fold wrote resumes on the fold (Spark refuses a
    different operator on it) and ends exact; numRowsTotal counts every key
    (marker-deleted keys keep their high-water row). The feed carries NULL
    payloads, which state must hold as NULL, not as pandas' NaN; its order
    tuples are unique and non-NULL, on which the fold's winner does not
    depend on arrival order."""
    from samsa_spark.streaming.state_stream import StatefulStream, _written_by_fold

    tomb = CONFIGS[name]
    first, rest = _feed(8310, 1, order_nulls=False), _feed(8311, 2, order_nulls=False, eid0=1000)
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    _write_triggers(src, first)
    ss = StatefulStream(spark, KEY, ORDER, VALUES, tombstone=tomb)
    with _few_partitions(spark):
        q = (
            ss._fold_updates(_stream_src(spark, src))
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert _written_by_fold(spark, ck)

    _write_triggers(src, rest, start=len(first))
    q = StatefulStream(spark, KEY, ORDER, VALUES, tombstone=tomb).run_available_now(_stream_src(spark, src), ck)
    op = q.lastProgress.stateOperators[0]
    assert op.operatorName == "applyInPandasWithState"
    feed = first + rest
    keys = {r[0] for t in feed for r in t}
    want = _documented_state(feed, tomb)
    assert any(v[-1] is None for v in want.values()), "feed must leave NULL values in state"
    assert _state(spark, ck) == want == _fold_state(feed, tomb, keys)
    assert op.numRowsTotal == len(keys)

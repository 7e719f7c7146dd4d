"""Tests for the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

``test_smoke`` runs all three workloads on tiny inputs (about a minute), with
every correctness check and with tracing on, so the per-layer path runs too.
The other tests are fast and need no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import DUP_TOKEN, DocSource, KeySpace, LatestTable, ShingleIndex, check_pairs, events, rng_for  # noqa: E402
from telemetry import Tracer  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS, Run  # noqa: E402


def test_smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seconds", "1", "--trace", "1"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert sorted(x["workload"] for x in lines) == sorted(WORKLOADS)
    for x in lines:
        assert x["correct"] is True, x["workload"]
        assert x["failed"] == 0 and x["attempted"] > 0
        assert set(x["metrics"]) == set(PER_LAYER)
        assert all(m["unit"] == PER_LAYER[k] for k, m in x["metrics"].items())


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_latest_table_is_last_writer_wins_by_ts_then_event_id():
    ref = LatestTable()
    ref.merge(pa.table({"user_id": [7, 7, 8], "ts_us": [5, 9, 1], "event_id": [1, 2, 3], "event_type": ["a", "b", "c"], "value": [1.0, 2.0, 3.0]}))
    ref.merge(pa.table({"user_id": [7, 8], "ts_us": [9, 0], "event_id": [0, 4], "event_type": ["x", "y"], "value": [4.0, 5.0]}))
    assert ref.get(7) == (7, 9, 2, "b", 2.0)  # same ts, larger event id wins
    assert ref.get(8) == (8, 1, 3, "c", 3.0)  # a later arrival with an older ts loses
    assert ref.get(9) is None
    keys = KeySpace(1, 100)
    for seed in range(5):  # the same number of misses whatever the seed
        assert sum(k >= 100 for k in keys.lookup_keys(rng_for(seed, 4), 14, 0.25)) == 4
    t = events(rng_for(1, 0), keys, 1000, 0)
    assert t.num_rows == 1000 and max(t.column("user_id").to_pylist()) < 100
    assert events(rng_for(1, 0), keys, 1000, 0).equals(t)


def test_check_pairs_flags_wrong_missing_and_extra_pairs():
    a = "k0 k1 k2 k3 k4 k5 k6 k7"
    b = "k0 k1 k2 k3 k4 k5 k6 k9"  # 5 of 7 shingles shared: Jaccard 5/7
    c = "z0 z1 z2 z3 z4"
    idx = ShingleIndex()
    idx.add([(1, a), (3, c)])
    want = idx.pairs([(2, b)])
    assert want == {(1, 2)}
    texts = {1: a, 2: b, 3: c}
    assert check_pairs([(1, 2, 5, round(5 / 7, 6))], want, texts) == []
    assert check_pairs([], want, texts)  # a pair above the threshold is missing
    assert check_pairs([(1, 2, 4, round(5 / 7, 6))], want, texts)  # wrong intersection
    assert check_pairs([(1, 2, 5, round(5 / 7, 6)), (2, 3, 0, 0.0)], want, texts)  # extra pair
    assert check_pairs([(1, 2, 5, round(5 / 7, 6)), (2, 99, 1, 1.0)], want, texts)  # unknown document


def test_a_failing_operation_is_counted_and_the_run_goes_on():
    run = Run(None, "", 1, 1.0, Tracer(True, "t"), {})
    times: list[float] = []
    with run.op("ok", times) as first:
        pass
    with run.op("boom", times) as second:
        raise RuntimeError("disk full")
    assert first.ok and not second.ok
    assert (run.attempted, run.failed) == (2, 1)
    assert len(times) == 1  # a failed operation leaves no sample
    assert run.errors == ["boom: RuntimeError: disk full"]
    assert run.problems == []  # a failure is not a wrong output


def test_documents_have_the_make_up_of_the_documents_table():
    src = DocSource(1, 21)
    docs = src.docs(2000, 0, [])
    lengths = [len(t.split(" ")) for _, t in docs]
    assert 10 <= min(lengths) and max(lengths) <= 101
    copies = [t for _, t in docs if t.endswith(" " + DUP_TOKEN)]
    assert 0.03 < len(copies) / len(docs) < 0.07
    assert DocSource(1, 21).docs(2000, 0, []) == docs

"""The three workloads. Each one drives samsa's save, recover and query
operations through the public API of one layer, checks every output against
the reference results of ``inputs``, and fills a ``Run`` with samples.

Each workload is a closed loop: one caller issues the next operation only
after the previous one returned. The load is a backlog drained as fast as
the program goes, not a fixed arrival rate: at 1-3k events/s with
multi-second triggers, telling a growing backlog from noise would take runs
far longer than the run budget.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from inputs import DocSource, KeySpace, LatestTable, ShingleIndex, check_pairs, events, rng_for
from telemetry import SPARK_FIGURES, Tracer, dir_stats, process_age_s

EVENT_DDL = "user_id bigint, ts_us bigint, event_id bigint, event_type string, value double"
ORDER = ("ts_us", "event_id")
VALUES = ("event_type", "value")

SIZES = {
    "full": {
        "cl_keys": 200_000, "cl_files": 2, "cl_file_events": 2500, "cl_rounds": 3,
        "cl_restart_events": 300, "cl_lookups_per_round": 14, "cl_warm_events": 1000, "cl_warm_lookups": 4,
        "ts_keys": 500_000, "ts_events": 2_000_000, "ts_batch": 20_000,
        "ts_gets_per_round": 14, "ts_rounds": 3, "ts_warm_gets": 8,
        "nd_corpus": 4000, "nd_batch": 100, "nd_probes_per_round": 2, "nd_rounds": 3, "nd_warm_probes": 1,
    },
    "smoke": {
        "cl_keys": 2000, "cl_files": 2, "cl_file_events": 300, "cl_rounds": 1,
        "cl_restart_events": 50, "cl_lookups_per_round": 4, "cl_warm_events": 100, "cl_warm_lookups": 1,
        "ts_keys": 2000, "ts_events": 20_000, "ts_batch": 500,
        "ts_gets_per_round": 4, "ts_rounds": 1, "ts_warm_gets": 2,
        "nd_corpus": 200, "nd_batch": 20, "nd_probes_per_round": 2, "nd_rounds": 1, "nd_warm_probes": 1,
    },
}
MISS_SHARE = 0.25
# a StateTable's columns, in the order of LatestTable.COLS
TABLE_COLS = ("user_id", "last_ts_us", "last_event_id", "last_event_type", "last_value")

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "recovery_s": "s",
    "lookup_p50_ms": "ms",
}

PHASES = ("ingest", "recovery", "lookup")

# name -> unit. A workload reports 0 for a layer it does not call.
PER_LAYER = {
    "session.start_ms": "ms",
    "sources.offset_ms": "ms",
    "sources.input_rows": "count",
    "state_stream.add_batch_ms": "ms",
    "state_stream.key_groups": "count",
    "state_stream.triggers": "count",
    "state_stream.executor_cpu_ms": "ms",
    "state_stream.plan_ms": "ms",
    "state_stream.wal_ms": "ms",
    "state_stream.store.commit_ms": "ms",
    "state_stream.store.flush_ms": "ms",
    "state_stream.store.rows_total": "count",
    "state_stream.store.checkpoint_bytes": "bytes",
    "state_stream.store.snapshots": "count",
    "state_stream.store.memory_bytes": "bytes",
    "state_stream.changelog.bytes": "bytes",
    "state_stream.changelog.files": "count",
    "state_stream.changelog.rows": "count",
    "state_stream.replay_changelog_ms": "ms",
    "state_stream.restart.first_batch_ms": "ms",
    "state_stream.restart.add_batch_ms": "ms",
    "state_stream.restart.plan_ms": "ms",
    "state_stream.read_state.scan_ms": "ms",
    "state_stream.read_state.tasks_per_lookup": "count",
    "state_stream.read_state.lookup_p95_ms": "ms",
    "api.from_log_ms": "ms",
    "api.save_as_ms": "ms",
    "api.apply_save_ms": "ms",
    "api.load_ms": "ms",
    "api.get_p95_ms": "ms",
    "api.get_input_bytes": "bytes",
    "api.get_hits": "count",
    "api.get_misses": "count",
    "operators.state.executor_cpu_ms": "ms",
    "operators.state.shuffle_write_bytes": "bytes",
    "index.save_dedup_ms": "ms",
    "index.query_dedup_ms": "ms",
    "index.append_dedup_ms": "ms",
    "index.unseen_fraction": "fraction",
    "index.probe_p95_ms": "ms",
    "operators.dedup.shuffle_read_bytes": "bytes",
    "operators.dedup.executor_cpu_ms": "ms",
    "operators.dedup.pairs": "count",
    **{
        f"spark.{p}.{f}": ("count" if f in ("jobs", "stages", "tasks") else "bytes" if f.endswith("bytes") else "ms")
        for p in PHASES
        for f in SPARK_FIGURES
    },
    "peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "python_workers.peak_rss_mb": "MB",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p95(xs):
    """Nearest-rank 95th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-95 * len(s) // 100) - 1))]


class Op:
    ok = False


class Run:
    """One workload run: session, work directory, tracer, the timed window and
    the samples the end-to-end metrics are made from."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer, sizes: dict) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.sizes = sizes
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.problems: list[str] = []
        self.setup_s = None
        self.deadline = None
        self.ingest_events = 0
        self.ingest_s: list[float] = []
        self.recovery_s: list[float] = []
        self.lookup_s: list[float] = []
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def begin_warm_up(self) -> None:
        self._warm0 = time.time()

    def start_timed(self) -> None:
        """Marks the first timed operation: set-up ends here."""
        self.setup_s = process_age_s()
        self.deadline = time.perf_counter() + self.seconds
        self.tr.add_span("setup.warm_up", self._warm0, time.time())

    def time_left(self, need: float = 0.0) -> bool:
        """Whether an operation or round expected to take ``need`` seconds
        still ends inside the timed window."""
        return time.perf_counter() + need < self.deadline

    @contextmanager
    def untimed(self):
        """Checks and input writes inside the timed window: their time is
        added back to the deadline."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.deadline += time.perf_counter() - t0

    @contextmanager
    def op(self, name: str, out: list | None = None):
        """One timed operation. One that raises is counted in ``failed``, its
        error is kept, and the run goes on; the yielded ``Op`` says whether
        the operation returned, so that what depends on it can be skipped."""
        self.attempted += 1
        op = Op()
        try:
            with self.tr.timed(name, out):
                yield op
            op.ok = True
        except Exception as e:  # noqa: BLE001  any error of the program is a failed operation
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e).strip()[:500]}")

    def check(self, what: str, problems: list[str]) -> None:
        self.problems.extend(f"{what}: {p}" for p in problems)

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "ingest_events_per_s": self.ingest_events / sum(self.ingest_s) if self.ingest_s else 0.0,
            "recovery_s": median(self.recovery_s),
            "lookup_p50_ms": median(self.lookup_s) * 1000.0,
        }


def _compare_row(key, got: tuple | None, want: tuple | None) -> list[str]:
    if got == want:
        return []
    return [f"key {key}: got {got}, expected {want}"]


# -- changelog_ingest ----------------------------------------------------------


def changelog_ingest(run: Run) -> None:
    """StatefulStream over a file backlog with a parquet changelog, then
    restarts from the checkpoint, then point lookups through read_state."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType
    from samsa_spark.streaming.sources import file_stream
    from samsa_spark.streaming.state_stream import StatefulStream, read_state, replay_changelog

    S, spark, tr = run.sizes, run.spark, run.tr
    schema = StructType.fromDDL(EVENT_DDL)
    keys = KeySpace(run.seed, S["cl_keys"])

    def drain(d: str):
        ss = StatefulStream(spark, "user_id", ORDER, VALUES, store="rocksdb")
        src = file_stream(spark, f"{d}/src", schema, max_files_per_trigger=1)
        return ss.run_available_now(src, f"{d}/ck", f"{d}/cl")

    def write(d: str, name: str, table) -> None:
        os.makedirs(f"{d}/src", exist_ok=True)
        pq.write_table(table, f"{d}/src/{name}.parquet")

    def check(d: str, ref: LatestTable, q, what: str) -> None:
        want = ref.rows()
        got = sorted(tuple(r) for r in read_state(spark, f"{d}/ck").collect())
        with tr.timed("state_stream.replay_changelog"):
            replay = sorted(tuple(r) for r in replay_changelog(spark, f"{d}/cl", "user_id").select("user_id", *ORDER, *VALUES).collect())
        rows_total = q.lastProgress.stateOperators[0].numRowsTotal
        probs = []
        if got != want:
            probs.append(f"read_state has {len(got)} rows, reference {len(want)}, first difference {next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)}")
        if replay != want:
            probs.append(f"replay_changelog has {len(replay)} rows, reference {len(want)}")
        if rows_total != len(want):
            probs.append(f"numRowsTotal {rows_total}, reference {len(want)} keys")
        run.check(f"changelog_ingest {what}", probs)

    # untimed warm-up: one trigger, one restart, lookups and a replay on a
    # store of its own, so the timed window starts with the stream, state
    # store, Python worker and read_state paths warm
    run.begin_warm_up()
    wd = run.path("cl-warm")
    wref = LatestTable()
    warm = events(rng_for(run.seed, 3, 0), keys, S["cl_warm_events"], 10**9)
    write(wd, "f0", warm)
    wref.merge(warm)
    with tr.timed("warm_up.first_trigger"):
        drain(wd)
    warm = events(rng_for(run.seed, 3, 1), keys, S["cl_restart_events"], 10**9 + S["cl_warm_events"])
    write(wd, "r0", warm)
    wref.merge(warm)
    with tr.timed("warm_up.restart"):
        q = drain(wd)
    for k in keys.lookup_keys(rng_for(run.seed, 3, 2), S["cl_warm_lookups"], MISS_SHARE):
        with tr.timed("warm_up.lookup"):
            rows = read_state(spark, f"{wd}/ck").where(F.col("user_id") == int(k)).collect()
        run.check("changelog_ingest warm-up lookup", _compare_row(k, tuple(rows[0]) if rows else None, wref.get(int(k))))
    check(wd, wref, q, "warm-up")

    d = run.path("cl")
    ref = LatestTable()
    eid = 0
    key_groups = 0
    for i in range(S["cl_files"]):
        t = events(rng_for(run.seed, 1, i), keys, S["cl_file_events"], eid)
        eid += t.num_rows
        key_groups += len(set(t.column("user_id").to_pylist()))
        write(d, f"f{i:03d}", t)
        ref.merge(t)

    run.start_timed()
    ingest_progress, restart_progress = [], []
    with tr.phase("ingest"), run.op("state_stream.run_available_now", run.ingest_s) as op:
        q = drain(d)
    if op.ok:
        run.ingest_events += S["cl_files"] * S["cl_file_events"]
        ingest_progress = list(q.recentProgress)
        with run.untimed():
            check(d, ref, q, "after ingest")
    with run.untimed():
        cl_bytes, cl_files = dir_stats(f"{d}/cl", ".parquet")
        ck_bytes, _ = dir_stats(f"{d}/ck")
    # rounds of one restart and a fixed number of lookups: a fixed minimum,
    # then more while the window has room for one. Each metric's samples are
    # spread over the whole window, so a spell of host contention moves one
    # sample of each median, not all of them.
    r = 0
    round_s = 0.0
    while r < S["cl_rounds"] or run.time_left(round_s):
        t_round = time.perf_counter()
        with run.untimed():
            t = events(rng_for(run.seed, 2, r), keys, S["cl_restart_events"], eid + r * S["cl_restart_events"])
            write(d, f"r{r:03d}", t)
            ref.merge(t)
        with tr.phase("recovery"), run.op("state_stream.restart", run.recovery_s) as op:
            q = drain(d)
        if op.ok:
            restart_progress.append(q.lastProgress)
            with run.untimed():
                check(d, ref, q, f"after restart {r}")
        for k in map(int, keys.lookup_keys(rng_for(run.seed, 4, r), S["cl_lookups_per_round"], MISS_SHARE)):
            with tr.phase("lookup"), run.op("state_stream.read_state.lookup", run.lookup_s) as op:
                rows = read_state(spark, f"{d}/ck").where(F.col("user_id") == k).collect()
            if op.ok:
                run.check("changelog_ingest lookup", _compare_row(k, tuple(rows[0]) if rows else None, ref.get(k)))
        r += 1
        round_s = time.perf_counter() - t_round

    if tr.enabled and ingest_progress and restart_progress:
        ops = [p.stateOperators[0] for p in ingest_progress]

        def dur(ps, k):
            return sum(p.durationMs.get(k, 0) for p in ps)

        run.layer.update(
            {
                "sources.offset_ms": dur(ingest_progress, "latestOffset"),
                "sources.input_rows": sum(p.numInputRows for p in ingest_progress),
                "state_stream.add_batch_ms": dur(ingest_progress, "addBatch"),
                "state_stream.key_groups": key_groups,
                "state_stream.triggers": len(ingest_progress),
                "state_stream.plan_ms": dur(ingest_progress, "queryPlanning"),
                "state_stream.wal_ms": dur(ingest_progress, "walCommit") + dur(ingest_progress, "commitOffsets"),
                "state_stream.store.commit_ms": sum(o.commitTimeMs for o in ops),
                "state_stream.store.flush_ms": sum(o.customMetrics.get("rocksdbCommitFlushLatency", 0) for o in ops),
                "state_stream.store.rows_total": ops[-1].numRowsTotal,
                "state_stream.store.checkpoint_bytes": ck_bytes,
                # the store is created inside the timed window
                "state_stream.store.snapshots": dir_stats(f"{d}/ck/state", ".zip")[1],
                "state_stream.store.memory_bytes": max(o.memoryUsedBytes for o in ops),
                "state_stream.changelog.bytes": cl_bytes,
                "state_stream.changelog.files": cl_files,
                "state_stream.changelog.rows": pq.ParquetDataset(f"{d}/cl").read(columns=["user_id"]).num_rows,
                "state_stream.replay_changelog_ms": median(tr.durations_ms("state_stream.replay_changelog")),
                "state_stream.restart.first_batch_ms": median([p.durationMs["triggerExecution"] for p in restart_progress]),
                "state_stream.restart.add_batch_ms": median([p.durationMs.get("addBatch", 0) for p in restart_progress]),
                "state_stream.restart.plan_ms": median([p.durationMs.get("queryPlanning", 0) for p in restart_progress]),
                "state_stream.read_state.lookup_p95_ms": p95([x * 1000.0 for x in run.lookup_s]),
            }
        )


def _finish_changelog_layers(run: Run, spark_phases: dict) -> None:
    n = max(1, len(run.lookup_s))
    run.layer["state_stream.executor_cpu_ms"] = spark_phases["ingest"]["executor_cpu_ms"]
    run.layer["state_stream.read_state.scan_ms"] = spark_phases["lookup"]["executor_run_ms"] / n
    run.layer["state_stream.read_state.tasks_per_lookup"] = spark_phases["lookup"]["tasks"] / n


# -- table_serve -----------------------------------------------------------------


def table_serve(run: Run) -> None:
    """StateTable rebuilt from a multi-million event log (the recovery), then
    a closed loop of point gets with a generation of apply + save_as + load
    every few gets."""
    from samsa_spark.api import StateTable

    S, spark, tr = run.sizes, run.spark, run.tr
    keys = KeySpace(run.seed, S["ts_keys"])
    log = events(rng_for(run.seed, 11), keys, S["ts_events"], 0)
    pq.write_table(log, run.path("log.parquet"), row_group_size=1 << 18)
    ref = LatestTable()
    ref.merge(log)

    def get(tab, k: int):
        row = tab.get(k)
        return None if row is None else tuple(row[c] for c in TABLE_COLS)

    def check_table(path: str, want: LatestTable, what: str) -> None:
        """The saved table, read back with pyarrow, column for column against
        the reference (compared as arrays: rows as tuples cost seconds)."""
        t = pq.read_table(path, columns=list(TABLE_COLS)).sort_by("user_id")
        bad = [c for c, r in zip(TABLE_COLS, LatestTable.COLS) if len(t) != len(want) or not np.array_equal(t.column(c).to_numpy(zero_copy_only=False), want.cols[r])]
        if bad:
            run.check(f"table_serve {what}", [f"table has {len(t)} rows, reference {len(want)}; columns differing: {bad}"])

    def generation(tab, cur: str, g: int):
        """One generation: ``g``'s batch applied to ``tab`` (saved at
        ``cur``), saved and loaded. Returns the new table and its path, or
        ``tab`` and ``cur`` if the operation failed."""
        with run.untimed():
            batch = events(rng_for(run.seed, 12, g), keys, S["ts_batch"], S["ts_events"] + g * S["ts_batch"])
            bpath = run.path(f"batch{g}.parquet")
            pq.write_table(batch, bpath)
        with tr.phase("ingest"), run.op("api.apply_save_load", run.ingest_s) as op:
            with tr.timed("api.apply_save"):
                tab.apply(spark.read.parquet(bpath)).save_as(run.path(f"gen{g}"))
            with tr.timed("api.load"):
                new = StateTable.load(spark, run.path(f"gen{g}"))
        if not op.ok:
            return tab, cur
        run.ingest_events += batch.num_rows
        with run.untimed():
            ref.merge(batch)
            shutil.rmtree(cur, ignore_errors=True)
        return new, run.path(f"gen{g}")

    # untimed warm-up: a build of the table from the whole log, which becomes
    # the served table (after a build from a slice of the log, the first
    # timed rebuild read half as slow again as the second), gets on it, a
    # generation on a table of its own and gets on that.
    run.begin_warm_up()
    cur = run.path("served")
    with tr.timed("warm_up.rebuild"):
        StateTable.from_log(spark.read.parquet(run.path("log.parquet"))).save_as(cur)
    check_table(cur, ref, "warm-up rebuild")
    tab = StateTable.load(spark, cur)
    for k in keys.lookup_keys(rng_for(run.seed, 13, 0), S["ts_warm_gets"], MISS_SHARE):
        run.check("table_serve warm-up get", _compare_row(k, get(tab, int(k)), ref.get(int(k))))
    wref = ref.copy()
    wb = events(rng_for(run.seed, 13, 1), keys, S["ts_batch"], 10**9)
    pq.write_table(wb, run.path("warm_b.parquet"))
    wref.merge(wb)
    with tr.timed("warm_up.generation"):
        tab.apply(spark.read.parquet(run.path("warm_b.parquet"))).save_as(run.path("warm1"))
    check_table(run.path("warm1"), wref, "warm-up generation")
    wtab = StateTable.load(spark, run.path("warm1"))
    for k in keys.lookup_keys(rng_for(run.seed, 13, 2), S["ts_warm_gets"], MISS_SHARE):
        run.check("table_serve warm-up get", _compare_row(k, get(wtab, int(k)), wref.get(int(k))))

    run.start_timed()
    # rounds of one generation on the served table, a fixed number of gets on
    # it and a rebuild of the table from the whole log (checked, then
    # dropped): a fixed minimum, then more while the window has room for one.
    # Each metric's samples are spread over the whole window, so a spell of
    # host contention moves one sample of each median, not all of them.
    base = ref.copy()
    g = hits = 0
    round_s = 0.0
    while g < S["ts_rounds"] or run.time_left(round_s):
        t_round = time.perf_counter()
        tab, cur = generation(tab, cur, g)
        for k in map(int, keys.lookup_keys(rng_for(run.seed, 14, g), S["ts_gets_per_round"], MISS_SHARE)):
            with tr.phase("lookup"), run.op("api.get", run.lookup_s) as op:
                got = get(tab, k)
            if op.ok:
                hits += got is not None
                run.check("table_serve get", _compare_row(k, got, ref.get(k)))
        built = run.path(f"built{g}")
        with tr.phase("recovery"), run.op("api.rebuild", run.recovery_s) as op:
            with tr.timed("api.from_log"):
                rebuilt = StateTable.from_log(spark.read.parquet(run.path("log.parquet")))
            with tr.timed("api.save_as"):
                rebuilt.save_as(built)
        if op.ok:
            with run.untimed():
                check_table(built, base, f"rebuild {g}")
                shutil.rmtree(built, ignore_errors=True)
        g += 1
        round_s = time.perf_counter() - t_round
    with run.untimed():
        check_table(cur, ref, "final generation")

    if tr.enabled:
        run.layer.update(
            {
                "api.from_log_ms": median(tr.durations_ms("api.from_log")),
                "api.save_as_ms": median(tr.durations_ms("api.save_as")),
                "api.apply_save_ms": median(tr.durations_ms("api.apply_save")),
                "api.load_ms": median(tr.durations_ms("api.load")),
                "api.get_p95_ms": p95([x * 1000.0 for x in run.lookup_s]),
                "api.get_hits": hits,
                "api.get_misses": len(run.lookup_s) - hits,
            }
        )


def _finish_table_layers(run: Run, spark_phases: dict) -> None:
    rec, ing = spark_phases["recovery"], spark_phases["ingest"]
    run.layer["api.get_input_bytes"] = spark_phases["lookup"]["input_bytes"] / max(1, len(run.lookup_s))
    run.layer["operators.state.executor_cpu_ms"] = rec["executor_cpu_ms"] + ing["executor_cpu_ms"]
    run.layer["operators.state.shuffle_write_bytes"] = rec["shuffle_write_bytes"] + ing["shuffle_write_bytes"]


# -- near_dup_index ----------------------------------------------------------------


def near_dup_index(run: Run) -> None:
    """Exact prefix-Jaccard dedup index: built from a corpus (the recovery),
    then batches checked with query_dedup and added with append_dedup, with
    single-document query_dedup probes between batches."""
    import pyarrow as pa
    from samsa_spark import index
    from samsa_spark.tables import local_rows

    S, spark, tr = run.sizes, run.spark, run.tr
    doc_schema = "doc_id bigint, text string"

    def write_docs(path: str, docs) -> None:
        pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()), "text": [t for _, t in docs]}), path)

    def check(what: str, reported, ref: ShingleIndex, batch) -> None:
        texts = dict(ref.texts)
        texts.update(batch)
        run.check(f"near_dup_index {what}", check_pairs([tuple(r) for r in reported], ref.pairs(batch), texts))

    def indexed_docs(path: str) -> int:
        return pq.read_table(f"{path}/sets", columns=["doc_id"]).num_rows

    def make_probe(pid: int, hit: bool, ref: ShingleIndex):
        """A one-document probe: a near-copy of an indexed document (a hit)
        or fresh text (a miss)."""
        if hit:
            return (pid, src.near_copy(ref.texts[sorted(ref.texts)[int(src.rng.integers(0, len(ref.texts)))]]))
        return (pid, src.fresh_text())

    src = DocSource(run.seed, 21)
    pool: list[str] = []
    corpus = src.docs(S["nd_corpus"], 0, pool)
    write_docs(run.path("corpus.parquet"), corpus)

    # untimed warm-up: a build of the index from the whole corpus, which
    # becomes the served index, a probe against it (the same query_dedup path
    # a batch query takes) and an append of a batch of its own.
    run.begin_warm_up()
    served = run.path("served")
    ref = ShingleIndex()
    ref.add(corpus)
    with tr.timed("warm_up.save_dedup"):
        index.save_dedup(spark.read.parquet(run.path("corpus.parquet")), served)
    if indexed_docs(served) != len(corpus):
        run.check("near_dup_index warm-up build", [f"index holds {indexed_docs(served)} docs, corpus {len(corpus)}"])
    for j in range(S["nd_warm_probes"]):
        probe = [make_probe(10**8 + 10**6 + j, j % 2 == 0, ref)]
        with tr.timed("warm_up.probe"):
            found = index.query_dedup(spark, served, local_rows(spark, probe, doc_schema)).collect()
        check("warm-up probe", found, ref, probe)
    wb = DocSource(run.seed, 22).docs(S["nd_batch"], 10**8, [t for _, t in corpus])
    write_docs(run.path("warm_b.parquet"), wb)
    with tr.timed("warm_up.append_dedup"):
        index.append_dedup(spark, served, spark.read.parquet(run.path("warm_b.parquet")))
    ref.add(wb)

    run.start_timed()
    # rounds of a fixed number of single-document probes (alternately a hit
    # and a miss), one batch checked with query_dedup and added with
    # append_dedup, and a rebuild of the index from the corpus (checked, then
    # dropped), all but the rebuild on the served index: a fixed minimum,
    # then more while the window has room for one. Each metric's samples are
    # spread over the whole window, so a spell of host contention moves one
    # sample of each median, not all of them. The served index grows by a
    # batch a round, a few percent; a probe's cost hardly depends on the
    # index size (1.7-2.0 s against 1,000 to 4,000 documents).
    pairs = 0
    next_id = S["nd_corpus"]
    b = 0
    drift = None
    round_s = 0.0
    while b < S["nd_rounds"] or run.time_left(round_s):
        t_round = time.perf_counter()
        for j in range(S["nd_probes_per_round"]):
            with run.untimed():
                probe = [make_probe(10**7 + b * 100 + j, j % 2 == 0, ref)]
                pdf = local_rows(spark, probe, doc_schema)
            with tr.phase("lookup"), run.op("index.probe", run.lookup_s) as op:
                found = index.query_dedup(spark, served, pdf).collect()
            if op.ok:
                pairs += len(found)
                with run.untimed():
                    check("probe", found, ref, probe)
        with run.untimed():
            batch = src.docs(S["nd_batch"], next_id, pool)
            bpath = run.path(f"batch{b}.parquet")
            write_docs(bpath, batch)
        bdf = spark.read.parquet(bpath)
        next_id += len(batch)
        with tr.phase("ingest"):
            with run.op("index.query_dedup", run.ingest_s) as query:
                found = index.query_dedup(spark, served, bdf).collect()
            if query.ok:
                with run.untimed():
                    check(f"batch {b}", found, ref, batch)
                pairs += len(found)
            with run.op("index.append_dedup", run.ingest_s) as append:
                drift = index.append_dedup(spark, served, bdf)
        if append.ok:
            run.ingest_events += len(batch)
            ref.add(batch)
        built = run.path(f"idx{b}")
        with tr.phase("recovery"), run.op("index.save_dedup", run.recovery_s) as op:
            index.save_dedup(spark.read.parquet(run.path("corpus.parquet")), built)
        if op.ok:
            with run.untimed():
                if indexed_docs(built) != len(corpus):
                    run.check("near_dup_index rebuild", [f"index {b} holds {indexed_docs(built)} docs, corpus {len(corpus)}"])
                shutil.rmtree(built, ignore_errors=True)
        b += 1
        round_s = time.perf_counter() - t_round
    with run.untimed():
        if indexed_docs(served) != len(ref.texts):
            run.check("near_dup_index final", [f"index holds {indexed_docs(served)} docs, {len(ref.texts)} were added"])

    if tr.enabled and drift is not None:
        last = drift.orderBy("append_id").collect()[-1]
        run.layer.update(
            {
                "index.save_dedup_ms": median(tr.durations_ms("index.save_dedup")),
                "index.query_dedup_ms": median(tr.durations_ms("index.query_dedup")),
                "index.append_dedup_ms": median(tr.durations_ms("index.append_dedup")),
                "index.unseen_fraction": float(last.unseen_fraction),
                "index.probe_p95_ms": p95([x * 1000.0 for x in run.lookup_s]),
                "operators.dedup.pairs": pairs,
            }
        )


def _finish_dedup_layers(run: Run, spark_phases: dict) -> None:
    ing, lk = spark_phases["ingest"], spark_phases["lookup"]
    run.layer["operators.dedup.shuffle_read_bytes"] = ing["shuffle_read_bytes"] + lk["shuffle_read_bytes"]
    run.layer["operators.dedup.executor_cpu_ms"] = ing["executor_cpu_ms"] + lk["executor_cpu_ms"]


WORKLOADS = {
    "changelog_ingest": (changelog_ingest, _finish_changelog_layers),
    "table_serve": (table_serve, _finish_table_layers),
    "near_dup_index": (near_dup_index, _finish_dedup_layers),
}

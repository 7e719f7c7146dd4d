"""State-store benchmark: one workload per process, one Spark session each.

    python3 perfbench/run.py --workload changelog_ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A record of the run
(settings, host load, spans, per-phase Spark figures) is written to
``.perfbench_work/records/``. ``--smoke`` runs all three workloads on tiny
inputs in one session, printing one JSON line per workload.

An operation that raises is counted in ``failed``, its error is printed to
standard error, and the run goes on. Exits non-zero, printing no result, when
the program cannot be imported or the set-up raises; exits 1 after printing
the result when an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# two task threads, so that on a four-vCPU host the Python driver, the JVM's
# compiler and GC threads and the Python workers have cores of their own and
# a run does not measure how the scheduler shares four cores among them
CORES = min(2, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 2


def parse(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="all workloads, tiny inputs, one session")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    return args


def settings(sc) -> dict:
    return {
        "master": sc.master,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "max_heap_mb": int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory()) / 2**20,
    }


def start_session(work: str, app: str):
    """``samsa_spark.session.get_spark``, with its own heap setting, and with
    every scratch path inside the run's work directory."""
    from samsa_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # the per-key fold's pandas concat warns once per worker; keep stderr readable
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    spark = get_spark(
        app,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the per-phase figures read every stage of the run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop every stream, the session, the JVM and its Python workers, and wait
    until each process has ended (a JVM that exits with RocksDB stores open
    logs MANIFEST errors)."""
    from pyspark import SparkContext
    from telemetry import descendants

    sc = spark.sparkContext
    gw = sc._gateway
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    kids = descendants(jvm_pid)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_workloads(args, names: list[str], sizes: dict, work: str) -> list[dict]:
    import telemetry as T
    from workloads import END_TO_END, PER_LAYER, WORKLOADS, Run

    load0, cpu0, ticks0, wall0 = T.loadavg(), T.cpu_times(), T.cpu_ticks(), time.monotonic()
    t0 = time.perf_counter()
    spark = start_session(work, f"perfbench-{'smoke' if args.smoke else names[0]}")
    session_ms = (time.perf_counter() - t0) * 1000.0
    results = []
    try:
        sc = spark.sparkContext
        jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        conf = settings(sc)
        for name in names:
            tracer = T.Tracer(bool(args.trace), f"{name}-{args.seed}-{os.getpid()}")
            wdir = os.path.join(work, name)
            os.makedirs(wdir, exist_ok=True)
            run = Run(spark, wdir, args.seed, args.seconds, tracer, sizes)
            workload, finish_layers = WORKLOADS[name]
            T.reset_heap_peak(sc)
            with T.RssSampler(jvm_pid) as rss:
                workload(run)
            heap_peak = T.heap_peak_bytes(sc)
            e2e = run.end_to_end()
            if args.trace:
                phases = T.spark_phase_figures(sc, tracer.phases)
                layer = dict.fromkeys(PER_LAYER, 0)
                layer.update(run.layer)
                finish_layers(run, phases)
                layer.update(run.layer)
                for p, figs in phases.items():
                    for f, v in figs.items():
                        layer[f"spark.{p}.{f}"] = v
                layer["session.start_ms"] = session_ms
                layer["peak_rss_mb"] = rss.peak_total / 2**20
                layer["jvm.peak_rss_mb"] = rss.peak_jvm / 2**20
                layer["python_workers.peak_rss_mb"] = rss.peak_workers / 2**20
                layer["jvm.heap_peak_mb"] = heap_peak / 2**20
                metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layer.items()}
            else:
                metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
            results.append(
                {
                    "workload": name,
                    "result": {"correct": not run.problems, "attempted": run.attempted, "failed": run.failed, "metrics": metrics},
                    # kept in traced runs too: the difference is the tracing overhead
                    "end_to_end": e2e,
                    "memory": {
                        "peak_rss_mb": rss.peak_total / 2**20,
                        "jvm_peak_mb": rss.peak_jvm / 2**20,
                        "workers_peak_mb": rss.peak_workers / 2**20,
                        "max_worker_processes": rss.max_workers,
                        "heap_peak_mb": heap_peak / 2**20,
                    },
                    # every timed sample, in seconds, in the order taken
                    "samples": {"ingest_s": run.ingest_s, "recovery_s": run.recovery_s, "lookup_s": run.lookup_s},
                    "problems": run.problems,
                    "errors": run.errors,
                    "spans": tracer.spans,
                    "phases": tracer.phases,
                }
            )
        own = {os.getpid(), *T.descendants(os.getpid())}
    finally:
        stop_session(spark)
    cpu1, wall = T.cpu_times(), time.monotonic() - wall0
    pp = T.ppid_map()
    p = os.getppid()
    while p > 1:  # the caller chain (a steadiness run) is not "another" process
        own.add(p)
        p = pp.get(p, 0)
    host = {
        "loadavg_start": load0,
        "loadavg_end": T.loadavg(),
        "heavy_processes": T.heavy_processes(cpu0, cpu1, wall, own),
        "steal_share": T.steal_share(ticks0, T.cpu_ticks()),
        "wall_s": wall,
        "settings": conf,
    }
    for r in results:
        r["host"] = host
    return results


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    args = parse(argv)
    import samsa_spark  # noqa: F401  fail fast, before any work, when the program is absent
    from workloads import SIZES, WORKLOADS

    names = sorted(WORKLOADS) if args.smoke else [args.workload]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{'smoke' if args.smoke else args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        results = run_workloads(args, names, SIZES["smoke" if args.smoke else "full"], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    ok = True
    for r in results:
        tag = f"{r['workload']}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
        with open(os.path.join(records, tag + ".json"), "w") as f:
            json.dump({"args": vars(args), **r}, f, indent=1)
        for p in r["problems"][:20]:
            print(f"MISMATCH {r['workload']}: {p}", file=sys.stderr)
        for e in r["errors"][:20]:
            print(f"FAILED {r['workload']}: {e}", file=sys.stderr)
        ok = ok and r["result"]["correct"]
        res = r["result"]
        print(
            f"{r['workload']}: attempted {res['attempted']} failed {res['failed']} correct {res['correct']}; "
            + ", ".join(f"{k} {m['value']:.4g} {m['unit']}" for k, m in res["metrics"].items() if not k.startswith("spark.")),
            file=sys.stderr,
        )
    for r in results:
        line = dict(r["result"], workload=r["workload"]) if args.smoke else r["result"]
        print(json.dumps(line), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

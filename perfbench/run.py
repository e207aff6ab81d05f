"""Crawl-loop benchmark.

    python3 perfbench/run.py --workload polite_rounds --seed 1 --seconds 10 --trace 0

Runs one seeded workload at local[nproc] in one Spark session, checks the
crawl against an independent expectation, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones, taken from spans around the layers' public functions and
from the session's Spark event log (see perfbench/README.md).

Everything the run writes stays under ``.perfbench_work/`` next to this
directory; generated inputs are cached there per (workload, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MAX_ITERATIONS = 50


def quartiles(xs: list[float]) -> dict:
    if len(xs) == 1:
        return {"median": xs[0], "p25": xs[0], "p75": xs[0], "n": 1}
    q = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "p25": q[0], "p75": q[2], "n": len(xs)}


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for d in ("tmp", "spark-local", "eventlog"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))


def start_session(cores: int, trace: bool):
    from crawlspark.session import get_spark

    conf = {
        # the round loop turns AQE off itself; the session agrees up front
        "spark.sql.adaptive.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -Xms2g",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(WORK / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    procs = [pid] + descendants(pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in procs):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the workload's shared starting state")
    args = ap.parse_args()
    trace = bool(args.trace)

    prepare_environment()
    from spans import Tracer, iteration_metrics, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    if args.prepare:
        spark = start_session(cores, False)
        try:
            WORKLOADS[args.workload](spark, WORK, 0).build_prepared()
        finally:
            stop_session(spark)
        return 0
    for name, w in WORKLOADS.items():
        # every workload's shared state is built by the first run in a
        # checkout, whichever workload it runs; in its own process, so every
        # measured run starts from a cold JVM
        if w.needs_preparing(WORK):
            subprocess.run(
                [sys.executable, __file__, "--workload", name, "--prepare"],
                check=True, stdout=sys.stderr,
            )
    shutil.rmtree(WORK / "runs", ignore_errors=True)
    shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    (WORK / "eventlog").mkdir()

    t = time.perf_counter()
    spark = start_session(cores, trace)
    session_s = time.perf_counter() - t
    tracer = Tracer(f"{args.workload}-s{args.seed}-{int(time.time())}")
    if trace:
        tracer.install(spark)

    wl = WORKLOADS[args.workload](spark, WORK, args.seed)
    attempted = failed = 0
    problems: list[str] = []
    steps, traced_its = [], []
    evict_s: list[float] = []
    state_mb = None
    phases: dict[str, float] = {"session": session_s}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        tracer.active = trace
        wl.setup()
        tracer.active = False
        tracer.release()
        phase("setup")

        attempted += 1
        problems += wl.prepare()
        failed += bool(problems)
        phase("prepare")

        # a traced run traces its timed iterations: every run's timed
        # iteration is the first of a fresh JVM, so trace.round_s compares
        # with the untraced runs' round_s (the tracing overhead)
        tracer.active = trace
        start = time.perf_counter()
        while True:
            attempted += 1
            with tracer.span("iteration") as it:
                step = wl.iteration()
            steps.append(step)
            if trace:
                tracer.active = False
                traced_its.append((it, step, wl.filter_bytes()))
                tracer.release()
                tracer.active = True
            failed += bool(step.problems)
            problems.extend(step.problems)
            if step.evict_s is not None:
                evict_s.append(step.evict_s)
            if state_mb is None:
                state_mb = wl.state_bytes() / 1e6
            if (time.perf_counter() - start >= args.seconds or wl.exhausted()
                    or len(steps) >= MAX_ITERATIONS):
                break
        tracer.active = False
        phase("timed")

        attempted += 1
        end_problems, end_evicts = wl.finish()
        failed += bool(end_problems)
        problems += end_problems
        evict_s += end_evicts
        peak_rss_mb = vm_hwm_mb(jvm_pid(spark))
        phase("finish")
    except Exception:
        traceback.print_exc()
        failed += 1
        problems.append("the run raised")
    finally:
        stop_session(spark)
        phase("stop")

    for p in problems:
        print(f"perfbench gate: {p}", file=sys.stderr)
    if not steps or "the run raised" in problems:
        print("perfbench: no complete measurement", file=sys.stderr)
        return 1

    detail = {
        "round_s": quartiles([s.round_s for s in steps]),
        "urls_per_s": quartiles([s.urls / s.round_s for s in steps]),
        "evict_s": quartiles(evict_s),
        "phases_s": phases,
    }
    if trace:
        tracer.write(WORK / "traces" / f"{tracer.run_id}.json")
        log = read_event_log(WORK / "eventlog")
        per_it = [iteration_metrics(tracer, it, step.result, log, cores, fb) for it, step, fb in traced_its]
        metrics = {
            name: {"value": statistics.median(m[name][0] for m in per_it), "unit": per_it[0][name][1]}
            for name in per_it[0]
        }
        init = next(s for s in tracer.spans if s["name"] == "Crawler.__init__")
        metrics.update({
            "warehouse.index_build_s": {"value": init["end"] - init["start"], "unit": "s"},
            "session.start_s": {"value": session_s, "unit": "s"},
            "trace.round_s": {"value": detail["round_s"]["median"], "unit": "s"},
        })
    else:
        metrics = {
            "urls_per_s": {"value": detail["urls_per_s"]["median"], "unit": "1/s"},
            "round_s": {"value": detail["round_s"]["median"], "unit": "s"},
            "setup_s": {"value": session_s + phases["setup"], "unit": "s"},
            "evict_s": {"value": detail["evict_s"]["median"], "unit": "s"},
            "state_mb": {"value": state_mb, "unit": "MB"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
        # error_rate is 0 whenever the run is accepted, so it is reported
        # here and through attempted/failed, not as a compared metric
        shown = {**metrics, "error_rate": {"value": min(failed, attempted) / attempted, "unit": "ratio"}}
        for name, m in shown.items():
            print(f"perfbench {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print("perfbench detail " + json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Repository benchmark: extract_web / curate_suite.

Run from the repository root:

    python3 perfbench/run.py --workload extract_web --seed 1 \\
        --seconds 32 --trace 0

Every workload runs at local[4] in one closed loop with one client: the
driver issues one Spark action at a time and writes every result to the
``noop`` sink. ``--trace 0`` measures the end-to-end metrics untraced;
``--trace 1`` runs the traced layer ledger instead. Both check the
program's outputs once, outside the timed region, and exit non-zero if a
check fails. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every metric by name with its unit. Spans and per-run walls with
host evidence go to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

NEEDED = ("bench.py", "__spark_entry__.py", "jsoup_spark",
          "pyspark_worker_zipcache.py", "tools/mega_fuzz.py",
          "tools/oracle_gate.py")
WORKLOAD_NAMES = ("extract_web", "curate_suite")
SETUP_ROUNDS = 3
RSS_PERIOD_S = 0.1
UNITS = {
    "docs_per_s": "1/s", "mb_per_s": "MB/s", "wall_s": "s",
    "query_geomean_s": "s", "worker_peak_rss_mb": "MB", "setup_s": "s",
}


class WorkerRss:
    """Samples the summed RSS of the Python processes under this driver
    (the pyspark daemon and its workers) and keeps the peak."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _python_descendants(self) -> list[int]:
        ppid = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", "rb") as f:
                        s = f.read()
                except OSError:
                    continue
                ppid[int(d)] = int(s[s.rfind(b")") + 2:].split()[1])
        kids: dict[int, list[int]] = {}
        for p, pp in ppid.items():
            kids.setdefault(pp, []).append(p)
        out, stack = [], list(kids.get(os.getpid(), []))
        while stack:
            p = stack.pop()
            stack.extend(kids.get(p, []))
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"python" in f.read().split(b"\0")[0]:
                        out.append(p)
            except OSError:
                continue
        return out

    def _sample(self) -> float:
        total = 0
        for p in self._python_descendants():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * self._page / 1e6

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def make_spark(bench, work: str, batch_records: int):
    """bench.make_spark at local[4], with the JVM's temp files kept inside
    the checkout (static settings, so they go to spark-submit; the local
    dirs come from SPARK_LOCAL_DIRS) and the Arrow batch size set per
    workload."""
    import shlex
    from perfbench.workloads import CPUS
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in (
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.driver.extraJavaOptions="
                  f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell"))
    spark = bench.make_spark(str(CPUS))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_records))
    return spark


def stop_spark(spark) -> None:
    """Stops the session (which stops the Python workers) and waits for the
    JVM: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def become_subreaper() -> None:
    """Makes this process adopt its orphaned descendants (Linux), so that
    reap_descendants also finds those whose parent exited first."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                           0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    s = f.read()
            except OSError:
                continue
            if int(s[s.rfind(b")") + 2:].split()[1]) == me:
                out.append(int(d))
    return out


def reap_descendants(grace_s: float = 20.0) -> int:
    """Waits for every child process (adopted orphans included) to end:
    first on its own for grace_s, then after SIGTERM, then after SIGKILL.
    Returns how many had to be signalled."""
    signalled: set[int] = set()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        while True:                         # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return len(signalled)
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = now + 5.0
            for p in kids:
                try:
                    os.kill(p, sig)
                    signalled.add(p)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest of p90/p99 that has at least
    ten samples beyond it (None when there are too few)."""
    n = len(values)
    hi = None
    for p in (0.99, 0.9):
        if n * (1 - p) >= 10:
            hi = {"p": p, "value": statistics.quantiles(
                values, n=100)[round(p * 100) - 1]}
            break
    return {"median": statistics.median(values), "n": n, "p_hi": hi}


def end_to_end(wl, spark, seconds: float, bench) -> tuple[dict, dict]:
    """Set-up rounds, warm-up, the timed closed loop; untraced."""
    from perfbench import workloads
    from perfbench.trace import Tracer
    off = Tracer("untraced", enabled=False)
    t0 = time.perf_counter()
    wl.generate()                          # the benchmark's own; untimed
    gen_s = time.perf_counter() - t0
    rounds = []
    for k in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.materialize(k)
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.check_spark()                       # warm-up = Spark half of the check
    wl.warm()
    warm_s = time.perf_counter() - t0
    timed_from = time.perf_counter()
    meter = bench.HostMeter()
    runs = []
    fixed = wl.fixed_actions(seconds)
    with WorkerRss() as rss:
        start = time.perf_counter()
        while True:
            meter.start()
            walls = wl.action(off)
            runs.append({"walls": walls, "host": meter.stop()})
            if fixed is not None:
                if len(runs) == fixed:
                    break
                continue
            typical = statistics.median(r["walls"]["wall"] for r in runs)
            if time.perf_counter() - start + typical > seconds:
                break                       # the next one would overrun
    walls = [r["walls"]["wall"] for r in runs]
    med = statistics.median(walls)
    if wl.name == "curate_suite":
        per_query = [statistics.median(r["walls"][q] for r in runs)
                     for q in wl.order]
        geo = workloads.geomean(per_query)
    else:
        geo = workloads.geomean(walls)
    metrics = {
        "docs_per_s": wl.rows_in / med,
        "mb_per_s": wl.input_mb / med,
        "wall_s": med,
        "query_geomean_s": geo,
        "worker_peak_rss_mb": rss.peak_mb,
        "setup_s": wl.jvm_s + statistics.median(rounds) + warm_s,
    }
    detail = {"runs": runs, "wall": summarize(walls),
              "setup": {"jvm_s": wl.jvm_s, "materialize_s": rounds,
                        "warmup_s": warm_s, "generate_s": gen_s,
                        "timed_s": time.perf_counter() - timed_from}}
    return metrics, detail


def layer_ledger(wl, spark, tracer, bench, work: str) -> tuple[dict, dict]:
    """The traced run: pipeline ladder, engine ledger, pure-Python parse
    leg, stream page, and the per-query ledger."""
    from perfbench import gen, ledger, workloads
    from perfbench.trace import Tracer
    meter = bench.HostMeter()
    meter.start()
    wl.generate()
    wl.materialize(0)
    wl.check_spark()
    out: dict[str, float] = {}
    with tracer.span("run"):
        ladder, untraced = wl.ladder(tracer)
        out.update(ladder)
        out["trace.overhead_frac"] = (ladder["pipeline.extract_s"]
                                      / min(untraced) - 1)

        sample = wl.ledger_sample()
        ledger.layer_calls(sample[:8], Tracer("warm", enabled=False))
        with tracer.span("ledger"):
            ledger.layer_calls(sample, tracer)
        ledger_spans = [s for s in tracer.spans
                        if s.name in ledger.LAYER_CALLS]
        out.update(ledger.ledger_metrics(sample, ledger_spans))

        path = os.path.join(work, "ledger_sample.jsonl")
        ledger.write_sample(path, sample)
        with tracer.span("parser.parse_pyonly"):
            r = subprocess.run(
                [sys.executable, os.path.join("perfbench", "ledger.py"),
                 "--pyonly", path], capture_output=True, text=True,
                timeout=120, check=True)
        py = json.loads(r.stdout.strip().splitlines()[-1])
        out["parser.parse_pyonly_us_per_doc"] = py["parse_us_per_doc"]
        out["parser.treebuild_self_us_per_doc"] = (
            py["parse_us_per_doc"] - py["tokenize_us_per_doc"])
        out["parser.native_speedup"] = (py["parse_us_per_doc"]
                                        / out["parser.parse_us_per_doc"])
        out["extract.stream_spans_mb_per_s"] = ledger.stream_mb_per_s(
            gen.stream_page(), tracer)

        if isinstance(wl, workloads.CurateSuite):
            curate = wl
        else:
            curate = workloads.CurateSuite(spark, work, wl.seed, wl.jobs)
            curate.generate()
            curate.materialize(0)
            curate.check_spark(oracles=False)    # warm-up only
        curate.warm()
        out.update(curate.query_ledger(tracer))
    host = meter.stop()
    out["host.steal_pct"] = host["steal_pct"]
    out["host.other_busy_pct"] = host["other_busy_pct"]
    return out, {"host": host}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in NEEDED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    for d in (work, os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_MEM", "8g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    import bench                            # HostMeter; bench.py unchanged
    from perfbench import workloads
    from perfbench.trace import Tracer, total_by_name

    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = make_spark(bench, work, workloads.WEB_BATCH
                           if args.workload == "extract_web" else 16000)
        spark.sparkContext.setLogLevel("ERROR")
        jobs = workloads.JobGroups(spark.sparkContext)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, jobs)
        wl.jvm_s = time.perf_counter() - t0

        if args.trace:
            tracer = Tracer(tag)
            metrics, detail = layer_ledger(wl, spark, tracer, bench, work)
            tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
            detail["self_s_by_name"] = {
                k: v / 1e9 for k, v in
                total_by_name(tracer.spans, self_time=True).items()}
        else:
            metrics, detail = end_to_end(wl, spark, args.seconds, bench)
        t0 = time.perf_counter()
        checked, wrong = wl.check_compare()
        tasks, failed_tasks = jobs.tasks(labels=("timed", "check"))
        detail["check_compare_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            signalled = reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t0

    attempted = checked + tasks + failed_tasks
    failed = wrong + failed_tasks
    if args.trace:
        metrics["ops_failed_frac"] = failed / attempted
    detail.update({"stop_s": stop_s, "signalled": signalled,
                   "checked": checked, "wrong": wrong,
                   "tasks": tasks, "failed_tasks": failed_tasks,
                   "input_mb": wl.input_mb, "metrics": metrics,
                   "errors": getattr(wl, "_errors", {}),
                   "markup_mix": getattr(wl, "mix", {})})
    workloads.dump(os.path.join(results, f"{tag}.json"), detail)

    units = dict(UNITS)
    units.update(workloads.PER_LAYER_UNITS)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    if not args.trace:
        w = detail["wall"]
        host = [r["host"] for r in detail["runs"]]
        print(f"{args.workload} n={w['n']} runs, p_hi={w['p_hi']}, "
              f"steal_pct={[h['steal_pct'] for h in host]}, "
              f"other_busy_pct={[h['other_busy_pct'] for h in host]}")
    print(f"{args.workload} checked={checked} wrong={wrong} tasks={tasks} "
          f"failed_tasks={failed_tasks}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

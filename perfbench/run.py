"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
README.md in this directory).  Exits non-zero, without a result line, when
the program cannot be imported or a run fails, and with a result line
marked ``"correct": false`` when an output differs from its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

WORKLOADS = ("deep_crawl", "curate")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM, the Python workers), sampled every 50 ms while
    ``active`` is set."""

    def __init__(self):
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{e}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(e))
            rss[int(e)] = pages * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self):
        while not self._stop.is_set():
            if self.active.wait(0.2):
                self.peak = max(self.peak, self._tree_rss())
                time.sleep(0.05)

    def close(self):
        self._stop.set()
        self.active.clear()
        self._thread.join(timeout=5)


def spark_conf(tmp: str, event_dir: str | None) -> dict:
    conf = {
        # no hsperfdata file: HotSpot writes it under /tmp, outside the checkout
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args) -> int:
    state = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(state, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    try:
        return _run(args, state, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, state, tmp, cpus) -> int:
    import loadgen
    import workloads as wl

    phases = {}
    t_phase = time.perf_counter()

    def lap(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - t_phase
        t_phase = now

    cache = os.path.join(state, "cache")
    if args.workload == "deep_crawl":
        inputs = loadgen.crawl_inputs(args.seed, cache)
        w = wl.DeepCrawl(inputs, tmp, collect_metrics=bool(args.trace))
    else:
        sf_dir, docs = loadgen.curate_inputs(args.seed, cache)
        w = wl.Curate(sf_dir, len(docs), tmp)

    lap("inputs")
    reference = untraced_reference(args, state) if args.trace else None
    lap("reference")
    event_dir = os.path.join(tmp, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf = spark_conf(tmp, event_dir)

    rss = RssSampler()
    jobs, err, traced = [], None, {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = wl.start_session(cpus, conf)
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        lap("setup")

        # closed loop: whole jobs while the next one is expected to fit
        t_end = time.perf_counter() + args.seconds
        while True:
            if jobs:
                w.setup(spark)
            rss.active.set()
            jobs.append(w.job(spark))
            rss.active.clear()
            lap("job")
            err = w.check(spark)
            lap("check")
            if err is not None or time.perf_counter() + jobs[-1].wall_s > t_end:
                break
        if args.trace and err is None:
            traced = w.traced_extras(spark)
    finally:
        rss.close()
        if spark is not None:
            stop_spark(spark)
        lap("stop")

    print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()),
          file=sys.stderr)
    for j in jobs:
        print(f"job wall {j.wall_s:.3f} s, {j.items} items, steps "
              + " ".join(f"{n}={s:.2f}" for n, s in j.steps), file=sys.stderr)
    for name, msg in getattr(w, "errors", {}).items():
        print(f"failed: {name}: {msg}", file=sys.stderr)
    if err is not None:
        print(err, file=sys.stderr)

    attempted = sum(j.attempted for j in jobs)
    failed = sum(j.failed for j in jobs)
    items_per_s = statistics.median(j.items / j.wall_s for j in jobs)
    if args.trace:
        metrics = per_layer(w, jobs[-1], traced, event_dir, cpus)
        metrics.update(overhead(items_per_s, reference))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items_per_s, "items/s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "ok_frac": (1.0 - failed / max(attempted, 1), "ratio"),
        }
        if err is None:
            record_untraced(state, args, items_per_s)
    print(json.dumps({
        "correct": err is None,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if err is None else 1


def per_layer(w, job, traced: dict, event_dir: str, cpus: int) -> dict:
    import trace_metrics as tm

    log = tm.EventLog(tm.read_events(event_dir))
    windows = [(a * 1000, b * 1000) for a, b in job.extra["windows"]]
    out = tm.zero_metrics()
    out.update(log.session_metrics(windows, len(job.steps), cpus))
    out.update(tm.kernel_metrics(*w.kernel_inputs()))
    if w.name == "deep_crawl":
        out.update(tm.engine_metrics(job, w.ckpt, traced["frontier_rows"], log,
                                     windows))
    else:
        out.update({f"queries.{n}_s": (s, "s") for n, s in job.steps})
        out["pipelines.export_s"] = (traced["export_s"], "s")
    return out


# Untraced runs record their throughput so that a traced run of the same
# workload can report its overhead without repeating the untraced job.
def _records(state: str) -> str:
    return os.path.join(state, "untraced.jsonl")


def record_untraced(state: str, args, items_per_s: float) -> None:
    with open(_records(state), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "items_per_s": items_per_s}) + "\n")


def untraced_reference(args, state: str) -> float:
    """Median untraced throughput of this workload from earlier runs in
    this checkout; when there is none, one untraced run is made now."""
    path = _records(state)
    if os.path.isfile(path):
        with open(path) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        vals = [r["items_per_s"] for r in recs if r["workload"] == args.workload]
        if vals:
            return statistics.median(vals)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=170, check=True, cwd=ROOT).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return result["metrics"]["items_per_s"]["value"]


def overhead(traced_items_per_s: float, untraced_items_per_s: float) -> dict:
    frac = untraced_items_per_s / traced_items_per_s - 1.0
    print(f"tracing overhead: {frac:+.1%} job time (untraced "
          f"{untraced_items_per_s:.3f} vs traced {traced_items_per_s:.3f} items/s)",
          file=sys.stderr)
    return {"trace.overhead_frac": (frac, "ratio")}


def main(argv=None) -> int:
    args = parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

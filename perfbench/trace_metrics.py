"""Per-layer metrics of a traced run (``--trace 1``).

Sources, all outside the program: the Spark event log of the run's
session, ``CrawlResult.metrics`` (laps and counts, collected with
``collect_metrics=True``), the crawler's work dir on disk, and kernel
timings made in this process by calling the kernels' public functions on
the workload's own URLs and payloads.

Every run reports every per-layer metric, so a layer the workload does not
exercise reads 0 (the curation suite runs no crawl round; the crawl runs
no curation query).  Spark jobs are attributed to crawl-round phases by
the lap boundaries: a round ends when its durable metrics file is written,
right after its commit lap, and the laps before it are laid back-to-back.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import pandas as pd

PHASES = ("cand", "robots", "insert", "select", "commit")
PY_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "InPandas", "InArrow")


def _median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


# ------------------------------------------------------------------ event log
def read_events(event_dir: str) -> list[dict]:
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_broadcast_ids(node: dict, out: set) -> None:
    if node.get("nodeName") == "BroadcastExchange":
        out.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m.get("name") == "data size")
    for c in node.get("children", []):
        _plan_broadcast_ids(c, out)


class EventLog:
    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.py_stages: set[int] = set()
        self.tasks: list[dict] = []
        bcast_ids: set = set()
        accum: dict[int, tuple[int, int]] = {}  # accumulator → (execution, value)
        self.exec_start: dict[int, int] = {}
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                self.jobs[jid] = {"start": e["Submission Time"], "end": None}
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                scopes = " ".join(r.get("Scope", "") for r in si["RDD Info"])
                if any(s in scopes for s in PY_SCOPES):
                    self.py_stages.add(si["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks.append(dict(
                    stage=e["Stage ID"], launch=ti["Launch Time"],
                    finish=ti["Finish Time"],
                    run=tm.get("Executor Run Time", 0),
                    deser=tm.get("Executor Deserialize Time", 0),
                    ser=tm.get("Result Serialization Time", 0),
                    getting=ti.get("Getting Result Time", 0),
                    gc=tm.get("JVM GC Time", 0),
                    shuffle_w=(tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    spill=tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                ))
            elif kind in ("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate"):
                if "time" in e:
                    self.exec_start[e["executionId"]] = e["time"]
                _plan_broadcast_ids(e["sparkPlanInfo"], bcast_ids)
            elif kind == "SparkListenerDriverAccumUpdates":
                for aid, v in e["accumUpdates"]:
                    accum[aid] = (e["executionId"], v)
        # Spark's "data size" of each broadcast relation, by SQL execution
        self.broadcasts = [ev for aid, ev in accum.items() if aid in bcast_ids]
        self.task_job = [self.stage_job.get(t["stage"]) for t in self.tasks]

    def session_metrics(self, windows_ms: list, n_steps: int, cpus: int) -> dict:
        """Jobs submitted inside the measured windows, and their tasks."""
        def inside(t):
            return any(a <= t < b for a, b in windows_ms)

        jobs = {j for j, v in self.jobs.items() if inside(v["start"])}
        tasks = [t for t, j in zip(self.tasks, self.task_job) if j in jobs]
        wall_ms = sum(b - a for a, b in windows_ms)
        run_ms = sum(t["run"] for t in tasks)
        sched = [
            (t["finish"] - t["launch"]) - t["run"] - t["deser"] - t["ser"] - t["getting"]
            for t in tasks
        ]
        lat = [self.jobs[j]["end"] - self.jobs[j]["start"] for j in jobs
               if self.jobs[j]["end"] is not None]
        steps = max(n_steps, 1)
        return {
            "session.jobs_per_step": (len(jobs) / steps, "count"),
            "session.tasks_per_step": (len(tasks) / steps, "count"),
            "session.job_latency_ms_p50": (_median(lat), "ms"),
            "session.sched_delay_ms_p50": (_median(sched), "ms"),
            "session.core_busy_frac": (run_ms / max(wall_ms * cpus, 1), "ratio"),
            "session.gc_frac": (sum(t["gc"] for t in tasks) / max(run_ms, 1), "ratio"),
            "session.shuffle_write_bytes": (sum(t["shuffle_w"] for t in tasks), "B"),
            "session.spill_bytes": (sum(t["spill"] for t in tasks), "B"),
            "session.broadcast_bytes": (sum(
                v for x, v in self.broadcasts
                if inside(self.exec_start.get(x, -1))), "B"),
            "operators.python_stage_s": (
                sum(t["run"] for t in tasks if t["stage"] in self.py_stages) / 1000, "s"),
        }

    def jobs_by_phase(self, phase_windows: list, windows_ms: list) -> dict:
        """phase_windows: (phase, start_ms, end_ms) → count of the jobs
        submitted inside the measured windows, per phase; jobs submitted
        between laps (checkpoint, restore, the final empty check) count as
        'other'."""
        counts = {p: 0 for p in PHASES}
        counts["other"] = 0
        for v in self.jobs.values():
            t = v["start"]
            if not any(a <= t < b for a, b in windows_ms):
                continue
            for p, a, b in phase_windows:
                if a <= t < b:
                    counts[p] += 1
                    break
            else:
                counts["other"] += 1
        return counts


# ------------------------------------------------------------------ kernels
def _timed(fn, reps: int = 5) -> float:
    """Median seconds of ``reps`` calls."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def kernel_metrics(urls: list[str], payloads: pd.DataFrame) -> dict:
    """URL normalization, bloom add/probe and payload validation timed on
    the workload's own URLs and payload rows."""
    from abwcf_spark.kernels.bloom import BloomFilter
    from abwcf_spark.kernels.hashing import xxhash64_series
    from abwcf_spark.kernels.urlnorm import normalize_series
    from abwcf_spark.operators.udfs import validate_payload_batches

    s = pd.Series(urls, dtype=object)
    t_norm = _timed(lambda: normalize_series(s))
    keys = xxhash64_series(s).to_numpy()

    def add():
        bf = BloomFilter.for_capacity(len(keys))
        bf.add_hashes(keys)
        return bf

    t_add = _timed(add)
    bf = add()
    t_probe = _timed(lambda: bf.might_contain(keys))
    cols = ["url", "bytes", "image_id", "w", "h", "fmt", "caption", "phash"]
    pdf = payloads[cols].reset_index(drop=True)
    t_val = _timed(lambda: list(validate_payload_batches(iter([pdf]))), reps=3)
    n = max(len(keys), 1)
    return {
        "kernels.urlnorm_ns_per_url": (t_norm / n * 1e9, "ns"),
        "kernels.bloom_add_ns_per_key": (t_add / n * 1e9, "ns"),
        "kernels.bloom_probe_ns_per_key": (t_probe / n * 1e9, "ns"),
        "kernels.payload_validate_us": (t_val / max(len(pdf), 1) * 1e6, "us"),
    }


# ------------------------------------------------------------------- engine
def _chain_len_max(work_dir: str) -> int:
    best = 0
    for mf in glob.glob(os.path.join(work_dir, "round=*", "manifest.json")):
        with open(mf) as f:
            ch = json.load(f).get("frontier_chain", {})
        best = max(best, len(ch.get("base", [])) + max(
            len(ch.get("ins", [])), len(ch.get("upd", []))))
    return best


def _round_bytes(work_dir: str) -> int:
    from workloads import dir_bytes

    return sum(dir_bytes(d) for d in glob.glob(os.path.join(work_dir, "round=*")))


def round_phase_windows(work_dir: str, metrics: list) -> list:
    """(phase, start_ms, end_ms) per round: a round's end is the write time
    of its metrics file; its laps are laid back-to-back before that."""
    out = []
    for m in metrics:
        path = os.path.join(work_dir, "metrics", f"round={int(m['round']):06d}.parquet")
        end = os.path.getmtime(path) * 1000
        for p in reversed(PHASES):
            start = end - m.get(f"t_{p}", 0.0) * 1000
            out.append((p, start, end))
            end = start
    return out


def engine_metrics(job, work_dir: str, frontier_rows: int, log: EventLog,
                   windows_ms: list) -> dict:
    ms = job.extra["metrics"]
    out = {}
    for p in PHASES + ("compact",):
        key = "t_commit_compact" if p == "compact" else f"t_{p}"
        vals = [m.get(key, 0.0) for m in ms]
        out[f"engine.t_{p}_s"] = (float(sum(vals)), "s")
        out[f"engine.t_{p}_s_p50"] = (_median(vals), "s")
    jobs = log.jobs_by_phase(round_phase_windows(work_dir, ms), windows_ms)
    for p, n in jobs.items():
        out[f"engine.{p}_jobs"] = (n, "count")
    normalized = sum(m.get("normalized", 0) for m in ms)
    probed = sum(m.get("bloom_probed", 0) for m in ms)
    rounds = len(ms)
    out.update({
        "engine.new_url_frac": (
            sum(m.get("new_urls", 0) for m in ms) / max(normalized, 1), "ratio"),
        "engine.rounds": (rounds, "count"),
        "engine.fetched_per_round": (
            sum(m.get("fetched", 0) for m in ms) / max(rounds, 1), "count"),
        "engine.bytes_written_per_round": (_round_bytes(work_dir) / max(rounds, 1), "B"),
        "engine.chain_len_max": (_chain_len_max(work_dir), "count"),
        "engine.restore_s": (job.extra["restore_s"], "s"),
        "engine.resume_s": (job.extra["resume_s"], "s"),
        "engine.store_bytes_per_url": (
            job.extra["store_bytes"] / max(frontier_rows, 1), "B/url"),
        "kernels.bloom_maybe_frac": (
            sum(m.get("bloom_pos", 0) for m in ms) / max(probed, 1), "ratio"),
    })
    return out


# ------------------------------------------------------------------ assembly
def zero_metrics() -> dict:
    """Every per-layer metric at 0: the layer did no work in the workload."""
    from workloads import CURATE_QUERIES

    names = {}
    for p in PHASES + ("compact",):
        names[f"engine.t_{p}_s"] = "s"
        names[f"engine.t_{p}_s_p50"] = "s"
    for p in PHASES + ("other",):
        names[f"engine.{p}_jobs"] = "count"
    names.update({
        "engine.new_url_frac": "ratio", "engine.rounds": "count",
        "engine.fetched_per_round": "count", "engine.bytes_written_per_round": "B",
        "engine.chain_len_max": "count", "engine.restore_s": "s",
        "engine.resume_s": "s", "engine.store_bytes_per_url": "B/url",
        "kernels.bloom_maybe_frac": "ratio",
    })
    for q in CURATE_QUERIES:
        names[f"queries.{q}_s"] = "s"
    names["pipelines.export_s"] = "s"
    return {k: (0.0, u) for k, u in names.items()}

"""Spans recorded from the benchmark's side, and the fold of Spark's
event log into per-layer numbers.

Nothing here reaches into the engine: spans are taken around the calls
the benchmark makes into each module, Spark jobs are tagged with
``setJobGroup`` from the calling thread, the public ``LlmCache``
methods are wrapped from outside, and the event log is Spark's own
(``spark.eventLog.enabled``, uncompressed JSON lines).
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager


_TICK = os.sysconf("SC_CLK_TCK")


def proc_tree(root: int) -> dict[int, int]:
    """``root`` and its live descendants: pid -> CPU clock ticks (user +
    system, plus those of children it has already reaped)."""
    stats = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(p)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    out, frontier = {}, {root}
    while frontier:
        out.update({p: stats[p][1] for p in frontier if p in stats})
        frontier = {c for c, (pp, _) in stats.items() if pp in frontier}
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree. A hypervisor
    taking CPU away inflates this far less than wall time."""
    return sum(proc_tree(root).values()) / _TICK


class Spans:
    """In-memory span list: (name, kind, start, end, attrs), wall-clock
    seconds since the epoch so they line up with event-log timestamps,
    plus the CPU seconds of this process tree at start and end."""

    def __init__(self, spark=None):
        self.spark = spark
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        rec = {"name": name, "kind": kind, "t0": time.time(),
               "cpu0": tree_cpu_s(os.getpid()), **attrs}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["cpu1"] = tree_cpu_s(os.getpid())
            self.items.append(rec)
            if sc is not None:
                sc.setJobGroup("perfbench", "perfbench")

    def of_kind(self, kind: str) -> list[dict]:
        return [s for s in self.items if s["kind"] == kind]


def wrap_llm_cache(cache_cls, calls: list[dict]) -> None:
    """Record every public ``get``/``put``/``compact`` call of the
    cache class into ``calls`` (start, end, op, key, hit)."""
    for op in ("get", "put", "compact"):
        orig = getattr(cache_cls, op)

        def wrapper(self, *a, _orig=orig, _op=op, **kw):
            t0 = time.time()
            out = _orig(self, *a, **kw)
            calls.append({"op": _op, "t0": t0, "t1": time.time(),
                          "key": a[0] if a else kw.get("args_hash"),
                          "hit": _op == "get" and out is not None})
            return out

        setattr(cache_cls, op, wrapper)


def cache_layer(calls: list[dict], windows: list[tuple[float, float]]) -> dict:
    """LlmCache numbers over the calls inside ``windows``; put time is
    self time (a compaction triggered by a put is reported on its own)."""
    inside = [c for c in calls if any(t0 <= c["t0"] <= t1 for t0, t1 in windows)]
    gets = [c for c in inside if c["op"] == "get"]
    puts = [c for c in inside if c["op"] == "put"]
    comps = [c for c in inside if c["op"] == "compact"]
    comp_s = sum(c["t1"] - c["t0"] for c in comps)
    hits = sum(c["hit"] for c in gets)
    return {
        "cache.gets": len(gets),
        "cache.hits": hits,
        "cache.hit_ratio": hits / len(gets) if gets else 0.0,
        "cache.get_s": sum(c["t1"] - c["t0"] for c in gets),
        "cache.puts": len(puts),
        "cache.put_s": sum(c["t1"] - c["t0"] for c in puts) - comp_s,
        "cache.compactions": len(comps),
        "cache.compact_s": comp_s,
    }


# ── event log ───────────────────────────────────────────────────────────

_PY_RUN = "time to run Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_START = "time to start Python workers"


def _new_job(jid: int) -> dict:
    return {"id": jid, "submit": None, "end": None, "group": None, "exec": None,
            "stages": set(), "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0, "out_bytes": 0,
            "py_run_ms": 0, "py_init_ms": 0, "py_start_ms": 0}


def read_event_log(log_dir: str) -> tuple[list[dict], dict]:
    """Jobs with their task totals, and SQL execution id -> physical plan."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f) and os.path.basename(f).startswith("events_"))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = jobs.setdefault(ev["Job ID"], _new_job(ev["Job ID"]))
                    job["submit"] = ev["Submission Time"] / 1000.0
                    props = ev.get("Properties") or {}
                    job["group"] = props.get("spark.jobGroup.id")
                    if props.get("spark.sql.execution.id") is not None:
                        job["exec"] = int(props["spark.sql.execution.id"])
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], _new_job(ev["Job ID"]))["end"] = (
                        ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["run_ms"] += m["Executor Run Time"]
                    job["cpu_ns"] += m["Executor CPU Time"]
                    job["gc_ms"] += m["JVM GC Time"]
                    job["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill"] += m["Disk Bytes Spilled"]
                    job["out_bytes"] += m["Output Metrics"]["Bytes Written"]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (_PY_RUN, _PY_INIT, _PY_START):
                            key = {_PY_RUN: "py_run_ms", _PY_INIT: "py_init_ms",
                                   _PY_START: "py_start_ms"}[name]
                            job[key] += int(acc.get("Update") or 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = ev.get("physicalPlanDescription") or ""
    done = [j for j in jobs.values() if j["submit"] is not None]
    for j in done:
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(done, key=lambda j: j["id"]), plans


def jobs_in(jobs: list[dict], span: dict) -> list[dict]:
    """Jobs of one span: tagged with its job group, or (for jobs the
    engine submits from its own threads, which carry no group) submitted
    inside its time window."""
    return [j for j in jobs
            if j["group"] == span["name"]
            or (j["group"] in (None, "perfbench") and span["t0"] <= j["submit"] <= span["t1"])]


def busy_seconds(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of the jobs' [submit, end] intervals, clipped
    to [t0, t1]."""
    ivs = sorted((max(j["submit"], t0), min(j["end"], t1)) for j in jobs)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def totals(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "bytes_written": sum(j["out_bytes"] for j in jobs),
        "python_s": sum(j["py_run_ms"] for j in jobs) / 1e3,
        "python_init_s": sum(j["py_init_ms"] for j in jobs) / 1e3,
        "python_start_s": sum(j["py_start_ms"] for j in jobs) / 1e3,
    }


def output_stage(plan: str, out_dir: str) -> str | None:
    """Index stage a SQL execution writes, from the output path in its
    physical plan (``<out_dir>/<stage>``)."""
    m = re.search(r"Arguments: (?:file:)?" + re.escape(out_dir.rstrip("/")) + r"/([A-Za-z_]+)",
                  plan)
    return m.group(1) if m else None

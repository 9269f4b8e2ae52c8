"""Run the benchmark over several seeds and fold the runs into a report.

Usage, from the repository root:

    python3 perfbench/report.py --seeds 1-10 --trace-seeds 1-3

For every workload and seed it runs ``perfbench/run.py`` untraced, and
for the trace seeds also traced, each in its own process. It writes

- ``perfbench/REPORT.md``: per workload, every end-to-end metric's
  median and quartiles over the untraced runs with its spread against
  the bound in ``BENCHMARK.json``; the per-layer table (median over the
  traced runs); and the tracing overhead, traced minus untraced, on the
  trace seeds;
- ``perfbench/REPORT.json``: the per-run numbers behind those tables;
- with ``--record-expected``, ``perfbench/expected.json``: each seed's
  exact outputs, which later runs of that seed must reproduce.

Raw run records go to ``.perfbench_runs/report/`` and are not kept.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(spec: str) -> list[int]:
    if not spec:
        return []
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def _run(workload: str, seed: int, seconds: int, trace: int, raw: Path) -> dict:
    path = raw / f"{workload}-{seed}-t{trace}.json"
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--detail", str(path)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=HERE.parent)
    wall = time.time() - t0
    if proc.returncode != 0:
        return {"seed": seed, "trace": trace, "wall_s": wall, "error": proc.returncode}
    with open(path) as f:
        detail = json.load(f)
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"seed": seed, "trace": trace, "wall_s": wall, "result": last,
            "end_to_end": detail["end_to_end"], "per_layer": detail.get("per_layer"),
            "failures": detail["failures"], "self_check": detail.get("self_check"),
            "outputs": {k: detail.get(k) for k in ("index_outputs", "graph_outputs", "outputs")},
            "host": detail["host"], "spans": detail["spans"]}


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _fmt(v: float) -> str:
    if v == 0:
        return "0"
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.4g}"


def _workload_section(name: str, runs: list[dict], spec: dict) -> list[str]:
    untraced = [r for r in runs if r["trace"] == 0 and "error" not in r]
    traced = [r for r in runs if r["trace"] == 1 and "error" not in r]
    errors = [r for r in runs if "error" in r]
    lines = [f"## {name}", ""]
    lines.append(
        f"{len(untraced)} untraced runs (seeds {', '.join(str(r['seed']) for r in untraced)}), "
        f"{len(traced)} traced runs, {len(errors)} runs that exited non-zero. "
        f"All runs correct: {all(r['result']['correct'] for r in untraced + traced)}; "
        f"ops attempted/failed: {sum(r['result']['attempted'] for r in untraced + traced)}/"
        f"{sum(r['result']['failed'] for r in untraced + traced)}; self-check flagged the "
        f"perturbed output in every run: {all(r['self_check'] for r in untraced + traced)}.")
    walls = [r["wall_s"] for r in untraced]
    if walls:
        lines.append(f"Process wall time per untraced run: median {statistics.median(walls):.1f} s, "
                     f"max {max(walls):.1f} s.")
    lines += ["", "### End-to-end (untraced)", "",
              "| metric | unit | better | median | q1 | q3 | (q3-q1)/median | bound |",
              "|---|---|---|---|---|---|---|---|"]
    for m in spec["end_to_end"]:
        vals = [r["end_to_end"][m["name"]] for r in untraced]
        if not vals:
            continue
        q1, q2, q3 = _quartiles(vals)
        lines.append(f"| `{m['name']}` | {m['unit']} | {m['better']} | {_fmt(q2)} | {_fmt(q1)} | "
                     f"{_fmt(q3)} | {(q3 - q1) / q2:.3f} | {m['bound']} |")
    if traced:
        seeds = {r["seed"] for r in traced}
        base = [r for r in untraced if r["seed"] in seeds]
        lines += ["", f"### Tracing overhead (seeds {', '.join(map(str, sorted(seeds)))})", "",
                  "| metric | untraced median | traced median | traced - untraced |",
                  "|---|---|---|---|"]
        for m in spec["end_to_end"]:
            if not base:
                break
            u = statistics.median(r["end_to_end"][m["name"]] for r in base)
            t = statistics.median(r["end_to_end"][m["name"]] for r in traced)
            lines.append(f"| `{m['name']}` ({m['unit']}) | {_fmt(u)} | {_fmt(t)} | "
                         f"{_fmt(t - u)} ({(t - u) / u:+.1%}) |")
        lines += ["", "### Per-layer (traced, median over runs)", "",
                  "| metric | unit | median | min | max |", "|---|---|---|---|---|"]
        for m in spec["per_layer"]:
            vals = [r["per_layer"][m["name"]] for r in traced]
            lines.append(f"| `{m['name']}` | {m['unit']} | {_fmt(statistics.median(vals))} | "
                         f"{_fmt(min(vals))} | {_fmt(max(vals))} |")
    return lines + [""]


def _expected(runs: dict[str, list[dict]]) -> dict:
    """Exact outputs per seed from correct untraced runs, in the shape
    ``run.py`` compares against (only the requests every run makes)."""
    sys.path.insert(0, str(HERE))
    from run import MIN_OPS

    out: dict[str, dict] = {}
    for w, rs in runs.items():
        for r in rs:
            if r["trace"] or "error" in r or not r["result"]["correct"]:
                continue
            o, seed = r["outputs"], out.setdefault(str(r["seed"]), {})
            if w == "serve_fresh":
                seed["index"] = o["index_outputs"]
                seed["serve_fresh"] = {"requests": o["outputs"]["requests"][:MIN_OPS]}
            else:
                seed["graph"] = o["graph_outputs"]
                seed["graph_analytics"] = o["outputs"]["analytics"]
    return dict(sorted(out.items(), key=lambda kv: int(kv[0])))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="1-3")
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--out", default=str(HERE / "REPORT.md"))
    ap.add_argument("--record-expected", action="store_true",
                    help="write perfbench/expected.json from the untraced runs")
    args = ap.parse_args(argv)

    root = HERE.parent
    with open(root / "BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    raw = root / ".perfbench_runs" / "report"
    raw.mkdir(parents=True, exist_ok=True)
    seeds, trace_seeds = _seeds(args.seeds), set(_seeds(args.trace_seeds))
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seeds:
        for w in workloads:
            for trace in (0, 1) if seed in trace_seeds else (0,):
                r = _run(w, seed, spec["run_seconds"], trace, raw)
                runs[w].append(r)
                print(w, seed, trace, round(r["wall_s"], 1),
                      r.get("end_to_end") or r.get("error"), file=sys.stderr, flush=True)
    out = Path(args.out)
    lines = ["# perfbench report", "",
             f"`python3 perfbench/report.py --seeds {args.seeds} --trace-seeds {args.trace_seeds}`, "
             f"run_seconds = {spec['run_seconds']}.", ""]
    for w in workloads:
        lines += _workload_section(w, runs[w], spec)
    out.write_text("\n".join(lines))
    with open(out.with_suffix(".json"), "w") as f:
        json.dump(runs, f, indent=1)
    if args.record_expected:
        with open(HERE / "expected.json", "w") as f:
            json.dump(_expected(runs), f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Assemble ``baseline.json`` from the output of benchmark runs.

    python3 perfbench/baseline.py \\
        --set A runs/A/*.out --set B runs/B/*.out \\
        --traced perfbench/results/*-summary.json \\
        --fresh runs/fresh/*.out > perfbench/baseline.json

Each ``.out`` file is the standard output of one untraced
``perfbench/run.py`` run of one workload. A ``--set`` is a set of such
runs made one after another on the same code; with two sets the output
also compares their medians against the bounds in ``BENCHMARK.json``.
``--traced`` takes the summaries traced runs keep under
``perfbench/results/``; ``--fresh`` takes ``corpus_fresh`` runs, whose
failures are the known-failure record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = ("setup_s", "cpu_s", "wall_s", "first_wall_s", "peak_rss_mb")
NOTE = (
    "4-core baseline of the package. Per set and workload, every untraced"
    " run (--seconds = run_seconds, one seed each) and the median and"
    " quartiles (statistics.quantiles n=4) of each end-to-end metric;"
    " spread = (q3 - q1) / median. Only the metrics BENCHMARK.json lists"
    " carry a bound. Runs shared the host with other tenants: see"
    " host_steal_s per run."
)


def parse_run(path: str) -> dict:
    """One run's stdout: its header, host and input lines, the end-to-end
    metric lines, the errors and the result object."""
    with open(path) as f:
        lines = f.read().strip().splitlines()
    run: dict = {"file": os.path.basename(path), "errors": []}
    for line in lines[:-1]:
        words = line.split()
        if line.startswith("# host ") or line.startswith("# inputs "):
            run[words[1]] = dict(w.split("=", 1) for w in words[2:])
        elif line.startswith("# "):
            run["workload"] = words[1]
            run.update(
                {k: float(v) for k, v in (w.split("=", 1) for w in words[2:])}
            )
        elif line.startswith("  error: "):
            run["errors"].append(line[len("  error: "):])
        elif len(words) == 3 and words[0] in END_TO_END:
            run[words[0]] = float(words[1])
    run["result"] = json.loads(lines[-1])
    return run


def quartiles(xs: list[float]) -> dict:
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "spread": round((q3 - q1) / med, 4)}


def summarize_set(paths: list[str]) -> dict:
    """Per workload: every run, then median, quartiles and spread of each
    end-to-end metric and of the run duration."""
    by_workload: dict[str, list[dict]] = {}
    for p in paths:
        r = parse_run(p)
        by_workload.setdefault(r["workload"], []).append(r)
    out = {}
    for w, runs in by_workload.items():
        runs.sort(key=lambda r: r["seed"])
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        keys = (*END_TO_END, "duration_s")
        out[w] = {
            "seeds": [int(r["seed"]) for r in runs],
            "attempted": int(attempted),
            "failed": int(failed),
            "error_rate": failed / attempted,
            "end_to_end": {k: quartiles([r[k] for r in runs]) for k in keys},
            "runs": [
                {
                    "seed": int(r["seed"]),
                    "samples": int(r["samples"]),
                    "attempted": int(r["attempted"]),
                    "failed": int(r["failed"]),
                    **{k: round(r[k], 4) for k in keys},
                    "host_steal_s": round(float(r["host"]["steal_s"]), 2),
                }
                for r in runs
            ],
            "inputs": runs[0]["inputs"],
        }
    return out


def agreement(sets: dict, bounds: dict) -> dict:
    """Second set's median against the first's, per bounded metric: the
    relative change and whether it stays within the metric's bound."""
    (a, first), (b, second) = list(sets.items())[:2]
    out = {}
    for w in first:
        if w not in second:
            continue
        out[w] = {}
        for k, bound in bounds.items():
            m1 = first[w]["end_to_end"][k]["median"]
            m2 = second[w]["end_to_end"][k]["median"]
            change = m2 / m1 - 1
            out[w][k] = {f"median_{a}": m1, f"median_{b}": m2,
                         "change": round(change, 4), "bound": bound,
                         "within": abs(change) <= bound}
    return out


def traced(paths: list[str]) -> dict:
    """Per workload: a traced run's per-layer metrics, the traced and bare
    executions behind its overhead, and per span of its first measured
    traced execution the self time and Spark counters."""
    out = {}
    for p in paths:
        with open(p) as f:
            s = json.load(f)
        measured = [e for e in s["executions"] if e["measured"]]
        first = next(e["id"] for e in measured if e["traced"])
        spans = s["layers"][first]
        walls = {
            kind: [round(e["wall_s"], 4) for e in measured
                   if e["traced"] == (kind == "traced_wall_s")]
            for kind in ("traced_wall_s", "bare_wall_s")
        }
        t, b = walls["traced_wall_s"], walls["bare_wall_s"]
        out[s["workload"]] = {
            "seed": s["seed"],
            "seconds": s["seconds"],
            "per_layer": {k: {"value": round(v["value"], 4), "unit": v["unit"]}
                          for k, v in s["per_layer"].items()},
            # the overhead counts as measured only when, over two or more
            # of each, every traced execution is slower (or faster) than
            # every bare one
            "overhead": {**walls, "resolved": min(len(t), len(b)) >= 2
                         and (min(t) > max(b) or max(t) < min(b))},
            "self_s_per_span": {n: round(a["self_s"], 4) for n, a in spans.items()},
            "spark_per_span": {
                n: {k: round(v, 4) for k, v in a.items()
                    if k not in ("calls", "wall_s", "self_s")}
                for n, a in spans.items()
            },
        }
    return out


def known_failure(paths: list[str]) -> dict:
    runs = [parse_run(p) for p in paths]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    return {
        "workload": "corpus_fresh",
        "seeds": sorted(int(r["seed"]) for r in runs),
        "attempted": int(attempted),
        "failed": int(failed),
        "error_rate": round(failed / attempted, 4),
        "errors": sorted({e for r in runs for e in r["errors"]}),
        "where": "ting_data_etl_spark.operators.curation._final_selection_build:"
                 " st.localCheckpoint(eager=True)",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--set", nargs="+", action="append", default=[],
                    metavar=("NAME", "OUT"), help="a set name, then its runs")
    ap.add_argument("--traced", nargs="*", default=[])
    ap.add_argument("--fresh", nargs="*", default=[])
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = {s[0]: summarize_set(s[1:]) for s in args.set}
    some_run = parse_run(args.set[0][1])
    out: dict = {
        "note": NOTE,
        "run_seconds": spec["run_seconds"],
        "host": {k: v for k, v in some_run["host"].items()
                 if k not in ("busy_cpu_s", "steal_s")},
        "sets": sets,
    }
    if len(sets) > 1:
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        out["agreement"] = agreement(sets, bounds)
    durations = [r["duration_s"] for s in sets.values() for w in s.values()
                 for r in w["runs"]]
    runs = 4 + 22 * len(spec["workloads"])
    out["budget"] = {
        "runs_per_evaluation": runs,
        "mean_run_s": round(statistics.mean(durations), 1),
        "max_run_s": round(max(durations), 1),
        "projected_s": round(runs * statistics.mean(durations)),
    }
    if args.traced:
        out["traced"] = traced(args.traced)
    if args.fresh:
        out["known_failure"] = known_failure(args.fresh)
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())

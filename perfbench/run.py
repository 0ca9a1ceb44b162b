"""End-to-end pipeline benchmark of the package's public facades.

Usage::

    python3 perfbench/run.py --workload store_reports --seed 1 --seconds 10 --trace 0

Workloads (``--workload all`` runs every one in turn):

* ``store_reports`` — the reference workflow through ``api.Pipeline`` and
  the ``sources``/``sinks`` functions it composes: messy CSVs → per-store
  fan-out → verification → the six jobs, each written one CSV per store.
* ``corpus_warm`` — ``api.Corpus.final_selection`` into a noop sink plus
  ``api.Corpus.manifest``, with the on-disk stages built during set-up and
  the session memo cleared before every execution.
* ``corpus_fresh`` — the same calls with stages and memo purged before
  every execution (``operators.dedup.purge_stages``).

Inputs are generated from ``--seed`` into a per-run directory inside the
checkout, which is removed at the end. One worker process with
``local[<cpus>]`` runs the executions one after another. With
``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it carries the per-layer metrics, and the span JSONL and a
per-layer summary are kept under ``perfbench/results/``.
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
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import proctree  # noqa: E402
from worker import JOBS as _JOBS  # noqa: E402
from worker import WARMUPS  # noqa: E402

WORKLOADS = tuple(WARMUPS)
JOBS = [job for job, _ in _JOBS]
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "first_wall_s": "s",
    "peak_rss_mb": "MB",
}
#: The end-to-end metrics on the result line, each with a regression
#: bound. On a 4-core host shared with other tenants, ``wall_s``,
#: ``first_wall_s`` and ``peak_rss_mb`` spread too widely from run to run
#: to carry one (ten seeds: up to 0.83 of the median under host CPU steal);
#: they are printed, and traced runs report them per layer.
GATED = ("setup_s", "cpu_s")
#: Per-layer metric → (unit, source). Per measured traced execution:
#: ``span:<name>`` the span's wall time, ``count:<name>`` a counter the
#: worker kept, ``runstats:<key>`` a reuse counter delta,
#: ``spark:<counter>`` the executor counters summed over its spans,
#: ``gap:``/``self:`` the execution span's driver gap and self time. Per
#: run: ``main:<key>`` a worker value, ``e2e:<key>`` an end-to-end value,
#: ``trace:`` the traced median wall time, its overhead over the bare
#: median, and the number of traced and bare executions behind the two.
PER_LAYER = {
    "session.get_spark_s": ("s", "main:get_spark_s"),
    "sources.csv.read_messy_csv_s": ("s", "span:sources.csv.read_messy_csv"),
    "sources.csv.files_read": ("count", "count:sources.csv.files_read"),
    "sources.csv.files_skipped": ("count", "count:sources.csv.files_skipped"),
    "sources.csv.rows_in": ("count", "count:sources.csv.rows_in"),
    "sinks.fanout.write_s": ("s", "span:sinks.fanout.write"),
    "sinks.fanout.files": ("count", "count:sinks.fanout.files"),
    "sinks.fanout.rows": ("count", "count:sinks.fanout.rows"),
    "operators.verify.report_s": ("s", "span:operators.verify.report"),
    "operators.verify.rows_checked": ("count", "count:operators.verify.rows_checked"),
    "operators.verify.violations": ("count", "count:operators.verify.violations"),
    **{f"plans.jobs.{j}.plan_s": ("s", f"span:plans.jobs.{j}.plan") for j in JOBS},
    **{
        f"sinks.single_file.{j}.write_s": ("s", f"span:sinks.single_file.{j}.write")
        for j in JOBS
    },
    "sinks.single_file.files": ("count", "count:sinks.single_file.files"),
    "sinks.single_file.rows": ("count", "count:sinks.single_file.rows"),
    "sinks.single_file.bytes": ("B", "count:sinks.single_file.bytes"),
    "api.Corpus.final_selection_s": ("s", "span:api.Corpus.final_selection"),
    "api.Corpus.manifest_s": ("s", "span:api.Corpus.manifest"),
    "operators.dedup.purge_stages_s": ("s", "count:operators.dedup.purge_stages_s"),
    "runstats.stage_builds": ("count", "runstats:stage_build"),
    "relcache.memo_builds": ("count", "runstats:memo_build"),
    "relcache.memo_hits": ("count", "runstats:memo_hit"),
    "spark.jobs": ("count", "spark:jobs"),
    "spark.stages": ("count", "spark:stages"),
    "spark.tasks": ("count", "spark:tasks"),
    "spark.failed_tasks": ("count", "spark:failed_tasks"),
    "spark.executor_run_s": ("s", "spark:executor_run_s"),
    "spark.executor_cpu_s": ("s", "spark:executor_cpu_s"),
    "spark.gc_s": ("s", "spark:gc_s"),
    "spark.input_bytes": ("B", "spark:input_bytes"),
    "spark.shuffle_read_bytes": ("B", "spark:shuffle_read_bytes"),
    "spark.shuffle_write_bytes": ("B", "spark:shuffle_write_bytes"),
    "spark.spill_bytes": ("B", "spark:spill_bytes"),
    "spark.output_bytes": ("B", "spark:output_bytes"),
    "spark.driver_gap_s": ("s", "gap:execution"),
    "execution.self_s": ("s", "self:execution"),
    "wall_s": ("s", "e2e:wall_s"),
    "first_wall_s": ("s", "e2e:first_wall_s"),
    "peak_rss_mb": ("MB", "e2e:peak_rss_mb"),
    "host.busy_cpu_s": ("s", "main:host_busy_s"),
    "host.steal_s": ("s", "main:host_steal_s"),
    "trace.wall_s": ("s", "trace:wall_s"),
    "trace.overhead_s": ("s", "trace:overhead_s"),
    "trace.traced_samples": ("count", "trace:traced_samples"),
    "trace.bare_samples": ("count", "trace:bare_samples"),
}
#: Worker time limit = this allowance for set-up and warm-ups, plus
#: twice ``--seconds`` for the measured executions. The slowest run seen
#: on a 4-core host took 115 s in all (``corpus_warm``, ``--seconds 15``,
#: 107 s of host CPU steal); with ``--seconds 10`` the limit is 170 s, so a
#: run half again as slow still completes, and the command still exits
#: within 180 s.
WARMUP_ALLOWANCE_S = 150


class BenchError(Exception):
    """The benchmark could not produce a result (not a failed execution)."""


def _cpus() -> str:
    return str(len(os.sched_getaffinity(0)))


def _worker_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            # Spark's Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
            # every JVM: temp files inside the run dir, no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": _cpus(),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _spawn(run_dir: str, out: str, args: list[str],
           limit_s: float) -> tuple[dict, float]:
    """Run one worker to completion, for at most *limit_s* seconds: (its
    result, spawn epoch). The result gains ``peak_rss_bytes``, sampled
    from here so that the sampling costs the measured process nothing."""
    os.makedirs(out)
    log = os.path.join(out, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *args]
    peak = 0
    t0 = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=_worker_env(run_dir), stdout=f,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        path = os.path.join(out, "result.json")
        try:
            while proc.poll() is None and not os.path.exists(path):
                if time.time() - t0 > limit_s:
                    raise BenchError(f"worker timed out after {limit_s:.0f} s")
                peak = max(peak, proctree.tree_rss_bytes(proc.pid))
                time.sleep(0.2)
        finally:
            _stop_worker(proc)
    if not os.path.exists(path):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"worker exited {proc.returncode}:\n{tail}")
    with open(path) as f:
        result = json.load(f)
    result["peak_rss_bytes"] = peak
    return result, t0


def _stop_worker(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, the PySpark
    daemon in its own process group, Python workers) and wait until every
    one has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    rest = proctree.stop_descendants()
    if rest:
        raise BenchError(f"processes {rest} outlived the worker")


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _versions() -> dict:
    out = {"python": sys.version.split()[0]}
    try:
        import pyspark

        out["pyspark"] = pyspark.__version__
    except ImportError:
        pass
    return out


def make_inputs(run_dir: str, seed: int, sizes: inputs.Sizes) -> dict:
    """Write every workload's inputs (set-up, untimed); their sizes."""
    d = os.path.join(run_dir, "inputs")
    inputs.write_tables(os.path.join(d, "tables"), seed, sizes)
    inputs.write_corpus(os.path.join(d, "tables"), seed, sizes)
    paths = inputs.write_messy_csvs(os.path.join(d, "csv"), seed, sizes)
    return {
        "dir": d,
        "csv_files": len(paths),
        "csv_bytes": sum(os.path.getsize(p) for p in paths),
        "sizes": sizes.__dict__,
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 sizes: inputs.Sizes, corrupt: bool = False) -> dict:
    """One benchmark run of *workload*; the summary dict it prints."""
    if not os.path.isdir(os.path.join(ROOT, "ting_data_etl_spark")):
        raise BenchError(f"package ting_data_etl_spark not found under {ROOT}")
    runs_root = os.path.join(HERE, ".runs")
    run_id = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(runs_root, run_id)
    os.makedirs(run_dir)
    started = time.perf_counter()
    try:
        info = make_inputs(run_dir, seed, sizes)
        args = [
            "--workload", workload, "--inputs", info["dir"], "--seconds",
            str(seconds), "--trace", str(int(trace)), "--run-id", run_id,
        ]
        if corrupt:
            args.append("--corrupt")
        main, t0 = _spawn(run_dir, os.path.join(run_dir, "w0"), args,
                          WARMUP_ALLOWANCE_S + 2 * seconds)
        summary = summarize(workload, seed, seconds, trace, main,
                            main["ready_epoch"] - t0, info)
        summary["duration_s"] = time.perf_counter() - started
        if trace:
            _keep_trace(run_dir, summary)
        return summary
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(runs_root) and not os.listdir(runs_root):
            os.rmdir(runs_root)


def _keep_trace(run_dir: str, summary: dict) -> None:
    """Keep the span JSONL and the run summary (per-layer metrics, and per
    execution and span name the wall, self time and Spark counters)."""
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{summary['workload']}-seed{summary['seed']}")
    shutil.copy(os.path.join(run_dir, "w0", "spans.jsonl"), f"{stem}-spans.jsonl")
    with open(f"{stem}-summary.json", "w") as f:
        json.dump(summary, f, indent=1)


def summarize(workload, seed, seconds, trace, main, setup_s, info) -> dict:
    execs = main["executions"]
    measured = [e for e in execs if e["measured"]]
    ok = [e for e in measured if e["ok"]]
    # the corpus workloads' once-per-run full-selection check counts too
    checked = main["selection_ok"] is not None
    attempted = len(execs) + checked
    failed = sum(1 for e in execs if not e["ok"]) + (main["selection_ok"] is False)
    sample = ok or measured or execs
    e2e = {
        "setup_s": setup_s,
        "wall_s": _median([e["wall_s"] for e in sample]),
        "first_wall_s": execs[0]["wall_s"],
        "cpu_s": _median([e["cpu_s"] for e in sample]),
        "peak_rss_mb": main["peak_rss_bytes"] / 2**20,
    }
    out = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": bool(trace),
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "errors": main["errors"],
        "samples": len(sample),
        "end_to_end": e2e,
        "host": {
            "cpus": int(_cpus()),
            "driver_mem": main["driver_mem"],
            "spark": main["spark_version"],
            "java": main["java_version"],
            **_versions(),
            "git_commit": _git_commit(),
            "busy_cpu_s": main["host_busy_s"],
            "steal_s": main["host_steal_s"],
        },
        "inputs": {k: v for k, v in info.items() if k != "dir"},
        "stage_setup_s": main.get("stage_setup_s"),
        "executions": execs,
    }
    if trace:
        out["per_layer"] = per_layer(main, measured, e2e)
        out["layers"] = main["layers"]
    return out


def per_layer(main: dict, measured: list[dict], e2e: dict) -> dict:
    """Per-layer metrics: means over the traced measured executions."""
    layers = main["layers"]  # exec id → span name → aggregate
    traced = [e for e in measured if e["traced"]]
    bare = [e for e in measured if not e["traced"]]
    n = max(len(traced), 1)

    def mean_over(fn) -> float:
        return sum(fn(e) for e in traced) / n

    out = {}
    for name, (unit, src) in PER_LAYER.items():
        kind, key = src.split(":", 1)
        if kind == "span":
            v = mean_over(lambda e: layers[e["id"]].get(key, {}).get("wall_s", 0.0))
        elif kind == "count":
            v = mean_over(lambda e: e["counts"].get(key, 0))
        elif kind == "runstats":
            v = mean_over(lambda e: e.get(key, 0))
        elif kind == "spark":
            v = mean_over(lambda e: sum(a[key] for a in layers[e["id"]].values()))
        elif kind == "gap":
            v = mean_over(lambda e: layers[e["id"]][key]["driver_gap_s"])
        elif kind == "self":
            v = mean_over(lambda e: layers[e["id"]][key]["self_s"])
        elif kind == "main":
            v = main[key]
        elif kind == "e2e":
            v = e2e[key]
        elif key == "wall_s":
            v = _median([e["wall_s"] for e in traced])
        elif key == "traced_samples":
            v = len(traced)
        elif key == "bare_samples":
            v = len(bare)
        else:  # overhead: traced minus bare executions of the same process
            v = _median([e["wall_s"] for e in traced]) - _median(
                [e["wall_s"] for e in bare]
            )
        out[name] = {"value": v, "unit": unit}
    return out


def render(summary: dict) -> str:
    """Human-readable lines: the run, host and input disclosure, then
    every metric by name with its unit."""
    inputs_ = {k: v for k, v in summary["inputs"].items() if k != "sizes"}
    lines = [
        f"# {summary['workload']} seed={summary['seed']} "
        f"samples={summary['samples']} attempted={summary['attempted']} "
        f"failed={summary['failed']} duration_s={summary['duration_s']:.1f}",
        "# host " + " ".join(
            f"{k}={round(v, 2) if isinstance(v, float) else v}"
            for k, v in summary["host"].items()
        ),
        "# inputs " + " ".join(
            f"{k}={v}" for k, v in {**inputs_, **summary["inputs"]["sizes"]}.items()
        ),
    ]
    for k, v in summary["end_to_end"].items():
        lines.append(f"{k:>32} {v:12.4f} {END_TO_END[k]}")
    lines.append(f"{'error_rate':>32} {summary['error_rate']:12.4f} ratio")
    for k, v in summary.get("per_layer", {}).items():
        lines.append(f"{k:>48} {v['value']:14.4f} {v['unit']}")
    for e in summary["errors"]:
        lines.append(f"  error: {e}")
    return "\n".join(lines)


def result_line(summary: dict) -> str:
    if summary["trace"]:
        metrics = summary["per_layer"]
    else:
        metrics = {
            k: {"value": summary["end_to_end"][k], "unit": END_TO_END[k]}
            for k in GATED
        }
    return json.dumps(
        {
            "correct": summary["failed"] == 0,
            "attempted": summary["attempted"],
            "failed": summary["failed"],
            "metrics": metrics,
        }
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="the self-test's tiny inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="delete one output file per execution (self-test)")
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proctree.become_subreaper()
    sizes = inputs.TINY if args.tiny else inputs.FULL
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    status = 0
    for w in workloads:
        try:
            s = run_workload(w, args.seed, args.seconds, bool(args.trace),
                             sizes, args.corrupt)
        except BenchError as e:
            print(f"perfbench: {w}: {e}", file=sys.stderr)
            status = 1
            continue
        print(render(s), flush=True)
        print(result_line(s), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())

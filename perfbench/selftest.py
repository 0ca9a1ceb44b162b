"""Self-test of the benchmark on tiny inputs (about six minutes, 4 cores).

    python3 perfbench/selftest.py

Checks, for each workload run once at the tiny sizes:

* the run exits 0 and its last stdout line is the result object with
  exactly ``correct``, ``attempted``, ``failed`` and ``metrics``;
* every metric ``BENCHMARK.json`` names is reported, with its unit, both
  in that object and by name in the human-readable lines;
* a run whose executions lose one per-store output file counts every
  execution as failed;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  command exits non-zero without printing a result;
* no run leaves a process behind.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proctree  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
    # as a subreaper this process adopts whatever the run left behind
    left = [p for p in proctree.tree_pids(os.getpid()) if p != os.getpid()]
    proctree.stop_descendants()
    assert not left, f"processes {left} outlived the run"
    return proc.returncode, proc.stdout.splitlines()


def check_run(spec: dict, workload: str, trace: int, expect_ok: bool) -> dict:
    code, lines = bench("--workload", workload, "--trace", str(trace))
    assert code == 0, f"{workload}: exit {code}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}, workload
    text = "\n".join(lines[:-1])
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        assert any(
            line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
            for line in text.splitlines()
        ), f"{m['name']} not printed with its unit"
    if expect_ok:
        assert result["failed"] == 0 and result["correct"], (workload, text)
    print(f"ok  {workload} trace={trace} attempted={result['attempted']} "
          f"failed={result['failed']}", flush=True)
    return result


def main() -> int:
    proctree.become_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in ("store_reports", "corpus_warm"):
        check_run(spec, w, 0, expect_ok=True)
    check_run(spec, "store_reports", 1, expect_ok=True)
    # the fresh corpus build may hit the package's known lost-checkpoint
    # failure; it must be reported, not hidden, so only the shape is checked
    check_run(spec, "corpus_fresh", 0, expect_ok=False)

    code, lines = bench("--workload", "store_reports", "--trace", "0", "--corrupt")
    assert code == 0
    result = json.loads(lines[-1])
    assert result["failed"] == result["attempted"] and not result["correct"], result
    print("ok  a deleted per-store file fails its execution", flush=True)

    bare = os.path.join(HERE, ".runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".runs", "results", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, lines = bench("--workload", "store_reports", "--trace", "0", cwd=bare)
        assert code != 0 and not any(line.startswith("{") for line in lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        runs = os.path.join(HERE, ".runs")
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    print("ok  without the package the command fails and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())

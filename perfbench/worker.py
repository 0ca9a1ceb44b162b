"""Benchmark worker: one Spark session running one workload.

Started by ``run.py`` as a child process (so the measured process tree is
this process plus the JVM and Python workers it starts), with the package
on ``PYTHONPATH`` and ``TMPDIR`` pointing inside the run directory.

Set-up is imports, ``get_spark`` and one trivial job. Then it runs the
warm-up executions (the first is timed on its own as the cold first
execution), then executions back to back while they fit in
``--seconds``, checks every output, and writes ``result.json`` into
``--out``. An execution fails when it raises or when any check fails; a
failure is counted, never retried.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

import checks
import proctree
from spans import SPARK_COUNTERS, Tracer, attribute, parse_event_log

JOBS = (
    ("job_23_1_annual_kpi", "annual_referral_kpi"),
    ("job_23_2_monthly_yoy", "monthly_yoy_trend"),
    ("job_24_1_performance_kpi", "performance_kpi"),
    ("job_24_2_branch_month_conversion", "branch_month_conversion"),
    ("job_25_1_top5_branches", "top_branches"),
    ("job_25_2_bottom5_branches", "bottom_branches"),
)
KEY = "store_id"
#: Unmeasured executions before the timed ones. The first is reported as
#: the cold ``first_wall_s``. The store workflow's second execution still
#: pays JIT compilation (its CPU time varied 23-42 s across seeds), so it
#: gets one more; the corpus workloads are warmed by their set-up.
WARMUPS = {"store_reports": 2, "corpus_warm": 1, "corpus_fresh": 1}


class CheckFailed(Exception):
    """An execution's output disagrees with its independent check."""


class StoreReports:
    """The reference workflow: messy CSVs → per-store fan-out → verify →
    the six jobs, each written one CSV per store."""

    def __init__(self, spark, tr: Tracer, inputs_dir: str, corrupt: bool) -> None:
        from ting_data_etl_spark.api import Pipeline

        self.spark, self.tr, self.corrupt = spark, tr, corrupt
        self.sf_dir = os.path.join(inputs_dir, "tables")
        self.pipeline = Pipeline(spark, self.sf_dir)
        csv_dir = os.path.join(inputs_dir, "csv")
        self.csv_paths = sorted(
            os.path.join(csv_dir, f) for f in os.listdir(csv_dir)
        )
        self.expected = {p: checks.expected_fanout(p) for p in self.csv_paths}
        self.oracles = checks.Oracles(self.sf_dir)
        for job, _ in JOBS:
            self.oracles.expect(job)
        self.counts: dict[str, float] = {}

    def _count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def execute(self, out_dir: str) -> tuple:
        from pyspark.sql import functions as F

        from ting_data_etl_spark.sinks.fanout import write_fanout_per_store_csv
        from ting_data_etl_spark.sinks.single_file import write_per_group_csv
        from ting_data_etl_spark.sources.csv import read_messy_csv

        tr, spark = self.tr, self.spark
        fan_dir = os.path.join(out_dir, "fanout")
        ingested, fan_receipts = [], {}
        for path in self.csv_paths:
            name = os.path.basename(path)
            with tr.span("sources.csv.read_messy_csv"):
                res = read_messy_csv(spark, path, KEY)
            if res.skipped:
                self._count("sources.csv.files_skipped", 1)
                continue
            self._count("sources.csv.files_read", 1)
            with tr.span("sinks.fanout.write"):
                rows = write_fanout_per_store_csv(
                    res.df, fan_dir, KEY, name, res.header, res.meta_rows,
                    res.raw_header,
                ).collect()
            fan_receipts[path] = {r.group_key: r.rows_written for r in rows}
            ingested.append(
                res.df.select(
                    F.trim(F.col(KEY)).alias(KEY),
                    F.trim(F.col(KEY)).alias("store_key_copy"),
                    F.lit(name).alias("src"),
                )
            )
        with tr.span("operators.verify.report"):
            source = ingested[0]
            for df in ingested[1:]:
                source = source.unionByName(df)
            source = source.filter(F.length(F.col(KEY)) > 0).withColumn(
                "row_id", F.monotonically_increasing_id()
            )
            report = {
                r.check_name: r.n
                for r in self.pipeline.verify_fan_out(
                    source, os.path.join(out_dir, "verify")
                ).collect()
            }
        job_receipts = {}
        for job, method in JOBS:
            with tr.span(f"plans.jobs.{job}.plan"):
                df = getattr(self.pipeline, method)()
                receipts = write_per_group_csv(
                    df, os.path.join(out_dir, job), KEY, f"{job}.csv",
                    columns=df.columns, sort_by=df.columns,
                )
            with tr.span(f"sinks.single_file.{job}.write"):
                job_receipts[job] = receipts.collect()
        return out_dir, fan_receipts, report, job_receipts

    def check(self, outcome: tuple) -> None:
        """Independent checks of one execution's outputs (untimed)."""
        out_dir, fan_receipts, report, job_receipts = outcome
        if self.corrupt:  # self-test: a lost per-store file must be caught
            job = JOBS[0][0]
            victim = sorted(os.listdir(os.path.join(out_dir, job)))[0]
            os.remove(os.path.join(out_dir, job, victim, f"{job}.csv"))
        expected_rows = 0
        for path, want in self.expected.items():
            got = fan_receipts.get(path)
            if (want is None) != (got is None):
                raise CheckFailed(f"{path}: skipped/read disagrees with its header")
            if want is not None and dict(want) != got:
                raise CheckFailed(f"{path}: fan-out receipts != valid-key rows")
            if want is not None:
                expected_rows += sum(want.values())
                self._count("sinks.fanout.files", len(got))
                self._count("sinks.fanout.rows", sum(got.values()))
        self._count("sources.csv.rows_in", expected_rows)
        violations = sum(v for k, v in report.items() if "violations" in k or k.endswith("_files"))
        self._count("operators.verify.rows_checked", report.get("rows_checked", 0))
        self._count("operators.verify.violations", violations)
        if violations or report.get("rows_checked") != expected_rows:
            raise CheckFailed(f"fan-out verification report {report}")
        for job, receipts in job_receipts.items():
            want_cols, want_digest, want_rows = self.oracles.expect(job)
            header, rows, files, size = checks.read_back_per_store(
                os.path.join(out_dir, job), f"{job}.csv"
            )
            self._count("sinks.single_file.files", files)
            self._count("sinks.single_file.rows", len(rows))
            self._count("sinks.single_file.bytes", size)
            if sum(r.rows_written for r in receipts) != want_rows:
                raise CheckFailed(f"{job}: receipts count != oracle rows")
            if set(header) != set(want_cols):
                raise CheckFailed(f"{job}: columns {header} != {want_cols}")
            order = [header.index(c) for c in want_cols]
            got = checks.digest([tuple(r[i] for i in order) for r in rows])
            if got != want_digest:
                raise CheckFailed(f"{job}: per-store CSVs differ from the oracle")

    def close(self) -> None:
        self.oracles.close()


class CorpusSelection:
    """The corpus pipeline: ``final_selection`` into a noop sink, then the
    manifest. *fresh* purges the on-disk stages and the memo before each
    execution; otherwise only the memo is cleared, so stages are read."""

    def __init__(self, spark, tr: Tracer, inputs_dir: str, fresh: bool) -> None:
        from ting_data_etl_spark.api import Corpus

        self.spark, self.tr, self.fresh = spark, tr, fresh
        self.sf_dir = os.path.join(inputs_dir, "tables")
        self.corpus = Corpus(spark, self.sf_dir)
        self.oracles = checks.Oracles(self.sf_dir)
        self.oracles.expect("corpus_selection_manifest")
        self.counts: dict[str, float] = {}

    def reset(self) -> None:
        """Untimed: bring the reuse layers to the workload's start state."""
        from ting_data_etl_spark import relcache
        from ting_data_etl_spark.operators.dedup import purge_stages

        if self.fresh:
            t = time.perf_counter()
            purge_stages(self.sf_dir)
            self.counts["operators.dedup.purge_stages_s"] = time.perf_counter() - t
        else:
            relcache.clear()

    def build_stages(self) -> dict[str, float]:
        """Set-up of the warm state: publish the on-disk stages through
        the stage-level facade methods (the lexical dedup chain behind
        ``verdicts`` and the IVF model behind ``semantic_duplicates``).
        Seconds per method."""
        took = {}
        for name in ("verdicts", "semantic_duplicates"):
            t = time.perf_counter()
            getattr(self.corpus, name)().write.format("noop").mode("overwrite").save()
            took[name] = time.perf_counter() - t
        return took

    def execute(self, out_dir: str) -> list:
        tr = self.tr
        with tr.span("api.Corpus.final_selection"):
            self.corpus.final_selection().write.format("noop").mode(
                "overwrite"
            ).save()
        with tr.span("api.Corpus.manifest"):
            return self.corpus.manifest().collect()

    def check(self, rows: list) -> None:
        """The manifest against its oracle (untimed)."""
        cols, want, _ = self.oracles.expect("corpus_selection_manifest")
        if checks.digest([tuple(r[c] for c in cols) for r in rows]) != want:
            raise CheckFailed("manifest differs from its oracle")

    def check_selection(self) -> None:
        """Once per run (untimed): the full selection against its oracle."""
        cols, want, _ = self.oracles.expect("corpus_final_selection")
        rows = self.corpus.final_selection().collect()
        if checks.digest([tuple(r[c] for c in cols) for r in rows]) != want:
            raise CheckFailed("final selection differs from its oracle")

    def close(self) -> None:
        self.oracles.close()


def _error(e: Exception) -> str:
    """Exception type plus its error class (``[CLASS]``) or first line."""
    text = str(e).strip()
    m = re.search(r"\[[A-Z][A-Z0-9_.]+\]", text)
    first = m.group(0) if m else (text.splitlines() or [""])[0][:300]
    return f"{type(e).__name__}: {first}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    import ting_data_etl_spark.operators.curation  # noqa: F401  (registers oracles)
    import ting_data_etl_spark.operators.sampling  # noqa: F401
    import ting_data_etl_spark.plans.jobs  # noqa: F401
    from ting_data_etl_spark import runstats
    from ting_data_etl_spark.session import _default_driver_mem, get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.out, "warehouse"),
        "spark.local.dir": os.path.join(args.out, "spark-local"),
    }
    if args.trace:
        log_dir = os.path.join(args.out, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t_spark = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t_spark
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    result: dict = {
        "ready_epoch": time.time(),
        "get_spark_s": get_spark_s,
        "driver_mem": _default_driver_mem(),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    tr = Tracer(spark.sparkContext, args.run_id, enabled=False)
    if args.workload == "store_reports":
        wl = StoreReports(spark, tr, args.inputs, args.corrupt)
    elif args.workload in ("corpus_fresh", "corpus_warm"):
        wl = CorpusSelection(spark, tr, args.inputs, args.workload == "corpus_fresh")
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")

    me = os.getpid()
    execs: list[dict] = []
    errors: list[str] = []
    host0 = proctree.host_cpu_s()
    if isinstance(wl, CorpusSelection) and not wl.fresh:
        result["stage_setup_s"] = wl.build_stages()
    warmups = WARMUPS[args.workload]
    loop_start = None
    while _another(execs, warmups, loop_start, args):
        i = len(execs)
        wl.counts = {}
        if isinstance(wl, CorpusSelection):
            wl.reset()
        # traced runs trace the warm-ups and every other measured
        # execution; the rest run bare in the same process, for the span
        # overhead
        tr.enabled = bool(args.trace) and (i < warmups or (i - warmups) % 2 == 1)
        tr.exec_id = f"{args.run_id}:{i}"
        rec = {"id": tr.exec_id, "traced": tr.enabled, "ok": True,
               "measured": i >= warmups}
        stats0 = runstats.snapshot()
        cpu0 = proctree.tree_cpu_s(me)
        t = time.perf_counter()
        try:
            with tr.span("execution"):
                outcome = wl.execute(os.path.join(args.out, f"exec-{i}"))
        except Exception as e:  # noqa: BLE001  one failed execution, counted
            rec["ok"] = False
            errors.append(_error(e))
            traceback.print_exc(file=sys.stderr)
        rec["wall_s"] = time.perf_counter() - t
        rec["cpu_s"] = proctree.tree_cpu_s(me) - cpu0
        stats1 = runstats.snapshot()
        rec.update({k: stats1.get(k, 0) - stats0.get(k, 0) for k in stats1})
        t = time.perf_counter()
        if rec["ok"]:
            try:
                wl.check(outcome)
            except Exception as e:  # noqa: BLE001
                rec["ok"] = False
                errors.append(_error(e))
        rec["check_s"] = time.perf_counter() - t
        rec["counts"] = wl.counts
        execs.append(rec)
        shutil.rmtree(os.path.join(args.out, f"exec-{i}"), ignore_errors=True)
        if i == warmups - 1:
            loop_start = time.perf_counter()
    tr.enabled = False
    result["selection_ok"] = None
    if isinstance(wl, CorpusSelection):
        try:
            wl.check_selection()
            result["selection_ok"] = True
        except Exception as e:  # noqa: BLE001
            result["selection_ok"] = False
            errors.append(_error(e))
    host1 = proctree.host_cpu_s()
    wl.close()
    result.update(
        {
            "executions": execs,
            "errors": errors,
            "host_busy_s": host1[0] - host0[0],
            "host_steal_s": host1[1] - host0[1],
        }
    )
    if args.trace:
        spark.stop()  # flushes and closes the event log
        jobs = parse_event_log(os.path.join(args.out, "eventlog"))
        attribute(tr.spans, jobs)
        tr.write_jsonl(os.path.join(args.out, "spans.jsonl"))
        result["layers"] = _layer_summary(tr.spans)
    # untraced runs leave the session running: the parent stops the whole
    # process group as soon as the result is written
    _write(args.out, result)
    return 0


def _another(execs: list[dict], warmups: int, loop_start: float | None,
             args) -> bool:
    """Whether to start one more execution: the warm-ups, then at least
    one measured execution (two when traced: one traced, one bare), then
    more while the median execution still fits in ``--seconds``."""
    measured = execs[warmups:]
    if loop_start is None or len(measured) < (2 if args.trace else 1):
        return True
    typical = statistics.median(e["wall_s"] + e["check_s"] for e in measured)
    return time.perf_counter() - loop_start + typical <= args.seconds


def _layer_summary(spans: list[dict]) -> dict:
    """Execution id → span name → summed wall, self time, Spark counters."""
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["exec_id"], {}).setdefault(
            s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0}
        )
        agg["calls"] += 1
        agg["wall_s"] += s["end"] - s["start"]
        agg["self_s"] += s["self_s"]
        for k in SPARK_COUNTERS:
            agg[k] = agg.get(k, 0) + s["spark"][k]
    return out


def _write(out: str, result: dict) -> None:
    """Publish ``result.json`` atomically: the parent acts on its presence."""
    path = os.path.join(out, "result.json")
    with open(f"{path}.tmp", "w") as f:
        json.dump(result, f)
    os.replace(f"{path}.tmp", path)


if __name__ == "__main__":
    sys.exit(main())

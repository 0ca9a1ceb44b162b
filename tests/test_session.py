"""Session defaults: the generated-class cache holds the engine's working
set, so a repeat execution reuses its compiled classes."""

from __future__ import annotations

from ting_data_etl_spark.api import Pipeline
from ting_data_etl_spark.session import CODEGEN_CACHE_ENTRIES

#: The six reporting jobs of the reference workflow (``Pipeline`` methods).
JOBS = (
    "annual_referral_kpi",
    "monthly_yoy_trend",
    "performance_kpi",
    "branch_month_conversion",
    "top_branches",
    "bottom_branches",
)

#: Classes a repeat pass of the six jobs may still compile. Measured at
#: sf0.001 in a session like the test one (first pass 95-97 classes):
#: repeat passes compiled 48-53 classes at Spark's default cap of 100
#: (classes are evicted before their reuse) and 0-4 at
#: CODEGEN_CACHE_ENTRIES. The few left are legitimate: AQE numbers
#: whole-stage classes in stage-creation order, so a new order renames an
#: otherwise identical class.
MAX_REPEAT_COMPILES = 16


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM (each one a
    generated-class cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_codegen_cache_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_repeat_job_pass_reuses_generated_classes(spark, sf_dir):
    pipeline = Pipeline(spark, sf_dir)

    def job_pass() -> int:
        before = _compiles(spark)
        for job in JOBS:
            getattr(pipeline, job)().collect()
        return _compiles(spark) - before

    first = job_pass()
    second = job_pass()
    # the counter is live: this JVM compiled the jobs' classes at some
    # point (in the first pass, or in an earlier test of the session)
    assert _compiles(spark) > MAX_REPEAT_COMPILES
    assert second <= MAX_REPEAT_COMPILES, (first, second)

"""Shared fixtures: one SparkSession per test run (startup is ~15 s)."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


def _self_heal_precommit_guard() -> None:
    """Install the rotation pre-commit hook if missing (fresh container).

    Round 10 showed the guard's manual installation does not survive a
    container boundary; any pytest run now re-installs it idempotently so
    a fresh environment cannot commit a torn rotation plan un-ritualized.
    """
    import subprocess

    hook = os.path.join(REPO, ".git", "hooks", "pre-commit")
    guard = os.path.join(REPO, "tools", "precommit_rotation_guard.py")
    if not os.path.isdir(os.path.join(REPO, ".git")) or not os.path.exists(guard):
        return
    try:
        if os.path.exists(hook):
            with open(hook) as f:
                if "precommit_rotation_guard" in f.read():
                    return
        # announce the mutation (ADVICE r11: a silent .git/hooks write as
        # an import side effect surprises contributors; a silent FAILURE
        # leaves the repo committable un-ritualized with no trace)
        print(
            "[conftest] installing rotation pre-commit guard "
            f"({os.path.relpath(guard, REPO)} --install)",
            file=sys.stderr,
        )
        subprocess.run(
            [sys.executable, guard, "--install"],
            check=True,
            capture_output=True,
            timeout=30,
        )
    except (OSError, subprocess.SubprocessError) as e:
        # never let self-healing break a test run — but say it broke
        print(
            f"[conftest] rotation guard install FAILED ({e}); commits are "
            "unguarded until `python tools/precommit_rotation_guard.py "
            "--install` succeeds",
            file=sys.stderr,
        )


_self_heal_precommit_guard()


@pytest.fixture(scope="session")
def spark():
    from ting_data_etl_spark.session import get_spark

    s = get_spark(app_name="ting-data-etl-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

"""The headline set's job census (tools/job_census.py) against the
committed counts in tools/job_census.json.

Job, stage, task and schema-inference counts per call do not depend on
timing, so a fresh census must reproduce the committed one exactly; a
change that moves them re-runs the tool and commits the new file. The
census runs in a process of its own, because it needs ``local[8]`` and
``local[32]`` sessions and the tests share one. Result digests are not
compared here: a float aggregate may differ in its last bit between
runs, and the oracle tests own result equality.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMITTED = os.path.join(ROOT, "tools", "job_census.json")
COUNTS = ("jobs", "stages", "tasks", "schema_jobs")


def _counts(census: dict) -> dict:
    return {
        cores: {name: {k: q[k] for k in COUNTS} for name, q in run["queries"].items()}
        for cores, run in census["cores"].items()
    }


@pytest.mark.slow
def test_job_census_matches_committed(tmp_path):
    with open(COMMITTED) as fh:
        committed = json.load(fh)
    out = tmp_path / "census.json"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "job_census.py"),
         "--cores", ",".join(committed["cores"]), "--out", str(out)],
        cwd=ROOT,
        # a small heap: the census inputs are far below its row budget
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"},
        stdout=subprocess.DEVNULL,
        check=True,
        timeout=1800,
    )
    with open(out) as fh:
        fresh = json.load(fh)
    assert fresh["tables"] == committed["tables"]
    assert _counts(fresh) == _counts(committed)

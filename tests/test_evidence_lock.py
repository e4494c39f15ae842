"""Solo-run evidence lock (VERDICT r8 item 1): timing scripts must refuse
to run while another evidence job holds the lock, reclaim stale locks
from dead holders, and release on exit — so a contention-contaminated
bench map can't be generated by accident."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCK = os.path.join(REPO, ".evidence.lock")
ACQUIRE = (
    "import sys; sys.path.insert(0, %r); "
    "import evidence_lock; evidence_lock.acquire('test'); print('ok')"
    % os.path.join(REPO, "scripts")
)


def _cleanup():
    if os.path.exists(LOCK):
        os.unlink(LOCK)


def test_lock_refuses_live_holder():
    _cleanup()
    try:
        with open(LOCK, "w") as f:
            json.dump({"pid": os.getpid(), "label": "live", "started": 0}, f)
        p = subprocess.run(
            [sys.executable, "-c", ACQUIRE], capture_output=True, text=True,
            env={k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EVIDENCE_LOCK"},
        )
        assert p.returncode == 3
        assert "REFUSED" in p.stderr
    finally:
        _cleanup()


def test_lock_reclaims_stale_and_releases_on_exit():
    _cleanup()
    try:
        with open(LOCK, "w") as f:
            json.dump({"pid": 99_999_999, "label": "dead", "started": 0}, f)
        p = subprocess.run(
            [sys.executable, "-c", ACQUIRE], capture_output=True, text=True,
            env={k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EVIDENCE_LOCK"},
        )
        assert p.returncode == 0 and p.stdout.strip() == "ok"
        assert not os.path.exists(LOCK), "lock not released at exit"
    finally:
        _cleanup()


def test_child_of_holder_skips_acquisition():
    _cleanup()
    try:
        with open(LOCK, "w") as f:
            json.dump({"pid": os.getpid(), "label": "parent", "started": 0}, f)
        env = dict(os.environ, SPARK_GRAFT_EVIDENCE_LOCK="1")
        p = subprocess.run(
            [sys.executable, "-c", ACQUIRE], capture_output=True, text=True, env=env
        )
        assert p.returncode == 0 and p.stdout.strip() == "ok"
        assert os.path.exists(LOCK), "child must not release the parent's lock"
    finally:
        _cleanup()


def test_every_timing_script_acquires_the_lock():
    for name in (
        "refresh_evidence", "bench_map", "scale_trend",
        "lsh_trend", "edit_trend", "stream_bench", "sketch_store_trend", "spans_trend",
        "passages_trend", "measure",
    ):
        src = open(os.path.join(REPO, "scripts", f"{name}.py")).read()
        assert "evidence_lock.acquire(" in src, f"{name}.py missing the solo lock"

"""Unit tests for the measurement library (scripts/measure.py) and a
guard that every script under scripts/ still imports.

No SparkSession needed: the children here are plain Python processes.
"""

from __future__ import annotations

import glob
import importlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts import measure  # noqa: E402

SCRIPTS = sorted(
    os.path.basename(p)[:-3] for p in glob.glob(os.path.join(REPO, "scripts", "*.py"))
)


def test_last_json_skips_jvm_noise_around_the_result():
    stdout = "\n".join([
        "WARNING: Using incubator modules: jdk.incubator.vector",
        '{"stale": 1}',
        '{"sec": 1.5, "queries": {"q": 2}}',
        "{not json: a log line that happens to start with a brace",
        "26/10/17 09:42:11 WARN MapPartitionsRDD: lineage truncated",
    ])
    assert measure.last_json(stdout) == {"sec": 1.5, "queries": {"q": 2}}
    with pytest.raises(ValueError):
        measure.last_json("WARN only\n{broken")


def test_child_refuses_a_run_that_crashed_after_printing_json():
    ok = [sys.executable, "-c", 'print(\'{"sec": 1.0}\')']
    assert measure.child(ok) == {"sec": 1.0}
    crashed = [sys.executable, "-c", 'print(\'{"sec": 1.0}\'); raise SystemExit(1)']
    with pytest.raises(RuntimeError, match="exited 1"):
        measure.child(crashed)


def test_over_tiers_skips_a_missing_tier(tmp_path, monkeypatch, capsys):
    script = tmp_path / "echo_tier.py"
    script.write_text(
        "import json, sys\nprint(json.dumps({'dir': sys.argv[2], 'extra': sys.argv[3:]}))\n"
    )
    present = tmp_path / "sf0.1"
    present.mkdir()
    monkeypatch.setattr(measure, "TIERS", [
        ("sf0.01", str(tmp_path / "sf0.01"), 1),
        ("sf0.1", str(present), 10),
    ])
    out = measure.over_tiers(str(script), ["sf0.01", "sf0.1"], extra=("--skew",))
    assert out == {
        "sf0.1": {"rows_multiplier": 10, "dir": str(present), "extra": ["--skew"]}
    }
    assert "skip sf0.01" in capsys.readouterr().err


def test_ratios_are_against_the_first_tier():
    tiers = {
        "sf0.1": {"wall_sec": 2.0, "n": 0},
        "sf1": {"wall_sec": 5.0, "n": 7},
    }
    measure.ratios(tiers, wall="wall_sec", cand="n")
    assert tiers["sf1"] == {"wall_sec": 5.0, "n": 7, "wall_ratio_vs_sf0.1": 2.5}
    assert "wall_ratio_vs_sf0.1" not in tiers["sf0.1"]


@pytest.mark.parametrize("name", SCRIPTS)
def test_every_script_imports(name, monkeypatch):
    """Each script imports with scripts/ on sys.path (as when run as a
    file), without running its main: a broken refactor of a thin config
    fails here instead of at the next evidence run."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "scripts"))
    importlib.import_module(name)


def test_oracle_compare_treats_signed_zero_as_zero():
    """The 6-decimal rule: -0.0, -1e-9 and 0.0 all round to zero and
    compare equal; 1e-5 still differs from 0.0."""
    import pandas as pd

    from scripts import oracle_check

    def norm(vals):
        return oracle_check._norm_rows(pd.DataFrame({"w": vals}))[0]

    assert norm([-0.0]) == norm([-1e-9]) == norm([0.0]) == norm([1e-9])
    assert norm([1e-5]) != norm([0.0])


def test_tiers_cover_the_generated_decades():
    assert [(label, mult) for label, _, mult in measure.TIERS] == [
        ("sf0.01", 1), ("sf0.1", 10), ("sf1", 100), ("sf10", 1000), ("sf100", 10000),
    ]
    assert all(d == os.path.join(REPO, ".scaledata", label) for label, d, _ in measure.TIERS)


class _NoopFrame:
    """Stands in for a DataFrame: `.write.format(...).mode(...).save()`."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args):
        return self


@pytest.mark.parametrize(
    "readings, pids",
    [
        ([(1000, 32768), (1279, 32768)], 279),
        ([(32760, 32768), (12, 32768)], 20),  # the counter wrapped past pid_max
        ([None, None], None),  # no /proc/sys/kernel/ns_last_pid
    ],
)
def test_timed_reports_pids_over_the_timed_region(monkeypatch, readings, pids):
    from epic_pandas_spark import session

    calls = iter(readings)
    monkeypatch.setattr(measure, "pid_counter", lambda: next(calls))
    monkeypatch.setattr(measure.counters, "set_group", lambda spark, group: None)
    monkeypatch.setattr(measure.counters, "phase_counters", lambda spark, group: {"jobs": 1})
    monkeypatch.setattr(session, "reset_session_state", lambda spark: None)
    out = measure.timed(None, lambda spark, sf_dir: _NoopFrame(), "unused")
    assert out["pids"] == pids
    assert out["jobs"] == 1 and out["sec"] >= 0
    assert next(calls, "done") == "done"  # read once before, once after

"""Guard on the engine's environment-variable surface: every name the
package reads from the environment is on a fixed allowlist, so a new
knob has to be added here on purpose. No SparkSession needed."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "epic_pandas_spark")

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "EPS_SKIP_WITNESS",
}

# os.environ["X"], os.environ.get("X"), os.getenv("X")
_ENV_READ = re.compile(r"""(?:environ\s*(?:\[|\.get\(|\.setdefault\()|getenv\()\s*["']([^"']+)["']""")


def _env_names() -> set[str]:
    names = set()
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    names |= set(_ENV_READ.findall(fh.read()))
    return names


def test_env_knobs_match_allowlist():
    assert _env_names() == ALLOWED


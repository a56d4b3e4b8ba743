"""scale_probe.py rejects bad input before it starts Spark or writes a
corpus: a typo must cost a second, not minutes of corpus writes."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

PROBE = Path(__file__).resolve().parent.parent / "scale_probe.py"


@pytest.mark.parametrize(
    ("argv", "needle"),
    [
        (["no_such_query"], "no_such_query"),
        (["pricing_summary,no_such_query"], "no_such_query"),
        (["pricing_summary,,lineitem_cube"], "empty query name"),
        ([""], "empty query name"),
        ([], "usage"),
        (["pricing_summary", "lineitem_cube"], "usage"),
    ],
)
def test_bad_query_names_exit_before_spark(argv, needle, tmp_path):
    # a missing sf-dir: building a corpus would fail with a traceback
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": str(tmp_path / "missing")}
    r = subprocess.run(
        [sys.executable, str(PROBE), *argv],
        capture_output=True,
        text=True,
        env=env,
        timeout=60,
    )
    assert r.returncode != 0
    assert needle in r.stderr, r.stderr
    assert "Traceback" not in r.stderr, r.stderr
    assert r.stdout == ""

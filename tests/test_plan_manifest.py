"""Full-registry plan-fingerprint manifest (VERDICT r11 item 5).

bench.py fingerprints only the 50 headline queries, so a plan
regression in one of the 115 twins would go unflagged.
PLAN_FP_MANIFEST.json commits a fingerprint for EVERY registered
query (driver slots and twins) at sf0.01, and this test re-derives
them and diffs: any twin plan change is flagged the round it lands.
Builds are planning-only (no execution), so the sweep is cheap
relative to the oracle suites.

The check runs in a SUBPROCESS (fresh Python process, fresh Spark
session) because fingerprints legitimately depend on in-session cache
registrations: an operator's internal persist() makes later builds of
the same subtree plan an InMemoryRelation, so a long-lived pytest
session that already ran other suites would see different (equally
real) plans. The manifest pins the fresh-process, sorted-order state
— the one `python bench.py --fp-manifest` reproduces; regenerate and
commit when a plan change is intended.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_manifest_matches_committed_fingerprints():
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--fp-manifest", "--check"],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    assert proc.returncode == 0, (
        f"plan fingerprints diverge from PLAN_FP_MANIFEST.json: {last}\n"
        "If the plan change is intended, regenerate with "
        "`python bench.py --fp-manifest` and commit the manifest."
    )


def test_manifest_covers_every_registered_query():
    """The committed manifest must enumerate the full registry — a
    query added without regenerating the manifest fails here (cheap,
    not slow-marked: no Spark involved)."""
    from bigdata_commerce_spark.plans import QUERIES, TWIN_QUERIES

    manifest = json.loads((REPO / "PLAN_FP_MANIFEST.json").read_text())
    have = set(manifest["plan_fp"])
    want = set(QUERIES) | set(TWIN_QUERIES)
    assert have == want, (
        f"manifest out of date — missing: {sorted(want - have)}, "
        f"stale: {sorted(have - want)}; regenerate with "
        "`python bench.py --fp-manifest` and commit."
    )
    assert all(isinstance(v, str) and len(v) == 16 for v in manifest["plan_fp"].values())

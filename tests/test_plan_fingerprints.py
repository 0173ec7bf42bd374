"""Plan-fingerprint rotation guard (round 8, verdict item #3).

PLAN_FINGERPRINTS.json is the committed sf0.001 baseline of every
batch query's normalized physical-plan hash (tools/plan_fingerprints.py
--update regenerates it; full-sweep verify: tools/plan_fingerprints.py).
This test re-derives a 12-query random sample per session — seeded by
the calendar day, the test_oracle_rotation pattern — so a plan
regression that slips in through a shared helper (a lost broadcast, an
extra exchange, a dropped pushdown) fails CI within days even if no
one re-ran the full sweep.  A mismatch on a query whose source YOU
changed means: eyeball `tools/plan_fingerprints.py --show <q>`, then
--update and commit the baseline with the change.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import pytest

from userbehavioranalysis_spark.operators.cachepool import release_pooled
from userbehavioranalysis_spark.plans.fingerprint import plan_fingerprint
from userbehavioranalysis_spark.registry import QUERIES
from userbehavioranalysis_spark.registry.reference import missing_fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF_DIR = "/root/testdata/sf0.001"


def _sample(names: list[str], n: int = 12) -> list[str]:
    seed = os.environ.get(
        "UBA_ORACLE_SAMPLE_SEED", datetime.date.today().isoformat()
    )
    return random.Random(f"plans-{seed}").sample(sorted(names), min(n, len(names)))


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_baseline_covers_exactly_the_batch_registry():
    with open(BASELINE) as f:
        base = json.load(f)
    batch = {n for n in QUERIES if not n.startswith("streaming_")}
    want = set(base["fingerprints"])
    assert want == batch, (
        f"baseline out of sync with registry — missing {sorted(batch - want)}, "
        f"stale {sorted(want - batch)}; run tools/plan_fingerprints.py --update"
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_sampled_plan_fingerprints_match_baseline(spark):
    with open(BASELINE) as f:
        base = json.load(f)["fingerprints"]
    # ref_* queries whose reference fixture file is absent cannot build
    # their frame; the pool is the full batch registry wherever the
    # fixtures exist
    batch = [
        n for n in QUERIES if not n.startswith("streaming_") and not missing_fixtures(n)
    ]
    changed = []
    for name in _sample(batch):
        # order-independence vs whatever ran earlier in the test
        # session (see tools/plan_fingerprints.py compute())
        spark.catalog.clearCache()
        got = plan_fingerprint(QUERIES[name](spark, SF_DIR))
        if base.get(name) != got:
            changed.append(f"{name}: {base.get(name)} -> {got}")
    assert not changed, (
        "physical plan changed (regression, or an intended change whose "
        "baseline wasn't updated — see tools/plan_fingerprints.py):\n"
        + "\n".join(changed)
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_incremental_refresh_plan_independent_of_earlier_dedup(spark):
    """dedup_incremental leaves its corpus signature in the default
    cache pool.  incremental_refresh caches a plan-equal signature of
    its own, and unpersist() works by plan equality: if that stale
    pooled frame were released later in the refresh (by its self-LSH
    step), the refresh's cache would go too and the corpus would be
    minhashed twice.  The refresh's plan must not depend on what ran
    before it."""
    q = QUERIES["pipeline_incremental_refresh"]
    # start from an empty default pool, whatever earlier tests left
    release_pooled()
    spark.catalog.clearCache()
    fresh = plan_fingerprint(q(spark, SF_DIR))
    QUERIES["dedup_incremental"](spark, SF_DIR)
    spark.catalog.clearCache()
    assert plan_fingerprint(q(spark, SF_DIR)) == fresh

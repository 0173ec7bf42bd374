"""Maintain / verify the committed physical-plan fingerprint baseline.

Usage:
    python tools/plan_fingerprints.py            # verify vs PLAN_FINGERPRINTS.json
    python tools/plan_fingerprints.py --update   # rewrite the baseline
    python tools/plan_fingerprints.py --show Q   # print Q's normalized plan

Covers every BATCH query in the registry at sf0.001 (streaming_*
replays are excluded: constructing their frame EXECUTES the stream,
and the returned frame is just a scan of the foreach sink — their
regression signal is the oracle gate, not the plan).  A ref_* query
whose reference fixture file is absent (registry/reference.py
FIXTURE_KEYS) cannot build its frame: every mode reports it as
``SKIPPED (missing <path>)``, and --update carries its existing
baseline entry over unchanged.  The baseline is
scale-pinned to sf0.001 (see plans/fingerprint.py); bench.py records
per-round sf0.1 fingerprints in BENCH_DETAIL.json independently.

Workflow when a verify fails: if you CHANGED the query's source (or
upgraded Spark), the new plan is presumably intended — eyeball it
(--show), then --update and commit the new baseline alongside the
source change.  If you didn't, a plan regression slipped in through a
shared helper; diff --show against the committed preimage of the old
code before touching the baseline.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASELINE = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF_DIR = os.environ.get("UBA_FINGERPRINT_SF_DIR", "/root/testdata/sf0.001")


def batch_query_names() -> list[str]:
    from userbehavioranalysis_spark.registry import QUERIES

    return [n for n in QUERIES if not n.startswith("streaming_")]


def compute(names: list[str]) -> dict[str, str]:
    from userbehavioranalysis_spark import get_spark
    from userbehavioranalysis_spark.plans.fingerprint import plan_fingerprint
    from userbehavioranalysis_spark.registry import QUERIES

    spark = get_spark("uba-plan-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for n in names:
        # order-independence: the single-slot probe pool (cachepool)
        # deliberately stays cached until the NEXT probe releases it,
        # and CacheManager substitutes any live cached subtree into
        # later plans — so without a clear, a query's fingerprint
        # would depend on which query ran before it.
        spark.catalog.clearCache()
        out[n] = plan_fingerprint(QUERIES[n](spark, SF_DIR))
    return out


def skipped_queries(names: list[str]) -> dict[str, str]:
    """``{name: "SKIPPED (missing <paths>)"}`` for each query whose
    reference fixture file is absent."""
    from userbehavioranalysis_spark.registry.reference import missing_fixtures

    return {
        n: f"SKIPPED (missing {', '.join(m)})"
        for n in names
        if (m := missing_fixtures(n))
    }


def main() -> int:
    args = sys.argv[1:]
    if args[:1] == ["--show"]:
        from userbehavioranalysis_spark import get_spark
        from userbehavioranalysis_spark.plans.fingerprint import normalized_plan
        from userbehavioranalysis_spark.registry import QUERIES

        skipped = skipped_queries(args[1:])
        spark = get_spark("uba-plan-fingerprints")
        spark.sparkContext.setLogLevel("ERROR")
        for n in args[1:]:
            print(f"===== {n}")
            if n in skipped:
                print(skipped[n])
                continue
            spark.catalog.clearCache()  # see compute()
            print(normalized_plan(QUERIES[n](spark, SF_DIR)))
        return 0

    names = batch_query_names()
    skipped = skipped_queries(names)
    got = compute([n for n in names if n not in skipped])
    want = {}
    if os.path.exists(BASELINE):
        with open(BASELINE) as f:
            want = json.load(f)["fingerprints"]
    if args[:1] == ["--update"]:
        for n, status in skipped.items():
            if n in want:
                got[n] = want[n]
                print(f"{n:44s} {status}: baseline entry carried over")
            else:
                print(f"{n:44s} {status}: no baseline entry to carry over")
        with open(BASELINE, "w") as f:
            json.dump(
                {"sf_dir": SF_DIR, "fingerprints": got}, f, indent=1, sort_keys=True
            )
        print(f"wrote {len(got)} fingerprints to {BASELINE}")
        return 0

    bad = []
    for n in names:
        if n in skipped:
            status = skipped[n]
        elif n not in want:
            status = "NEW (not in baseline — run --update)"
            bad.append(n)
        elif want[n] != got[n]:
            status = f"CHANGED {want[n]} -> {got[n]}"
            bad.append(n)
        else:
            status = "OK"
        print(f"{n:44s} {status}")
    stale = sorted(set(want) - set(names))
    for n in stale:
        print(f"{n:44s} STALE (in baseline, not registered)")
    print(
        f"\n{len(names) - len(bad) - len(skipped)}/{len(names)} unchanged, "
        f"{len(skipped)} skipped (reference fixture missing)"
    )
    return 1 if bad or stale else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Registry integrity — cheap invariants over the driver contract.

A misplaced ``@query`` decorator can silently bind one query's name to
another's function (stacked decorators both register the same callable)
— the kind of bug that only surfaces as a wrong-oracle mismatch in the
driver's correctness gate.  Pin the naming convention instead.
"""

from userbehavioranalysis_spark import jobs
from userbehavioranalysis_spark.registry import ORACLES, QUERIES
from userbehavioranalysis_spark.registry.reference import (
    FIXTURE_KEYS,
    missing_fixtures,
)


def test_every_query_bound_to_its_own_function():
    mismatched = {
        name: fn.__name__
        for name, fn in QUERIES.items()
        if fn.__name__ != f"q_{name}"
    }
    assert not mismatched, f"name->function mismatches: {mismatched}"


def test_no_function_registered_twice():
    by_fn: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        by_fn.setdefault(fn.__name__, []).append(name)
    dupes = {k: v for k, v in by_fn.items() if len(v) > 1}
    assert not dupes, f"functions registered under multiple names: {dupes}"


def test_every_query_has_an_oracle():
    """Since r5 the rows-only set is EMPTY: the four approximate
    queries carry contract oracles instead (uv_approx hash-checks the
    HLL tolerance contract; the ANN k-means/IVF variants hash-check the
    structural top-k contract via _ann_structural) so no registered
    query can ever surface in the driver as `err: no_oracle`."""
    assert set(ORACLES) == set(QUERIES)


def test_driver_window_r8_covers_every_query():
    """The correctness driver records only the first 50 registry
    entries.  Rotation invariant since r6 (when every registered query
    reached ≥1 green row): every registered query is either already
    hash-green in a past round's CORRECTNESS file or IN the current
    window — i.e. new additions (R8_WINDOW_CANDIDATES) can never sit
    unregistered-to-the-driver, and nothing green ever leaves the
    books."""
    import json
    import os

    window = list(QUERIES)[:50]
    assert len(set(window)) == 50
    anchors = {
        "hot_items",
        "page_view",
        "ref_network_flow_report",
        "streaming_hot_items_report_replay",
    }
    assert anchors <= set(window)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for rnd in ("r01", "r02", "r03", "r04", "r05", "r06", "r07"):
        path = os.path.join(root, f"CORRECTNESS_{rnd}.json")
        if os.path.exists(path):
            with open(path) as f:
                for name, row in json.load(f).items():
                    # a row counts as green only if the VALUE hash
                    # matched — rows_match alone would let a same-count
                    # wrong-values row satisfy the coverage guard
                    if (
                        row.get("err") is None
                        and row.get("rows_match")
                        and row.get("hash_match")
                    ):
                        green.add(name)
    from userbehavioranalysis_spark.registry import R8_WINDOW_CANDIDATES

    if green:
        uncovered = sorted(set(QUERIES) - green - set(window))
        assert uncovered == [], uncovered
        # every never-driver-checked query must be IN the r8 window,
        # not merely tracked
        assert R8_WINDOW_CANDIDATES <= set(window)
    assert R8_WINDOW_CANDIDATES <= set(QUERIES)


def test_fixture_declaration_covers_the_ref_queries():
    """Every ref_* query reads a reference fixture file, and harnesses
    learn which one only from FIXTURE_KEYS — an undeclared ref_* query
    would abort them with PATH_NOT_FOUND where the file is absent."""
    assert set(FIXTURE_KEYS) == {n for n in QUERIES if n.startswith("ref_")}
    unknown = {k for keys in FIXTURE_KEYS.values() for k in keys} - set(jobs.FIXTURES)
    assert not unknown, f"FIXTURE_KEYS names unknown fixtures: {sorted(unknown)}"


def test_driver_window_outputs_are_scalar(spark):
    """The driver's pandas canonicalizer sorts result columns and
    cannot hash ARRAY/MAP/STRUCT cells (CORRECTNESS_r04's one red row,
    doc_embed_hashing) — so every driver-window query must return
    scalar columns only.  Streaming replays are excluded here (building
    their frame EXECUTES the replay; their outputs are spilled parquet
    already proven scalar by their r3 driver rows) and checked by the
    rotation sampler instead.  A ref_* row whose reference fixture file
    is absent cannot build its frame and is stepped past; every other
    row is still checked."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name in list(QUERIES)[:50]:
        if name.startswith("streaming_") or missing_fixtures(name):
            continue
        schema = QUERIES[name](spark, sf).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar driver-window outputs: {offenders}"


def test_bench_scale_heavy_names_exist():
    """tools/bench_scale.py's HEAVY list must name real registry
    queries — a rename would otherwise only fail at measurement time."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_scale",
        os.path.join(os.path.dirname(__file__), "..", "tools", "bench_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    missing = [n for n in mod.HEAVY if n not in QUERIES]
    assert not missing, missing


def test_coverage_doc_names_resolve():
    """Every `registry:<name>` claim in COVERAGE.md must resolve — a
    rename would otherwise silently break the judge's coverage map.
    (`registry:q_<name>` refers to the registry FUNCTION, checked via
    the same query name.)"""
    import os
    import re

    txt = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    names = set(re.findall(r"registry:([a-z0-9_]+)", txt))

    def resolves(n: str) -> bool:
        n = n[2:] if n.startswith("q_") else n
        if n.endswith("_"):  # prefix wildcard, e.g. registry:ref_*
            return any(q.startswith(n) for q in QUERIES)
        return n in QUERIES

    missing = sorted(n for n in names if not resolves(n))
    assert missing == [], missing


def test_ann_structural_detects_contract_violations(spark):
    """_ann_structural is the hash oracle for the approximate ANN
    queries — prove it actually FAILS on broken rankings, not just
    passes on good ones: a self-match, an out-of-range cosine, and a
    non-monotone score sequence must each flip `valid` to False."""
    from userbehavioranalysis_spark.registry import _ann_structural

    rows = [
        # query 1: clean ranking -> all valid
        (1, 10, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.8, 3),
        # query 2, rank 1: self-match
        (2, 2, 0.9, 1),
        # query 2, rank 2: cosine out of range
        (2, 20, 1.5, 2),
        # query 2, ranks 3-4: score INCREASES 0.5 -> 0.7 (non-monotone
        # at rank 4; rank 3 itself is clean)
        (2, 21, 0.5, 3), (2, 22, 0.7, 4),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, cosine_r6 double, rank int"
    )
    got = {(r["query_id"], r["rank"]): r["valid"]
           for r in _ann_structural(df).collect()}
    assert got[(1, 1)] and got[(1, 2)] and got[(1, 3)]
    assert got[(2, 1)] is False   # self-match
    assert got[(2, 2)] is False   # cosine 1.5 out of range
    assert got[(2, 4)] is False   # 0.7 after 0.5 — non-monotone

"""Golden parity tests: reference jobs on the reference's own fixtures.

Each test runs a `jobs.py` binding on the fixture CSV bundled with the
reference (`/root/reference/*/src/main/resources/`, read-only) with the
reference's exact parameters, and compares the FULL result set against
an independent pure-Python oracle computed from the same file.  This is
the de-facto correctness method the reference itself used (run the job
on the fixture and inspect output — SURVEY §5), made automatic.

The fixture files are not part of this repo and cannot be regenerated;
each fixture test skips, naming the absent path, where its file is
missing.  The two synthesized-input tests at the end need no fixture.
"""

from __future__ import annotations

import csv
import hashlib
from collections import Counter, defaultdict

import pytest

from userbehavioranalysis_spark import jobs


def needs_fixtures(*keys: str):
    """Skip unless every ``jobs.FIXTURES[key]`` file is on disk."""
    missing = [jobs.FIXTURES[k] for k in keys if not jobs.fixture_exists(k)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference fixture missing: {', '.join(missing)}"
    )


def h64(s: str) -> int:
    """The portable 60-bit md5 hash (functions/text.h64_spark)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _read_csv(path):
    with open(path, newline="") as f:
        return [[c.strip() for c in row] for row in csv.reader(f) if row]


def sliding_windows(ts: int, size_s: int, slide_s: int):
    """Window starts F.window(ts, size, slide) assigns (aligned, UTC)."""
    last = ts // slide_s * slide_s
    start = last
    while start > ts - size_s:
        yield start
        start -= slide_s


# -- LoginFailDetect -------------------------------------------------------

@needs_fixtures("login_log")
def test_login_fail_on_reference_fixture(spark):
    rows = _read_csv(jobs.FIXTURES["login_log"])
    events = [
        (int(u), ip, etype, int(ts), h64(f"{u},{ip},{etype},{ts}"))
        for u, ip, etype, ts in rows
    ]
    per_user = defaultdict(list)
    for u, ip, etype, ts, eid in events:
        per_user[u].append((ts, eid, etype))
    expected = set()
    for u, evs in per_user.items():
        evs.sort()
        for (ts1, _, t1), (ts2, _, t2) in zip(evs, evs[1:]):
            if t1 == "fail" and t2 == "fail" and ts2 - ts1 <= 2:
                expected.add((u, ts1 * 1_000_000, ts2 * 1_000_000))

    got = jobs.login_fail_job(jobs.read_login_log(spark), 2, strict=True).collect()
    assert {(r.user_id, r.first_fail_ts_us, r.last_fail_ts_us) for r in got} == expected
    assert len(got) == len(expected)
    assert expected, "fixture should produce at least one warning"


# -- OrderPayDetect --------------------------------------------------------

def _order_events():
    return [
        (int(o), etype, tx, int(ts))
        for o, etype, tx, ts in _read_csv(jobs.FIXTURES["order_log"])
    ]


def _receipt_events():
    return [(tx, ch, int(ts)) for tx, ch, ts in _read_csv(jobs.FIXTURES["receipt_log"])]


@needs_fixtures("order_log")
def test_order_timeout_on_reference_fixture(spark):
    create, pay = {}, {}
    for o, etype, tx, ts in _order_events():
        d = create if etype == "create" else pay if etype == "pay" else None
        if d is not None:
            d[o] = min(d.get(o, ts), ts)
    expected = {}
    for o in set(create) | set(pay):
        c, p = create.get(o), pay.get(o)
        if c is not None and p is not None:
            msg = "payed successfully" if p <= c + 900 else "payed but already timeout"
        elif c is not None:
            msg = "order timeout"
        else:
            msg = "already payed but not found create log"
        expected[o] = (
            c and c * 1_000_000,
            p and p * 1_000_000,
            msg,
            msg != "payed successfully",
        )

    got = jobs.order_timeout_job(jobs.read_order_log(spark), 900).collect()
    assert {
        r.order_id: (r.create_ts_us, r.pay_ts_us, r.result_msg, r.is_timeout)
        for r in got
    } == expected
    assert len(got) == len(expected)
    msgs = Counter(v[2] for v in expected.values())
    assert msgs["payed successfully"] > 0  # fixture exercises ≥2 outcomes
    assert len(msgs) >= 2


@needs_fixtures("order_log", "receipt_log")
def test_tx_match_interval_on_reference_fixture(spark):
    pays = [(tx, o, ts) for o, etype, tx, ts in _order_events() if etype == "pay" and tx]
    receipts = _receipt_events()
    expected = {
        (tx, o, pts * 1_000_000, rts * 1_000_000)
        for tx, o, pts in pays
        for rtx, _, rts in receipts
        if tx == rtx and abs(rts - pts) <= 5
    }
    got = jobs.tx_match_join_job(
        jobs.read_order_log(spark), jobs.read_receipt_log(spark), 5
    ).collect()
    assert {
        (r.tx_id, r.pay_event_id, r.pay_ts_us, r.receipt_ts_us) for r in got
    } == expected
    assert expected, "fixture should produce matches"


@needs_fixtures("order_log", "receipt_log")
def test_tx_reconcile_on_reference_fixture(spark):
    pay_tx = {tx for o, etype, tx, ts in _order_events() if etype == "pay" and tx}
    receipt_tx = {tx for tx, _, _ in _receipt_events()}
    expected = {
        tx: (
            "matched"
            if tx in pay_tx and tx in receipt_tx
            else "unmatched_pay" if tx in pay_tx else "unmatched_receipt"
        )
        for tx in pay_tx | receipt_tx
    }
    got = jobs.tx_reconcile_job(
        jobs.read_order_log(spark), jobs.read_receipt_log(spark)
    ).collect()
    assert {r.tx_id: r.match_tag for r in got} == expected
    tags = Counter(expected.values())
    assert tags["matched"] > 0 and (
        tags["unmatched_pay"] > 0 or tags["unmatched_receipt"] > 0
    )


# -- MarketAnalysis (AdStatisticsByGeo) ------------------------------------

def _ad_events():
    return [
        (int(u), int(a), prov, city, int(ts))
        for u, a, prov, city, ts in _read_csv(jobs.FIXTURES["ad_click"])
    ]


@needs_fixtures("ad_click")
@pytest.mark.parametrize("threshold", [100, 3])
def test_ad_statistics_on_reference_fixture(spark, threshold):
    events = _ad_events()
    # blacklist: first `threshold` clicks per (user, ad) per day pass
    by_key = defaultdict(list)
    for u, a, prov, city, ts in events:
        eid = h64(f"{u},{a},{prov},{city},{ts}")
        by_key[(u, a, ts // 86400)].append((ts, eid, prov))
    allowed, warn_keys = [], set()
    for (u, a, day), evs in by_key.items():
        evs.sort()
        allowed += [(ts, prov) for ts, _, prov in evs[:threshold]]
        if len(evs) > threshold:
            warn_keys.add((u, a, day * 86400, len(evs)))
    exp_counts = Counter(
        (w, prov) for ts, prov in allowed for w in sliding_windows(ts, 3600, 5)
    )
    expected = {(w, w + 3600, prov, n) for (w, prov), n in exp_counts.items()}

    out = jobs.ad_statistics_job(jobs.read_ad_click(spark), threshold)
    got = out["province_counts"].collect()
    assert {
        (r.window_start, r.window_end, r.province, r.click_count) for r in got
    } == expected
    warns = out["warnings"].collect()
    assert {
        (r.user_id, r.ad_id, r.day_start, r.total_count) for r in warns
    } == warn_keys
    if threshold == 3:
        assert warn_keys, "low threshold must trigger warnings"


# -- NetworkFlowAnalysis (apache.log) --------------------------------------

@needs_fixtures("apache_log")
def test_network_flow_top5_on_reference_fixture(spark):
    from datetime import datetime, timezone

    expected_counts = Counter()
    with open(jobs.FIXTURES["apache_log"]) as f:
        for line in f:
            parts = line.split(" ")
            ts = int(
                datetime.strptime(parts[3], "%d/%m/%Y:%H:%M:%S")
                .replace(tzinfo=timezone.utc)
                .timestamp()
            )
            url = parts[6].strip()
            for w in sliding_windows(ts, 600, 5):
                expected_counts[(w, url)] += 1
    per_window = defaultdict(list)
    for (w, url), n in expected_counts.items():
        per_window[w].append((-n, url))
    expected = set()
    for w, items in per_window.items():
        items.sort()
        for rank, (negn, url) in enumerate(items[:5], start=1):
            expected.add((w, w + 600, url, -negn, rank))

    got = jobs.network_flow_job(jobs.read_apache_log(spark, jobs.FIXTURES["apache_log"])).collect()
    assert {
        (r.window_start, r.window_end, r.url, r.url_count, r.rank) for r in got
    } == expected


# -- HotItemsAnalysis (synthesized UserBehavior, schema-exact) -------------

def test_hot_items_family_on_synthesized_user_behavior(spark, tmp_path):
    # UserBehavior.csv is stripped from the reference (MISSING_LARGE_BLOBS);
    # synthesize a schema-exact file per FIXTURES.md §1 and oracle it.
    base = 1511658000
    rows = []
    rng_items = [11, 12, 13, 14]
    for i in range(400):
        user = i % 37
        item = rng_items[(i * 7) % 4] if i % 5 else 99  # 99 is rare
        behavior = "pv" if i % 4 else ("buy", "cart", "fav")[i % 3]
        ts = base + i * 13  # ascending, spans >1h
        rows.append(f"{user},{item},{item % 10},{behavior},{ts}")
    p = tmp_path / "UserBehavior.csv"
    p.write_text("\n".join(rows) + "\n")

    pv = [
        (int(r.split(",")[4]), int(r.split(",")[1]))
        for r in rows
        if r.split(",")[3] == "pv"
    ]
    # hot items: top-3 per 1h/5min sliding window
    counts = Counter((w, item) for ts, item in pv for w in sliding_windows(ts, 3600, 300))
    per_window = defaultdict(list)
    for (w, item), n in counts.items():
        per_window[w].append((-n, item))
    expected_top = set()
    for w, items in per_window.items():
        items.sort()
        for rank, (negn, item) in enumerate(items[:3], start=1):
            expected_top.add((w, w + 3600, item, -negn, rank))
    # page view / UV: hourly tumbling
    expected_pv = Counter(ts // 3600 * 3600 for ts, _ in pv)
    uv_users = defaultdict(set)
    for r in rows:
        u, item, cat, b, ts = r.split(",")
        if b == "pv":
            uv_users[int(ts) // 3600 * 3600].add(int(u))

    ub = jobs.read_user_behavior(spark, str(p))
    got_top = jobs.hot_items_job(ub).collect()
    assert {
        (r.window_start, r.window_end, r.item_id, r.view_count, r.rank)
        for r in got_top
    } == expected_top

    got_pv = jobs.page_view_job(ub).collect()
    assert {(r.window_start, r.pv_count) for r in got_pv} == {
        (w, n) for w, n in expected_pv.items()
    }
    got_uv = jobs.unique_visitor_job(ub).collect()
    assert {(r.window_start, r.uv_count) for r in got_uv} == {
        (w, len(s)) for w, s in uv_users.items()
    }
    # approx UV: bounded relative error vs exact (divergence documented)
    got_hll = {r.window_start: r.uv_approx for r in jobs.uv_bloom_job(ub).collect()}
    for w, s in uv_users.items():
        assert abs(got_hll[w] - len(s)) <= max(2, 0.1 * len(s))


# -- MarketAnalysis (synthesized marketing stream, schema-exact) -----------

def test_app_marketing_jobs_on_synthesized_stream(spark):
    from pyspark.sql import functions as F

    base = 1511658000
    data = [
        (f"u{i % 9}", ("CLICK", "DOWNLOAD", "INSTALL", "UNISTALL")[i % 4],
         ("wechat", "huawei", "appstore")[i % 3], (base + i * 3) * 1000)
        for i in range(200)
    ]
    mkt = spark.createDataFrame(
        data, "user_id string, behavior string, channel string, ts_ms long"
    ).withColumn("event_ts", (F.col("ts_ms") / 1000).cast("timestamp"))

    # UNINSTALL filter is a no-op on the (misspelled) UNISTALL domain
    expected_total = Counter(
        w for _, _, _, ts_ms in data for w in sliding_windows(ts_ms // 1000, 3600, 10)
    )
    got_total = jobs.app_marketing_job(mkt).collect()
    assert {(r.window_start, r.mkt_count) for r in got_total} == {
        (w, n) for w, n in expected_total.items()
    }

    expected_ch = Counter(
        (w, ch, b)
        for _, b, ch, ts_ms in data
        for w in sliding_windows(ts_ms // 1000, 3600, 10)
    )
    got_ch = jobs.app_marketing_by_channel_job(mkt).collect()
    assert {
        (r.window_start, r.channel, r.behavior, r.mkt_count) for r in got_ch
    } == {(w, ch, b, n) for (w, ch, b), n in expected_ch.items()}

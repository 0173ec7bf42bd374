"""Output checks made apart from the program.

Each analytic's output is compared with a DuckDB computation of its
definition over the same generated files, and with properties the
method must have.  A check returns a list of error strings (empty when
the output is right).  ``python3 perfbench/checks.py --seed N`` is the
self-test: it feeds every check the DuckDB result itself (which must
pass) and then perturbed copies of it — one row dropped, one count off
by one — which must fail.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
from collections import Counter

import duckdb
import pandas as pd

TOP_N = {"hot_items": 3, "network_flow": 5}
HLL_RSD = 0.02
LOGIN_GAP_S = 2
ORDER_TIMEOUT_S = 900
TX_BOUND_S = 5
AD_THRESHOLD = 100
STREAM_WATERMARK_S = 60
MSG_OK = "payed successfully"
MSG_LATE_PAY = "payed but already timeout"
MSG_TIMEOUT = "order timeout"
MSG_NO_CREATE = "already payed but not found create log"


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 4)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    """Multiset of canonical tuples of ``cols`` (order-insensitive)."""
    return Counter(tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False))


def same_rows(name: str, got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> list[str]:
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{name}: output lacks columns {missing}"]
    g, w = rows(got, cols), rows(want, cols)
    if g == w:
        return []
    extra, lost = g - w, w - g
    return [
        f"{name}: {len(got)} rows, expected {len(want)}; "
        f"{sum(extra.values())} unexpected (e.g. {sorted(extra, key=str)[:2]}), "
        f"{sum(lost.values())} missing (e.g. {sorted(lost, key=str)[:2]})"
    ]


def topn_props(name: str, df: pd.DataFrame, count_col: str, n: int, key_col: str) -> list[str]:
    """Every window holds at most n entries, ranked 1..k by count
    non-increasing, ties by key ascending."""
    errs = []
    for ws, g in df.groupby("window_start"):
        g = g.sort_values("rank")
        if len(g) > n or list(g["rank"]) != list(range(1, len(g) + 1)):
            errs.append(f"{name}: window {ws} has ranks {list(g['rank'])}")
        c, k = g[count_col].to_list(), g[key_col].to_list()
        if any(a < b or (a == b and x > y) for a, b, x, y in zip(c, c[1:], k, k[1:])):
            errs.append(f"{name}: window {ws} not ordered by count desc, key asc: {list(zip(c, k))}")
        if len(errs) > 3:
            break
    return errs


def pv_sum(name: str, pv: pd.DataFrame, n_views: int) -> list[str]:
    """The PV counts sum to the number of view events."""
    got = int(pv["pv_count"].sum())
    return [] if got == int(n_views) else [f"{name}: PV sums to {got}, {int(n_views)} view events"]


def reconcile_sums(rec: pd.DataFrame, n_pays: int, n_receipts: int) -> list[str]:
    """matched + unmatched_pay pays are the pays; matched +
    unmatched_receipt receipts are the receipts."""
    by_tag = rec.groupby("match_tag")[["pay_count", "receipt_count"]].sum()
    get = lambda tag, c: int(by_tag[c].get(tag, 0))  # noqa: E731
    errs = []
    if get("matched", "pay_count") + get("unmatched_pay", "pay_count") != int(n_pays):
        errs.append("tx_reconcile: matched + unmatched_pay pays != number of pays")
    if get("matched", "receipt_count") + get("unmatched_receipt", "receipt_count") != int(n_receipts):
        errs.append("tx_reconcile: matched + unmatched_receipt receipts != number of receipts")
    return errs


def _sliding_sql(src: str, ts: str, keys: list[str], size_s: int, slide_s: int, alias: str) -> str:
    """Count per (window, keys) of the rows with ts in [ws, ws+size),
    for every window start ws that is a multiple of slide and holds a
    row: the counts per slide-long pane, summed over the size/slide
    panes each window covers."""
    k = size_s // slide_s
    kc = "".join(f"{c}, " for c in keys)
    return f"""
        WITH p AS (SELECT CAST(floor({ts} / {slide_s}) AS BIGINT) AS pane, {kc}count(*) AS c
                   FROM {src} GROUP BY ALL)
        SELECT (pane - g.i) * {slide_s} AS window_start,
               (pane - g.i) * {slide_s} + {size_s} AS window_end,
               {kc}sum(c)::BIGINT AS {alias}
        FROM p CROSS JOIN generate_series(0, {k - 1}) g(i)
        GROUP BY ALL"""


def _topn_sql(counts_sql: str, key: str, cnt: str, n: int) -> str:
    return f"""
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY window_start ORDER BY {cnt} DESC, {key} ASC) AS rank
            FROM ({counts_sql})
        ) WHERE rank <= {n}"""


class BatchExpect:
    """DuckDB views over the batch_jobs files and the expected outputs."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        p = lambda f: os.path.join(data_dir, f)  # noqa: E731
        self.con.execute(f"""
            CREATE VIEW ub AS SELECT * FROM read_csv('{p("UserBehavior.csv/part-*")}', header=false,
              columns={{'user_id':'BIGINT','item_id':'BIGINT','category_id':'INTEGER','behavior':'VARCHAR','ts':'BIGINT'}});
            CREATE VIEW apache AS SELECT split_part(line, ' ', 7) AS url,
              epoch(strptime(split_part(line, ' ', 4), '%d/%m/%Y:%H:%M:%S'))::BIGINT AS ts
              FROM read_csv('{p("apache.log/part-*")}', header=false, delim='\\t', quote='', columns={{'line':'VARCHAR'}});
            CREATE VIEW mkt AS SELECT * FROM read_csv('{p("marketing.csv/part-*")}', header=false,
              columns={{'user_id':'VARCHAR','behavior':'VARCHAR','channel':'VARCHAR','ts_ms':'BIGINT'}});
            CREATE VIEW ad AS SELECT * FROM read_csv('{p("AdClickLog.csv/part-*")}', header=false,
              columns={{'user_id':'BIGINT','ad_id':'BIGINT','province':'VARCHAR','city':'VARCHAR','ts':'BIGINT'}});
            CREATE VIEW login AS SELECT * FROM read_csv('{p("LoginLog.csv/part-*")}', header=false,
              columns={{'user_id':'BIGINT','ip':'VARCHAR','event_type':'VARCHAR','ts':'BIGINT'}});
            CREATE VIEW orders AS SELECT order_id, event_type, coalesce(tx_id, '') AS tx_id, ts
              FROM read_csv('{p("OrderLog.csv/part-*")}', header=false,
              columns={{'order_id':'BIGINT','event_type':'VARCHAR','tx_id':'VARCHAR','ts':'BIGINT'}});
            CREATE VIEW receipts AS SELECT * FROM read_csv('{p("ReceiptLog.csv/part-*")}', header=false,
              columns={{'tx_id':'VARCHAR','pay_channel':'VARCHAR','ts':'BIGINT'}});
        """)

    def q(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def expected(self) -> dict[str, pd.DataFrame]:
        pv = "(SELECT * FROM ub WHERE behavior = 'pv')"
        hourly = "CAST(floor(ts / 3600) AS BIGINT) * 3600"
        pays = "(SELECT * FROM orders WHERE event_type = 'pay' AND tx_id <> '')"
        allowed = f"""(SELECT * FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id, ad_id, floor(ts / 86400) ORDER BY ts) AS seq FROM ad)
            WHERE seq <= {AD_THRESHOLD})"""
        return {
            "hot_items": self.q(_topn_sql(
                _sliding_sql(pv, "ts", ["item_id"], 3600, 300, "view_count"),
                "item_id", "view_count", TOP_N["hot_items"])),
            "network_flow": self.q(_topn_sql(
                _sliding_sql("apache", "ts", ["url"], 600, 5, "url_count"),
                "url", "url_count", TOP_N["network_flow"])),
            "page_view": self.q(f"""SELECT {hourly} AS window_start, {hourly} + 3600 AS window_end,
                count(*) AS pv_count FROM {pv} GROUP BY ALL"""),
            "unique_visitor": self.q(f"""SELECT {hourly} AS window_start, {hourly} + 3600 AS window_end,
                count(DISTINCT user_id) AS uv_count FROM {pv} GROUP BY ALL"""),
            "app_marketing": self.q(_sliding_sql(
                "(SELECT ts_ms / 1000 AS ts FROM mkt WHERE behavior <> 'UNINSTALL')",
                "ts", [], 3600, 10, "mkt_count")),
            "app_marketing_by_channel": self.q(_sliding_sql(
                "(SELECT ts_ms / 1000 AS ts, channel, behavior FROM mkt WHERE behavior <> 'UNINSTALL')",
                "ts", ["channel", "behavior"], 3600, 10, "mkt_count")),
            "ad_province_counts": self.q(_sliding_sql(allowed, "ts", ["province"], 3600, 5, "click_count")),
            "ad_warnings": self.q(f"""SELECT user_id, ad_id, CAST(floor(ts / 86400) AS BIGINT) * 86400 AS day_start,
                count(*) AS total_count, 'Click over {AD_THRESHOLD} times today.' AS warning_msg
                FROM ad GROUP BY 1, 2, 3 HAVING count(*) > {AD_THRESHOLD}"""),
            "login_fail": self.q(f"""SELECT user_id, prev_ts * 1000000 AS first_fail_ts_us,
                ts * 1000000 AS last_fail_ts_us, 'login fail!' AS warning_msg FROM (
                  SELECT *, lag(event_type) OVER w AS prev_type, lag(ts) OVER w AS prev_ts
                  FROM login WINDOW w AS (PARTITION BY user_id ORDER BY ts))
                WHERE event_type = 'fail' AND prev_type = 'fail' AND ts - prev_ts <= {LOGIN_GAP_S}"""),
            # outcome per order from its first create and first pay
            "order_timeout": self.q(f"""WITH a AS (SELECT order_id,
                    min(CASE WHEN event_type = 'create' THEN ts END) * 1000000 AS create_ts_us,
                    min(CASE WHEN event_type = 'pay' THEN ts END) * 1000000 AS pay_ts_us
                    FROM orders GROUP BY 1),
                c AS (SELECT *, CASE WHEN create_ts_us IS NOT NULL AND pay_ts_us IS NOT NULL THEN
                        CASE WHEN pay_ts_us <= create_ts_us + {ORDER_TIMEOUT_S * 1_000_000}
                             THEN '{MSG_OK}' ELSE '{MSG_LATE_PAY}' END
                      WHEN create_ts_us IS NOT NULL THEN '{MSG_TIMEOUT}'
                      ELSE '{MSG_NO_CREATE}' END AS result_msg FROM a)
                SELECT *, result_msg <> '{MSG_OK}' AS is_timeout FROM c"""),
            "tx_match_join": self.q(f"""SELECT p.tx_id, p.order_id AS pay_event_id,
                p.ts * 1000000 AS pay_ts_us, r.ts * 1000000 AS receipt_ts_us
                FROM {pays} p JOIN receipts r ON p.tx_id = r.tx_id
                 AND r.ts BETWEEN p.ts - {TX_BOUND_S} AND p.ts + {TX_BOUND_S}"""),
            "tx_reconcile": self.q(f"""WITH p AS (SELECT tx_id, count(*) AS pay_count,
                    min(ts) * 1000000 AS pay_ts_us FROM {pays} GROUP BY 1),
                r AS (SELECT tx_id, count(*) AS receipt_count, min(ts) * 1000000 AS receipt_ts_us
                    FROM receipts GROUP BY 1)
                SELECT coalesce(p.tx_id, r.tx_id) AS tx_id, coalesce(pay_count, 0) AS pay_count,
                  coalesce(receipt_count, 0) AS receipt_count, pay_ts_us, receipt_ts_us,
                  CASE WHEN p.tx_id IS NOT NULL AND r.tx_id IS NOT NULL THEN 'matched'
                       WHEN p.tx_id IS NOT NULL THEN 'unmatched_pay' ELSE 'unmatched_receipt' END AS match_tag
                FROM p FULL OUTER JOIN r ON p.tx_id = r.tx_id"""),
            "_counts": self.q(f"""SELECT
                (SELECT count(*) FROM ub WHERE behavior = 'pv') AS n_pv,
                (SELECT count(*) FROM {pays}) AS n_pays,
                (SELECT count(*) FROM receipts) AS n_receipts"""),
        }


BATCH_COLS = {
    "hot_items": ["window_start", "window_end", "item_id", "view_count", "rank"],
    "network_flow": ["window_start", "window_end", "url", "url_count", "rank"],
    "page_view": ["window_start", "window_end", "pv_count"],
    "unique_visitor": ["window_start", "window_end", "uv_count"],
    "app_marketing": ["window_start", "window_end", "mkt_count"],
    "app_marketing_by_channel": ["window_start", "window_end", "channel", "behavior", "mkt_count"],
    "ad_province_counts": ["window_start", "window_end", "province", "click_count"],
    "ad_warnings": ["user_id", "ad_id", "day_start", "total_count", "warning_msg"],
    "login_fail": ["user_id", "first_fail_ts_us", "last_fail_ts_us", "warning_msg"],
    "order_timeout": ["order_id", "create_ts_us", "pay_ts_us", "result_msg", "is_timeout"],
    "tx_match_join": ["tx_id", "pay_event_id", "pay_ts_us", "receipt_ts_us"],
    "tx_reconcile": ["tx_id", "pay_count", "receipt_count", "pay_ts_us", "receipt_ts_us", "match_tag"],
}


def check_batch(out: dict[str, pd.DataFrame], exp: dict[str, pd.DataFrame]) -> list[str]:
    """``out`` maps each BATCH_COLS name (plus ``uv_bloom``) to the job's
    output as a pandas frame."""
    errs: list[str] = []
    for name, cols in BATCH_COLS.items():
        errs += same_rows(name, out[name], exp[name], cols)
    n = exp["_counts"].iloc[0]
    for name, cnt in (("hot_items", "view_count"), ("network_flow", "url_count")):
        errs += topn_props(name, out[name], cnt, TOP_N[name], BATCH_COLS[name][2])
    errs += pv_sum("page_view", out["page_view"], n["n_pv"])
    errs += _uv_le_pv("unique_visitor", out["page_view"], out["unique_visitor"])
    errs += _hll_within("uv_bloom", out["uv_bloom"], exp["unique_visitor"])
    errs += reconcile_sums(out["tx_reconcile"], n["n_pays"], n["n_receipts"])
    return errs


def _uv_le_pv(name: str, pv: pd.DataFrame, uv: pd.DataFrame) -> list[str]:
    m = uv.merge(pv, on=["window_start", "window_end"], how="left")
    bad = m[~(m["uv_count"] <= m["pv_count"])]
    return [f"{name}: UV > PV in {len(bad)} windows"] if len(bad) else []


def _hll_within(name: str, approx: pd.DataFrame, exact: pd.DataFrame) -> list[str]:
    """HLL++ at relative standard deviation rsd: allow four of them."""
    m = exact.merge(approx, on=["window_start", "window_end"], how="outer")
    bad = m[~((m["uv_approx"] - m["uv_count"]).abs() <= 4 * HLL_RSD * m["uv_count"] + 1)]
    return [f"{name}: {len(bad)} windows off the exact UV by more than 4 rsd"] if len(bad) else []


def screen_drops_exact(screened: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """No document that survives the corpus screen is an exact copy of a
    corpus document (``docs``: doc_id, md5 of every document)."""
    corpus_md5 = set(docs[docs["doc_id"] % 2 == 0]["md5"])
    kept = docs[docs["doc_id"].isin(screened["doc_id"])]
    n = int(kept["md5"].isin(corpus_md5).sum())
    return [f"corpus_screen: {n} exact copies of corpus documents survived"] if n else []


class StreamExpect:
    """Expected outputs of the stream_jobs calls: the streaming forms over
    the events log (``events_flat.parquet`` holds every event with its
    micro-batch index), and the registry's own DuckDB oracle SQL for the
    corpus-screen replay over the generated testdata tables."""

    def __init__(self, data_dir: str, screen_oracle: str):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
        self.screen_oracle = screen_oracle

    def q(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def expected(self) -> dict[str, pd.DataFrame]:
        wm = STREAM_WATERMARK_S * 1_000_000
        views = "(SELECT *, ts_us / 1000000 AS ts FROM events_flat WHERE event_type = 'view')"
        # append mode emits the windows the final watermark has closed;
        # the watermark of the view stream is its max event time - delay
        closed = (f"window_end * 1000000 <= "
                  f"(SELECT max(ts_us) FROM events_flat WHERE event_type = 'view') - {wm}")
        hourly = "CAST(floor(ts / 3600) AS BIGINT) * 3600"
        return {
            "page_view": self.q(f"""SELECT * FROM (SELECT {hourly} AS window_start,
                {hourly} + 3600 AS window_end, count(*) AS pv_count FROM {views} GROUP BY ALL)
                WHERE {closed}"""),
            # arrival order: batch by batch, (ts, event_id) inside a batch
            "login_fail": self.q(f"""SELECT user_id, prev_ts AS first_fail_ts_us,
                ts_us AS last_fail_ts_us, 'login fail!' AS warning_msg FROM (
                  SELECT *, lag(event_type) OVER w AS prev_type, lag(ts_us) OVER w AS prev_ts
                  FROM events_flat WINDOW w AS (PARTITION BY user_id ORDER BY batch, ts_us, event_id))
                WHERE event_type = 'error' AND prev_type = 'error'
                  AND ts_us - prev_ts <= {LOGIN_GAP_S * 1_000_000}"""),
            "corpus_screen": self.q(self.screen_oracle),
            "_counts": self.q(f"""SELECT count(*) FILTER (WHERE
                {closed.replace('window_end', f'({hourly} + 3600)')}) AS n_view_closed
                FROM {views}"""),
            "_docs": self.q("SELECT doc_id, md5(text) AS md5 FROM documents"),
        }


STREAM_COLS = {
    "page_view": ["window_start", "window_end", "pv_count"],
    "login_fail": ["user_id", "first_fail_ts_us", "last_fail_ts_us", "warning_msg"],
    "corpus_screen": ["doc_id", "n_tokens", "score_r4"],
}


def check_stream(out: dict[str, pd.DataFrame], exp: dict[str, pd.DataFrame]) -> list[str]:
    errs: list[str] = []
    for name, cols in STREAM_COLS.items():
        errs += same_rows(f"stream.{name}", out[name], exp[name], cols)
    # the closed windows' PV sums to their view events
    errs += pv_sum("stream.page_view", out["page_view"], exp["_counts"].iloc[0]["n_view_closed"])
    errs += screen_drops_exact(out["corpus_screen"], exp["_docs"])
    return errs


# -- self-test ---------------------------------------------------------------

def _perturbations(df: pd.DataFrame, count_col: str | None):
    """One row dropped; one count off by one."""
    if len(df):
        yield "row dropped", df.drop(df.index[len(df) // 2])
    if count_col is not None and len(df):
        bumped = df.copy()
        i = bumped.index[len(bumped) // 3]
        bumped.loc[i, count_col] = bumped.loc[i, count_col] + 1
        yield f"{count_col} off by one", bumped


COUNT_COL = {
    "hot_items": "view_count", "network_flow": "url_count", "page_view": "pv_count",
    "unique_visitor": "uv_count", "app_marketing": "mkt_count",
    "app_marketing_by_channel": "mkt_count", "ad_province_counts": "click_count",
    "ad_warnings": "total_count", "login_fail": "last_fail_ts_us", "order_timeout": "order_id",
    "tx_match_join": "receipt_ts_us", "tx_reconcile": "pay_count", "uv_bloom": "uv_approx",
    "corpus_screen": "n_tokens",
}


def self_test(out: dict, exp: dict, check) -> list[str]:
    """``check(out, exp)`` must pass on ``out`` and fail on each
    perturbation of each output in it.  Returns the failures of this."""
    bad = []
    base = check(out, exp)
    if base:
        bad.append(f"unperturbed output fails: {base[:3]}")
    for name, df in out.items():
        col = COUNT_COL[name]
        if name == "uv_bloom":  # within a tolerance: push it well outside
            big = df.copy()
            big.loc[big.index[0], col] = big.loc[big.index[0], col] * 2 + 10
            cases = [("estimate doubled", big)]
        else:
            cases = list(_perturbations(df, col))
        for what, pert in cases:
            if not check({**out, name: pert}, exp):
                bad.append(f"{name}: check passed with {what}")
    return bad


def _set(df: pd.DataFrame, row: int, col: str, value) -> pd.DataFrame:
    out = df.copy()
    out.loc[out.index[row], col] = value
    return out


def property_self_test(bexp: dict, sexp: dict) -> list[str]:
    """Each property check, called on its own: it passes on the DuckDB
    result and fails on an input that breaks only that property."""
    hot = bexp["hot_items"].sort_values(["window_start", "rank"]).reset_index(drop=True)
    # a window with two entries of different counts, and one with a tie
    w2 = hot.groupby("window_start")["rank"].transform("size") >= 2
    i = int(hot.index[w2 & (hot["rank"] == 1) & (hot["view_count"] > hot["view_count"].shift(-1))][0])
    tie = hot.index[(hot["rank"] == 1) & (hot["view_count"] == hot["view_count"].shift(-1))
                    & (hot["window_start"] == hot["window_start"].shift(-1))]
    swapped = hot.copy()
    swapped.loc[[i, i + 1], "view_count"] = hot.loc[[i + 1, i], "view_count"].to_numpy()
    topn = lambda df: topn_props("hot_items", df, "view_count", TOP_N["hot_items"], "item_id")  # noqa: E731
    cases = [
        ("topn_props", topn(hot), topn(_set(hot, i + 1, "rank", 3)), "a skipped rank"),
        ("topn_props", topn(hot), topn(swapped), "counts rising inside a window"),
        ("topn_props", topn(hot), topn(pd.concat([hot, hot[hot["window_start"] == hot.loc[i, "window_start"]]
                                                   .assign(rank=lambda d: d["rank"] + 3)])),
         "more than N entries"),
    ]
    if len(tie):
        t = int(tie[0])
        keys = hot.copy()
        keys.loc[[t, t + 1], "item_id"] = hot.loc[[t + 1, t], "item_id"].to_numpy()
        cases.append(("topn_props", topn(hot), topn(keys), "a tie not broken by key"))
    n = bexp["_counts"].iloc[0]
    pv, uv = bexp["page_view"], bexp["unique_visitor"]
    bloom = uv.rename(columns={"uv_count": "uv_approx"})
    rec = bexp["tx_reconcile"]
    m = int(rec.index[rec["match_tag"] == "matched"][0])
    sn = sexp["_counts"].iloc[0]["n_view_closed"]
    docs = sexp["_docs"]
    screened = sexp["corpus_screen"]
    corpus_md5 = set(docs[docs["doc_id"] % 2 == 0]["md5"])
    copy = docs[(docs["doc_id"] % 2 == 1) & docs["md5"].isin(corpus_md5)]["doc_id"]
    cases += [
        ("pv_sum", pv_sum("page_view", pv, n["n_pv"]), pv_sum("page_view", pv, n["n_pv"] + 1),
         "one view event more"),
        ("_uv_le_pv", _uv_le_pv("uv", pv, uv),
         _uv_le_pv("uv", pv, _set(uv, 0, "uv_count", int(pv.set_index("window_start").loc[
             uv["window_start"].iloc[0], "pv_count"]) + 1)), "UV above PV in one window"),
        ("_hll_within", _hll_within("uv_bloom", bloom, uv),
         _hll_within("uv_bloom", _set(bloom, 0, "uv_approx", int(bloom["uv_approx"].iloc[0] * 1.2) + 2), uv),
         "an estimate 20 % off"),
        ("reconcile_sums", reconcile_sums(rec, n["n_pays"], n["n_receipts"]),
         reconcile_sums(_set(rec, m, "pay_count", 0), n["n_pays"], n["n_receipts"]),
         "one pay removed from matched"),
        ("reconcile_sums", [], reconcile_sums(_set(rec, m, "receipt_count", 2), n["n_pays"], n["n_receipts"]),
         "one receipt added to matched"),
        ("pv_sum", pv_sum("stream.page_view", sexp["page_view"], sn),
         pv_sum("stream.page_view", sexp["page_view"].iloc[1:], sn), "a closed window missing"),
        ("screen_drops_exact", screen_drops_exact(screened, docs),
         screen_drops_exact(pd.concat([screened, pd.DataFrame({"doc_id": copy.iloc[:1]})]), docs),
         "a planted exact copy surviving"),
    ]
    bad = []
    for fn, clean, broken, what in cases:
        if clean:
            bad.append(f"{fn} fails on the DuckDB result: {clean[:2]}")
        if not broken:
            bad.append(f"{fn} passed with {what}")
    if copy.empty:
        bad.append("the corpus has no planted exact copy")
    return bad


def _run_self_test(seed: int) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import gen
    from userbehavioranalysis_spark.registry import ORACLES

    failures: list[str] = []
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        d = os.path.join(tmp, "batch")
        gen.generate("batch_jobs", seed, d)
        bexp = BatchExpect(d).expected()
        out = {k: bexp[k] for k in BATCH_COLS}
        out["uv_bloom"] = bexp["unique_visitor"].rename(columns={"uv_count": "uv_approx"})
        failures += [f"batch {x}" for x in self_test(out, bexp, check_batch)]

        d = os.path.join(tmp, "stream")
        gen.generate("stream_jobs", seed, d)
        sexp = StreamExpect(d, ORACLES["streaming_corpus_screen_replay"]).expected()
        out = {k: sexp[k] for k in STREAM_COLS}
        failures += [f"stream {x}" for x in self_test(out, sexp, check_stream)]
        failures += [f"property {x}" for x in property_self_test(bexp, sexp)]
    for f in failures:
        print("SELF-TEST FAIL:", f)
    print(json.dumps({"self_test": "fail" if failures else "pass", "failures": len(failures)}))
    return 1 if failures else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Self-test of the output checks.")
    ap.add_argument("--seed", type=int, default=1)
    sys.exit(_run_self_test(ap.parse_args().seed))

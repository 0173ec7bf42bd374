"""Reference job parity bindings.

Each function rebuilds one of the reference's 11 runnable jobs as a
batch DataFrame pipeline over the job's *exact* input schema and
parameters — window sizes, slides, thresholds, timeout bounds and
message strings all match the cited Scala (SURVEY §2).  Where the
reference ships a fixture CSV (`*/src/main/resources/`), the binding
defaults to reading it, so a reference user can run the same analytic
on the same file and diff the output.

The jobs compose the generic operators (`operators/`) — the only logic
here is column adaptation (the reference's Scala field names → operator
contracts) and parameter binding.

Determinism note: the reference forces parallelism 1 and relies on
arrival order; these plans instead break ties deterministically.  Rows
get a portable ``event_id`` = 60-bit md5 hash of the full row
(functions/text.h64_spark), reproducible in DuckDB for the oracle side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from userbehavioranalysis_spark import schemas
from userbehavioranalysis_spark.functions.text import h64_spark
from userbehavioranalysis_spark.operators import topn
from userbehavioranalysis_spark.operators import windowed_counts as wc
from userbehavioranalysis_spark.operators.blacklist import (
    blacklist_filter,
    blacklist_warnings,
)
from userbehavioranalysis_spark.operators.login_fail import login_fail_warnings
from userbehavioranalysis_spark.operators.order_timeout import order_timeout_results
from userbehavioranalysis_spark.operators.tx_match import (
    interval_join_pairs,
    reconcile_full_outer,
)
from userbehavioranalysis_spark.sources.readers import (
    read_apache_log,
    read_csv_events,
)

REFERENCE_ROOT = "/root/reference"
FIXTURES = {
    "apache_log": f"{REFERENCE_ROOT}/NetworkFlowAnalysis/src/main/resources/apache.log",
    "ad_click": f"{REFERENCE_ROOT}/MarketAnalysis/src/main/resources/AdClickLog.csv",
    "login_log": f"{REFERENCE_ROOT}/LoginFailDetect/src/main/resources/LoginLog.csv",
    "order_log": f"{REFERENCE_ROOT}/OrderPayDetect/src/main/resources/OrderLog.csv",
    "receipt_log": f"{REFERENCE_ROOT}/OrderPayDetect/src/main/resources/ReceiptLog.csv",
}


def fixture_exists(key: str) -> bool:
    """Whether the reference fixture file ``FIXTURES[key]`` is on disk.

    The fixtures live in the reference checkout, not in this repo, and
    cannot be regenerated; callers that read one check this first."""
    return os.path.isfile(FIXTURES[key])


def _with_event_id(df: DataFrame, cols: list[str]) -> DataFrame:
    """Portable deterministic row id: 60-bit md5 of the joined fields."""
    joined = "concat_ws(',', " + ", ".join(f"cast({c} as string)" for c in cols) + ")"
    return df.withColumn("event_id", F.expr(h64_spark(joined)))


# -- readers (one per reference input schema) ------------------------------

def read_user_behavior(spark: SparkSession, path: str) -> DataFrame:
    """UserBehavior.csv (HotItems.scala:24,45-48; epoch-seconds ts)."""
    return read_csv_events(spark, path, schemas.USER_BEHAVIOR, "ts", "s")


def read_ad_click(spark: SparkSession, path: str = FIXTURES["ad_click"]) -> DataFrame:
    """AdClickLog.csv (AdStatisticsByGeo.scala:16,36-39)."""
    df = read_csv_events(spark, path, schemas.AD_CLICK_EVENT, "ts", "s")
    return _with_event_id(df, ["user_id", "ad_id", "province", "city", "ts"])


def read_login_log(spark: SparkSession, path: str = FIXTURES["login_log"]) -> DataFrame:
    """LoginLog.csv (LoginFail.scala:20,33-36)."""
    df = read_csv_events(spark, path, schemas.LOGIN_EVENT, "ts", "s")
    return _with_event_id(df, ["user_id", "ip", "event_type", "ts"])


def read_order_log(spark: SparkSession, path: str = FIXTURES["order_log"]) -> DataFrame:
    """OrderLog.csv (OrderTimeout.scala:13,26-29); empty tx_id = no tx."""
    df = read_csv_events(spark, path, schemas.ORDER_EVENT, "ts", "s")
    return df.withColumn("tx_id", F.coalesce(F.col("tx_id"), F.lit("")))


def read_receipt_log(
    spark: SparkSession, path: str = FIXTURES["receipt_log"]
) -> DataFrame:
    """ReceiptLog.csv (TxMacthDetect.scala:10,34-37)."""
    return read_csv_events(spark, path, schemas.RECEIPT_EVENT, "ts", "s")


# -- HotItemsAnalysis ------------------------------------------------------

def hot_items_job(user_behavior: DataFrame, n: int = 3) -> DataFrame:
    """HotItems (HotItems.scala:29-155): top-N viewed items, 1h/5min."""
    return topn.windowed_topn(
        user_behavior.filter(F.col("behavior") == "pv"),
        key_col="item_id",
        n=n,
        window="1 hour",
        slide="5 minutes",
        ts_col="event_ts",
        count_alias="view_count",
    )


# -- NetworkFlowAnalysis ---------------------------------------------------

def network_flow_job(apache_log: DataFrame, n: int = 5) -> DataFrame:
    """NetworkFlow (NetworkFlow.scala:26-117): top-N urls, 10min/5s."""
    return topn.windowed_topn(
        apache_log,
        key_col="url",
        n=n,
        window="10 minutes",
        slide="5 seconds",
        ts_col="event_ts",
        count_alias="url_count",
    )


def page_view_job(user_behavior: DataFrame) -> DataFrame:
    """PageView (PageView.scala:10-29): hourly pv count."""
    return wc.page_view(
        user_behavior.withColumnRenamed("behavior", "event_type"),
        view_type="pv",
        ts_col="event_ts",
    )


def unique_visitor_job(user_behavior: DataFrame) -> DataFrame:
    """UniqueVisitor (UniqueVisitor.scala:13-47): hourly exact UV."""
    return wc.unique_visitors(
        user_behavior.withColumnRenamed("behavior", "event_type"),
        view_type="pv",
        ts_col="event_ts",
    )


def uv_bloom_job(user_behavior: DataFrame, rsd: float = 0.02) -> DataFrame:
    """UvWithBloom (UvWithBloom.scala:13-103): approximate hourly UV.

    HLL++ replaces the Bloom-bitmap-in-Redis estimator (same bounded-
    memory intent, different error profile — SURVEY §7.3.3).
    """
    return wc.uv_approx(
        user_behavior.withColumnRenamed("behavior", "event_type"),
        view_type="pv",
        rsd=rsd,
        ts_col="event_ts",
    )


# -- MarketAnalysis --------------------------------------------------------

def app_marketing_job(marketing: DataFrame) -> DataFrame:
    """AppMarketing (AppMarketing.scala:13-61): total events, 1h/10s.

    Keeps the reference's `!= "UNINSTALL"` predicate (AppMarketing.scala:22)
    — an observable no-op against its own generator's misspelled
    'UNISTALL' domain (AppMarketingByChannel.scala:49).
    """
    return wc.marketing_total(
        marketing.withColumnRenamed("behavior", "event_type"),
        window="1 hour",
        slide="10 seconds",
        ts_col="event_ts",
    )


def app_marketing_by_channel_job(marketing: DataFrame) -> DataFrame:
    """AppMarketingByChannel (AppMarketingByChannel.scala:23-86):
    counts per (channel, behavior), sliding 1h/10s."""
    return wc.sliding_counts(
        marketing.filter(F.col("behavior") != "UNINSTALL"),
        ["channel", "behavior"],
        "1 hour",
        "10 seconds",
        "event_ts",
        "mkt_count",
    )


def ad_statistics_job(
    ad_clicks: DataFrame, threshold: int = 100
) -> dict[str, DataFrame]:
    """AdStatisticsByGeo (AdStatisticsByGeo.scala:24-121), both outputs.

    - ``province_counts``: clicks per province, sliding 1h/5s, counting
      only the first ``threshold`` clicks per (user, ad) per day (the
      blacklist pass-through feeding the window agg, `:43-51`);
    - ``warnings``: one BlackListWarning per (user, ad, day) over the
      cap (`:79-87`), side-output → separate DataFrame (SURVEY §1.5).
    """
    # blacklist_filter keeps the full rows, so the window agg consumes
    # them directly — no join-back (which would multiply duplicate rows
    # sharing a content-hash event_id and cost an extra shuffle)
    allowed = blacklist_filter(
        ad_clicks,
        threshold,
        key_cols=["user_id", "ad_id"],
        ts_col="event_ts",
    )
    province_counts = wc.sliding_counts(
        allowed, ["province"], "1 hour", "5 seconds", "event_ts", "click_count"
    )
    warnings = blacklist_warnings(
        ad_clicks,
        threshold,
        key_cols=["user_id", "ad_id"],
        ts_col="event_ts",
    )
    return {"province_counts": province_counts, "warnings": warnings}


# -- LoginFailDetect -------------------------------------------------------

def login_fail_job(
    login_events: DataFrame, max_gap_seconds: int = 2, strict: bool = True
) -> DataFrame:
    """LoginFail / LoginFailWithCep (LoginFail.scala:25-105,
    LoginFailWithCep.scala:13-50): ≥2 consecutive fails within the gap.

    ``strict=True`` = the CEP ``next`` contiguity (a success between
    fails breaks the pair); ``strict=False`` = C2's fail-only pairing.
    """
    return login_fail_warnings(
        login_events,
        max_gap_seconds,
        strict=strict,
        fail_type="fail",
        ts_col="event_ts",
    )


# -- OrderPayDetect --------------------------------------------------------

def order_timeout_job(
    order_events: DataFrame, timeout_seconds: int = 900
) -> DataFrame:
    """OrderTimeout(WithoutCep) (OrderTimeout.scala:18-64,
    OrderTimeoutWithoutCep.scala:9-97): create→pay within 15 min per
    orderId, four outcome messages (C4 is the canonical spec)."""
    return order_timeout_results(
        order_events,
        timeout_seconds,
        key_cols=["order_id"],
        create_type="create",
        pay_type="pay",
        ts_col="event_ts",
    )


def tx_match_join_job(
    order_events: DataFrame, receipt_events: DataFrame, bound_seconds: int = 5
) -> DataFrame:
    """TxMatchByJoin (TxMatchByJoin.scala:9-51): interval join on txId,
    receipt.ts ∈ pay.ts ± 5 s; drops empty txIds (`:22`).

    ``pay_event_id`` carries the orderId; ``receipt_event_id`` the
    portable row hash of the receipt."""
    pays = (
        order_events.filter((F.col("event_type") == "pay") & (F.col("tx_id") != ""))
        .withColumn("event_id", F.col("order_id"))
    )
    receipts = _with_event_id(receipt_events, ["tx_id", "pay_channel", "ts"])
    return interval_join_pairs(
        pays, receipts, key_col="tx_id", bound_seconds=bound_seconds, ts_col="event_ts"
    )


def tx_reconcile_job(
    order_events: DataFrame, receipt_events: DataFrame
) -> DataFrame:
    """TxMacthDetect (TxMacthDetect.scala:12-98): pay↔receipt
    reconciliation; unmatched sides tagged instead of side-output
    (match_tag ∈ matched / unmatched_pay / unmatched_receipt)."""
    pays = order_events.filter(
        (F.col("event_type") == "pay") & (F.col("tx_id") != "")
    )
    return reconcile_full_outer(
        pays, receipt_events, key_cols=["tx_id"], ts_col="event_ts"
    )

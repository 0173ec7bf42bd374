"""The workloads: the calls a round makes into the program's
public functions, and how their outputs are gathered for the checks.

A call returns its output as pandas frames (the complete result on the
driver), so the time of a call is the time to a complete result.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from perfbench import checks

# the streaming forms all run with the same event-time watermark, wider
# than the out-of-order bound the generator plants
WATERMARK = f"{checks.STREAM_WATERMARK_S} seconds"

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


@dataclass
class Call:
    layer: str  # jobs | sources | streaming | registry
    name: str  # per-layer metric stem: <layer>.<name>_s
    fn: Callable[[], dict[str, pd.DataFrame]]
    records: int  # input records the call consumes (0: read from progress)
    timed: bool = True  # counted in the end-to-end metrics


class Workload:
    name = ""
    # at least this many timed rounds per run (see README.md, Bounds and
    # spread)
    timed_rounds = 2
    # one shuffle/state partition per core instead of the session default
    partitions_per_core = False

    def __init__(self, spark: SparkSession, data_dir: str, manifest: dict, tmp: str):
        self.spark, self.data, self.manifest, self.tmp = spark, data_dir, manifest, tmp
        self._ids = itertools.count()

    def path(self, f: str) -> str:
        return os.path.join(self.data, f)

    def rows(self, key: str) -> int:
        return self.manifest["files"][key]["rows"]

    def calls(self, trace: bool) -> list[Call]:
        raise NotImplementedError

    def expected(self) -> dict[str, pd.DataFrame]:
        raise NotImplementedError

    def check(self, out: dict[str, pd.DataFrame], exp: dict[str, pd.DataFrame]) -> list[str]:
        raise NotImplementedError


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


class BatchJobs(Workload):
    """The 12 ``jobs.*`` bindings over the reference-shaped files."""

    name = "batch_jobs"

    def calls(self, trace: bool) -> list[Call]:
        from userbehavioranalysis_spark import jobs as J
        from userbehavioranalysis_spark import schemas
        from userbehavioranalysis_spark.sources.readers import read_apache_log, read_csv_events

        sp, p = self.spark, self.path
        readers = {
            "user_behavior": lambda: J.read_user_behavior(sp, p("UserBehavior.csv")),
            "apache_log": lambda: read_apache_log(sp, p("apache.log")),
            "marketing": lambda: read_csv_events(
                sp, p("marketing.csv"), schemas.MARKETING_USER_BEHAVIOR, "ts_ms", "ms"),
            "ad_click": lambda: J.read_ad_click(sp, p("AdClickLog.csv")),
            "login_log": lambda: J.read_login_log(sp, p("LoginLog.csv")),
            "order_log": lambda: J.read_order_log(sp, p("OrderLog.csv")),
            "receipt_log": lambda: J.read_receipt_log(sp, p("ReceiptLog.csv")),
        }
        ub, mk = readers["user_behavior"], readers["marketing"]
        orders, receipts = readers["order_log"], readers["receipt_log"]
        n = self.rows

        def ad_statistics():
            res = J.ad_statistics_job(readers["ad_click"]())
            return {"ad_province_counts": _pdf(res["province_counts"]),
                    "ad_warnings": _pdf(res["warnings"])}

        def one(name, frame_fn):
            return lambda: {name: _pdf(frame_fn())}

        out = [
            Call("jobs", "hot_items", one("hot_items", lambda: J.hot_items_job(ub())), n("user_behavior")),
            Call("jobs", "network_flow", one("network_flow", lambda: J.network_flow_job(readers["apache_log"]())),
                 n("apache_log")),
            Call("jobs", "page_view", one("page_view", lambda: J.page_view_job(ub())), n("user_behavior")),
            Call("jobs", "unique_visitor", one("unique_visitor", lambda: J.unique_visitor_job(ub())),
                 n("user_behavior")),
            Call("jobs", "uv_bloom", one("uv_bloom", lambda: J.uv_bloom_job(ub())), n("user_behavior")),
            Call("jobs", "app_marketing", one("app_marketing", lambda: J.app_marketing_job(mk())), n("marketing")),
            Call("jobs", "app_marketing_by_channel",
                 one("app_marketing_by_channel", lambda: J.app_marketing_by_channel_job(mk())), n("marketing")),
            Call("jobs", "ad_statistics", ad_statistics, n("ad_click")),
            Call("jobs", "login_fail", one("login_fail", lambda: J.login_fail_job(readers["login_log"](), 2)),
                 n("login_log")),
            Call("jobs", "order_timeout", one("order_timeout", lambda: J.order_timeout_job(orders())),
                 n("order_log")),
            Call("jobs", "tx_match_join", one("tx_match_join", lambda: J.tx_match_join_job(orders(), receipts())),
                 n("order_log") + n("receipt_log")),
            Call("jobs", "tx_reconcile", one("tx_reconcile", lambda: J.tx_reconcile_job(orders(), receipts())),
                 n("order_log") + n("receipt_log")),
        ]
        if trace:
            # each reader's output written to a noop sink: the parse alone
            for key, rd in readers.items():
                out.append(Call("sources", f"parse_{key}", _noop(rd), n(key), timed=False))
        return out

    def expected(self):
        return checks.BatchExpect(self.data).expected()

    def check(self, out, exp):
        return checks.check_batch(out, exp)


def _noop(reader):
    def run():
        reader().write.format("noop").mode("overwrite").save()
        return {}
    return run


class StreamJobs(Workload):
    """Streaming forms over the events log, one file per micro-batch
    through ``streaming.sources.file_replay``, and the registry's
    corpus-screen replay over the generated documents."""

    name = "stream_jobs"
    # a streaming query's state-store partitioning is fixed at its first
    # batch
    partitions_per_core = True

    def _events(self):
        from userbehavioranalysis_spark.streaming.sources import file_replay

        return file_replay(self.spark, self.path("event_batches"), EVENTS_SCHEMA)

    def _to_memory(self, df, name: str) -> pd.DataFrame:
        """Run ``df`` to its end into an append-mode memory table and
        return the table."""
        table = f"perfbench_{name}"
        q = (
            df.writeStream.format("memory").queryName(table).outputMode("append")
            .option("checkpointLocation", os.path.join(self.tmp, f"ckpt_{name}_{next(self._ids)}"))
            .trigger(availableNow=True).start()
        )
        _await(q, name)
        try:
            return self.spark.table(table).toPandas()
        finally:
            self.spark.catalog.dropTempView(table)

    def calls(self, trace: bool) -> list[Call]:
        from userbehavioranalysis_spark.registry import QUERIES
        from userbehavioranalysis_spark.streaming import jobs as SJ
        from userbehavioranalysis_spark.streaming import stateful as ST

        ev = self._events

        def mem(name, build):
            return lambda: {name: self._to_memory(build(), name)}

        def corpus_screen():
            df = QUERIES["streaming_corpus_screen_replay"](self.spark, self.data)
            # the replay's parquet sink: the files the returned frame reads
            files = [f.removeprefix("file://").removeprefix("file:") for f in df.inputFiles()]
            return {"corpus_screen": _pdf(df),
                    "_sink": pd.DataFrame({"bytes": [os.path.getsize(f) for f in files]})}

        return [
            Call("streaming", "page_view",
                 mem("page_view", lambda: SJ.streaming_page_view(ev(), watermark=WATERMARK)), 0),
            Call("streaming", "login_fail", mem("login_fail", lambda: ST.login_fail_stateful(
                ev(), checks.LOGIN_GAP_S, fail_type="error", watermark=WATERMARK)), 0),
            Call("registry", "corpus_screen", corpus_screen, 0),
        ]

    def expected(self):
        from userbehavioranalysis_spark.registry import ORACLES

        return checks.StreamExpect(self.data, ORACLES["streaming_corpus_screen_replay"]).expected()

    def check(self, out, exp):
        return checks.check_stream(out, exp)


def _await(q, name: str) -> None:
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish in 120 s")
    if q.exception() is not None:
        raise RuntimeError(f"streaming query {name} failed: {q.exception()}")


WORKLOADS = {w.name: w for w in (BatchJobs, StreamJobs)}

"""Golden tests for the formatted Top-N report layer.

The reference's jobs print ranked report strings from timer callbacks
(`HotItems.scala:139-152`, `NetworkFlow.scala:104-114`); these tests
pin the render byte-for-byte: once against a hand-built two-item
ranking (every byte derivable on paper), once against the literal
apache.log fixture end-to-end.
"""

import pytest

from userbehavioranalysis_spark import jobs
from userbehavioranalysis_spark.functions.reports import (
    hot_items_report,
    network_flow_report,
)

# HotItems.scala StringBuilder output for a window ending 2017-11-26
# 09:05:00 UTC (epoch 1511687100) with two ranked items
HOT_GOLDEN = (
    "时间:2017-11-26 09:05:00.0\n"
    "No1: 商品ID=2338453 浏览量=27\n"
    "No2: 商品ID=812879 浏览量=18\n"
    "================================"
)

# network_flow_job over the reference's bundled apache.log, window
# ending 2015-05-17 13:05:40 UTC — values verified against the
# hash-green ref_network_flow_top5 ranking
NET_GOLDEN = (
    "时间：2015-05-17 13:05:40.0\n"
    "NO1: URL=/blog/tags/puppet?flav=rss20 访问量=3\n"
    "NO2: URL=/favicon.ico 访问量=3\n"
    "NO3: URL=/images/logstash_OSCON.pdf 访问量=3\n"
    "NO4: URL=/ 访问量=2\n"
    "NO5: URL=/presentations/logstash-puppetconf-2012/images/"
    "office-space-printer-beat-down-gif.gif 访问量=2\n"
    "============================="
)


def test_hot_items_report_golden(spark):
    ranked = spark.createDataFrame(
        [
            (1511683500, 1511687100, 2338453, 27, 1),
            (1511683500, 1511687100, 812879, 18, 2),
        ],
        "window_start long, window_end long, item_id long, view_count long, rank int",
    )
    [row] = hot_items_report(ranked).collect()
    assert row["report"] == HOT_GOLDEN


@pytest.mark.skipif(
    not jobs.fixture_exists("apache_log"),
    reason=f"reference fixture missing: {jobs.FIXTURES['apache_log']}",
)
def test_network_flow_report_fixture_golden(spark):
    ranked = jobs.network_flow_job(
        jobs.read_apache_log(spark, jobs.FIXTURES["apache_log"])
    )
    [row] = (
        network_flow_report(ranked)
        .where("window_end = 1431867940")
        .collect()
    )
    assert row["report"] == NET_GOLDEN


def test_report_rank_order_is_rank_not_arrival(spark):
    """collect_list order is nondeterministic; array_sort on the struct
    must order lines by rank regardless of input row order."""
    ranked = spark.createDataFrame(
        [
            (0, 3600, 5, 1, 2),
            (0, 3600, 7, 9, 1),
        ],
        "window_start long, window_end long, item_id long, view_count long, rank int",
    ).repartition(2)
    [row] = hot_items_report(ranked).collect()
    lines = row["report"].split("\n")
    assert lines[1].startswith("No1: 商品ID=7")
    assert lines[2].startswith("No2: 商品ID=5")

"""Reference-fixture parity queries (the reference's own jobs
on its bundled fixture CSVs) + byte-exact report renders."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as _F

from userbehavioranalysis_spark import jobs as _jobs  # noqa: F401
from userbehavioranalysis_spark.functions import text as _T  # noqa: F401
from userbehavioranalysis_spark.operators import dedup as _dedup  # noqa: F401
from userbehavioranalysis_spark.operators import sequences as _seq  # noqa: F401
from userbehavioranalysis_spark.operators import similarity as _sim  # noqa: F401
from userbehavioranalysis_spark.operators import topn  # noqa: F401
from userbehavioranalysis_spark.operators import windowed_counts as wc  # noqa: F401
from userbehavioranalysis_spark.operators.graph import (  # noqa: F401
    item_triangles_oracle_sql as _triangles_oracle_sql,
    pagerank_oracle_sql as _pagerank_oracle_sql,
)
from userbehavioranalysis_spark.operators.sketches import (  # noqa: F401
    cms_oracle_sql as _cms_oracle_sql,
    histogram_quantiles_oracle_sql as _hq_oracle_sql,
    hll_oracle_sql as _hll_oracle_sql,
)
from userbehavioranalysis_spark.plans import relational as _rel  # noqa: F401
from userbehavioranalysis_spark.registry.core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _STREAM_STAGE_CACHE,
    _tables,
    query,
)
from userbehavioranalysis_spark.sources.readers import (  # noqa: F401
    events_with_item,
    load_testdata,
)


# The reference fixture files (``jobs.FIXTURES`` keys) each ref_* query
# reads.  They are not part of this repo; a query whose file is absent
# cannot build its frame (PATH_NOT_FOUND), so harnesses step past it.
FIXTURE_KEYS: dict[str, tuple[str, ...]] = {
    "ref_login_fail": ("login_log",),
    "ref_order_timeout": ("order_log",),
    "ref_tx_match_interval": ("order_log", "receipt_log"),
    "ref_tx_reconcile": ("order_log", "receipt_log"),
    "ref_ad_province_counts": ("ad_click",),
    "ref_ad_blacklist_warnings": ("ad_click",),
    "ref_network_flow_top5": ("apache_log",),
    "ref_network_flow_report": ("apache_log",),
}


def missing_fixtures(name: str) -> list[str]:
    """Paths of the fixture files query ``name`` reads that are absent
    from disk (empty for a query that reads none)."""
    return [
        _jobs.FIXTURES[k]
        for k in FIXTURE_KEYS.get(name, ())
        if not _jobs.fixture_exists(k)
    ]


_LOGIN_CSV = (
    "read_csv('" + _jobs.FIXTURES["login_log"] + "', header=false, "
    "columns={'user_id':'BIGINT','ip':'VARCHAR','event_type':'VARCHAR','ts':'BIGINT'})"
)


_ORDER_CSV = (
    "read_csv('" + _jobs.FIXTURES["order_log"] + "', header=false, "
    "columns={'order_id':'BIGINT','event_type':'VARCHAR','tx_id':'VARCHAR','ts':'BIGINT'})"
)


_RECEIPT_CSV = (
    "read_csv('" + _jobs.FIXTURES["receipt_log"] + "', header=false, "
    "columns={'tx_id':'VARCHAR','pay_channel':'VARCHAR','ts':'BIGINT'})"
)


_AD_CSV = (
    "read_csv('" + _jobs.FIXTURES["ad_click"] + "', header=false, "
    "columns={'user_id':'BIGINT','ad_id':'BIGINT','province':'VARCHAR',"
    "'city':'VARCHAR','ts':'BIGINT'})"
)


@query(
    "ref_login_fail",
    oracle=f"""
    WITH l0 AS (
        SELECT *, {_T.h64_duck("user_id::VARCHAR||','||ip||','||event_type||','||ts::VARCHAR")}
                  AS event_id
        FROM {_LOGIN_CSV}
    ), l AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER w AS prev_type, lag(ts) OVER w AS prev_ts
        FROM l0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, prev_ts * 1000000 AS first_fail_ts_us,
           ts * 1000000 AS last_fail_ts_us, 'login fail!' AS warning_msg
    FROM l
    WHERE event_type = 'fail' AND prev_type = 'fail' AND ts - prev_ts <= 2
    """,
)
def q_ref_login_fail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.login_fail_job(_jobs.read_login_log(spark), 2, strict=True)


@query(
    "ref_order_timeout",
    oracle=f"""
    WITH pk AS (
        SELECT order_id,
               min(CASE WHEN event_type = 'create' THEN ts * 1000000 END) AS create_ts_us,
               min(CASE WHEN event_type = 'pay' THEN ts * 1000000 END) AS pay_ts_us
        FROM {_ORDER_CSV}
        WHERE event_type IN ('create', 'pay')
        GROUP BY 1
    )
    SELECT order_id, create_ts_us, pay_ts_us,
           CASE
             WHEN create_ts_us IS NOT NULL AND pay_ts_us IS NOT NULL
                  AND pay_ts_us <= create_ts_us + 900000000 THEN 'payed successfully'
             WHEN create_ts_us IS NOT NULL AND pay_ts_us IS NOT NULL
               THEN 'payed but already timeout'
             WHEN create_ts_us IS NOT NULL THEN 'order timeout'
             ELSE 'already payed but not found create log'
           END AS result_msg,
           (NOT (create_ts_us IS NOT NULL AND pay_ts_us IS NOT NULL
                 AND pay_ts_us <= create_ts_us + 900000000)) AS is_timeout
    FROM pk
    """,
)
def q_ref_order_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.order_timeout_job(_jobs.read_order_log(spark), 900)


@query(
    "ref_tx_match_interval",
    oracle=f"""
    SELECT p.tx_id, p.order_id AS pay_event_id, p.ts * 1000000 AS pay_ts_us,
           {_T.h64_duck("r.tx_id||','||r.pay_channel||','||r.ts::VARCHAR")}
               AS receipt_event_id,
           r.ts * 1000000 AS receipt_ts_us
    FROM (SELECT * FROM {_ORDER_CSV}
          WHERE event_type = 'pay' AND tx_id IS NOT NULL AND tx_id <> '') p
    JOIN {_RECEIPT_CSV} r
      ON p.tx_id = r.tx_id AND r.ts >= p.ts - 5 AND r.ts <= p.ts + 5
    """,
)
def q_ref_tx_match_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.tx_match_join_job(
        _jobs.read_order_log(spark), _jobs.read_receipt_log(spark), 5
    )


@query(
    "ref_tx_reconcile",
    oracle=f"""
    WITH p AS (
        SELECT tx_id, CAST(count(*) AS BIGINT) AS pay_count,
               min(ts * 1000000) AS pay_ts_us
        FROM {_ORDER_CSV}
        WHERE event_type = 'pay' AND tx_id IS NOT NULL AND tx_id <> ''
        GROUP BY 1
    ), r AS (
        SELECT tx_id, CAST(count(*) AS BIGINT) AS receipt_count,
               min(ts * 1000000) AS receipt_ts_us
        FROM {_RECEIPT_CSV} GROUP BY 1
    )
    SELECT coalesce(p.tx_id, r.tx_id) AS tx_id,
           coalesce(pay_count, 0) AS pay_count,
           coalesce(receipt_count, 0) AS receipt_count,
           pay_ts_us, receipt_ts_us,
           CASE WHEN pay_count IS NOT NULL AND receipt_count IS NOT NULL
                  THEN 'matched'
                WHEN pay_count IS NOT NULL THEN 'unmatched_pay'
                ELSE 'unmatched_receipt'
           END AS match_tag
    FROM p FULL OUTER JOIN r ON p.tx_id = r.tx_id
    """,
)
def q_ref_tx_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.tx_reconcile_job(
        _jobs.read_order_log(spark), _jobs.read_receipt_log(spark)
    )


@query(
    "ref_ad_province_counts",
    oracle=f"""
    WITH a0 AS (
        SELECT *, {_T.h64_duck(
            "user_id::VARCHAR||','||ad_id::VARCHAR||','||province||','||city||','||ts::VARCHAR"
        )} AS event_id
        FROM {_AD_CSV}
    ), allowed AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, ad_id, ts // 86400
                ORDER BY ts, event_id) AS seq
            FROM a0
        ) WHERE seq <= 100
    ), w AS (
        SELECT (CAST(floor(ts / 5) AS BIGINT) - g.i) * 5 AS window_start, province
        FROM allowed CROSS JOIN generate_series(0, 719) g(i)
    )
    SELECT window_start, window_start + 3600 AS window_end, province,
           CAST(count(*) AS BIGINT) AS click_count
    FROM w GROUP BY 1, 2, 3
    """,
)
def q_ref_ad_province_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.ad_statistics_job(_jobs.read_ad_click(spark), 100)["province_counts"]


@query(
    "ref_ad_blacklist_warnings",
    oracle=f"""
    SELECT user_id, ad_id,
           CAST(ts // 86400 AS BIGINT) * 86400 AS day_start,
           CAST(count(*) AS BIGINT) AS total_count,
           'Click over 100 times today.' AS warning_msg
    FROM {_AD_CSV}
    GROUP BY 1, 2, 3
    HAVING count(*) > 100
    """,
)
def q_ref_ad_blacklist_warnings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.ad_statistics_job(_jobs.read_ad_click(spark), 100)["warnings"]


@query(
    "ref_network_flow_top5",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(epoch(strptime(column3, '%d/%m/%Y:%H:%M:%S')) AS BIGINT) AS ts,
               column6 AS url
        FROM read_csv('{_jobs.FIXTURES["apache_log"]}', header=false, sep=' ')
    ), w AS (
        SELECT (CAST(floor(ts / 5) AS BIGINT) - g.i) * 5 AS window_start, url
        FROM ev CROSS JOIN generate_series(0, 119) g(i)
    ), counts AS (
        SELECT window_start, url, CAST(count(*) AS BIGINT) AS url_count
        FROM w GROUP BY 1, 2
    )
    SELECT window_start, window_start + 600 AS window_end, url, url_count,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY url_count DESC, url ASC) AS rank
        FROM counts
    ) WHERE rank <= 5
    """,
)
def q_ref_network_flow_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jobs.network_flow_job(
        _jobs.read_apache_log(spark, _jobs.FIXTURES["apache_log"])
    )


@query(
    "hot_items_report",
    oracle="""
    WITH w AS (
        SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) - g.i) * 300 AS window_start,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item_id
        FROM events e CROSS JOIN generate_series(0, 11) g(i)
        WHERE e.event_type = 'view'
    ), counts AS (
        SELECT window_start, item_id, CAST(count(*) AS BIGINT) AS view_count
        FROM w GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY view_count DESC, item_id ASC) AS rank
        FROM counts
    )
    SELECT window_start + 3600 AS window_end,
           '时间:' || strftime(epoch_ms((window_start + 3600) * 1000),
                               '%Y-%m-%d %H:%M:%S') || '.0' || chr(10) ||
           string_agg('No' || rank || ': 商品ID=' || item_id ||
                      ' 浏览量=' || view_count || chr(10), '' ORDER BY rank) ||
           repeat('=', 32) AS report
    FROM ranked WHERE rank <= 3
    GROUP BY window_start
    """,
)
def q_hot_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual OUTPUT for its flagship job: one formatted
    ranked-report string per window (HotItems.scala:139-152), rendered
    from the structured top-3 rows by pure Catalyst string expressions.
    The oracle rebuilds the byte-identical string in DuckDB, so the
    printed format itself is hash-checked."""
    from userbehavioranalysis_spark.functions.reports import hot_items_report

    return hot_items_report(topn.hot_items(_tables(spark, sf_dir)["events"]))


@query(
    "ref_network_flow_report",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(epoch(strptime(column3, '%d/%m/%Y:%H:%M:%S')) AS BIGINT) AS ts,
               column6 AS url
        FROM read_csv('{_jobs.FIXTURES["apache_log"]}', header=false, sep=' ')
    ), w AS (
        SELECT (CAST(floor(ts / 5) AS BIGINT) - g.i) * 5 AS window_start, url
        FROM ev CROSS JOIN generate_series(0, 119) g(i)
    ), counts AS (
        SELECT window_start, url, CAST(count(*) AS BIGINT) AS url_count
        FROM w GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY url_count DESC, url ASC) AS rank
        FROM counts
    )
    SELECT window_start + 600 AS window_end,
           '时间：' || strftime(epoch_ms((window_start + 600) * 1000),
                                '%Y-%m-%d %H:%M:%S') || '.0' || chr(10) ||
           string_agg('NO' || rank || ': URL=' || url ||
                      ' 访问量=' || url_count || chr(10), '' ORDER BY rank) ||
           repeat('=', 29) AS report
    FROM ranked WHERE rank <= 5
    GROUP BY window_start
    """,
)
def q_ref_network_flow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetworkFlow's formatted top-5 report (NetworkFlow.scala:104-114
    — full-width colon, 'NO' rank prefix, 29-char bar) over the literal
    apache.log fixture; byte-level output parity, hash-checked."""
    from userbehavioranalysis_spark.functions.reports import network_flow_report

    return network_flow_report(
        _jobs.network_flow_job(
            _jobs.read_apache_log(spark, _jobs.FIXTURES["apache_log"])
        )
    )

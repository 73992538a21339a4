"""Whole-pipeline health rollup (round 9): the reference's
``monitor_all_components`` (health_dashboard.py:37-61) as one
deterministic DataFrame — per-metric thresholds, per-component
worst-of status, overall worst-of, Prometheus gauges, URGENT
recommendations. Each test flips one leg to degraded/critical and
pins the rollup's reaction."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_source_financial_time_series_data_pipeline_architecture_spark.functions.health import (
    RECOMMENDATIONS,
    pipeline_health,
)
from open_source_financial_time_series_data_pipeline_architecture_spark.schema import TRADES_SCHEMA

T0 = 1_700_000_000


def _mk(spark, rows):
    """rows: (t_off_s, symbol, price, volume, trade_id, side, bid, ask)"""
    data = [
        (
            datetime.datetime.utcfromtimestamp(T0 + r[0]),
            r[1],
            float(r[2]),
            float(r[3]),
            str(r[4]),
            r[5],
            r[6],
            r[7],
            "test",
        )
        for r in rows
    ]
    return spark.createDataFrame(data, TRADES_SCHEMA)


def _clean_rows(n=200):
    # one symbol, oscillating price (both time-halves share the same
    # distribution → KS clean), full quote columns, in-order ids
    return [
        (i, "AAA", 100.0 + 0.01 * (i % 10), 10.0, i, "buy", 99.9, 100.1)
        for i in range(n)
    ]


def _report(df):
    return {
        (r["component"], r["metric"]): r
        for r in df.collect()
    }


def test_all_healthy_report(spark):
    t = _mk(spark, _clean_rows())
    rep = _report(
        pipeline_health(
            t, now_offset_s=0.5, feature_slas={"ohlc_1m": 30}
        )
    )
    statuses = {
        k: v["status"] for k, v in rep.items() if v["metric"] != "status"
    }
    # monotone clean data: every metric healthy except possibly the
    # model canary (momentum on a trending series tracks buy-and-hold)
    for k, s in statuses.items():
        if k[1] == "pnl_diff_percent":
            continue
        assert s == "healthy", f"{k} unexpectedly {s}"
    assert rep[("features", "pit_correctness_score")]["value"] == 1.0
    # Prometheus gauge encoding on status rows
    for comp in (
        "ingest",
        "storage",
        "streaming",
        "features",
        "feature_quality",
    ):
        assert rep[(comp, "status")]["value"] == 1.0
        assert rep[(comp, "status")]["recommendation"] is None


def test_error_rate_flips_ingest_critical(spark):
    rows = _clean_rows()
    rows += [(300 + i, "AAA", 0.0, 10.0, 1000 + i, "buy", None, None)
             for i in range(5)]  # 5/205 bad rows >> 0.1%
    rep = _report(pipeline_health(_mk(spark, rows)))
    assert rep[("ingest", "error_rate")]["status"] == "critical"
    assert rep[("ingest", "status")]["status"] == "critical"
    assert rep[("ingest", "status")]["value"] == 0.0
    assert (
        rep[("ingest", "status")]["recommendation"]
        == RECOMMENDATIONS["ingest"]
    )
    assert rep[("overall", "status")]["status"] == "critical"


def test_out_of_order_flips_streaming(spark):
    # arrival order (trade_id) inverts event time for 1/4 of the rows
    rows = []
    for i in range(100):
        tid = 100 - i if i < 50 else i  # first 50 arrive time-reversed
        rows.append((i, "AAA", 100.0, 10.0, tid, "buy", 99.9, 100.1))
    rep = _report(pipeline_health(_mk(spark, rows)))
    m = rep[("streaming", "out_of_order_pct")]
    assert m["value"] > 10.0 and m["status"] == "degraded"
    assert rep[("streaming", "status")]["status"] == "degraded"
    assert rep[("streaming", "status")]["value"] == 0.5


def test_staleness_thresholds_follow_slas(spark):
    t = _mk(spark, _clean_rows())
    rep = _report(
        pipeline_health(
            t,
            now_offset_s=45.0,
            feature_slas={"fast": 30, "slow": 120},
        )
    )
    assert rep[("features", "staleness_seconds:fast")]["status"] == "degraded"
    assert rep[("features", "staleness_seconds:slow")]["status"] == "healthy"
    # 30-minute critical rule (reference :247)
    rep2 = _report(
        pipeline_health(
            t, now_offset_s=2000.0, feature_slas={"fast": 30}
        )
    )
    assert (
        rep2[("features", "staleness_seconds:fast")]["status"] == "critical"
    )
    assert rep2[("features", "status")]["status"] == "critical"
    assert (
        rep2[("features", "status")]["recommendation"]
        == RECOMMENDATIONS["features"]
    )


def test_cagg_lag_degrades_storage(spark):
    t = _mk(spark, _clean_rows())
    rep = _report(pipeline_health(t, now_offset_s=300.0,
                                  feature_slas={"f": 3600}))
    m = rep[("storage", "continuous_aggregate_lag_seconds")]
    assert m["value"] > 120.0 and m["status"] == "degraded"
    assert rep[("storage", "status")]["status"] == "degraded"


def test_null_and_range_flip_feature_quality(spark):
    rows = _clean_rows(100)
    # 20% missing quotes → null_rate > 5%; one absurd price → range hit
    rows = [
        (r[0], r[1], r[2], r[3], r[4], None, None, None) if i < 20 else r
        for i, r in enumerate(rows)
    ]
    rows[50] = (50, "AAA", 2e7, 10.0, 50, "buy", 99.9, 100.1)
    rep = _report(pipeline_health(_mk(spark, rows)))
    assert rep[("feature_quality", "null_rate_percent")]["status"] == "degraded"
    rv = rep[("feature_quality", "range_violations_percent")]
    assert rv["value"] > 0.5 and rv["status"] == "critical"
    assert rep[("feature_quality", "status")]["status"] == "critical"


def test_consumer_lag_counts_stream_tail(spark):
    # a burst inside the last 15 s of event time (cutoff = max−15 with
    # the default offsets) is the uncommitted tail
    rows = _clean_rows(50)
    rows += [(49.9, "AAA", 100.0, 1.0, 1000 + i, "buy", 99.9, 100.1)
             for i in range(30)]
    rep = _report(pipeline_health(_mk(spark, rows)))
    m = rep[("ingest", "consumer_lag_records")]
    # rows with t > max−15 → the 15 in-range clean rows + the burst
    assert m["value"] >= 30.0
    assert m["status"] == "healthy"  # still below 5000


def test_overall_is_worst_of_components(spark):
    t = _mk(spark, _clean_rows())
    rep = _report(
        pipeline_health(t, now_offset_s=0.5, feature_slas={"f": 30})
    )
    comp_statuses = [
        v["status"] for k, v in rep.items() if v["metric"] == "status"
        and k[0] != "overall"
    ]
    order = {"healthy": 1, "degraded": 2, "critical": 3}
    worst = max(comp_statuses, key=lambda s: order[s])
    assert rep[("overall", "status")]["status"] == worst


def test_quoted_feature_name_stays_a_literal(spark):
    """A feature_slas key with a quote (or a backslash) is reported
    verbatim; it can neither break nor extend the generated SQL."""
    t = _mk(spark, _clean_rows())
    names = ["o'hlc", "x', 'y", "back\\slash"]
    rep = _report(
        pipeline_health(
            t, now_offset_s=0.5, feature_slas={n: 30 for n in names}
        )
    )
    for n in names:
        assert rep[("features", f"staleness_seconds:{n}")]["status"] == "healthy"
    staleness = [m for c, m in rep if m.startswith("staleness_seconds:")]
    assert sorted(staleness) == sorted(f"staleness_seconds:{n}" for n in names)


def test_prometheus_export_format(spark):
    from open_source_financial_time_series_data_pipeline_architecture_spark.functions.health import (
        prometheus_export,
    )

    t = _mk(spark, _clean_rows())
    txt = prometheus_export(
        pipeline_health(t, now_offset_s=0.5, feature_slas={"f": 30})
    )
    lines = txt.splitlines()
    assert lines[0].startswith("# HELP pipeline_overall_status")
    assert any(line.startswith("pipeline_overall_status ") for line in lines)
    # one gauge per component + per numeric metric, reference naming
    assert any(line.startswith("pipeline_ingest_status ") for line in lines)
    assert any(
        line.startswith("pipeline_ingest_consumer_lag_records ")
        for line in lines
    )
    assert any(
        line.startswith("pipeline_features_staleness_seconds_f ")
        for line in lines
    )
    # exposition format: no blank lines, HELP/TYPE precede each gauge
    assert "" not in lines

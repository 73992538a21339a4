"""Whole-pipeline health rollup — the reference's
``PipelineHealthMonitor.monitor_all_components`` re-expressed as ONE
deterministic DataFrame query (reference
src/observability/health_dashboard.py:37-61 components,
:92-96,:128-132,:160-165,:198-204,:282-288,:241-288 degradation
thresholds, :415-431 worst-of aggregation + recommendations,
:436-478 Prometheus status gauges).

The reference polls live systems (Kafka admin API, TimescaleDB,
Flink REST, Feast) and many of its collectors are placeholders; here
every metric is DERIVED FROM THE DATA so the whole report is
reproducible and oracle-checkable: "now" defaults to the newest event
time plus a fixed offset (a frozen clock), consumer lag becomes the
uncommitted tail of the stream, Flink backpressure becomes the
out-of-arrival-order fraction, and the model canary is a deterministic
momentum-vs-buy-and-hold PnL comparison. Component status = worst of
its metrics; overall = worst of components — exactly
``_aggregate_health``. Status rows carry the reference's Prometheus
gauge encoding (healthy=1, degraded=0.5, critical=0) and its URGENT
recommendation strings for critical components.

Scale shape (100 TB): every leg is either a single-pass conditional
aggregate (one scan, tree-reduced to 1 row) or a per-symbol window
pass (one hash exchange on symbol); the KS leg reuses the exact
distributed ECDF (bucketed prefix sums, no unpartitioned window). The
final assembly unions ~20 ONE-ROW frames — driver-side cost is nil,
and no corpus-sized cache or collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from open_source_financial_time_series_data_pipeline_architecture_spark.functions import features as FX
from open_source_financial_time_series_data_pipeline_architecture_spark.functions import quality as QX

#: reference health_dashboard.py thresholds, verbatim where they are
#: data-derivable. (metric → (warn, crit)); staleness warn comes from
#: the per-feature SLA registry instead.
THRESHOLDS = {
    "consumer_lag_records": (5000.0, None),  # :92 degraded > 5000
    "error_rate": (None, 0.001),  # :94 critical > 0.1%
    "continuous_aggregate_lag_seconds": (120.0, None),  # :128 > 2 min
    "out_of_order_pct": (10.0, None),  # :160-ish backpressure < 10%
    "pit_correctness_score": (None, 1.0),  # :199 critical < 1.0
    "data_quality_score": (0.8, None),  # :201 degraded < 0.8
    "pnl_diff_percent": (10.0, 20.0),  # :282-287 |diff| 10 / 20
    "null_rate_percent": (5.0, None),  # :241 degraded > 5%
    "ks_statistic": (0.2, None),  # :243 distribution shift (statistic
    # form — the reference thresholds a scipy p-value, which is not a
    # deterministic pure-SQL quantity; D > 0.2 is the matching gate)
    "range_violations_percent": (0.0, 0.5),  # :246 "should be = 0%"
    "staleness_critical_s": 1800.0,  # :247 staleness > 30 min critical
}

#: the reference's critical-component repair advice (:415-431)
RECOMMENDATIONS = {
    "ingest": "URGENT: Scale brokers, check consumer lag",
    "streaming": "URGENT: Restart streaming jobs, check state backend",
    "model": "URGENT: Trigger automatic model rollback!",
    "features": "URGENT: Check PIT correctness, fix data leakage",
}

_GAUGE = {"healthy": 1.0, "degraded": 0.5, "critical": 0.0}


def _row(
    agg: DataFrame,
    component: str,
    metric: str,
    value: Column,
    status: Column,
    threshold: float | None,
) -> DataFrame:
    return agg.select(
        F.lit(component).alias("component"),
        F.lit(metric).alias("metric"),
        F.round(value, 6).alias("value"),
        F.lit(threshold).cast("double").alias("threshold"),
        status.alias("status"),
    )


def _status_over(value: Column, warn, crit) -> Column:
    s = F.lit("healthy")
    if warn is not None:
        s = F.when(value > F.lit(warn), "degraded").otherwise(s)
    if crit is not None:
        s = F.when(value > F.lit(crit), "critical").otherwise(s)
    return s


def _sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal: backslashes and quotes
    escaped, so a caller-supplied name (a ``feature_slas`` key) stays
    one literal instead of breaking or extending the generated SQL."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def pipeline_health(
    trades: DataFrame,
    *,
    now_offset_s: float = 45.0,
    feature_slas: dict[str, int] | None = None,
    lag_window_s: float = 60.0,
    ohlc_df: DataFrame | None = None,
) -> DataFrame:
    """One row per (component, metric) plus per-component and overall
    ``status`` gauge rows → columns ``(component, metric, value,
    threshold, status, recommendation)``.

    ``now`` is frozen at ``max(time) + now_offset_s`` so the report is
    a pure function of the data (the default 45 s offset deliberately
    exercises the staleness-SLA degradation path on live-looking
    data). ``feature_slas`` defaults to the SLA registry's bucketed
    headline features."""
    if feature_slas is None:
        from open_source_financial_time_series_data_pipeline_architecture_spark.functions.registry import REGISTRY

        feature_slas = {
            n: REGISTRY[n].sla_seconds
            for n in ("ohlc_1m", "sma_20", "vwap_5m", "bidask_spread")
        }

    td = F.col("time").cast("double")

    # ---- leg A: ONE conditional-aggregate scan → most scalar metrics
    a = trades.agg(
        F.max(td).alias("max_t"),
        F.min(td).alias("min_t"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("price") <= 0) | (F.col("volume") <= 0)).cast("long")
        ).alias("n_bad"),
        F.sum(
            (
                (F.col("price") <= 0)
                | (F.col("price") > 1e7)
                | (F.col("volume") < 0)
            ).cast("long")
        ).alias("n_range"),
        (
            F.sum(F.col("bid").isNull().cast("long"))
            + F.sum(F.col("ask").isNull().cast("long"))
            + F.sum(F.col("side").isNull().cast("long"))
        ).alias("n_null_opt"),
        # the PIT convention audit: the feature snapshot visible AT an
        # event is the last COMPLETED 1m bucket, whose end
        # floor(t/60)*60 never exceeds the event time — count would-be
        # leaks (reference pit_correctness_score "should be = 1.0")
        F.sum(
            (F.floor(td / 60) * 60 > td).cast("long")
        ).alias("n_pit_leak"),
    ).cache()  # ONE row feeding ~10 report branches — answer-sized
    now_c = F.col("max_t") + F.lit(float(now_offset_s))

    # consumer lag analog: events inside the last lag_window_s before
    # "now" = the not-yet-committed tail of the stream (the committed
    # offset is frozen at now − lag_window; with the defaults that is
    # the last 15 s of event time). Needs a second conditional pass
    # because the cutoff depends on max(t): broadcast the 1-row A
    # frame back over the scan.
    lag_cnt = (
        trades.select(td.alias("t"))
        .crossJoin(F.broadcast(a.select("max_t")))
        .agg(
            F.sum(
                (
                    F.col("t")
                    > F.col("max_t")
                    + F.lit(float(now_offset_s) - float(lag_window_s))
                ).cast("long")
            ).alias("n_lag")
        )
    )

    # ---- leg B: arrival-order window pass → backpressure analog
    # (fraction of events whose event time precedes the running max of
    # everything that ARRIVED before them — trade_id is the arrival
    # sequence)
    arr = Window.partitionBy("symbol").orderBy(
        F.col("trade_id").cast("bigint")
    )
    seen_max = F.max(td).over(
        arr.rowsBetween(Window.unboundedPreceding, -1)
    )
    ooo = (
        trades.select(
            (
                (seen_max.isNotNull()) & (td < seen_max)
            ).cast("long").alias("v")
        )
        .agg(
            (F.sum("v") * 100.0 / F.count(F.lit(1))).alias("ooo_pct")
        )
    )

    # ---- DQ composite (reuses the proven G11 building blocks).
    # ohlc_df lets the caller hand in an already-materialized 1m bar
    # frame (the entry layer's shared cache is the identical plan) so
    # the consistency leg reads it instead of re-aggregating trades.
    dq = QX.dq_score(
        trades, ohlc_df if ohlc_df is not None else FX.ohlc(trades, 60)
    ).select(
        F.col("dq_score").alias("dq")
    )

    # ---- KS drift: early half vs late half of the stream (exact
    # distributed ECDF — bucketed prefix sums, no global window)
    mid = a.select(((F.col("min_t") + F.col("max_t")) / 2).alias("mid"))
    ks = QX.ks_two_sample(
        trades.crossJoin(F.broadcast(mid)),
        "price",
        (td <= F.col("mid")),
    )

    # ---- model canary: momentum strategy vs buy-and-hold shadow,
    # one per-symbol window pass then two tiny aggregates
    ordw = Window.partitionBy("symbol").orderBy("time", "trade_id")
    p1 = F.lag("price", 1).over(ordw)
    p2 = F.lag("price", 2).over(ordw)
    per_sym = (
        trades.select(
            "symbol",
            F.when(
                p2.isNotNull(), F.signum(p1 - p2) * (F.col("price") - p1)
            ).alias("step"),
            F.first("price").over(
                ordw.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("first_p"),
            F.last("price").over(
                ordw.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("last_p"),
        )
        .groupBy("symbol")
        .agg(
            F.sum("step").alias("canary"),
            (F.first("last_p") - F.first("first_p")).alias("shadow"),
        )
    )
    pnl = per_sym.agg(
        F.sum("canary").alias("pnl_c"), F.sum("shadow").alias("pnl_s")
    )

    # ---- ONE 1-row frame carrying every scalar: the whole report is
    # a single projection + explode over it (the naive
    # one-aggregate-per-metric assembly cost 129 exchanges / 42 scans
    # of the corpus; this shape is 1 scan per leg SHAPE — conditional
    # agg, arrival window, symbol window, ECDF, DQ blocks)
    one = (
        a.crossJoin(F.broadcast(lag_cnt))
        .crossJoin(F.broadcast(ooo))
        .crossJoin(F.broadcast(dq))
        .crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(pnl))
    )

    # The ~14 report entries are assembled as ONE SQL string parsed
    # JVM-side in a single round trip (guide §1.2 driver-side cost):
    # the previous Column-object assembly (a struct of five F.lit/
    # F.round/.alias per entry + CASE chains) cost ~700 Py4J round
    # trips per construction. `inline(array(named_struct(...)))` is
    # the same generator+projection Catalyst tree; every value/status
    # expression below is the verbatim SQL spelling of the old Column
    # form (D-suffixed double literals, same operator grouping), so the
    # report values are bit-identical.
    def lit_d(x: float) -> str:
        return f"{x!r}D"

    def status_sql(v: str, warn, crit) -> str:
        # mirrors _status_over: crit check wraps the warn check
        s = "'healthy'"
        if warn is not None:
            s = f"CASE WHEN {v} > {lit_d(warn)} THEN 'degraded' ELSE {s} END"
        if crit is not None:
            s = f"CASE WHEN {v} > {lit_d(crit)} THEN 'critical' ELSE {s} END"
        return s

    def ent_sql(
        component: str, metric: str, value: str, status: str,
        threshold: float | None,
    ) -> str:
        thr = lit_d(threshold) if threshold is not None else "NULL"
        return (
            f"named_struct('component', {_sql_string(component)}, 'metric', "
            f"{_sql_string(metric)}, 'value', round({value}, 6), 'threshold', "
            f"CAST({thr} AS DOUBLE), 'status', {status})"
        )

    off = lit_d(float(now_offset_s))
    entries = []
    w, c = THRESHOLDS["consumer_lag_records"]
    lagv = "CAST(n_lag AS DOUBLE)"
    entries.append(
        ent_sql("ingest", "consumer_lag_records", lagv,
                status_sql(lagv, w, c), w)
    )
    w, c = THRESHOLDS["error_rate"]
    err = "n_bad / n"
    entries.append(
        ent_sql("ingest", "error_rate", err, status_sql(err, w, c), c)
    )
    # cagg lag: "now" minus the end of the newest complete 1m bucket
    w, c = THRESHOLDS["continuous_aggregate_lag_seconds"]
    ca_lag = (
        f"greatest(0.0D, (max_t + {off}) - (FLOOR(max_t / 60) * 60 + 60))"
    )
    entries.append(
        ent_sql("storage", "continuous_aggregate_lag_seconds", ca_lag,
                status_sql(ca_lag, w, c), w)
    )
    w, c = THRESHOLDS["out_of_order_pct"]
    entries.append(
        ent_sql("streaming", "out_of_order_pct", "ooo_pct",
                status_sql("ooo_pct", w, c), w)
    )
    crit_s = THRESHOLDS["staleness_critical_s"]
    st = f"(max_t + {off}) - max_t"  # frozen clock − newest event
    for name, sla in sorted(feature_slas.items()):
        entries.append(
            ent_sql(
                "features",
                f"staleness_seconds:{name}",
                st,
                f"CASE WHEN {st} > {lit_d(crit_s)} THEN 'critical' "
                f"WHEN {st} > {lit_d(float(sla))} THEN 'degraded' "
                f"ELSE 'healthy' END",
                float(sla),
            )
        )
    pit = "1.0D - n_pit_leak / n"
    entries.append(
        ent_sql("features", "pit_correctness_score", pit,
                f"CASE WHEN {pit} < 1.0D THEN 'critical' "
                "ELSE 'healthy' END", 1.0)
    )
    w, _ = THRESHOLDS["data_quality_score"]
    entries.append(
        ent_sql("features", "data_quality_score", "dq",
                f"CASE WHEN dq < {lit_d(w)} THEN 'degraded' "
                "ELSE 'healthy' END", w)
    )
    diff = (
        "CASE WHEN abs(pnl_s) > 0 THEN "
        "((pnl_c - pnl_s) * 100.0D) / abs(pnl_s) END"
    )
    wt, ct = THRESHOLDS["pnl_diff_percent"]
    entries.append(
        ent_sql("model", "pnl_diff_percent", diff,
                f"CASE WHEN abs({diff}) > {lit_d(ct)} THEN 'critical' "
                f"WHEN abs({diff}) > {lit_d(wt)} THEN 'degraded' "
                "ELSE 'healthy' END", wt)
    )
    w, c = THRESHOLDS["null_rate_percent"]
    nullr = "(n_null_opt * 100.0D) / (n * 3)"
    entries.append(
        ent_sql("feature_quality", "null_rate_percent", nullr,
                status_sql(nullr, w, c), w)
    )
    w, c = THRESHOLDS["ks_statistic"]
    entries.append(
        ent_sql("feature_quality", "ks_statistic", "ks_stat",
                status_sql("ks_stat", w, c), w)
    )
    w, c = THRESHOLDS["range_violations_percent"]
    rv = "(n_range * 100.0D) / n"
    entries.append(
        ent_sql("feature_quality", "range_violations_percent", rv,
                status_sql(rv, w, c), w)
    )

    metrics = one.selectExpr(
        "inline(array(" + ", ".join(entries) + "))"
    ).cache()  # ~14 rows, but referenced by THREE branches of the
    # final union (metrics ∪ per-component ∪ overall) — without the
    # cache the whole leg pipeline evaluates three times

    # ---- worst-of rollup: component status rows + overall row, with
    # the Prometheus gauge encoding and the critical recommendations
    prio = (
        F.when(F.col("status") == "critical", 3)
        .when(F.col("status") == "degraded", 2)
        .otherwise(1)
    )
    back = F.when(F.col("p") == 3, "critical").when(
        F.col("p") == 2, "degraded"
    ).otherwise("healthy")
    gauge = F.when(F.col("p") == 3, 0.0).when(F.col("p") == 2, 0.5).otherwise(
        1.0
    )
    comp = (
        metrics.groupBy("component")
        .agg(F.max(prio).alias("p"))
        .select(
            "component",
            F.lit("status").alias("metric"),
            gauge.alias("value"),
            F.lit(None).cast("double").alias("threshold"),
            back.alias("status"),
        )
    )
    overall = (
        comp.agg(
            F.max(
                F.when(F.col("status") == "critical", 3)
                .when(F.col("status") == "degraded", 2)
                .otherwise(1)
            ).alias("p")
        )
        .select(
            F.lit("overall").alias("component"),
            F.lit("status").alias("metric"),
            gauge.alias("value"),
            F.lit(None).cast("double").alias("threshold"),
            back.alias("status"),
        )
    )
    out = metrics.unionByName(comp).unionByName(overall)
    rec = F.create_map(
        *[x for k, v in sorted(RECOMMENDATIONS.items()) for x in (F.lit(k), F.lit(v))]
    )
    return out.withColumn(
        "recommendation",
        F.when(
            (F.col("metric") == "status") & (F.col("status") == "critical"),
            rec[F.col("component")],
        ),
    )


def prometheus_export(report: DataFrame) -> str:
    """The reference's ``PrometheusExporter.export_metrics``
    (health_dashboard.py:436-478) over a ``pipeline_health`` report:
    gauge lines for the overall status, each component status, and
    every numeric metric, in the text exposition format. Driver-side
    over the ~20-row report — the report itself is the distributed
    part."""
    rows = report.collect()
    by = {(r["component"], r["metric"]): r for r in rows}
    lines = []
    ov = by.get(("overall", "status"))
    lines.append(
        "# HELP pipeline_overall_status Overall pipeline health status"
    )
    lines.append("# TYPE pipeline_overall_status gauge")
    lines.append(f"pipeline_overall_status {ov['value'] if ov else 0}")
    comps = sorted(
        {c for c, m in by if m == "status" and c != "overall"}
    )
    for comp in comps:
        st = by[(comp, "status")]
        lines.append(
            f"# HELP pipeline_{comp}_status Component health status"
        )
        lines.append(f"# TYPE pipeline_{comp}_status gauge")
        lines.append(f"pipeline_{comp}_status {st['value']}")
        for (c, m), r in sorted(by.items()):
            if c != comp or m == "status" or r["value"] is None:
                continue
            clean = (
                m.replace(" ", "_").replace("-", "_").replace(":", "_")
                .lower()
            )
            lines.append(f"pipeline_{comp}_{clean} {r['value']}")
    return "\n".join(lines)

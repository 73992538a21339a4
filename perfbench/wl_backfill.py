"""``backfill_serve``: the reference's batch path, then its serving path.

Batch phase: one cold job in the freshly started JVM — events parquet ->
``Engine.trades()`` -> ``registry.materialize_all`` (all 9 registry
features written as parquet) -> ``Engine.online_store()``. Serving phase:
``--seconds`` of closed-loop PIT / online / historical requests against
the warm engine the job left behind (wl_pit.py).

End-to-end: throughput_per_s = input trades / cold-job wall (Engine(...)
until the features and the online store are done); op_p50_ms and
op_tail_ms = ``OnlineFeatureStore.get`` latency; op2_p50_ms =
``Engine.pit_snapshot`` latency; setup_s = session start to first action.

A traced run times each feature with the same calls ``materialize_all``
makes (builder -> parquet write -> read-back count), split into build,
plan and exec, and after the serving phase reruns the batch job once at
local[1] for parallel efficiency.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from spans import NullTracer, df_op, finish_trace, median
from wl_pit import Serving

N_TRADES = 100_000
N_SYMBOLS = 200
ZIPF = 1.1
SPAN_S = 86_400

PARAMS = {"trades": N_TRADES, "symbols": N_SYMBOLS, "zipf": ZIPF, "span_s": SPAN_S,
          "price": "per-symbol geometric random walk, 2 decimals"}


def _job(run, sf_dir: str, out_dir: str, spark) -> dict:
    from open_source_financial_time_series_data_pipeline_architecture_spark import Engine
    from open_source_financial_time_series_data_pipeline_architecture_spark.functions import (
        registry as REG,
    )

    tr = run.tr
    t0 = time.perf_counter()
    with tr.span("op.backfill_job"):
        with tr.span("load.trades_build"):
            eng = Engine(spark, sf_dir)
            trades = eng.trades()
        t_load = time.perf_counter() - t0
        per_feature = {}
        if tr.enabled:
            for spec in REG.all_features():
                path = f"{out_dir}/{spec.name}"

                def act(df, path=path):
                    df.write.mode("overwrite").parquet(path)
                    return df.sparkSession.read.parquet(path).count()

                _, per_feature[spec.name] = df_op(
                    run, "features", lambda spec=spec: spec.builder(trades), act, metrics=True)
        else:
            REG.materialize_all(trades, out_dir)
        t1 = time.perf_counter()
        with tr.span("serving.materialize"):
            store = eng.online_store()
        t2 = time.perf_counter()
    return {"wall": t2 - t0, "store_s": t2 - t1, "load_s": t_load,
            "per_feature": per_feature, "eng": eng, "store": store,
            "store_rows": store.get_local()}


def backfill_serve(run) -> None:
    t0 = time.perf_counter()
    names = gen.symbol_names(N_SYMBOLS)
    base = gen.trades(run.rng, N_TRADES, N_SYMBOLS, ZIPF, span_s=SPAN_S)
    sf_dir = run.path("sf")
    os.makedirs(sf_dir)
    events = f"{sf_dir}/events.parquet"
    gen.write_events(events, gen.events_table(base, names))
    run.context["gen_s"] = time.perf_counter() - t0
    run.context["params"] = PARAMS

    run.e2e["setup_s"] = run.start_session()
    out_dir = run.path("features")

    t_meas = time.time()
    job = run.op(_job, run, sf_dir, out_dir, run.spark)
    if job is None:
        raise RuntimeError("backfill job failed")
    serving = Serving(run, job["eng"], job["store"], base, names, N_SYMBOLS, ZIPF)
    serving.loop(run.seconds)
    t_end = time.time()

    run.e2e["throughput_per_s"] = N_TRADES / job["wall"]
    run.context.update(backfill_trades_per_s=run.e2e["throughput_per_s"],
                       backfill_job_s=job["wall"], online_store_s=job["store_s"])
    serving.report()

    con = oracle.connect()
    try:
        diffs = {}
        run.check("backfill.features", lambda: diffs.update(
            oracle.backfill_features(con, events, out_dir)) or True, ops=0)
        run.context["feature_row_diffs"] = diffs
        for f in oracle.FEATURE_ORACLES:
            run.check(f"backfill.{f}", lambda f=f: diffs.get(f) == 0)
        run.check("backfill.online_store",
                  lambda: oracle.online_store_diff(con, out_dir, job["store_rows"]) == 0)
    finally:
        con.close()
    serving.check(events, out_dir)

    if run.tr.enabled:
        _layers(run, job, t_meas, t_end, sf_dir)


def _layers(run, job: dict, t_meas: float, t_end: float, sf_dir: str) -> None:
    L, tr = run.layer, run.tr
    pf = job["per_feature"]
    L["load.trades_build_s"] = job["load_s"]
    for key in ("build", "plan", "exec"):
        L[f"features.{key}_s"] = sum(p[key] for p in pf.values())
    for name, p in pf.items():
        L[f"features.{name}.exec_s"] = p["exec"]
    for key in ("scan_rows", "shuffle_bytes", "shuffle_records", "spill_bytes", "exchanges"):
        L[f"features.{key}"] = sum(p[key] for p in pf.values())
    L["load.scan_rows"] = sum(p["source_rows"] for p in pf.values())
    L["serving.materialize_s"] = job["store_s"]
    finish_trace(run, t_meas, t_end)

    # parallel-efficiency context: the batch job again at local[1], untraced
    run.record_jvm_stats()
    session_layer = {k: L[k] for k in ("session.start_s", "session.first_action_s")}
    run.stop()
    run.tr = NullTracer()
    run.start_session(cores=1)
    L.update(session_layer)
    one = run.op(_job, run, sf_dir, run.path("features_local1"), run.spark)
    run.tr = tr
    if one is not None:
        L["backfill.local1_trades_per_s"] = N_TRADES / one["wall"]
        L["backfill.parallel_efficiency"] = (
            one["wall"] / job["wall"] / len(os.sched_getaffinity(0)))
    run.context["local1_job_s"] = one["wall"] if one else None
    run.context["median_feature_exec_s"] = median([p["exec"] for p in pf.values()])

"""The serving phase of ``backfill_serve``: PIT and online lookups.

A closed loop with one client against the warm engine the backfill job
left behind, for ``--seconds`` and at least ``MIN_CYCLES`` cycles. The
seeded request mix cycles ten ``OnlineFeatureStore.get`` lookups and
one ``Engine.pit_snapshot(symbol, as_of)``; every third cycle ends with
an ``Engine.get_historical_features`` call over 1,000 entity rows, and
every ``REFRESH_EVERY`` requests ``refresh_from_batch`` folds a new
5-minute batch of trades into the store (which clears the store's plan
memo). Symbols are Zipf-drawn.

Every response is kept and checked after the loop against DuckDB:
online rows against the latest row per symbol over the features of the
base plus the batches folded in so far, PIT rows and historical rows
against as-of lookups over the materialized (and separately checked)
feature tables.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from spans import df_op, median, tail

GETS_PER_CYCLE = 10
MIN_CYCLES = 3
HISTORICAL_EVERY = 3  # cycles, ending with the third
REFRESH_EVERY = 25  # requests
ENTITY_ROWS = 1000
BATCH_TRADES = 2000
BATCH_SPAN_S = 300

PARAMS = {"gets_per_cycle": GETS_PER_CYCLE, "pit_per_cycle": 1, "min_cycles": MIN_CYCLES,
          "historical_every_cycles": HISTORICAL_EVERY,
          "refresh_every_requests": REFRESH_EVERY, "entity_rows": ENTITY_ROWS,
          "refresh_batch_trades": BATCH_TRADES}

ONLINE_VIEWS = ("ohlc_1m", "vwap_5m", "trade_imbalance_5m")


def store_views(trades) -> dict:
    """The online store's feature views over ``trades``, built the way
    ``Engine.online_store`` builds them."""
    from pyspark.sql import functions as F

    from open_source_financial_time_series_data_pipeline_architecture_spark.functions import (
        registry as REG,
    )

    views = {}
    for n in ONLINE_VIEWS:
        spec = REG.get_feature(n)
        fdf = spec.builder(trades)
        vals = [c for c in fdf.columns if c not in ("symbol", spec.time_column)]
        views[n] = (
            fdf.select("symbol", spec.time_column,
                       *[F.col(c).alias(f"{n}__{c}") for c in vals]),
            spec.time_column,
            [f"{n}__{c}" for c in vals],
        )
    return views


class Serving:
    def __init__(self, run, eng, store, base: dict, names, n_symbols: int, skew: float):
        self.run, self.eng, self.store = run, eng, store
        self.names, self.n_symbols, self.skew = names, n_symbols, skew
        self.t_lo = int(base["ts_us"].min())
        self.t_hi = int(base["ts_us"].max())
        self.next_id = int(base["event_id"].max()) + 1
        self.batch_start_us = gen.EPOCH_2024_US + 86_400 * 1_000_000
        self.batches: list[str] = []  # events parquet per folded batch
        self.lat: dict[str, list[float]] = {"get": [], "pit": [], "historical": [], "refresh": []}
        self.layer: dict[str, list[dict]] = {"get": [], "pit": [], "historical": []}
        self.responses: list[tuple] = []  # (kind, request, rows, version)
        self.seen_keys: set = set()
        self.repeat = 0

    # -- requests -------------------------------------------------------
    def _sym(self) -> str:
        return str(self.names[gen.zipf_draw(self.run.rng, self.n_symbols, self.skew, 1)[0]])

    def get(self, i: int) -> None:
        sym = self._sym()
        if sym in self.seen_keys:
            self.repeat += 1
        self.seen_keys.add(sym)
        t0 = time.perf_counter()
        with self.run.tr.span("op.get", req=i):
            rows, lay = df_op(self.run, "serving.get", lambda: self.store.get([sym]))
        self.lat["get"].append(time.perf_counter() - t0)
        self.layer["get"].append(lay)
        self.responses.append(("get", sym, [r.asDict() for r in rows], len(self.batches)))

    def pit(self, i: int) -> None:
        sym = self._sym()
        as_of = gen.to_datetime(self.run.rng.integers(self.t_lo + 3_600_000_000, self.t_hi))
        t0 = time.perf_counter()
        with self.run.tr.span("op.pit", req=i):
            rows, lay = df_op(self.run, "asof.pit_snapshot",
                              lambda: self.eng.pit_snapshot(sym, as_of))
        self.lat["pit"].append(time.perf_counter() - t0)
        self.layer["pit"].append(lay)
        self.responses.append(("pit", (sym, as_of), [r.asDict() for r in rows], 0))

    def historical(self, i: int) -> None:
        rng = self.run.rng
        syms = gen.zipf_draw(rng, self.n_symbols, self.skew, ENTITY_ROWS)
        ts = rng.integers(self.t_lo, self.t_hi, size=ENTITY_ROWS)
        entity = [(i * ENTITY_ROWS + j, str(self.names[s]), gen.to_datetime(t))
                  for j, (s, t) in enumerate(zip(syms, ts))]
        spark = self.run.spark
        t0 = time.perf_counter()
        with self.run.tr.span("op.historical", req=i):
            rows, lay = df_op(
                self.run, "asof.historical",
                lambda: self.eng.get_historical_features(spark.createDataFrame(
                    entity, "entity_id long, symbol string, event_timestamp timestamp")),
                metrics=True)
        self.lat["historical"].append(time.perf_counter() - t0)
        self.layer["historical"].append(lay)
        self.responses.append(("historical", entity, [r.asDict() for r in rows], 0))

    def refresh(self, i: int) -> None:
        from open_source_financial_time_series_data_pipeline_architecture_spark.schema import (
            trades_from_events,
        )
        from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
            load_table,
        )

        k = len(self.batches)
        t = gen.trades(self.run.rng, BATCH_TRADES, self.n_symbols, self.skew,
                       start_us=self.batch_start_us + k * BATCH_SPAN_S * 1_000_000,
                       span_s=BATCH_SPAN_S, first_id=self.next_id)
        self.next_id += BATCH_TRADES
        d = self.run.path("batches", str(k))
        os.makedirs(d)
        gen.write_events(f"{d}/events.parquet", gen.events_table(t, self.names))
        t0 = time.perf_counter()
        with self.run.tr.span("serving.refresh", req=i):
            trades = trades_from_events(load_table(self.run.spark, d, "events"))
            self.store.refresh_from_batch(store_views(trades))
        self.lat["refresh"].append(time.perf_counter() - t0)
        self.batches.append(f"{d}/events.parquet")
        self.seen_keys.clear()

    def loop(self, seconds: float) -> None:
        run = self.run
        end = time.perf_counter() + seconds
        i = cycle = 0
        while cycle < MIN_CYCLES or time.perf_counter() < end:
            steps = ["get"] * GETS_PER_CYCLE + ["pit"]
            if cycle % HISTORICAL_EVERY == HISTORICAL_EVERY - 1:
                steps.append("historical")
            for kind in steps:
                run.op(getattr(self, kind), i)
                i += 1
                if i % REFRESH_EVERY == 0:
                    run.op(self.refresh, i)
            cycle += 1

    # -- results ----------------------------------------------------------
    def check(self, base_events: str, feature_dir: str) -> None:
        con = oracle.connect()
        run = self.run
        try:
            by_kind = {"get": [], "pit": [], "historical": []}
            for r in self.responses:
                by_kind[r[0]].append(r)
            run.check("serving.get", lambda: oracle.online_get_diff(
                con, base_events, self.batches, by_kind["get"]) == 0, ops=len(by_kind["get"]))
            run.check("serving.pit_snapshot", lambda: oracle.pit_diff(
                con, feature_dir, by_kind["pit"]) == 0, ops=len(by_kind["pit"]))
            run.check("serving.historical", lambda: oracle.historical_diff(
                con, feature_dir, by_kind["historical"]) == 0, ops=len(by_kind["historical"]))
        finally:
            con.close()

    def report(self) -> None:
        run = self.run
        ms = {k: [1000 * v for v in vs] for k, vs in self.lat.items()}
        get_tail, get_label, n_get = tail(ms["get"])
        pit_tail, pit_label, n_pit = tail(ms["pit"])
        run.e2e.update(op_p50_ms=median(ms["get"]), op_tail_ms=get_tail,
                       op2_p50_ms=median(ms["pit"]))
        run.context.update(
            online_get_p50_ms=median(ms["get"]), online_get_tail_ms=get_tail,
            online_get_tail=f"{get_label} of n={n_get}",
            pit_snapshot_p50_ms=median(ms["pit"]), pit_snapshot_tail_ms=pit_tail,
            pit_snapshot_tail=f"{pit_label} of n={n_pit}",
            historical_p50_ms=median(ms["historical"]), historical_n=len(ms["historical"]),
            refresh_ms=ms["refresh"], serving_params=PARAMS,
        )
        if not run.tr.enabled:
            return
        L = run.layer
        for kind, prefix in (("pit", "asof.pit_snapshot"), ("historical", "asof.historical"),
                             ("get", "serving.get")):
            for p in ("build", "plan", "exec"):
                L[f"{prefix}.{p}_ms"] = median([1000 * x[p] for x in self.layer[kind]])
        L["asof.historical.shuffle_bytes"] = median(
            [x["shuffle_bytes"] for x in self.layer["historical"]])
        L["serving.refresh_ms"] = median(ms["refresh"])
        L["serving.get.repeat_key_share"] = self.repeat / max(len(ms["get"]), 1)

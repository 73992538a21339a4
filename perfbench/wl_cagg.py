"""``cagg_maintain``: continuous-aggregate maintenance, a closed loop of ticks.

A versioned base table (``sources.versioned``) is seeded with history and
a 1-minute ``ContinuousAggregate`` (``sources.cagg``) is created over it.
Each tick appends a batch of recent trades — a seeded share of them up to
an hour late, into older buckets — runs ``refresh()``, then
``READS_PER_TICK`` ``read_realtime()`` queries over the most recent
window (a polling dashboard). Before every ``DELETE_EVERY``-th tick a
merge-on-read ``delete_where`` removes one symbol's trades in a
10-minute range, and that tick's refresh folds it in. A warm-up delete,
tick and read run before timing starts; the timed loop runs for
``--seconds`` and at least ``MIN_TICKS`` ticks.

End-to-end: op_p50_ms and op_tail_ms = ``read_realtime`` latency;
op2_p50_ms = tick latency (append + refresh); throughput_per_s =
appended trades / summed tick time; setup_s = session start + seed
commit + ``create()``.

Checks: every read against a DuckDB aggregate of the trades the
benchmark appended and deleted so far, and the final materialized store
against a from-scratch aggregate of that final base.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from spans import df_op, finish_trace, median, tail

N_SYMBOLS = 50
ZIPF = 1.1
SEED_TRADES = 20_000
SEED_SPAN_S = 6 * 3600
BATCH_TRADES = 500
BATCH_SPAN_S = 60
LATE_SHARE = 0.1
WARMUP_TICKS = 1
MIN_TICKS = 4
DELETE_EVERY = 4
READS_PER_TICK = 8
READ_WINDOW_S = 900
LATE_MAX_S = 3600

PARAMS = {"symbols": N_SYMBOLS, "zipf": ZIPF, "seed_trades": SEED_TRADES,
          "seed_span_s": SEED_SPAN_S, "batch_trades": BATCH_TRADES,
          "batch_span_s": BATCH_SPAN_S, "late_share": LATE_SHARE,
          "late_max_s": LATE_MAX_S, "warmup_ticks": WARMUP_TICKS, "min_ticks": MIN_TICKS,
          "delete_every_ticks": DELETE_EVERY, "reads_per_tick": READS_PER_TICK,
          "read_window_s": READ_WINDOW_S, "bucket_s": 60}

BUCKET_SQL = "to_timestamp(CAST(floor(epoch(time) / 60) * 60 AS BIGINT))::TIMESTAMP"


def _aggregate(where: str = "") -> str:
    """DuckDB aggregate of the benchmark's copy of the base table."""
    return (f"(SELECT {BUCKET_SQL} AS bucket, symbol, count(*) AS n_trades, "
            f"sum(volume) AS sum_vol, min(price) AS min_px, max(price) AS max_px "
            f"FROM base_exp {where} GROUP BY 1, 2)")


class Cagg:
    def __init__(self, run):
        from pyspark.sql import functions as F

        from open_source_financial_time_series_data_pipeline_architecture_spark.sources.cagg import (
            ContinuousAggregate,
        )

        self.run = run
        self.names = gen.symbol_names(N_SYMBOLS)
        self.base = run.path("cagg", "base")
        self.agg = run.path("cagg", "agg")
        self.ca = ContinuousAggregate(
            run.spark, self.base, self.agg, time_col="time", bucket_seconds=60,
            group_cols=["symbol"],
            aggs={"n_trades": F.count(F.lit(1)), "sum_vol": F.sum("volume"),
                  "min_px": F.min("price"), "max_px": F.max("price")},
            bucket_col="bucket", app_id="perfbench")
        self.con = oracle.connect()
        self.con.execute("CREATE TABLE base_exp (time TIMESTAMP, symbol VARCHAR, "
                         "price DOUBLE, volume DOUBLE, trade_id VARCHAR)")
        self.head_us = gen.EPOCH_2024_US + SEED_SPAN_S * 1_000_000
        self.next_id = 0
        self.n_batches = 0
        self.lat = {"tick": [], "read": [], "commit": [], "refresh": [], "delete": []}
        self.reports: list[dict] = []
        self.read_layer: list[dict] = []
        self.reads: list[tuple] = []  # (window start, rows, expected relation name)

    def _trades_df(self, t: dict):
        """Write ``t`` as an events file; load it through the engine's
        events -> trades mapping; mirror it into the DuckDB base copy."""
        from open_source_financial_time_series_data_pipeline_architecture_spark.schema import (
            oracle as with_trades,
            trades_from_events,
        )
        from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
            load_table,
        )

        d = self.run.path("cagg", "in", str(self.n_batches))
        self.n_batches += 1
        os.makedirs(d)
        gen.write_events(f"{d}/events.parquet", gen.events_table(t, self.names))
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                         f"read_parquet('{d}/events.parquet')")
        self.con.execute("INSERT INTO base_exp " + with_trades(
            "SELECT time, symbol, price, volume, trade_id FROM trades"))
        return trades_from_events(load_table(self.run.spark, d, "events"))

    def _batch(self) -> dict:
        rng = self.run.rng
        t = gen.trades(rng, BATCH_TRADES, N_SYMBOLS, ZIPF, start_us=self.head_us,
                       span_s=BATCH_SPAN_S, first_id=self.next_id)
        late = rng.random(BATCH_TRADES) < LATE_SHARE
        t["ts_us"][late] = self.head_us - rng.integers(
            60_000_000, LATE_MAX_S * 1_000_000, size=int(late.sum()))
        self.next_id += BATCH_TRADES
        self.head_us += BATCH_SPAN_S * 1_000_000
        return t

    def seed(self) -> None:
        from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
            versioned as V,
        )

        t = gen.trades(self.run.rng, SEED_TRADES, N_SYMBOLS, ZIPF, span_s=SEED_SPAN_S)
        self.next_id = SEED_TRADES
        with self.run.tr.span("versioned.commit"):
            V.commit(self._trades_df(t).repartitionByRange(4, "time"), self.base)
        with self.run.tr.span("cagg.create"):
            self.ca.create()

    def tick(self, i: int, timed: bool = True) -> None:
        from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
            versioned as V,
        )

        tr = self.run.tr
        df = self._trades_df(self._batch())
        report: dict = {}
        t0 = time.perf_counter()
        with tr.span("op.tick", req=i):
            with tr.span("versioned.commit"):
                V.commit(df, self.base, mode="append")
            t1 = time.perf_counter()
            with tr.span("cagg.refresh"):
                self.ca.refresh(report)
        t2 = time.perf_counter()
        if timed:
            self.lat["tick"].append(t2 - t0)
            self.lat["commit"].append(t1 - t0)
            self.lat["refresh"].append(t2 - t1)
            self.reports.append(report)

    def read(self, i: int, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        ws = self.head_us - READ_WINDOW_S * 1_000_000
        ws_ts = gen.to_datetime(ws - ws % 60_000_000)
        t0 = time.perf_counter()
        with self.run.tr.span("op.read", req=i):
            rows, lay = df_op(self.run, "cagg.read_realtime",
                              lambda: self.ca.read_realtime().filter(F.col("bucket") >= ws_ts))
        if timed:
            self.lat["read"].append(time.perf_counter() - t0)
            self.read_layer.append(lay)
        name = f"exp_read_{len(self.reads)}"
        self.con.execute(f"CREATE TEMP TABLE {name} AS SELECT * FROM "
                         + _aggregate(f"WHERE time >= TIMESTAMP '{ws_ts}'"))
        self.reads.append((ws_ts, [r.asDict() for r in rows], name))

    def delete(self, i: int) -> None:
        from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
            versioned as V,
        )
        rng = self.run.rng
        sym = str(self.names[rng.integers(0, N_SYMBOLS)])
        lo = int(rng.integers(gen.EPOCH_2024_US, self.head_us - 600_000_000))
        t_lo, t_hi = gen.to_datetime(lo), gen.to_datetime(lo + 600_000_000)
        preds = [("symbol", "=", sym), ("time", ">=", t_lo), ("time", "<", t_hi)]
        t0 = time.perf_counter()
        with self.run.tr.span("versioned.delete", req=i):
            V.delete_where(self.run.spark, self.base, preds, merge_on_read=True)
        self.lat["delete"].append(time.perf_counter() - t0)
        self.con.execute(f"DELETE FROM base_exp WHERE symbol = '{sym}' AND "
                         f"time >= TIMESTAMP '{t_lo}' AND time < TIMESTAMP '{t_hi}'")


def cagg_maintain(run) -> None:
    from open_source_financial_time_series_data_pipeline_architecture_spark.sources import (
        versioned as V,
    )

    run.context["params"] = PARAMS
    start_s = run.start_session()
    c = Cagg(run)
    t0 = time.perf_counter()
    c.seed()
    run.e2e["setup_s"] = start_s + time.perf_counter() - t0
    c.delete(-1)
    for w in range(WARMUP_TICKS):
        c.tick(-1 - w, timed=False)
        c.read(-1 - w, timed=False)

    t_meas = time.time()
    end = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_TICKS or time.perf_counter() < end:
        if i % DELETE_EVERY == DELETE_EVERY - 1:
            run.op(c.delete, i)  # the tick that follows folds it in
        run.op(c.tick, i)
        for _ in range(READS_PER_TICK):
            run.op(c.read, i)
        i += 1
    t_end = time.time()

    ms = {k: [1000 * v for v in vs] for k, vs in c.lat.items()}
    tick_tail, label, n = tail(ms["tick"])
    read_tail, read_label, n_read = tail(ms["read"])
    run.e2e.update(
        op_p50_ms=median(ms["read"]), op_tail_ms=read_tail, op2_p50_ms=median(ms["tick"]),
        throughput_per_s=BATCH_TRADES * len(ms["tick"]) / (sum(ms["tick"]) / 1000.0),
    )
    run.context.update(
        cagg_tick_p50_ms=median(ms["tick"]), cagg_tick_tail_ms=tick_tail,
        cagg_tick_tail=f"{label} of n={n}", cagg_read_p50_ms=median(ms["read"]),
        cagg_read_tail_ms=read_tail, cagg_read_tail=f"{read_label} of n={n_read}",
        ticks=len(ms["tick"]), deletes=len(ms["delete"]),
        tick_ms=ms["tick"], refresh_ms=ms["refresh"], read_ms=ms["read"],
    )

    for j, (ws, rows, name) in enumerate(c.reads):
        run.check(f"cagg.read_{j}", lambda rows=rows, name=name: oracle.diff(
            c.con, oracle.rows_relation(c.con, "got_read", rows), name) == 0)
    final = [r.asDict() for r in c.ca.read().collect()]
    run.check("cagg.final_store", lambda: oracle.diff(
        c.con, oracle.rows_relation(c.con, "got_final", final), _aggregate()) == 0)

    if run.tr.enabled:
        L = run.layer
        L["versioned.commit_ms_p50"] = median(ms["commit"])
        L["versioned.delete_ms_p50"] = median(ms["delete"])
        base, agg = V.detail(c.base), V.detail(c.agg)
        L["versioned.checkpoints"] = len(base["checkpoints"]) + len(agg["checkpoints"])
        L["versioned.live_files_end"] = base["n_files"]
        L["cagg.refresh_ms_p50"] = median(ms["refresh"])
        L["cagg.buckets_dirty"] = median([r.get("buckets_dirty", 0) for r in c.reports])
        L["cagg.files_read_share"] = median(
            [r["base_files_read"] / r["base_files_total"] for r in c.reports
             if r.get("base_files_total")])
        for p in ("build", "plan", "exec"):
            L[f"cagg.read_realtime.{p}_ms"] = median([1000 * x[p] for x in c.read_layer])
        finish_trace(run, t_meas, t_end)
    c.con.close()

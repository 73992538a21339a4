"""``stream_ingest``: the streaming pipeline under an open-loop file feed.

``streaming.pipeline.run_streaming_feature_pipeline`` runs its four
queries (raw keyed upsert, ohlc_1m, vwap_5m, dlq) with a short
processing-time trigger over a topic directory. A writer thread,
separate from the engine, publishes pre-rendered JSON-lines files
atomically on a fixed schedule that does not slow when the engine slows,
and records how late it ran.

Phase A runs at a nominal rate below what the pipeline sustains; phase
B runs above it. A seeded share of events is out of order within the
1-minute watermark, a share falls in windows that closed before timing
starts (dropped by the window queries, kept by the raw upsert), a share is re-sent duplicates,
and a share is malformed (DLQ). A warm-up file is drained before timing
starts, so every later batch's watermark already excludes the late
events; a final flush file far in event time makes every earlier window
final before the checks.

End-to-end: op_p50_ms / op_tail_ms = phase-A latency from a file's
scheduled write time until the micro-batch that commits it completes,
for the slowest of the four queries; op2_p50_ms = the same latency for
the window queries alone (ohlc_1m and vwap_5m: feature freshness);
throughput_per_s = phase-B
trades committed per second (phase-B trades / time from phase-B start
until the slowest query committed the last phase-B file);
setup_s = session start + query start + warm-up file drained.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import sys
import threading
import time

import numpy as np

import gen
import oracle
from spans import finish_trace, median, tail

N_SYMBOLS = 50
ZIPF = 1.1
TRIGGER = "500 milliseconds"
A_FILES_PER_S, A_TRADES_PER_FILE = 4.0, 500
B_FILES_PER_S, B_TRADES_PER_FILE = 4.0, 1500
EVENT_S_PER_FILE = 10  # event time one file spans
OOO_SHARE, OOO_MAX_S = 0.10, 30  # out of order, inside the watermark
LATE_SHARE = 0.02  # older than the watermark
DUP_SHARE = 0.02  # re-sent trades (same key)
BAD_SHARE = 0.01  # malformed lines
WARMUP_TRADES = 500
DRAIN_TIMEOUT_S = 60

PARAMS = {"symbols": N_SYMBOLS, "zipf": ZIPF, "trigger": TRIGGER,
          "phase_a": {"files_per_s": A_FILES_PER_S, "trades_per_file": A_TRADES_PER_FILE},
          "phase_b": {"files_per_s": B_FILES_PER_S, "trades_per_file": B_TRADES_PER_FILE},
          "event_s_per_file": EVENT_S_PER_FILE, "out_of_order_share": OOO_SHARE,
          "late_share": LATE_SHARE, "duplicate_share": DUP_SHARE,
          "malformed_share": BAD_SHARE, "watermark": "1 minute"}

QUERIES = ("raw", "ohlc", "vwap", "dlq")
PHASE_KEYS = {"trigger": "triggerExecution", "add_batch": "addBatch",
              "query_planning": "queryPlanning", "get_batch": "getBatch",
              "latest_offset": "latestOffset", "wal_commit": "walCommit"}
T0_US = gen.EPOCH_2024_US


class Feed:
    """Pre-rendered topic files plus the records the checks need."""

    def __init__(self, rng, names):
        self.rng, self.names = rng, names
        self.files: list[dict] = []  # name, lines, phase, trades
        self.valid: list[dict] = []  # every valid record published
        self.on_time: list[dict] = []  # valid records the windows must see
        self.n_bad = 0
        self.next_id = 0

    def add(self, phase: str, n: int, start_us: int, kind: str = "normal") -> None:
        rng = self.rng
        t = gen.trades(rng, n, N_SYMBOLS, ZIPF, start_us=start_us,
                       span_s=EVENT_S_PER_FILE, first_id=self.next_id)
        self.next_id += n
        late = np.zeros(n, bool)
        if kind == "normal":
            ooo = rng.random(n) < OOO_SHARE
            t["ts_us"][ooo] -= rng.integers(0, OOO_MAX_S * 1_000_000, size=int(ooo.sum()))
            late = rng.random(n) < LATE_SHARE
            # in windows (1 and 5 min) that end before the watermark the
            # warm-up file sets (T0 - 50 s), so every window query drops them
            t["ts_us"][late] = T0_US - rng.integers(360, 1200, size=int(late.sum())) * 1_000_000
        recs = [gen.trade_record(t, i, self.names) for i in range(n)]
        lines = [json.dumps(r) for r in recs]
        for i, r in enumerate(recs):
            self.valid.append(r)
            if not late[i]:
                self.on_time.append(r)
        if kind == "normal":
            # re-sends of this file's own on-time trades, so the copy
            # meets the same watermark as the original
            pool = np.flatnonzero(~late)
            for j in rng.choice(pool, size=int(n * DUP_SHARE), replace=False):
                lines.append(lines[j])
                self.valid.append(recs[j])
                self.on_time.append(recs[j])
            bad = int(n * BAD_SHARE)
            lines += [gen.malformed_line(rng, i) for i in range(bad)]
            self.n_bad += bad
            order = rng.permutation(len(lines))
            lines = [lines[i] for i in order]
        self.files.append({"name": f"f{len(self.files):05d}.json", "lines": lines,
                           "phase": phase, "trades": n})


class Writer(threading.Thread):
    """Publishes files at fixed times, independent of the engine."""

    def __init__(self, topic: str, files: list[dict], start: float, period: float):
        super().__init__(daemon=True)
        self.topic, self.files, self.start_t, self.period = topic, files, start, period
        self.late_ms: list[float] = []

    def run(self) -> None:
        for i, f in enumerate(self.files):
            due = self.start_t + i * self.period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            gen.publish(self.topic, f["name"], f["lines"])
            f["scheduled"] = due
            f["published"] = time.time()
            self.late_ms.append(1000 * max(0.0, f["published"] - due))


def _progress(queries: dict) -> dict[str, list[dict]]:
    return {n: [json.loads(p.json) for p in q.recentProgress] for n, q in queries.items()}


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> file-source log batch id, from the query's checkpoint
    (``sources/0/<n>`` and compacted ``<n>.compact`` files)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(progress: list[dict]) -> dict[int, tuple[float, float]]:
    """File-source log offset -> (batch end time, batch duration s)."""
    out = {}
    for p in progress:
        src = p["sources"][0]
        if src.get("startOffset") == src.get("endOffset") or not src.get("endOffset"):
            continue
        k = json.loads(src["endOffset"])["logOffset"] if isinstance(src["endOffset"], str) \
            else src["endOffset"]["logOffset"]
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        out.setdefault(int(k), (_epoch(p["timestamp"]) + dur, dur))
    return out


class Listener:
    """Traced runs: progress reports as spans (trigger and its phases)."""

    def __init__(self, tr):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = tr
        names: dict[str, str] = {}
        self.names = names

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer.instrumentation():
                    self._record(json.loads(event.progress.json))

            def _record(self, p):
                q = names.get(p["id"], "other")
                d = p["durationMs"]
                start = _epoch(p["timestamp"])
                root = tracer.add_span(f"streaming.{q}.trigger", start,
                                       start + d.get("triggerExecution", 0) / 1000.0,
                                       req=p["batchId"])
                t = start
                for key in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                            "addBatch", "commitOffsets"):
                    if d.get(key):
                        tracer.add_span(f"streaming.{q}.{key}", t, t + d[key] / 1000.0,
                                        parent=root["id"], req=p["batchId"])
                        t += d[key] / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def _wait(cond, timeout: float, poll: float = 0.1) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(poll)
    return cond()


def stream_ingest(run) -> None:
    from open_source_financial_time_series_data_pipeline_architecture_spark.streaming.pipeline import (
        run_streaming_feature_pipeline,
    )

    run.context["params"] = PARAMS
    t_gen = time.perf_counter()
    names = gen.symbol_names(N_SYMBOLS)
    feed = Feed(run.rng, names)
    feed.add("warmup", WARMUP_TRADES, T0_US, kind="clean")
    n_a = max(1, int(run.seconds * A_FILES_PER_S))
    n_b = max(1, int(run.seconds / 2 * B_FILES_PER_S))
    for i in range(n_a):
        feed.add("A", A_TRADES_PER_FILE, T0_US + (1 + i) * EVENT_S_PER_FILE * 1_000_000)
    for i in range(n_b):
        feed.add("B", B_TRADES_PER_FILE, T0_US + (1 + n_a + i) * EVENT_S_PER_FILE * 1_000_000)
    flush_us = T0_US + (3 + n_a + n_b) * EVENT_S_PER_FILE * 1_000_000 + 600_000_000
    feed.add("flush", 1, flush_us, kind="clean")
    feed.on_time.pop()  # the flush trade's window never becomes final
    run.context["gen_s"] = time.perf_counter() - t_gen

    start_s = run.start_session()
    spark = run.spark
    topic, out = run.path("topic"), run.path("out")
    os.makedirs(topic)
    listener = None
    t0 = time.perf_counter()
    qs = run_streaming_feature_pipeline(spark, topic, out, trigger_available_now=False,
                                        processing_time=TRIGGER)
    queries = dict(zip(QUERIES, qs))
    if run.tr.enabled:
        listener = Listener(run.tr)
        listener.names.update({str(q.id): n for n, q in queries.items()})
        spark.streams.addListener(listener.listener)
    files = feed.files
    gen.publish(topic, files[0]["name"], files[0]["lines"])
    warm_ok = _wait(lambda: all(
        any(p["numInputRows"] > 0 for p in ps) for ps in _progress(queries).values()), 120)
    run.e2e["setup_s"] = start_s + time.perf_counter() - t0
    if not warm_ok:
        raise RuntimeError("warm-up file was not processed")

    # phase A then phase B, on one fixed schedule
    t_a = time.time() + 0.5
    wa = Writer(topic, files[1:1 + n_a], t_a, 1.0 / A_FILES_PER_S)
    t_b = t_a + n_a / A_FILES_PER_S
    wb = Writer(topic, files[1 + n_a:1 + n_a + n_b], t_b, 1.0 / B_FILES_PER_S)
    t_meas = time.time()
    wa.start()
    wb.start()
    wa.join()
    wb.join()
    t_b_end = time.time()
    gen.publish(topic, files[-1]["name"], files[-1]["lines"])
    wm_target = flush_us / 1e6 - 60

    def drained() -> bool:
        """Every file committed by every query, and the window queries
        ran the batch that applied the flush file's watermark."""
        prog = _progress(queries)
        for n in QUERIES:
            if any(c is None for c in _commits(out, n, prog[n], files).values()):
                return False
        for q in ("ohlc", "vwap"):
            wms = [p["eventTime"].get("watermark") for p in prog[q] if p.get("eventTime")]
            if not any(w and _epoch(w) >= wm_target for w in wms):
                return False
        return True

    drained_ok = _wait(drained, DRAIN_TIMEOUT_S, poll=0.25)
    t_end = time.time()
    prog = _progress(queries)
    for q in qs:
        q.stop()
    if listener is not None:
        spark.streams.removeListener(listener.listener)
    if not drained_ok:
        run.failed += 1
        print("stream did not drain", file=sys.stderr)

    commit = {n: _commits(out, n, prog[n], files) for n in QUERIES}
    lat_a, lat_feat, dur_a = [], [], {n: [] for n in QUERIES}
    last_b = 0.0
    for f in files[1:-1]:
        ends = [commit[n][f["name"]] for n in QUERIES]
        run.attempted += 1
        if any(e is None for e in ends):
            run.failed += 1
            continue
        slowest = max(e[0] for e in ends)
        if f["phase"] == "A":
            lat_a.append(1000 * (slowest - f["scheduled"]))
            feat = max(e[0] for n, e in zip(QUERIES, ends) if n in ("ohlc", "vwap"))
            lat_feat.append(1000 * (feat - f["scheduled"]))
            for n, e in zip(QUERIES, ends):
                dur_a[n].append(1000 * e[1])
        else:
            last_b = max(last_b, slowest)
    backlog_at_b_end = sum(
        1 for f in files[1 + n_a:-1]
        if max((commit[n][f["name"]] or (float("inf"),))[0] for n in QUERIES) > t_b_end)
    slow_q = max(QUERIES, key=lambda n: median(dur_a[n]))
    lat_tail, label, n_lat = tail(lat_a)
    b_trades = sum(f["trades"] for f in files[1 + n_a:-1])
    run.e2e.update(
        op_p50_ms=median(lat_a), op_tail_ms=lat_tail, op2_p50_ms=median(lat_feat),
        throughput_per_s=b_trades / (last_b - t_b) if last_b > t_b else 0.0,
    )
    gen_late = wa.late_ms + wb.late_ms
    run.context.update(
        stream_latency_p50_ms=median(lat_a), stream_latency_tail_ms=lat_tail,
        stream_latency_tail=f"{label} of n={n_lat} files",
        feature_latency_p50_ms=median(lat_feat),
        stream_overload_trades_per_s=run.e2e["throughput_per_s"],
        slowest_query=slow_q, batch_ms_p50={n: median(v) for n, v in dur_a.items()},
        phase_a_latency_ms=lat_a,
        gen_late_ms_max=max(gen_late), backlog_files_at_b_end=backlog_at_b_end,
        drained=drained_ok,
    )
    _check(run, feed, out)

    if run.tr.enabled:
        _layers(run, prog, gen_late, backlog_at_b_end, out)
        finish_trace(run, t_meas, t_end)


def _layers(run, prog: dict, gen_late: list[float], backlog: int, out: str) -> None:
    L = run.layer
    for n in QUERIES:
        ps = [p for p in prog[n] if p["numInputRows"] > 0]
        L[f"stream.{n}.batches"] = len(ps)
        L[f"stream.{n}.input_rows"] = sum(p["numInputRows"] for p in ps)
        for k, key in PHASE_KEYS.items():
            L[f"stream.{n}.{k}_ms_p50"] = median([p["durationMs"].get(key, 0) for p in ps])
        so = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
        L[f"stream.{n}.state_rows"] = so[-1]["numRowsTotal"] if so else 0
        L[f"stream.{n}.state_memory_bytes"] = so[-1]["memoryUsedBytes"] if so else 0
    L["stream.gen_late_ms_max"] = max(gen_late)
    L["stream.backlog_files_end"] = backlog
    L["sinks.upsert_written_share"] = run.context.get("raw_rows", 0) / max(
        L["stream.raw.input_rows"], 1)
    L["sinks.raw_files_end"] = len(glob.glob(f"{out}/raw_trades/**/*.parquet", recursive=True))


def _commits(out: str, query: str, progress: list[dict], files: list[dict]) -> dict:
    """File name -> (end time, duration s) of the batch of ``query`` that
    committed it, or None while it is uncommitted."""
    fb = _file_batches(os.path.join(out, "_ckpt", query))
    ct = _commit_times(progress)
    return {f["name"]: ct.get(fb[f["name"]]) if f["name"] in fb else None for f in files}


def _check(run, feed: Feed, out: str) -> None:
    import pandas as pd

    con = oracle.connect()
    try:
        def records(name: str, recs: list[dict]) -> str:
            df = pd.DataFrame(recs)
            con.register(name + "_raw", df)
            con.execute(f"""CREATE OR REPLACE TEMP TABLE {name} AS SELECT
                CAST(make_timestamp(CAST("time" AS BIGINT) * 1000) AS TIMESTAMP) AS time,
                symbol, CAST(price AS DOUBLE) AS price, CAST(volume AS DOUBLE) AS volume,
                trade_id, side, CAST(bid AS DOUBLE) AS bid, CAST(ask AS DOUBLE) AS ask,
                source FROM {name}_raw""")
            return name

        valid = records("valid", feed.valid)
        on_time = records("on_time", feed.on_time)
        raw = oracle.parquet(f"{out}/raw_trades")
        run.context["raw_rows"] = con.execute(f"SELECT count(*) FROM {raw}").fetchone()[0]
        run.check("stream.raw_exactly_once", lambda: oracle.diff(
            con, raw, f"(SELECT DISTINCT * FROM {valid})") == 0)
        run.check("stream.dlq_count", lambda: con.execute(
            f"SELECT count(*) FROM {oracle.parquet(out + '/dlq')}").fetchone()[0] == feed.n_bad)
        ohlc = f"""(SELECT to_timestamp(CAST(floor(epoch(time) / 60) * 60 AS BIGINT))::TIMESTAMP
            AS bucket, symbol, first(price ORDER BY time, trade_id) AS open, max(price) AS high,
            min(price) AS low, last(price ORDER BY time, trade_id) AS close,
            sum(volume) AS volume, count(*) AS trade_count FROM {on_time} GROUP BY 1, 2)"""
        run.check("stream.ohlc_windows", lambda: oracle.diff(
            con, oracle.parquet(f"{out}/ohlc_1m"), ohlc) == 0)
        vwap = f"""(SELECT to_timestamp(CAST(floor(epoch(time) / 300) * 300 AS BIGINT))::TIMESTAMP
            AS bucket, symbol, sum(price * volume) / nullif(sum(volume), 0.0) AS vwap,
            sum(volume) AS total_volume FROM {on_time} GROUP BY 1, 2)"""
        run.check("stream.vwap_windows", lambda: oracle.diff(
            con, oracle.parquet(f"{out}/vwap_5m"), vwap) == 0)
    finally:
        con.close()

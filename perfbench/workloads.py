"""The workloads and the per-layer metric catalogue.

Each workload is a function ``(run) -> None`` that starts the session,
measures, checks, and fills ``run.e2e`` (end-to-end metrics),
``run.layer`` (per-layer metrics, read only by traced runs) and
``run.context`` (ungated facts). Layers carry the engine's module names.
"""

from __future__ import annotations

from oracle import FEATURE_ORACLES
from wl_backfill import backfill_serve  # noqa: F401
from wl_cagg import cagg_maintain  # noqa: F401
from wl_stream import PHASE_KEYS, QUERIES, stream_ingest  # noqa: F401


def _catalogue() -> dict[str, str]:
    u: dict[str, str] = {
        # session
        "session.start_s": "s",
        "session.first_action_s": "s",
        "jvm.gc_s": "s",
        "jvm.heap_peak_mb": "MB",
        # sources.tables + schema
        "load.trades_build_s": "s",
        "load.scan_rows": "count",
        # functions
        "features.build_s": "s",
        "features.plan_s": "s",
        "features.exec_s": "s",
    }
    u.update({f"features.{f}.exec_s": "s" for f in FEATURE_ORACLES})
    u.update({
        "features.scan_rows": "count",
        "features.shuffle_bytes": "bytes",
        "features.shuffle_records": "count",
        "features.spill_bytes": "bytes",
        "features.exchanges": "count",
        "backfill.local1_trades_per_s": "1/s",
        "backfill.parallel_efficiency": "share",
    })
    # operators.asof
    for op in ("pit_snapshot", "historical"):
        u.update({f"asof.{op}.{p}_ms": "ms" for p in ("build", "plan", "exec")})
    u["asof.historical.shuffle_bytes"] = "bytes"
    # serving
    u["serving.materialize_s"] = "s"
    u.update({f"serving.get.{p}_ms": "ms" for p in ("build", "plan", "exec")})
    u["serving.refresh_ms"] = "ms"
    u["serving.get.repeat_key_share"] = "share"
    # streaming
    for q in QUERIES:
        u[f"stream.{q}.batches"] = "count"
        u[f"stream.{q}.input_rows"] = "count"
        u.update({f"stream.{q}.{p}_ms_p50": "ms" for p in PHASE_KEYS})
        u[f"stream.{q}.state_rows"] = "count"
        u[f"stream.{q}.state_memory_bytes"] = "bytes"
    u["stream.gen_late_ms_max"] = "ms"
    u["stream.backlog_files_end"] = "count"
    # sources.sinks
    u["sinks.upsert_written_share"] = "share"
    u["sinks.raw_files_end"] = "count"
    # sources.versioned
    u["versioned.commit_ms_p50"] = "ms"
    u["versioned.delete_ms_p50"] = "ms"
    u["versioned.checkpoints"] = "count"
    u["versioned.live_files_end"] = "count"
    # sources.cagg
    u["cagg.refresh_ms_p50"] = "ms"
    u["cagg.buckets_dirty"] = "count"
    u["cagg.files_read_share"] = "share"
    u.update({f"cagg.read_realtime.{p}_ms": "ms" for p in ("build", "plan", "exec")})
    # the trace itself
    u["trace.coverage_share"] = "share"
    u["trace.overhead_ms"] = "ms"
    u["trace.overhead_share"] = "share"
    return u


LAYER_UNITS = _catalogue()

"""Traced replays: the benchmark calls each layer's public functions
itself, with the options and filters of the op it just ran, and
records spans and counts around those calls.  Replays run after the
op's timed section, so they never add to an op's wall time.

LAYER_MAP records which end-to-end metric each layer's metrics should
move, and on which workload; every trace file carries a copy.
"""

from __future__ import annotations

import os
import shutil
import time

LAYER_MAP = {
    "sources.bi5_datasource": {
        "metrics": [
            "bi5_datasource.plan_ms", "bi5_datasource.files_listed",
            "bi5_datasource.partitions", "bi5_datasource.prune_ratio",
        ],
        "moves": {"tick_live": "query_p50_ms"},
    },
    "sources.bi5_datasource.read": {
        "metrics": ["bi5_datasource.read_ms", "spark.scan_tasks", "spark.task_overhead_ms"],
        "moves": {"tick_live": "query_p50_ms"},
    },
    "sources.bi5_codec": {
        "metrics": [
            "bi5_codec.list_ms", "bi5_codec.decode_ms", "bi5_codec.arrow_ms",
            "bi5_codec.bytes_in", "bi5_codec.ticks_out", "bi5_codec.files_skipped",
        ],
        "moves": {"tick_live": "query_p50_ms", "catalog_mix": "nothing"},
    },
    "sources.bi5_writer": {
        "metrics": [
            "bi5_writer.encode_ms", "bi5_writer.tree_ms",
            "bi5_writer.files_written", "bi5_writer.bytes_written",
        ],
        "moves": {
            "tick_live": "ops_per_s; reported: write_p50_ms, ingest_rows_per_s, stored_bytes_per_raw_byte"
        },
    },
    "functions.ohlc": {
        "metrics": ["ohlc.bars_ms"],
        "moves": {"tick_live": "query_p50_ms"},
    },
    "plans": {
        "metrics": [
            "plans.build_ms", "plans.analysis_ms", "plans.optimization_ms",
            "plans.planning_ms", "plans.<query>.exec_ms", "spark.jobs",
            "spark.stages", "spark.tasks", "spark.failed_tasks",
        ],
        "moves": {"catalog_mix": "query_p50_ms, ops_per_s", "tick_live": "nothing"},
    },
    "session": {
        "metrics": ["session.build_ms", "session.register_ms"],
        "moves": {"tick_live": "setup_s", "catalog_mix": "setup_s"},
    },
}

# Layers whose self time the traced run reports as <layer>.self_ms.
SELF_TIME_LAYERS = ("op", "spark", "plans", "bi5_datasource", "bi5_codec", "bi5_writer", "ohlc")


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def replay_bi5_scan(tracer, op: int, options: dict, filters: list) -> None:
    """Plan and read one scan through ``Bi5Reader`` and the codec."""
    from spark_bi5_datasource_spark.sources.bi5_codec import (
        decode_bi5_file,
        iter_bi5_files,
        ticks_record_batch,
    )
    from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader

    count = tracer.count
    with tracer.span("bi5_datasource.replay", op):
        t0 = time.perf_counter()
        with tracer.span("bi5_datasource.plan", op):
            reader = Bi5Reader(dict(options))
            list(reader.pushFilters(filters))
            parts = reader.partitions()
        count(op, "bi5_datasource.plan_ms", _ms(t0))
        count(op, "bi5_datasource.partitions", len(parts))
        for part in parts:
            t0 = time.perf_counter()
            with tracer.span("bi5_datasource.read", op):
                for _batch in reader.read(part):
                    pass
            count(op, "bi5_datasource.read_ms", _ms(t0))
    with tracer.span("bi5_codec.replay", op):
        t0 = time.perf_counter()
        with tracer.span("bi5_codec.list", op):
            listed = list(iter_bi5_files(reader.path))
        count(op, "bi5_codec.list_ms", _ms(t0))
        count(op, "bi5_datasource.files_listed", len(listed))
        for part in parts:
            for path in part.files:
                count(op, "bi5_codec.bytes_in", os.path.getsize(path))
                t0 = time.perf_counter()
                with tracer.span("bi5_codec.decode", op):
                    cols = decode_bi5_file(path, reader.digits, reader.january)
                count(op, "bi5_codec.decode_ms", _ms(t0))
                if cols is None or len(cols["ts_us"]) == 0:
                    count(op, "bi5_codec.files_skipped", 1)
                    continue
                t0 = time.perf_counter()
                with tracer.span("bi5_codec.arrow", op):
                    ticks_record_batch(cols)
                count(op, "bi5_codec.arrow_ms", _ms(t0))
                count(op, "bi5_codec.ticks_out", len(cols["ts_us"]))


def replay_ohlc(tracer, op: int, cached_df, build) -> None:
    """Time ``build(cached_df)`` (a ``functions.ohlc`` call) to a
    collected result over ticks already cached in memory."""
    t0 = time.perf_counter()
    with tracer.span("ohlc.replay", op):
        with tracer.span("ohlc.bars", op):
            build(cached_df).collect()
    tracer.count(op, "ohlc.bars_ms", _ms(t0))


def replay_writer(tracer, op: int, table, scratch: str, digits: int) -> None:
    """Encode the append's Arrow batches with ``Bi5Writer.write`` in this
    process, into a scratch directory."""
    from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

    out = os.path.join(scratch, f"writer-replay-{op}")
    shutil.rmtree(out, ignore_errors=True)
    writer = Bi5Writer({"path": out, "digits": str(digits)})
    t0 = time.perf_counter()
    with tracer.span("bi5_writer.replay", op):
        with tracer.span("bi5_writer.encode", op):
            msg = writer.write(iter(table.to_batches()))
    tracer.count(op, "bi5_writer.encode_ms", _ms(t0))
    tracer.count(op, "bi5_writer.files_written", len(msg.files))
    tracer.count(
        op, "bi5_writer.bytes_written", sum(os.path.getsize(os.path.join(out, f)) for f in msg.files)
    )
    shutil.rmtree(out, ignore_errors=True)

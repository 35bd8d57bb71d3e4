"""The two closed-loop, single-client workloads.

Each workload prepares its inputs from the seed (cached, excluded from
set-up), warms up, and then hands the runner one *round* of ops at a
time: ten live ops, or one pass over the catalog roster.  The runner
issues at least one whole round and keeps going until the run's time
is up; ``MIX`` says how many ops of each type one round holds, so the
runner can weigh per-type medians into a round's throughput.

Every live op checks its output, and every catalog query is checked
once per run in the warm-up; a wrong result counts as a failed op.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

from . import check, gen, layers
from .session import job_stats, nproc, planning_phases

MINUTE_US = 60_000_000
WARM_ROUNDS = 1  # tick_live rounds run before the timed window

# The catalog_mix workload: seven entries of the catalog's 33-query
# benchmark roster, fixed here so that a program change cannot change
# the workload.  A cold first pass over the whole roster takes about a
# minute on 4 cores, too long for a run that must also warm up for
# three passes.  They are every fourth entry, less the second
# similarity and the second dedup query (sim_knn_graph and
# dedup_winnow_pairs, together a third of a pass), and still span
# similarity, aggregation, as-of join, dedup, TPC-H SQL, event windows
# and token statistics.
CATALOG_QUERIES = (
    "sim_gemm_topk", "b5_groupby_count", "join_asof_events_orders", "dedup_minhash",
    "sql_tpch_q8", "events_wau_sliding", "tok_ttr_by_source",
)
CATALOG_WARM_PASSES = 2  # noop passes after the checking pass
# A fixed copy of the deterministic sf0.01 tables (TPC-H-like star
# schema plus events, documents and embeddings; seed 42) that the
# repo's oracle tests read.
CATALOG_DATA = os.path.join("perfbench", "data", "sf0.01")


@dataclass
class OpResult:
    kind: str  # "query" or "write"
    name: str  # op type: a key of the workload's MIX
    wall_s: float
    ok: bool
    rows: int = 0  # ticks scanned (query) or ingested (write)
    bytes: int = 0  # bytes the program wrote


def _utc(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc)


class Workload:
    name = ""
    MIX: dict[str, int] = {}  # op type -> ops of that type in one round

    def __init__(self, checkout: str, seed: int, scratch: str, tracer) -> None:
        self.checkout = checkout
        self.seed = seed
        self.scratch = scratch
        self.tracer = tracer
        self.spark = None
        self.cores = nproc()

    def prepare(self) -> float:
        """Generate or load cached inputs; return seconds spent generating."""
        raise NotImplementedError

    def warm_up(self) -> list[OpResult]:
        raise NotImplementedError

    def reset(self) -> None:
        """Return to the state the timed window starts from."""

    def round(self, index: int) -> list:
        """Op callables of round ``index``; each takes an op id."""
        raise NotImplementedError

    # -- shared helpers -------------------------------------------------
    def guarded(self, kind: str, name: str, op_id: int, body) -> OpResult:
        """Run one op; an exception is a failed op, never a crash."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        t0 = time.perf_counter()
        try:
            return body(op_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return OpResult(kind, name, time.perf_counter() - t0, False)

    def read_ticks(self, path: str):
        return self.spark.read.format("bi5").option("digits", gen.DIGITS).load(path)

    def trace_query(self, op_id: int, result_df, wall_s: float) -> None:
        tr = self.tracer
        tr.count(op_id, "op.wall_ms", wall_s * 1000.0)
        for k, v in job_stats(self.spark.sparkContext, f"perfbench-{op_id}").items():
            tr.count(op_id, k, v)
        for k, v in planning_phases(result_df).items():
            tr.count(op_id, k, v)

    def trace_scan(self, op_id: int, path: str, filters: list, wall_s: float) -> None:
        layers.replay_bi5_scan(self.tracer, op_id, {"path": path, "digits": str(gen.DIGITS)}, filters)
        counts = self.tracer.counts[op_id]
        tasks = counts.get("spark.scan_tasks", 0.0)
        if tasks:
            overhead = (wall_s * 1000.0 * self.cores - counts.get("bi5_datasource.read_ms", 0.0)) / tasks
            self.tracer.count(op_id, "spark.task_overhead_ms", overhead)


class TickLive(Workload):
    """Point queries and hourly appends over a wide archive of small files."""

    name = "tick_live"
    spec = gen.TICK_LIVE
    # One append, then nine point queries: the append leads, so every
    # timed window holds at least one.
    MIX = {"append": 1, "point_query": 9}

    def prepare(self) -> float:
        self.base, _stats, gen_s = gen.tick_archive(self.checkout, self.seed, self.spec)
        self.work = os.path.join(self.scratch, "tick_live")
        return gen_s

    def reset(self) -> None:
        gen.reset_tree(self.base, self.work)
        self.n_hours = self.spec.hours
        self.rng = np.random.default_rng([self.seed, gen.GEN_VERSION, 1])

    def _records(self, ticker_idx: int, hour: int) -> np.ndarray:
        return gen.hour_records(self.seed, self.spec, ticker_idx, hour)

    def _query(self, op_id: int) -> OpResult:
        from pyspark.sql import functions as F
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

        from spark_bi5_datasource_spark.functions.ohlc import ohlc_bars

        spec, rng = self.spec, self.rng
        ti = int(rng.integers(0, spec.n_tickers))
        length = int(rng.integers(1, 4))
        offset = min(int(rng.zipf(1.5)) - 1, self.n_hours - 1)
        start = max(0, self.n_hours - length - offset)
        end = min(start + length, self.n_hours)
        ticker = spec.tickers[ti]
        lo, hi = _utc(spec.hour_us(start)), _utc(spec.hour_us(end))
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("op.point_query", op_id):
            with tr.span("bi5_datasource.load", op_id):
                df = self.read_ticks(self.work).where(
                    (F.col("ticker") == ticker) & (F.col("ts") >= lo) & (F.col("ts") < hi)
                )
            with tr.span("ohlc.build", op_id):
                q = ohlc_bars(df, "1 minute")
            with tr.span("spark.collect", op_id):
                rows = q.collect()
        wall = time.perf_counter() - t0
        parts = [gen.decode_columns(self._records(ti, h), spec.hour_us(h)) for h in range(start, end)]
        cols = check.concat_columns(parts)
        expected = {(ticker, s): row for s, row in check.bars(cols, MINUTE_US).items()}
        got = {(r[1], check.to_us(r[0])): tuple(r[2:]) for r in rows}
        ok = check.same_rows(expected, got)
        if tr.enabled:
            filters = [EqualTo(("ticker",), ticker), GreaterThanOrEqual(("ts",), lo), LessThan(("ts",), hi)]
            self.trace_query(op_id, q, wall)
            self.trace_scan(op_id, self.work, filters, wall)
            cached = df.cache()
            cached.count()
            layers.replay_ohlc(tr, op_id, cached, lambda d: ohlc_bars(d, "1 minute"))
            cached.unpersist()
        return OpResult("query", "point_query", wall, ok, rows=len(cols["ts_us"]))

    def _append_table(self, hour: int):
        import pyarrow as pa

        spec = self.spec
        recs = [self._records(ti, hour) for ti in range(spec.n_tickers)]
        cols = check.concat_columns([gen.decode_columns(r, spec.hour_us(hour)) for r in recs])
        tickers = np.repeat(np.array(spec.tickers, dtype=object), [len(r) for r in recs])
        table = pa.table(
            {
                "ticker": pa.array(tickers, pa.string()),
                "ts": pa.array(cols["ts_us"], pa.timestamp("us", tz="UTC")),
                "ask": cols["ask"],
                "bid": cols["bid"],
                "ask_volume": cols["ask_volume"],
                "bid_volume": cols["bid_volume"],
            }
        )
        return table, recs

    def _append(self, op_id: int) -> OpResult:
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree

        spec, hour = self.spec, self.n_hours
        table, recs = self._append_table(hour)
        sdf = self.spark.createDataFrame(table.to_pandas())
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("op.append", op_id):
            with tr.span("bi5_writer.tree", op_id):
                write_bi5_tree(sdf, self.work, gen.DIGITS)
        wall = time.perf_counter() - t0
        self.n_hours += 1
        # read the hour back: row count and integer checksums
        lo, hi = _utc(spec.hour_us(hour)), _utc(spec.hour_us(hour + 1))
        got = (
            self.read_ticks(self.work)
            .where((F.col("ts") >= lo) & (F.col("ts") < hi))
            .agg(
                F.count("*"),
                F.sum(F.unix_micros("ts") - spec.hour_us(hour)),
                F.sum(F.round(F.col("bid") * 10**gen.DIGITS).cast("long")),
                F.sum(F.round(F.col("ask") * 10**gen.DIGITS).cast("long")),
            )
            .first()
        )
        offsets = np.concatenate([r["ms"].astype(np.int64) * 1000 for r in recs])
        expected = (
            len(offsets),
            int(offsets.sum()),
            int(sum(r["bid"].astype(np.int64).sum() for r in recs)),
            int(sum(r["ask"].astype(np.int64).sum() for r in recs)),
        )
        ok = tuple(got) == expected
        written = sum(
            os.path.getsize(os.path.join(self.work, gen.bi5_relpath(t, spec.hour_us(hour))))
            for t in spec.tickers
        )
        if tr.enabled:
            tr.count(op_id, "op.wall_ms", wall * 1000.0)
            tr.count(op_id, "bi5_writer.tree_ms", wall * 1000.0)
            for k, v in job_stats(self.spark.sparkContext, f"perfbench-{op_id}").items():
                tr.count(op_id, k, v)
            layers.replay_writer(tr, op_id, table, self.scratch, gen.DIGITS)
        return OpResult("write", "append", wall, ok, rows=len(offsets), bytes=written)

    def warm_up(self) -> list[OpResult]:
        """WARM_ROUNDS rounds: the first op of a session is cold (about
        ten seconds), and point queries keep speeding up over the next
        eight or so."""
        self.reset()
        ops = [op for r in range(WARM_ROUNDS) for op in self.round(r)]
        return [op(-1 - i) for i, op in enumerate(ops)]

    def round(self, index: int) -> list:
        append = lambda i: self.guarded("write", "append", i, self._append)  # noqa: E731
        query = lambda i: self.guarded("query", "point_query", i, self._query)  # noqa: E731
        return [append] + [query] * self.MIX["point_query"]


class CatalogMix(Workload):
    """The catalog roster over the sf0.01 tables.

    The warm-up starts with one pass that collects every query's result
    and compares it, untimed, with the query's DuckDB oracle, so every
    query is checked once per run.  A round is one pass with each query
    written to a noop sink; the runner reports per-query medians, so a
    run that times some queries once and others twice still weighs
    every query alike.  The order is fixed: the first timed passes
    still run faster each time, and a seeded order would change which
    queries pay for that from run to run."""

    name = "catalog_mix"
    MIX = {q: 1 for q in CATALOG_QUERIES}

    def prepare(self) -> float:
        import duckdb

        from spark_bi5_datasource_spark import plans

        self.data = os.path.join(self.checkout, CATALOG_DATA)
        self.fns = plans.queries()
        sqls = plans.oracle_sql()
        missing = [q for q in CATALOG_QUERIES if q not in self.fns or q not in sqls]
        if missing:
            raise RuntimeError(f"catalog queries missing from the program: {missing}")
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data)):
                con.execute(f"CREATE VIEW {f.split('.')[0]} AS FROM '{os.path.join(self.data, f)}'")
            self.oracle = {}
            for q in CATALOG_QUERIES:
                res = con.sql(sqls[q])
                self.oracle[q] = (list(res.columns), check.rowset(res.fetchall()))
        finally:
            con.close()
        return 0.0

    def _op(self, name: str, collect: bool):
        fn = self.fns[name]

        def body(op_id: int) -> OpResult:
            tr = self.tracer
            t0 = time.perf_counter()
            with tr.span(f"op.{name}", op_id):
                with tr.span("plans.build", op_id):
                    df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                with tr.span("spark.execute", op_id):
                    if collect:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            wall = t2 - t0
            ok = True
            if collect:
                why = check.oracle_mismatch(df.columns, rows, *self.oracle[name])
                if why is not None:
                    print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
                    ok = False
            if tr.enabled:
                tr.count(op_id, "plans.build_ms", (t1 - t0) * 1000.0)
                tr.count(op_id, f"plans.{name}.exec_ms", (t2 - t1) * 1000.0)
                self.trace_query(op_id, df, wall)
            return OpResult("query", name, wall, ok)

        return lambda op_id: self.guarded("query", name, op_id, body)

    def warm_up(self) -> list[OpResult]:
        """The checking pass, then CATALOG_WARM_PASSES timed-kind
        passes: in some sessions the second and third passes still ran
        a third and a sixth slower than the ones after them."""
        ops = [self._op(name, collect=True) for name in CATALOG_QUERIES]
        ops += [op for r in range(CATALOG_WARM_PASSES) for op in self.round(r)]
        return [op(-1 - i) for i, op in enumerate(ops)]

    def round(self, index: int) -> list:
        return [self._op(name, collect=False) for name in CATALOG_QUERIES]


WORKLOADS = {w.name: w for w in (TickLive, CatalogMix)}

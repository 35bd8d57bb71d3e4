"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tick_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
(and cached under .bench_data/); the program under test is the
checkout's ``spark_bi5_datasource_spark`` package.  Every line but the
last is a human-readable report; the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are BENCHMARK.json's end_to_end list, measured untraced;
with ``--trace 1`` they are its per_layer list, from a traced run
whose spans are written to .bench_data/trace/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "spark_bi5_datasource_spark"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def type_medians(ops) -> dict[str, float]:
    """Median wall seconds of each op type."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(o.name, []).append(o.wall_s)
    return {name: statistics.median(ws) for name, ws in walls.items()}


def end_to_end(ops, mix: dict[str, int], setup_s: float, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """The gated metrics, meaningful on every workload.

    Both latency and throughput start from each op type's median, so a
    slow outlier or the queries a run happened to time twice move
    neither.  ``query_p50_ms`` is the geometric mean, over query types,
    of each type's median latency: on a one-type workload that is the
    plain p50; on a roster of queries of different cost it weighs every
    query alike, where a pooled p50 would report whichever query sits
    mid-rank.  ``ops_per_s`` is one round of ``mix`` issued at the
    per-type medians."""
    med = type_medians(ops)
    kinds = {o.name: o.kind for o in ops}
    queries = [med[n] * 1000.0 for n in med if kinds[n] == "query"]
    round_s = sum(count * med[name] for name, count in mix.items())
    return {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (statistics.geometric_mean(queries), "ms"),
        "ops_per_s": (sum(mix.values()) / round_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MiB"),
    }


def workload_report(ops, attempted: int, failed: int) -> dict[str, tuple[float, str]]:
    """The error rate, the 90th percentile and the metrics that apply to
    one workload only.  Printed in the report; not in the result line,
    which must carry the same metrics on every workload."""
    out = {"error_rate": (failed / attempted if attempted else 0.0, "ratio")}
    queries = [o for o in ops if o.kind == "query"]
    writes = [o for o in ops if o.kind == "write"]
    # a run has 9 to 15 queries, too few for a steady 90th percentile;
    # pooled over a catalog run's different queries
    out["query_p90_ms"] = (percentile([o.wall_s * 1000.0 for o in queries], 90), "ms")
    if queries and queries[0].rows:
        out["scan_rows_per_s"] = (sum(o.rows for o in queries) / sum(o.wall_s for o in queries), "1/s")
    if writes:
        out["write_p50_ms"] = (percentile([o.wall_s * 1000.0 for o in writes], 50), "ms")
        out["ingest_rows_per_s"] = (sum(o.rows for o in writes) / sum(o.wall_s for o in writes), "1/s")
        out["stored_bytes_per_raw_byte"] = (
            sum(o.bytes for o in writes) / (20.0 * sum(o.rows for o in writes)),
            "ratio",
        )
    return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# per_layer metrics read from the traced ops' counters: name -> unit.
# Each is the mean, over the traced ops that exercised the layer, of the
# op's total.
OP_COUNTERS = {
    "op.wall_ms": "ms",
    "bi5_datasource.plan_ms": "ms",
    "bi5_datasource.files_listed": "count",
    "bi5_datasource.partitions": "count",
    "bi5_datasource.read_ms": "ms",
    "spark.scan_tasks": "count",
    "spark.task_overhead_ms": "ms",
    "bi5_codec.list_ms": "ms",
    "bi5_codec.decode_ms": "ms",
    "bi5_codec.arrow_ms": "ms",
    "bi5_codec.bytes_in": "bytes",
    "bi5_codec.ticks_out": "count",
    "bi5_codec.files_skipped": "count",
    "bi5_writer.encode_ms": "ms",
    "bi5_writer.tree_ms": "ms",
    "bi5_writer.files_written": "count",
    "bi5_writer.bytes_written": "bytes",
    "ohlc.bars_ms": "ms",
    "plans.build_ms": "ms",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}


def per_layer(tracer, op_ids, session_ms: dict, overhead_pct: float) -> dict[str, tuple[float, str]]:
    from perfbench.layers import SELF_TIME_LAYERS
    from perfbench.trace import self_times
    from perfbench.workloads import CATALOG_QUERIES

    counts = [tracer.counts.get(i, {}) for i in op_ids]

    def mean_of(name: str) -> float:
        return _mean([c[name] for c in counts if name in c])

    out = {name: (mean_of(name), unit) for name, unit in OP_COUNTERS.items()}
    listed = sum(c.get("bi5_datasource.files_listed", 0.0) for c in counts)
    kept = sum(c.get("bi5_datasource.partitions", 0.0) for c in counts)
    out["bi5_datasource.prune_ratio"] = (kept / listed if listed else 0.0, "ratio")
    for q in CATALOG_QUERIES:
        out[f"plans.{q}.exec_ms"] = (mean_of(f"plans.{q}.exec_ms"), "ms")
    selfs = self_times([s for s in tracer.spans if s.op in set(op_ids)])
    for layer in SELF_TIME_LAYERS:
        per_op = [v * 1000.0 for (op, lay), v in selfs.items() if lay == layer]
        out[f"{layer}.self_ms"] = (_mean(per_op), "ms")
    out["session.build_ms"] = (session_ms["build"], "ms")
    out["session.register_ms"] = (session_ms["register"], "ms")
    out["trace.overhead_pct"] = (overhead_pct, "%")
    return out


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, names: list[str]) -> str:
    """The final JSON line, with exactly ``names`` as metrics."""
    missing = [n for n in names if n not in metrics]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names},
        }
    )


def run(args) -> int:
    from perfbench.layers import LAYER_MAP
    from perfbench.rss import PeakRss
    from perfbench.session import build_session, stop_session, wait_children
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    data = os.path.join(CHECKOUT, ".bench_data")
    scratch = os.path.join(data, "tmp", f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    tracer = Tracer(enabled=False)
    wl = WORKLOADS[args.workload](CHECKOUT, args.seed, scratch, tracer)

    t0 = time.perf_counter()
    gen_s = wl.prepare()
    prep_s = time.perf_counter() - t0

    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(scratch)
        t1 = time.perf_counter()
        from spark_bi5_datasource_spark import register

        register(spark)
        t2 = time.perf_counter()
        wl.spark = spark
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t0
        session_ms = {"build": (t1 - t0) * 1000.0, "register": (t2 - t1) * 1000.0}

        rss = PeakRss()
        if args.trace:
            # the same round twice, untraced then traced: the difference
            # in op wall time is the tracing overhead
            wl.reset()
            untraced = [op(i) for i, op in enumerate(wl.round(0))]
            warm += untraced
            wl.reset()
            tracer.enabled = True
            rss.start()
            ops = [op(i) for i, op in enumerate(wl.round(0))]
            peak = rss.stop()
            tracer.enabled = False
            base = sum(o.wall_s for o in untraced)
            overhead = 100.0 * (sum(o.wall_s for o in ops) / base - 1.0) if base else 0.0
        else:
            # at least one whole round, so every op type of the mix is
            # timed; then op by op until the time is up
            wl.reset()
            rounds = itertools.chain.from_iterable(wl.round(r) for r in itertools.count())
            ops = []
            rss.start()
            start = time.perf_counter()
            for op in rounds:
                ops.append(op(len(ops)))
                if len(ops) >= sum(wl.MIX.values()) and time.perf_counter() - start >= args.seconds:
                    break
            peak = rss.stop()
    finally:
        if spark is not None:
            stop_session(spark)
        wait_children()
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(warm) + len(ops)
    failed = sum(not o.ok for o in warm) + sum(not o.ok for o in ops)
    e2e = end_to_end(ops, wl.MIX, setup_s, peak)
    report = {**e2e, **workload_report(ops, attempted, failed)}
    report["gen_s"] = (gen_s, "s")
    report["prepare_s"] = (prep_s, "s")
    report["session_s"] = ((session_ms["build"] + session_ms["register"]) / 1000.0, "s")
    report["warm_up_s"] = (sum(o.wall_s for o in warm), "s")
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} queries={sum(o.kind == 'query' for o in ops)}")
    if args.trace:
        metrics = per_layer(tracer, list(range(len(ops))), session_ms, overhead)
        trace_dir = os.path.join(data, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(
            os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "layer_map": LAYER_MAP},
        )
        report["untraced_round_s"] = (base, "s")
    else:
        metrics = e2e
    for name, (value, unit) in {**report, **metrics}.items():
        print(f"  {name} = {value:.6g} {unit}")
    for label, group in (("warm_up_op_ms", warm), ("op_ms", ops)):
        print(f"  {label} = {' '.join(f'{o.wall_s * 1000.0:.0f}' for o in group)}")
    print(result_line(failed == 0, attempted, failed, metrics, names))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["tick_live", "catalog_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, PROGRAM)):
        print(f"perfbench: {PROGRAM}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"  # collected timestamps come back as naive UTC
    time.tzset()
    sys.path.insert(0, CHECKOUT)
    os.chdir(CHECKOUT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline catalog
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is measured with a noop sink (full pipeline runs, nothing
is collected to the driver) so timings reflect the distributed plan,
not result pickling.  A bi5-scan micro-benchmark against the
reference's fixture tree is included when that tree is present —
the only like-for-like number the reference offers (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REFERENCE_BI5 = "/root/reference/spark-2.4/src/test/resources/EURUSD"


def build_spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("spark-bi5-bench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the x10 tables are rewritten by DuckDB as micro-precision
        # naive timestamps; read them as TIMESTAMP (like the nano-
        # precision originals), not TIMESTAMP_NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # 16g on the 128 GiB bench box: the x1000 tier's 600M-row SMJ +
        # a 15M-row broadcast relation GC-thrashes (and intermittently
        # OOMs) an 8g heap; DuckDB gets the whole machine, so a quarter
        # of RAM for the JVM is still the conservative side of fair
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        # scan split cap: 512m lands the x1000 tier's ~20 GB fact scans
        # in one full wave of the 32 cores (measured: b5 3.29->2.35 s,
        # q1 4.33->3.80 s; 1g under-fills the wave, 256m pays a second
        # one).  Small tiers are unaffected — split planning's
        # bytes/minPartitionNum term dominates there, so sf0.1 tables
        # still fan out across all cores.
        .config("spark.sql.files.maxPartitionBytes", str(512 * 1024 * 1024))
        # open-cost floor: the 4 MiB default is an HDFS-era seek
        # penalty; on local NVMe it forces a 40 MB single-file scan
        # (x1000 documents, snappy text ~40:1) down to 10 splits,
        # leaving 22 of 32 cores idle under every text kernel.  1 MiB
        # lets bytes/minPartitionNum win there (the same scan plans 32
        # splits; measured: text_url_email_stats 2.57->1.25 s) while
        # keeping the sf0.1 roster's many ~4 MB files at a handful of
        # splits each — the first cut (64 KiB) shredded those into
        # 32 tiny tasks and cost the 33-query idle pin ~3 s of pure
        # scheduler overhead (17.3 vs 14.4 s).  At real cluster scale
        # files outnumber cores and this knob is moot.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # layout contract flag set at SESSION BUILD so every timed
        # entry sees the same planner config — previously an entry
        # (layout_cobucketed_docs_emb) flipped it mid-session, making
        # later bucketed-scan plan shapes depend on execution order
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # shuffle/broadcast/spill codec, parameterised for cluster use
        # (r14): on this no-network box zstd's CPU overhead shows no
        # win over lz4 (HISTORY.md "Shuffle codec" — q21 10.8-11.1 s lz4 vs
        # 14.7 s zstd; basket/winnow inside drift), so the local
        # default stays lz4; on a real cluster where the shuffle
        # crosses NICs, zstd's better ratio is the documented
        # production choice (guide §2.3) — set SPARK_GRAFT_IO_CODEC.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scan_sentinel(spark, data_dir: str, runs: int = 3) -> float:
    """Drift sentinel: a fixed NO-SHUFFLE parquet scan leg (2-column
    projection of lineitem, noop sink) timed with the same warm-up +
    min-of-N discipline as the real queries.  The box's storage-layer
    writeback makes identical legs drift 0.16→1.15 s within minutes
    (HISTORY.md "Scan-floor sentinel"); emitting this leg at the START
    and END of every bench window records the box state the window's
    timings were taken in, so a cross-round delta can be read as drift
    vs regression from the artifact alone instead of re-pinning by
    hand."""
    df = spark.read.parquet(
        os.path.join(data_dir, "lineitem.parquet")
    ).select("l_quantity", "l_extendedprice")
    return timed(df, runs=runs)


def duck_timed(con, sql: str, runs: int = 3) -> float:
    """One warm-up + min-of-N for a DuckDB query — the single copy of
    the timing discipline every probe's DuckDB leg must share with
    the Spark side (asymmetric sampling would bias every ratio)."""
    con.execute(sql).fetchall()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def duckdb_sentinel(con, runs: int = 3) -> float:
    """DuckDB twin of ``scan_sentinel`` (same two columns forced
    through a sum so the scan is real, not metadata-only) — both
    engines share the drifting storage layer, so ratio conclusions
    need the box state pinned on both sides."""
    return duck_timed(
        con,
        "SELECT sum(l_quantity), sum(l_extendedprice) FROM lineitem",
        runs,
    )


def timed(df, runs: int = 2) -> float:
    """One untimed warm-up execution, then min of N timed runs —
    steady-state plan time, not first-touch costs (codegen/JIT,
    python-worker spawn, parquet footer cache, page-cache fill).
    Warm runs are what a resident cluster observes; without the
    warm-up, a sweep's first query absorbs all of them (measured:
    2-5x inflation on the first pass of the x10 sweep, r3)."""
    run_noop(df)
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        run_noop(df)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def synth_bi5_tree(root: str, n_files: int = 24, recs_per_file: int = 20_000) -> str:
    """Deterministic synthetic tick tree (~480k rows) for a scan
    throughput number at a meaningful size; cached across runs."""
    import lzma
    import struct

    done = os.path.join(root, ".complete")
    if os.path.exists(done):
        return root
    for h in range(n_files):
        d = os.path.join(root, "EURUSD", "2020", str(h % 12), str(h % 27 + 1))
        os.makedirs(d, exist_ok=True)
        recs = b"".join(
            struct.pack(
                ">3I2f",
                (i * 180_000) // recs_per_file * 20 + i % 20,
                112000 + (i * 7 + h) % 500,
                111990 + (i * 5 + h) % 500,
                float(i % 10) + 0.5,
                float(i % 7) + 0.25,
            )
            for i in range(recs_per_file)
        )
        with open(os.path.join(d, f"{h % 24:02d}h_ticks.bi5"), "wb") as f:
            f.write(lzma.compress(recs, format=lzma.FORMAT_ALONE))
    with open(done, "w") as f:
        f.write("ok")
    return root


# ---------------------------------------------------------------- scaled bench
#
# The per-query floor of a Spark job (~0.2-0.5 s of scheduling/codegen)
# dominates at sf0.1, where the DuckDB oracle finishes in tens of ms —
# a ratio that measures the constant, not the plans.  The scaled mode
# replicates the sf0.1 tables 10× with per-replica key strides
# (sf1-equivalent: 6 M lineitem rows) and times Spark vs DuckDB on the
# same files, which is the scale where plan quality starts to matter.

SCALE_X = 10
_GEN_VERSION = 2  # bump when the replication logic changes (invalidates the cache dir)
_STRIDE = 100_000_000  # > any key in the source tables; replica k adds k*stride

# key columns shifted per replica so intra-replica relationships are
# preserved (dims region/nation stay global, as in TPC-H)
_SHIFT_COLS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# the round-2 sweep (ratio 0.97 in round 2, HISTORY.md) — kept as a labeled
# subset so the headline ratio stays trend-comparable as the sweep grows
_CORE11 = [
    "b5_groupby_count", "q1_pricing_summary", "q3_top_revenue_orders",
    "q5_region_revenue", "join_asof_events_orders", "window_running_total",
    "events_daily_ohlc", "events_sessionize", "sim_cosine_topk",
    "sim_gemm_topk", "text_stats",
]

# headline queries with DuckDB oracles (timing-comparable); the
# no-oracle bench entries (dedup_minhash) stay sf0.1-only
_SCALED_QUERIES = [
    "b5_groupby_count",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "join_asof_events_orders",
    "window_running_total",
    "events_daily_ohlc",
    "events_sessionize",
    "sim_cosine_topk",
    "sim_gemm_topk",
    "text_stats",
    "events_concurrency",
    "tok_vocab_topk",
    "tok_vocab_sketch",
    "text_repetition_stats",
    "events_active_users",
    "sim_quantize_int8",
    # round-6 additions: governance + corpus-shape representatives
    "dq_expectations",
    "tok_zipf_profile",
    "events_wau_sliding",
]


def synth_scaled_dir(
    src_dir: str, x: int = SCALE_X, tables: list[str] | None = None
) -> str:
    """Replicate the parquet tables x× into a cached directory."""
    import duckdb

    out = f"/tmp/spark_bi5_bench_scaled_x{x}_v{_GEN_VERSION}_" + os.path.basename(
        src_dir.rstrip("/")
    )
    os.makedirs(out, exist_ok=True)
    con = None
    for table, keys in _SHIFT_COLS.items():
        if tables is not None and table not in tables:
            continue
        src = os.path.join(src_dir, f"{table}.parquet")
        dst = os.path.join(out, f"{table}.parquet")
        # per-table idempotence: a cached dir built for a narrower
        # table list grows the missing tables on the next call
        if os.path.exists(dst):
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"PRAGMA threads={CPUS}")
            # large COPYs otherwise buffer the ENTIRE result to keep
            # row order (observed: 76+ GB RSS writing 600M-row
            # lineitem at x1000); replica order is meaningless here
            con.execute("SET preserve_insertion_order = false")
        if not keys:
            sel = f"SELECT * FROM '{src}'"
        else:
            reps = ", ".join(f"{c} + k * {_STRIDE} AS {c}" for c in keys)
            sel = (
                f"SELECT t.* REPLACE ({reps}) FROM '{src}' t, range({x}) r(k)"
            )
        tmp = dst + ".tmp"
        con.execute(f"COPY ({sel}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, dst)
    if con is not None:
        con.close()
    return out


# floor-convergence probe: queries whose x10 ratio is dominated by the
# fixed per-job scheduler/codegen constant (~0.2-0.5 s).  At x100 (60 M
# lineitem) the constant is amortized and the ratio reflects the plans.
_X100_QUERIES = [
    "b5_groupby_count",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "events_daily_ohlc",
    "q5_region_revenue",
    "events_sessionize",
    "join_asof_events_orders",
    # TPC-H completion pack — the two hardest plan shapes, measured
    # where plans (not the per-job floor) dominate: the eight-table
    # join tree (q8, 3.6x: vectorization constants, plan audited
    # exchange-free+broadcast) and the double-correlated semi/anti
    # join (q21, ~2.0x on three bucketed lineitem passes)
    "sql_tpch_q8",
    "sql_tpch_q21",
]
_X100_TABLES = [
    "lineitem", "orders", "customer", "supplier", "nation", "region",
    "events", "part",
]


def run_scaled(spark, x: int = SCALE_X, queries=None, tables=None) -> dict:
    """Spark vs DuckDB on x×-replicated tables; returns the JSON
    sub-dict."""
    import duckdb

    from spark_bi5_datasource_spark import plans
    from spark_bi5_datasource_spark.plans.tables import ensure_bucketed_layout

    queries = queries or _SCALED_QUERIES
    scaled_dir = synth_scaled_dir(SF_DIR, x, tables)
    # Warehouse-shaped layout + sizing for the scaled tier: the fact
    # tables get the co-located bucketed layout (lineitem⋈orders joins
    # run exchange-free), and the broadcast threshold is sized for the
    # executor memory actually available (the 10 MB default is laptop
    # -era; customer at x10 is ~30 MB and belongs on the build side).
    # Same parquet rows; DuckDB reads the originals.
    ensure_bucketed_layout(spark, scaled_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    qs = {n: fn for n, (fn, _s, _b) in plans.CATALOG.items()}
    oracles = plans.oracle_sql()

    # sentinels need the lineitem scan leg; a partial-table invocation
    # (tables= without lineitem) skips them rather than crashing
    has_li = os.path.exists(os.path.join(scaled_dir, "lineitem.parquet"))
    sentinels: dict[str, float] = {}
    if has_li:
        sentinels["spark_start"] = scan_sentinel(spark, scaled_dir)
    spark_t: dict[str, float] = {}
    for name in queries:
        # min-of-3: the scaled runs are long enough that one GC pause
        # or page-cache miss shows up as 2-3x noise on a single run
        spark_t[name] = timed(qs[name](spark, scaled_dir), runs=3)
    if has_li:
        sentinels["spark_end"] = scan_sentinel(spark, scaled_dir)

    # join-heavy queries: also time the un-bucketed layout, so every
    # tier shows what the prescribed warehouse layout buys (the
    # bucketed numbers above are the contract; the plain twin is the
    # ad-hoc-landing-zone cost)
    plain_twin: dict[str, float] = {}
    if x >= 100:
        join_heavy = [
            q for q in (
                "q3_top_revenue_orders", "q5_region_revenue",
                "sql_tpch_q8", "sql_tpch_q21",
            ) if q in queries
        ]
        spark.conf.set("spark.bi5.bucketedDir", "")
        for name in join_heavy:
            plain_twin[name] = timed(qs[name](spark, scaled_dir), runs=3)
        spark.conf.set("spark.bi5.bucketedDir", scaled_dir)

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={CPUS}")
    # views for every table present on disk (a cached dir may hold
    # more than this invocation's `tables` subset; the lineitem view
    # in particular backs the DuckDB sentinel legs)
    for table in _SHIFT_COLS:
        if os.path.exists(os.path.join(scaled_dir, f"{table}.parquet")):
            con.execute(
                f"CREATE VIEW {table} AS FROM '{scaled_dir}/{table}.parquet'"
            )
    if has_li:
        sentinels["duckdb_start"] = duckdb_sentinel(con)
    duck_t: dict[str, float] = {}
    for name in queries:
        duck_t[name] = duck_timed(con, oracles[name])
    if has_li:
        sentinels["duckdb_end"] = duckdb_sentinel(con)
    con.close()

    s_total = round(sum(spark_t.values()), 3)
    d_total = round(sum(duck_t.values()), 3)
    out = {
        "x": x,
        "sentinel": sentinels,
        "spark": spark_t,
        "duckdb": duck_t,
        "per_query_ratio": {
            n: (round(spark_t[n] / duck_t[n], 2) if duck_t[n] else None)
            for n in queries
        },
        "spark_total": s_total,
        "duckdb_total": d_total,
        "ratio": round(s_total / d_total, 2) if d_total else None,
    }
    if plain_twin:
        out["spark_plain_layout"] = plain_twin
    # the sweep has grown since round 2 (11 -> 17 queries), so the
    # headline ratio is not comparable across rounds; report the
    # round-2 subset ratio too, clearly labeled, for trend reading
    core = [q for q in _CORE11 if q in spark_t]
    if len(core) == len(_CORE11):
        cs = sum(spark_t[q] for q in core)
        cd = sum(duck_t[q] for q in core)
        out["core11_ratio"] = round(cs / cd, 2) if cd else None
    return out


def main() -> None:
    from spark_bi5_datasource_spark import plans, register

    spark = build_spark()
    register(spark)

    # Warm the JVM/codegen/parquet-footer caches so the first timed
    # query doesn't absorb session startup costs.
    warm = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()

    sf_sentinels: dict[str, float] = {
        "spark_start": scan_sentinel(spark, SF_DIR)
    }
    timings: dict[str, float] = {}
    for name, fn in plans.bench_queries().items():
        timings[name] = timed(fn(spark, SF_DIR))
    sf_sentinels["spark_end"] = scan_sentinel(spark, SF_DIR)

    if os.path.isdir(REFERENCE_BI5):
        # like-for-like vs the reference's own fixture tree (BASELINE.md)
        df = spark.read.format("bi5").option("digits", 5).load(REFERENCE_BI5)
        # scans spawn a fresh python-worker cohort on first touch; use a
        # third run so min-of-N reflects the resident steady state
        timings["bi5_scan"] = timed(df, runs=3)

    # scan throughput at a non-trivial size (480k rows, 24 files)
    tree = synth_bi5_tree("/tmp/spark_bi5_bench_tree")
    big = spark.read.format("bi5").option("digits", 5).load(tree)
    timings["bi5_scan_480k"] = timed(big, runs=3)

    # write path: re-emit the 480k-row tree (one task per hour file)
    import shutil

    from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree

    wt_best = float("inf")
    for _ in range(2):
        wdir = "/tmp/spark_bi5_bench_wtree"
        shutil.rmtree(wdir, ignore_errors=True)
        t0 = time.perf_counter()
        write_bi5_tree(big, wdir, digits=5)
        wt_best = min(wt_best, time.perf_counter() - t0)
    timings["bi5_write_480k"] = round(wt_best, 3)
    shutil.rmtree("/tmp/spark_bi5_bench_wtree", ignore_errors=True)

    # Drift countermeasure (r9 finding, HISTORY.md "Box shuffle-I/O
    # drift"): identical plans degrade monotonically within one JVM —
    # blockmgr shuffle dirs accumulate ~1 GB/run and later legs pay
    # the dirty-page backlog — and a fresh JVM resets the clock.  Each
    # scaled tier therefore gets its own session (stop() removes the
    # old app's blockmgr/temp dirs), so the x10 and x100 numbers are
    # not handicapped by however much shuffle I/O the sf0.1 roster
    # happened to spill.  Costs two ~5 s restarts per bench run.
    spark.stop()
    spark = build_spark()
    scaled = run_scaled(spark)
    spark.stop()
    spark = build_spark()
    scaled_x100 = run_scaled(
        spark, x=100, queries=_X100_QUERIES, tables=_X100_TABLES
    )

    # the fixed per-job cost (scheduling + codegen + noop commit) that
    # every Spark timing above includes regardless of data size; the
    # scaled ratios converge toward compute-only once spark_t >> floor
    floor = float("inf")
    one = spark.range(1)
    for _ in range(5):
        t0 = time.perf_counter()
        run_noop(one)
        floor = min(floor, time.perf_counter() - t0)
    scaled_x100["spark_job_floor"] = round(floor, 3)

    # r14: sentinel-normalized seconds so the PERF
    # comparison can separate box drift from plan changes from the
    # artifact alone.  REF is the healthy-box sentinel median across
    # rounds (r12/r13 windows: 0.157/0.100/0.068/0.050 →
    # ~0.1 s); factor = this window's sentinel mean / REF, and
    # value_norm = value / factor.  Normalization assumes query time
    # scales with the storage layer the sentinel measures — exact for
    # scan-bound legs, indicative for compute-bound ones — so the raw
    # seconds stay the primary record and these fields are
    # ADDITIONS-ONLY (every pre-existing key is unchanged).
    _ref = 0.1
    _svals = [v for v in sf_sentinels.values() if isinstance(v, float)]
    _factor = round((sum(_svals) / len(_svals)) / _ref, 3) if _svals else 1.0
    queries_norm = {
        k: round(v / _factor, 3) for k, v in timings.items()
    } if _factor > 0 else {}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    detail = {
        "drift_protocol": (
            "fresh JVM per scaled tier (r9 shuffle-I/O drift finding); "
            "scan-floor sentinel legs bracket every window (r12) — read "
            "each query against its window's start/end sentinels before "
            "calling a cross-round delta a regression"
        ),
        "sentinel_sf": sf_sentinels,
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_norm": queries_norm,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "scaled_vs_duckdb": scaled,
        "scaled_x100_vs_duckdb": scaled_x100,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=2)

    # The driver captures only the LAST ~2000 chars of output and
    # parses the JSON line out of that window — the printed line must
    # stay comfortably under it.  Keep totals + ratios inline; the
    # per-engine per-query timings live in BENCH_DETAIL.json.
    out = dict(detail)
    # the full protocol prose lives in BENCH_DETAIL.json; the printed
    # line carries a pointer (the r12 sentinel fields pushed the line
    # to 1973 chars — one long float from the capture cliff)
    out["drift_protocol"] = "see BENCH_DETAIL.json (sentinel legs r12)"
    # per-query normalized seconds live in BENCH_DETAIL.json (the
    # printed line must stay under the driver's ~2000-char capture);
    # inline, the factor + normalized total suffice to recompute them
    out.pop("queries_norm", None)
    out["sentinel_norm"] = {
        "ref": _ref,
        "factor": _factor,
        "value_norm": round(detail["value"] / _factor, 3) if _factor else None,
    }
    out["scaled_vs_duckdb"] = {
        k: v for k, v in scaled.items() if k not in ("spark", "duckdb")
    }
    out["scaled_x100_vs_duckdb"] = {
        k: v for k, v in scaled_x100.items() if k not in ("spark", "duckdb")
    }
    line = json.dumps(out)
    if len(line) > 1800:  # trim rung 1: drop per-query ratios
        out["scaled_vs_duckdb"].pop("per_query_ratio", None)
        out["scaled_x100_vs_duckdb"].pop("per_query_ratio", None)
        line = json.dumps(out)
    if len(line) > 1800:  # rung 2: the scaled-tier sentinel legs
        # (duplicated in BENCH_DETAIL.json) go before anything else
        out["scaled_vs_duckdb"].pop("sentinel", None)
        out["scaled_x100_vs_duckdb"].pop("sentinel", None)
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

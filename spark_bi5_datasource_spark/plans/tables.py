"""Table loading for the driver's parquet fixtures (TESTDATA.md).

Also implements the optional BUCKETED layout for the big join tables:
at warehouse scale the lineitem⋈orders join is the classic shuffle
bottleneck, and the standard cure is co-located storage — both tables
hash-bucketed (and sorted) on the join key with the same bucket
count, so the sort-merge join runs with NO exchange and NO sort.
``ensure_bucketed_layout`` materializes that layout next to a fixture
directory (one-time, cached) and registers the bucketed tables;
``t()`` then resolves those tables transparently for any catalog
query.  Opt-in via the ``spark.bi5.bucketedDir`` session conf — the
driver's correctness runs keep reading plain parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# join keys for the co-located layout: the two structured fact tables
# meet on the order key, and the two unstructured-tier tables meet on
# the document id (doc_id = vec_id is the text↔embedding pipeline
# contract — every coverage/integrity/ANN-probe join in the catalog
# keys on it).  Everything else is dim-sized (broadcast) or unjoined.
# Spark's bucketed join only needs each side bucketed on ITS join key
# with the same bucket count, so doc_id⋈vec_id runs exchange-free
# exactly like l_orderkey⋈o_orderkey.
BUCKET_SPECS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_BUCKETS = 32


def _bucket_table_name(name: str, sf_dir: str) -> str:
    # table names are keyed by the source directory so two fixture
    # scales can carry bucketed layouts in the same session
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"bi5_bucketed_{tag}_{name}"


def is_bucketed(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when ``t(spark, sf_dir, name)`` resolves to the co-located
    bucketed layout (queries may then force the exchange-free merge
    join instead of leaving the choice to size estimates)."""
    return (
        name in BUCKET_SPECS
        and spark.conf.get("spark.bi5.bucketedDir", "") == sf_dir
        and spark.catalog.tableExists(_bucket_table_name(name, sf_dir))
    )


def ensure_bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    dest_dir: str | None = None,
    tables: list[str] | None = None,
) -> None:
    """Materialize + register the bucketed twin of ``sf_dir``'s big
    tables (one parquet file per bucket, sorted by the join key).

    Files are written once and cached (``_SUCCESS`` marker); later
    sessions only re-issue the CREATE TABLE DDL (the default catalog
    is in-memory).  Enables the sorted-scan flag so the per-bucket
    sort order survives into the plan (1 file/bucket makes it free)."""
    dest = dest_dir or os.path.join(sf_dir, "_bucketed")
    for name, key in BUCKET_SPECS.items():
        if tables is not None and name not in tables:
            continue
        tbl = _bucket_table_name(name, sf_dir)
        path = os.path.join(dest, name)
        if spark.catalog.tableExists(tbl):
            continue
        # partially-synthesized scaled dirs (a perf probe replicating
        # only the tables it measures) simply skip the absent ones
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            continue
        from ..sources.layout import register_bucketed, write_bucketed

        if os.path.exists(os.path.join(path, "_SUCCESS")):
            register_bucketed(spark, path, tbl, key, _BUCKETS)
        else:
            write_bucketed(
                spark.read.parquet(
                    os.path.join(sf_dir, f"{name}.parquet")
                ),
                path,
                tbl,
                key,
                _BUCKETS,
            )
    from ..sources.layout import enable_sorted_bucketed_scans

    enable_sorted_bucketed_scans(spark)
    spark.conf.set("spark.bi5.bucketedDir", sf_dir)


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet size of a fixture table — the cheap stand-in for
    optimizer row-count stats when a plan picks its join strategy by
    table size (file metadata only; no Spark job)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.  Plain parquet scan → Catalyst gets
    pushdown/pruning for free.

    events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default; read it as int64 nanos and floor to
    microseconds (identical to how DuckDB/Python surface ns values).
    """
    if is_bucketed(spark, sf_dir, name):
        return spark.table(_bucket_table_name(name, sf_dir))
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin fan-out gate for compute-heavy map stages over
    small scans.

    Parquet tasks can't split a row group, and single-file fixtures
    (DuckDB COPY writes 122880-row groups) arrive as 1-3 splits — so
    a per-row-expensive stage (Arrow kernel, per-pair dot products,
    tokenization) runs on 1-3 of the 32 cores no matter how the scan
    is configured.  When the input has fewer partitions than cores,
    shuffle it round-robin once (the inputs this guards are a few MB
    — the fan-out costs ~0.1 s and buys the other 30 cores); when the
    data already arrives in many files/row-groups — any real corpus
    at scale — the gate is a no-op and nothing is ever shuffled.

    Measured (x10, 32 cores): text_repetition_stats 1.81→0.52 s,
    and the same shape for the cosine/GEMM/vocab/quantize ops.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df

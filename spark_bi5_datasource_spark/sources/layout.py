"""Co-located storage layout: hash-bucketed tables that recurring
joins read with no exchange.

``write_bucketed`` writes a frame bucketed (and sorted) on its join key
and registers it, with a ``_bucket_spec.json`` sidecar that makes the
directory self-describing; ``register_bucketed`` re-registers such a
directory and rejects parameters that contradict the sidecar.
``validate_bucketed`` audits the hash→bucket invariant file by file,
``bucket_fragmentation`` reports how many files each bucket holds after
appends, and ``compact_buckets_selective`` rewrites the fragmented
buckets back to one file each (``min_files=1`` rewrites every bucket).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

_SPEC_FILE = "_bucket_spec.json"


def write_bucket_spec(
    path: str, key: str, buckets: int, sort: bool
) -> None:
    """Persist the bucketing parameters as a sidecar inside the table
    directory (next to ``_SUCCESS`` — non-Spark readers ignore both).
    The in-memory catalog forgets bucket DDL across sessions, and a
    ``register_bucketed`` with the WRONG key/buckets makes the planner
    trust wrong co-location (silently wrong joins elided of their
    exchange); the sidecar makes the directory self-describing so
    re-attachment never depends on the caller remembering."""
    spec = {"key": key, "buckets": int(buckets), "sort": bool(sort),
            "version": 1}
    tmp = os.path.join(path, _SPEC_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(spec, fh)
    os.replace(tmp, os.path.join(path, _SPEC_FILE))


def read_bucket_spec(path: str) -> dict | None:
    """Read the ``_bucket_spec.json`` sidecar; None if absent (pre-r12
    directories, or trees written by other tools)."""
    p = os.path.join(path, _SPEC_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` hash-bucketed (and by default sorted) on ``key``
    into ``path`` and register it as ``table`` — the co-located-join
    write path for ANY frame a pipeline materializes.

    Two frames written with the same ``buckets`` count, each on ITS
    join key, join with NO exchange and (when ``sort``) NO sort: the
    100-TB contract for recurring fact⋈fact and doc⋈embedding joins.
    The pre-write ``repartition`` on the key means each task holds
    exactly one bucket's rows — one file per bucket, which is what
    lets the scan expose the sort order (enable
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` on the
    reading session).  Returns ``table``."""
    from pyspark.sql import functions as F

    w = (
        df.repartition(buckets, F.col(key))
        .write.bucketBy(buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.option("path", path).mode(mode).saveAsTable(table)
    write_bucket_spec(path, key, buckets, sort)
    return table


def enable_sorted_bucketed_scans(spark) -> None:
    """Session-setup switch for the bucketed layout contract: lets a
    one-file-per-bucket scan report its per-bucket sort order so SMJ
    plans elide the Sort as well as the Exchange.  Idempotent and
    row-neutral (it only lets the planner TRUST an ordering the
    ``write_bucketed`` layout genuinely provides).  Call it once at
    session setup — NOT from inside individual timed operations — so
    plan shapes are uniform across a session rather than dependent on
    which entry ran first (the co-bucketed fixtures route through
    here)."""
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )


def register_bucketed(
    spark,
    path: str,
    table: str,
    key: str | None = None,
    buckets: int | None = None,
    sort: bool | None = None,
) -> str:
    """Re-attach an existing ``write_bucketed`` directory as
    ``table`` in a NEW session (the default catalog is in-memory, so
    bucketing metadata does not survive a restart) — DDL only, no
    data movement.

    Parameter consistency is ENFORCED, not trusted (r12): directories
    written by ``write_bucketed`` carry a ``_bucket_spec.json``
    sidecar; omitted parameters resolve from it, and explicit
    parameters that CONTRADICT it raise — a wrong key/bucket-count
    registration would make the planner elide exchanges that are
    actually needed (silently wrong joins).  Pre-sidecar directories
    still accept explicit parameters unchecked (the caller owns them,
    as before; ``validate_bucketed`` can audit the claim).  Returns
    ``table``."""
    spec = read_bucket_spec(path)
    if spec is not None:
        for name, given in (("key", key), ("buckets", buckets),
                            ("sort", sort)):
            if given is not None and given != spec[name]:
                raise ValueError(
                    f"register_bucketed: {name}={given!r} contradicts "
                    f"the directory's _bucket_spec.json ({name}="
                    f"{spec[name]!r} at {path}) — registering with "
                    "wrong bucketing corrupts co-located join plans"
                )
        key = spec["key"] if key is None else key
        buckets = spec["buckets"] if buckets is None else buckets
        sort = spec["sort"] if sort is None else sort
    else:
        if key is None or buckets is None:
            raise ValueError(
                "register_bucketed: no _bucket_spec.json at "
                f"{path} — key= and buckets= must be given explicitly"
            )
        sort = True if sort is None else sort
    sch = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sch.fields
    )
    sorted_by = f"SORTED BY ({key}) " if sort else ""
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key}) {sorted_by}"
        f"INTO {buckets} BUCKETS LOCATION '{path}'"
    )
    return table


def validate_bucketed(
    spark,
    path: str,
    key: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Audit a bucketed directory's layout INVARIANT: every row in
    bucket file ``b`` must satisfy ``pmod(murmur3(key), buckets) == b``
    (the contract the exchange-free join plans trust).  Returns one
    row per data file: ``file, bucket_id, n_rows, n_misplaced, ok`` —
    ``ok=false`` marks a file with misplaced rows OR a file whose name
    carries no bucket id at all (e.g. a plain parquet file appended by
    a non-bucketed writer, which silently breaks the whole mapping).

    Parameters default from the ``_bucket_spec.json`` sidecar.  One
    scan of the key column; Spark's bucket id is
    ``Pmod(Murmur3Hash(key), n)`` which is exactly ``F.pmod(F.hash(
    key), n)`` (verified empirically against the ``_NNNNN`` file-name
    suffix).  Run it after manual surgery on a table directory, or on
    a directory whose spec sidecar is missing and the registration
    parameters are folklore."""
    from pyspark.sql import functions as F

    spec = read_bucket_spec(path)
    if spec is not None:
        # mirror register_bucketed: an audit run with a key/buckets
        # claim that contradicts the directory's own sidecar would
        # silently audit the CALLER'S wrong parameters — flag it
        for name, given in (("key", key), ("buckets", buckets)):
            if given is not None and given != spec[name]:
                raise ValueError(
                    f"validate_bucketed: {name}={given!r} contradicts "
                    f"_bucket_spec.json ({name}={spec[name]!r} at "
                    f"{path}) — auditing against the wrong layout "
                    "claim proves nothing; pass no explicit params to "
                    "audit the sidecar's, or fix the sidecar first"
                )
        key = spec["key"] if key is None else key
        buckets = spec["buckets"] if buckets is None else buckets
    if key is None or buckets is None:
        raise ValueError(
            "validate_bucketed: no _bucket_spec.json at "
            f"{path} — pass key= and buckets= explicitly"
        )
    # an audit must see the CURRENT directory, not the session's
    # cached file listing (the damage being audited — renamed or
    # injected files — is exactly what the FileStatusCache hides)
    spark.catalog.refreshByPath(path)
    df = (
        spark.read.parquet(path)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1)
            .alias("file"),
            F.pmod(F.hash(F.col(key)), F.lit(buckets)).alias("__b"),
        )
        .withColumn(
            # ANSI-safe: regexp_extract yields '' on no match, which
            # a plain cast rejects — try_cast maps it to null, which
            # is exactly the "no bucket id in the name" signal
            "bucket_id",
            F.expr(
                r"try_cast(regexp_extract(file, '_(\\d{5})\\.', 1) "
                "AS INT)"
            ),
        )
    )
    return (
        df.groupBy("file", "bucket_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("bucket_id").isNull()
                    | (F.col("__b") != F.col("bucket_id")),
                    1,
                ).otherwise(0)
            ).alias("n_misplaced"),
        )
        .withColumn(
            "ok",
            F.col("bucket_id").isNotNull() & (F.col("n_misplaced") == 0),
        )
        .orderBy("file")
    )


def compact_buckets_selective(
    spark,
    table: str,
    path: str,
    min_files: int = 2,
    key: str | None = None,
    buckets: int | None = None,
    sort: bool | None = None,
) -> dict[int, int]:
    """Compact ONLY the buckets fragmented into ``min_files``-or-more
    files; ``min_files=1`` rewrites every bucket.

    A streaming append fragments just the buckets its batch touched;
    rewriting the WHOLE table per maintenance cycle is O(table) when
    the damage is O(recent ingest).  This pass inventories the
    directory by the bucket id encoded in each file name, and for each
    fragmented bucket rewrites its files into one file (sorted within
    the bucket when ``sort``) named with the SAME bucket id — the
    hash→bucket invariant is untouched (same rows, same bucket), which
    ``validate_bucketed`` can confirm, and a 1-file bucket makes the
    sorted-scan contract hold again.  Untouched buckets' files are not
    read, written, or renamed: the cost is O(fragmented data).

    The rewrite is ONE Spark job regardless of how many buckets are
    fragmented: every fragmented bucket's files are read together and
    re-bucketed through the bucketed write path into an invisible
    staging subdirectory — the same keys hash to the same bucket ids,
    so staging produces exactly one correctly-named file per
    fragmented bucket, in parallel across the cluster.  (The first cut
    ran one coalesce(1) job PER bucket; at 32 fragmented buckets the
    sequential job overhead made it 6× slower than the full rewrite —
    measured, see HISTORY.md.)

    Crash safety is manifest-based (the standard lake-format pattern,
    scaled down): per bucket, a ``_compact_manifest_<run>.json``
    records {bucket, retired files, new file} BEFORE anything becomes
    visible, then new-file rename → retired-file deletes → manifest
    delete.  ``_recover_selective`` (run automatically at entry) rolls
    an interrupted cycle forward (new file visible: finish the
    deletes) or back (not visible: drop the staging) — every crash
    point lands on exactly-the-old or exactly-the-new bucket contents.
    A footer-metadata row-count guard refuses the swap when staging
    does not hold exactly the fragmented buckets' rows.  The
    visible-duplicate window between rename and deletes assumes no
    concurrent readers, and a reader holding the pre-compaction file
    list fails once the retired files are deleted.

    Parameters default from the ``_bucket_spec.json`` sidecar.
    Returns ``{bucket_id: file_count_before}`` for compacted buckets
    (empty dict = nothing fragmented enough)."""
    import re
    import shutil
    import uuid

    from pyspark.sql import functions as F

    spec = read_bucket_spec(path)
    if spec is not None:
        # same contract as register_bucketed: the sidecar wins;
        # contradicting explicit params raise rather than silently
        # re-bucketing the table away from its co-located twins
        for name, given in (("key", key), ("buckets", buckets),
                            ("sort", sort)):
            if given is not None and given != spec[name]:
                raise ValueError(
                    f"compact_buckets_selective: {name}={given!r} "
                    f"contradicts _bucket_spec.json ({name}="
                    f"{spec[name]!r} at {path}) — compacting with "
                    "wrong bucketing would corrupt the layout"
                )
        key = spec["key"] if key is None else key
        buckets = spec["buckets"] if buckets is None else buckets
        sort = spec["sort"] if sort is None else sort
    if key is None or buckets is None:
        raise ValueError(
            "compact_buckets_selective: no _bucket_spec.json at "
            f"{path} — pass key= and buckets= explicitly"
        )
    sort = True if sort is None else sort
    _recover_selective(path, spark=spark, table=table)

    pat = re.compile(r"_(\d{5})\.")
    by_bucket: dict[int, list[str]] = {}
    for f in os.listdir(path):
        if not (f.startswith("part-") and f.endswith(".parquet")):
            continue
        m = pat.search(f)
        if m:
            by_bucket.setdefault(int(m.group(1)), []).append(f)
    targets = {
        b: sorted(fs) for b, fs in by_bucket.items()
        if len(fs) >= min_files
    }
    if not targets:
        return {}

    # ---- one parallel rewrite of ALL fragmented buckets
    run = uuid.uuid4().hex[:8]
    stage_dir = os.path.join(path, f".compact_stage_{run}")
    tmp_table = f"{table}_selcompact_{run}"
    frag_files = [
        os.path.join(path, f) for fs in targets.values() for f in fs
    ]
    df = spark.read.parquet(*frag_files).repartition(
        buckets, F.col(key)
    )
    w = df.write.bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.option("path", stage_dir).mode("overwrite").saveAsTable(tmp_table)
    spark.sql(f"DROP TABLE {tmp_table}")  # external: files stay

    # A bucket may stage MORE than one file (e.g. the session has
    # spark.sql.files.maxRecordsPerFile set and the bucket's rows
    # split into c000/c001) — collect per-bucket LISTS; treating the
    # mapping as one-file-per-bucket here silently dropped the extra
    # files (r12 data-loss bug, fixed r13)
    staged: dict[int, list[str]] = {}
    for f in os.listdir(stage_dir):
        if f.startswith("part-") and f.endswith(".parquet"):
            m = pat.search(f)
            if m:
                staged.setdefault(int(m.group(1)), []).append(f)
    staged = {b: sorted(fs) for b, fs in staged.items()}
    # per-bucket row guard (stronger than the old aggregate total,
    # which could not see rows migrating between buckets)
    if set(staged) != set(targets) or any(
        _footer_rows_files(stage_dir, staged[b])
        != _footer_rows_files(path, targets[b])
        for b in targets
    ):
        shutil.rmtree(stage_dir, ignore_errors=True)
        raise RuntimeError(
            "compact_buckets_selective: staging rewrite does not "
            f"match the fragmented buckets (staged {sorted(staged)} "
            f"vs targets {sorted(targets)}, or per-bucket row counts "
            "differ) — refusing to swap"
        )

    # ---- per-bucket manifest swap (tiny, file-ops only)
    done: dict[int, int] = {}
    for bid, fs in sorted(targets.items()):
        newnames = []
        for i, sf in enumerate(staged[bid]):
            nn = (
                f"part-{bid:05d}-compact{run}_{bid:05d}"
                f".c{i:03d}.snappy.parquet"
            )
            # park invisibly BEFORE the manifest exists: a crash here
            # leaves only dot-prefixed strays (rolled back at next
            # entry), nothing visible changed
            os.replace(
                os.path.join(stage_dir, sf),
                os.path.join(path, f".{nn}.inprogress"),
            )
            newnames.append(nn)
        # the write-ahead record: once this exists, recovery can
        # always finish or undo the swap below
        manifest = os.path.join(path, f"_compact_manifest_{run}_{bid}.json")
        mtmp = manifest + ".tmp"
        with open(mtmp, "w") as fh:
            json.dump({"bucket": bid, "retired": fs, "new": newnames}, fh)
        os.replace(mtmp, manifest)
        for nn in newnames:  # become visible
            os.rename(
                os.path.join(path, f".{nn}.inprogress"),
                os.path.join(path, nn),
            )
        for f in fs:
            os.remove(os.path.join(path, f))
        os.remove(manifest)
        done[bid] = len(fs)
    shutil.rmtree(stage_dir, ignore_errors=True)

    spark.catalog.refreshByPath(path)
    if spark.catalog.tableExists(table):
        spark.catalog.refreshTable(table)
    return done


def _footer_rows_files(path: str, files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in files
    )


def bucket_fragmentation(spark, path: str) -> DataFrame:
    """Per-bucket maintenance signal for a bucketed directory: file
    count, total bytes, and footer row count per bucket id — the input
    to the "compact now or later?" decision that
    ``compact_buckets_selective`` acts on.  Directory metadata + file
    footers only: no Spark job, no data read; the returned frame is a
    tiny local DataFrame (≤ buckets rows).  A bucketed table is
    healthy at 1 file/bucket; the sorted-scan plan contract degrades
    the moment any bucket holds 2."""
    import re

    import pyarrow.parquet as pq

    pat = re.compile(r"_(\d{5})\.")
    acc: dict[int, list[int]] = {}
    for f in sorted(os.listdir(path)):
        if not (f.startswith("part-") and f.endswith(".parquet")):
            continue
        m = pat.search(f)
        if not m:
            continue
        bid = int(m.group(1))
        full = os.path.join(path, f)
        n_files, n_bytes, n_rows = acc.setdefault(bid, [0, 0, 0])
        acc[bid] = [
            n_files + 1,
            n_bytes + os.path.getsize(full),
            n_rows + pq.ParquetFile(full).metadata.num_rows,
        ]
    rows = [
        (b, v[0], v[1], v[2], v[0] > 1) for b, v in sorted(acc.items())
    ]
    return spark.createDataFrame(
        rows or [(None, 0, 0, 0, False)][:0],
        "bucket_id int, n_files int, n_bytes bigint, n_rows bigint, "
        "fragmented boolean",
    )


def _recover_selective(
    path: str, spark=None, table: str | None = None
) -> None:
    """Finish or undo an interrupted ``compact_buckets_selective``
    cycle.  Per leftover manifest (``new`` may be a list — a bucket
    can stage several files under ``maxRecordsPerFile`` — or a bare
    string from a pre-r13 manifest):

    * roll FORWARD when every new file became visible (the retired
      delete phase only starts after the last rename, so this is
      exactly the committed states): delete the remaining retired
      files;
    * roll BACK otherwise (swap not fully visible ⇒ no retired file
      was deleted yet): remove the partially-visible new files and
      their invisible staging twins — the originals carry the data.

    Stray staging artifacts without a manifest are rolled back —
    nothing of theirs was ever visible.  When ``spark``/``table`` are
    given, stray ``<table>_selcompact_*`` catalog entries from a crash
    between ``saveAsTable`` and ``DROP`` are dropped too (files were
    already recovered above; the catalog name was the one leak)."""
    import glob as _glob
    import shutil

    if spark is not None and table is not None:
        for t in spark.catalog.listTables():
            if t.name.startswith(f"{table}_selcompact_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    if not os.path.isdir(path):
        return
    for mpath in sorted(
        _glob.glob(os.path.join(path, "_compact_manifest_*.json"))
    ):
        with open(mpath) as fh:
            m = json.load(fh)
        news = m["new"] if isinstance(m["new"], list) else [m["new"]]
        visible = [
            n for n in news if os.path.exists(os.path.join(path, n))
        ]
        if len(visible) == len(news):
            # FORWARD: the swap committed; clear the retired set
            for f in m["retired"]:
                p = os.path.join(path, f)
                if os.path.exists(p):
                    os.remove(p)
        else:
            # BACK: originals all intact; drop whatever of the new
            # generation leaked into visibility plus the parked rest
            for n in news:
                for p in (
                    os.path.join(path, n),
                    os.path.join(path, f".{n}.inprogress"),
                ):
                    if os.path.exists(p):
                        os.remove(p)
        os.remove(mpath)
    for stray in _glob.glob(os.path.join(path, ".compact_stage_*")):
        shutil.rmtree(stray, ignore_errors=True)
    for stray in _glob.glob(os.path.join(path, ".part-*.inprogress")):
        os.remove(stray)
    for stray in _glob.glob(
        os.path.join(path, "_compact_manifest_*.json.tmp")
    ):
        os.remove(stray)

"""Write path — the reference's only sinks are DuckDB built-ins
("import to DuckDB tables, or export to Parquet",
/root/reference/README.md:4 → CREATE TABLE AS / COPY TO). The Spark
equivalents, with the layout knobs that matter at lake scale:

- plain/partitioned parquet export (``COPY TO`` analogue),
- bucketed managed tables (``CREATE TABLE AS`` analogue) — bucketing by
  the join key lets later equi-joins/aggregations on that key skip the
  shuffle entirely, the closest Spark gets to DuckDB's in-process
  locality,
- a whole-archive ingest that materializes all 8 PST tables at once
  (what a 72 GiB/167-file corpus crawl would feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_COMPRESSION = "zstd"


def export_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = DEFAULT_COMPRESSION,
    max_records_per_file: int | None = None,
) -> None:
    """COPY TO (FORMAT parquet) analogue. ``partition_by`` low-cardinality
    keys (e.g. message_class) turn later class filters into directory
    pruning — the physical form of the reference's planning-time class
    filter (A5). ``max_records_per_file`` bounds file size so a 100 TB
    write doesn't produce unsplittable monsters."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def save_bucketed_table(
    df: DataFrame,
    name: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """CREATE TABLE AS analogue with bucketing: co-locates rows by hash of
    the bucket key so joins/group-bys between tables bucketed the same
    way run shuffle-free (SortMergeJoin over pre-bucketed scans). At
    100 TB, bucketing the fact tables on their join key once pays for
    itself on every subsequent join."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.format("parquet").saveAsTable(name)


_BUCKET_KEY_PREFIX = {"orders": "o", "lineitem": "l", "customer": "c"}


def _source_digest(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Layout identity: abs path + mtime + size of every source file, so
    a regenerated corpus (same path, new data) gets a NEW layout and a
    re-run in the same session reuses the existing one."""
    import hashlib
    import os

    h = hashlib.sha1()
    for t in tables:
        p = os.path.join(os.path.abspath(sf_dir), f"{t}.parquet")
        st = os.stat(p)
        h.update(f"{p}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:10]


def export_bucketed(
    spark: SparkSession,
    sf_dir: str,
    *,
    key: str = "orderkey",
    tables: tuple[str, ...] = ("orders", "lineitem"),
    n_buckets: int = 32,
    reuse: bool = True,
) -> dict[str, str]:
    """One-time co-location layout for the TPC-H fact join: bucket (and
    sort) ``orders`` + ``lineitem`` on their shared join key so every
    subsequent orderkey equi-join / window / aggregate runs with ZERO
    fact-side exchange (the star joins' dominant cost — 60M rows /
    1.07 GiB of shuffle at x100, measured in tools/exchange_budget.py;
    the bucketed twins read 0.31-0.50x the plain plans, SCALE.md r8).

    This is the Spark form of the reference's partition-planning design
    point (/root/reference/src/table_function.cpp:191-212 — make the
    scan layout serve the query). At 100 TB the layout is written once
    per ingest with n_buckets sized so one bucket fits an executor
    (e.g. 4096), and every orderkey join afterwards is exchange-free.

    Rows are pre-repartitioned by the bucket hash so each bucket lands
    in ONE file — the scan then reports sorted output and the
    SortMergeJoin needs neither Exchange nor Sort. Returns
    {table: catalog_name}; ``reuse=True`` returns the existing layout
    for an identical source (same path+mtime+size) without rewriting.
    Managed tables live in the session's static warehouse dir; a stale
    directory from a killed run is removed before writing."""
    import os
    import shutil

    from duckdb_pst_spark.tables import table as load_table

    digest = _source_digest(sf_dir, tables)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    out: dict[str, str] = {}
    for t in tables:
        col = f"{_BUCKET_KEY_PREFIX[t]}_{key}"
        name = f"bkt_{key}{n_buckets}_{digest}_{t}"
        if not (reuse and spark.catalog.tableExists(name)):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
            save_bucketed_table(
                load_table(spark, sf_dir, t).repartition(n_buckets, col),
                name,
                bucket_by=[col],
                n_buckets=n_buckets,
                sort_by=[col],
            )
        # GC/reconcile runs AFTER the layout exists (written above, or
        # already present on the reuse path): a failed write must leave
        # the superseded layout and its ledger row untouched — never a
        # window where neither layout exists — and the reuse path must
        # ALSO reconcile, else a crash between write and GC leaves the
        # live layout's digest permanently unrecorded (its directory
        # would then never be collectable when superseded).
        _gc_superseded_layout(spark, wh, sf_dir, key=key,
                              n_buckets=n_buckets, t=t, digest=digest)
        out[t] = name
    return out


def _gc_superseded_layout(
    spark: SparkSession, wh: str, sf_dir: str, *, key: str,
    n_buckets: int, t: str, digest: str,
) -> None:
    """Drop the layout a regenerated source supersedes.

    The digest keys layouts on (path, mtime, size), so a corpus rewritten
    IN PLACE gets a fresh bucketed table — but the stale ``bkt_*``
    directory and catalog entry for the old digest would otherwise
    accumulate unboundedly across sessions (round-9 advisor finding). A
    sidecar ledger in the warehouse maps (key, buckets, table, source
    path) → last digest; on mismatch the superseded table/directory is
    dropped. Called by export_bucketed only AFTER the replacement layout
    is written, so the ledger never records a digest whose table does
    not exist, and the ledger file itself is committed by atomic rename
    (no torn reads). Distinct corpora at distinct paths never collide
    in the ledger, so their layouts coexist. Concurrency: the ledger is
    single-writer by design (one builder session owns a warehouse);
    concurrent sessions can lose each other's GC bookkeeping — the cost
    is a leaked stale directory, never a missing live layout."""
    import json
    import os
    import shutil
    import tempfile

    ledger_path = os.path.join(wh, "bkt_layout_ledger.json")
    try:
        with open(ledger_path) as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        ledger = {}
    lkey = f"{key}:{n_buckets}:{t}:{os.path.abspath(sf_dir)}"
    old = ledger.get(lkey)
    if old == digest:
        return  # reconciled already — skip the drop and the rewrite
    if old:
        stale = f"bkt_{key}{n_buckets}_{old}_{t}"
        try:
            spark.sql(f"DROP TABLE IF EXISTS {stale}")
        except Exception:
            pass
        shutil.rmtree(os.path.join(wh, stale), ignore_errors=True)
    ledger[lkey] = digest
    tmp = None
    try:
        os.makedirs(wh, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=wh, prefix=".bkt_ledger_")
        with os.fdopen(fd, "w") as f:
            json.dump(ledger, f, indent=0, sort_keys=True)
        os.replace(tmp, ledger_path)
        tmp = None
    except OSError:
        pass  # read-only warehouse: the loud-fallback path handles it
    finally:
        if tmp is not None:  # half-written temp on ENOSPC/replace failure
            try:
                os.unlink(tmp)
            except OSError:
                pass


def ingest_pst_archive(
    spark: SparkSession,
    out_dir: str,
    *,
    path_glob: str,
    partition_messages_by_class: bool = True,
    **reader_kw,
) -> dict[str, str]:
    """Crawl a PST archive (all 8 table functions) into a parquet lake —
    the batch-ingest pattern the reference's ad-hoc scans imply. Each
    table is one ``format("pst")`` scan of ``path_glob`` with
    ``reader_kw`` as reader options (``read_body_size_bytes``,
    ``read_attachment_body``, …); ``notes`` is skipped, being a subset
    of ``messages``. Messages are partitioned by message_class so each
    typed query (notes, tasks, …) prunes to its own directories. Returns
    function name → output path."""
    from duckdb_pst_spark.sources.mspst.datasource import register
    from duckdb_pst_spark.sql import TABLES

    register(spark)
    out: dict[str, str] = {}
    for table in TABLES:
        if table == "notes":
            continue
        df = (
            spark.read.format("pst")
            .option("table", table)
            .options(**reader_kw)
            .load(path_glob)
        )
        dest = f"{out_dir}/{table}"
        part = (
            ["message_class"]
            if partition_messages_by_class and table == "messages"
            else None
        )
        export_parquet(df, dest, partition_by=part)
        out[f"read_pst_{table}"] = dest
    return out


def export_range_sorted(
    df: DataFrame,
    path: str,
    *,
    range_by: list[str],
    n_files: int,
    sort_within: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = DEFAULT_COMPRESSION,
) -> None:
    """Range-clustered parquet export: ``repartitionByRange`` on the
    cluster key + ``sortWithinPartitions`` + write. Each output file then
    owns a DISJOINT key range, so the parquet footer min/max statistics
    let ANY reader (Spark row-group pruning, DuckDB zone-map skipping, a
    lakehouse table format's file pruning) skip whole files on a key
    predicate — single-dimension clustering, the 80% of Z-ordering a
    pipeline actually uses (time- or id-clustered layouts).

    At 100 TB this is a one-time full shuffle (range partitioner samples
    the key distribution, so skew spreads evenly) that every subsequent
    selective scan amortizes; ``sort_within`` additionally orders rows
    inside each file so row-group and page stats are tight too."""
    (
        df.repartitionByRange(n_files, *range_by)
        .sortWithinPartitions(*(list(range_by) + (sort_within or [])))
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    *,
    target_file_mb: int = 128,
    mode: str = "overwrite",
    compression: str = DEFAULT_COMPRESSION,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(uncompressed_bytes / target)`` right-sized files. Streaming
    sinks and fine-grained ingests leave thousands of KB-scale files;
    at lake scale every scan then pays one task launch + footer read
    per file, and the namenode/object-store listing dominates planning.
    Sizing by the footers' UNCOMPRESSED page bytes (same probe as
    functions/partitioning.spread) keeps post-compaction files near the
    target regardless of how well the data compresses. Returns the
    file count written."""
    import math

    from duckdb_pst_spark.functions.partitioning import input_uncompressed_bytes

    df = spark.read.parquet(src)
    nbytes = input_uncompressed_bytes(df) or 0
    n_files = max(1, math.ceil(nbytes / (target_file_mb << 20)))
    (
        df.repartition(n_files)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(dest)
    )
    return n_files


def export_zorder(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    *,
    max_records_per_file: int,
    compression: str = DEFAULT_COMPRESSION,
) -> None:
    """Z-order-clustered parquet export: rows sort by the Morton
    interleave of (x_col, y_col) before writing, so each output file
    covers a small RECTANGLE of the key space — min/max footer stats
    then prune files for selective filters on EITHER column, where a
    plain sort prunes on one only (the Delta/Iceberg OPTIMIZE ZORDER
    layout, measured in tests/test_sinks.py). The sort is a normal
    range-partitioned exchange — no skew beyond the data's own."""
    from pyspark.sql import functions as F

    from duckdb_pst_spark.functions.zorder import spark_zval

    mm = F.broadcast(
        df.agg(
            F.min(x_col).alias("_mnx"), F.max(x_col).alias("_mxx"),
            F.min(y_col).alias("_mny"), F.max(y_col).alias("_mxy"),
        )
    )
    (
        df.crossJoin(mm)
        .withColumn(
            "_z", F.expr(spark_zval(x_col, y_col, "_mnx", "_mxx", "_mny", "_mxy"))
        )
        .drop("_mnx", "_mxx", "_mny", "_mxy")
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .parquet(path)
    )

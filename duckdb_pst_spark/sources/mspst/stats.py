"""Planning-stats ``count(*)`` — A8 parity.

The reference's headline number is a count over 72 GiB answered in half a
second because no row data is ever read: planning crawls each file's NBT,
partitions carry exact row counts, and DuckDB rewrites the aggregate to a
``COLUMN_DATA_SCAN`` over the stats (``PSTReadCardinality`` /
``PSTPartitionStats``, /root/reference/src/table_function.cpp:325-351;
README.md:8-20).

Spark's Python DataSource API has no aggregate-pushdown hook, so the same
capability is a first-class helper: :func:`pst_count` runs the NBT-only
crawl — one Spark task per file, the 167-file Enron corpus counts in
parallel — and never materializes a message row.  Typed tables probe only
the ``PR_MESSAGE_CLASS`` property per node, the reference's planning-time
class filter (A5, table_function.cpp:133-175; class reader
typed_bag.hpp:90-107).
"""

from __future__ import annotations

import sys


def file_count(path: str, table: str = "messages") -> int:
    """Exact row count for one PST file without reading row data.

    ``messages``/``folders`` need only the NBT (node-id type bits);
    typed tables additionally probe the class property per node — the
    same probe the scan planner runs.  An unreadable file is logged and
    counted as 0 (A18 error tolerance, table_function.cpp:228-235).
    """
    from duckdb_pst_spark.sources.mspst.datasource import CLASS_FILTER
    from duckdb_pst_spark.sources.mspst.messaging import PstArchive, class_nids

    try:
        a = PstArchive(path)
    except Exception as exc:
        print(f"pst: skipping unreadable file {path}: {exc}", file=sys.stderr)
        return 0
    try:
        if table == "folders":
            return len(a.folder_nids())
        nids = a.message_nids()
        want = CLASS_FILTER.get(table)
        if want is None:  # messages: NBT crawl alone is exact
            return len(nids)
        return len(class_nids(a.pst, nids, want))
    finally:
        a.close()


#: Corpora at or below this file count are counted in-process (one
#: forked worker per core) — the reference's planning model (std::async
#: per file, table_function.cpp:214-239) without Spark job-launch
#: overhead.  Bigger corpora distribute: a 100k-file lake crawl needs
#: cluster bandwidth, not driver cores.
_DRIVER_POOL_MAX_FILES = 1024


def _driver_pool_count(files: list[str], table: str) -> int:
    """In-process parallel crawl via a fork-based process pool (the NBT
    parse is pure-Python/CPU-bound, so threads would serialize on the
    GIL; fork avoids re-import cost). 167 fixture files: ~0.06 s vs
    ~3 s as a Spark job."""
    import multiprocessing as mp
    import os as _os
    from concurrent.futures import ProcessPoolExecutor
    from functools import partial

    try:
        ctx = mp.get_context("fork")
    except ValueError:  # non-POSIX fallback; spawn pays imports once
        ctx = mp.get_context()
    workers = max(1, min(len(files), _os.cpu_count() or 4))
    chunk = max(1, len(files) // (4 * workers))
    with ProcessPoolExecutor(workers, mp_context=ctx) as ex:
        return sum(ex.map(partial(file_count, table=table), files, chunksize=chunk))


def pst_scan_info(spark, path: str, table: str = "messages", **options):
    """A20 — EXPLAIN-style scan metadata as a one-row DataFrame.

    The reference surfaces ``Files read`` / ``Partitions read`` /
    ``Partition size`` inside DuckDB's EXPLAIN via a dynamic-to-string
    hook (``PSTDynamicToString``, table_function.cpp:367-380). Spark's
    Python DataSource API has no explain-customization hook (the plan
    shows only ``BatchScan pst`` + ReadSchema), so the same metadata is
    a first-class introspection query: it runs the REAL bind-time
    planner (glob expansion A1, NBT crawl A3, bucket packing A4,
    read_limit A6) and reports what a scan with these options would do
    — plus ``rows_planned``, the denominator of the reference's
    progress percentage (``PSTReadProgress``, table_function.cpp:359-365;
    live per-task progress itself is delegated to the Spark UI, A19).

    ``columns`` shows in ``projected_columns`` so a user can confirm the
    A7 projection reached the reader, the equivalent of seeing a pruned
    ReadSchema on a parquet scan.
    """
    from duckdb_pst_spark.sources.mspst.datasource import PstDataSource

    opts = {"path": path, "table": table}
    for k, v in options.items():
        opts[k] = str(v).lower() if isinstance(v, bool) else str(v)
    ds = PstDataSource(opts)
    reader = ds.reader(ds.schema())
    parts = reader.partitions()
    files: set[str] = set()
    rows = 0
    n_parts = 0
    for p in parts:
        entries = [e for e in p.value if e[0] is not None]
        if not entries:
            continue
        n_parts += 1
        for f, nids in entries:
            files.add(f)
            if nids is not None:
                rows += len(nids)
            else:  # folders: NBT-only count, still no row data read
                rows += file_count(f, "folders")
    return spark.createDataFrame(
        [
            (
                len(files),
                n_parts,
                int(reader.options_partition_size),
                rows,
                ",".join(reader.fields),
            )
        ],
        "files_read int, partitions_read int, partition_size int, "
        "rows_planned bigint, projected_columns string",
    )


def pst_count(spark, path: str, table: str = "messages") -> int:
    """``count(*)`` over a PST glob/URL from planning stats only.

    Walks btree pages, never message rows — the COLUMN_DATA_SCAN analog.
    Small corpora count in-process (forked pool, like the reference's
    bind-time planning threads); large corpora run one Spark task per
    run of files so the crawl scales with the cluster.
    """
    from duckdb_pst_spark.sources.mspst.fsio import expand_paths

    files = expand_paths(path)
    if not files:
        return 0
    if len(files) == 1:
        return file_count(files[0], table)
    if len(files) <= _DRIVER_POOL_MAX_FILES:
        try:
            return _driver_pool_count(files, table)
        except Exception as exc:  # pool failure → distributed fallback
            print(f"pst: driver-pool count failed ({exc}); using Spark", file=sys.stderr)
    sc = spark.sparkContext
    # cap slices so a 100k-file corpus doesn't become 100k tiny tasks;
    # each task then counts a run of files
    slices = min(len(files), 4 * sc.defaultParallelism)
    return (
        sc.parallelize(files, slices)
        .map(lambda f: file_count(f, table))
        .sum()
    )

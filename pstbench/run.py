#!/usr/bin/env python3
"""PST reader benchmark: one workload per invocation, one JSON result line.

    python3 pstbench/run.py --workload pst_ingest --seed 1 --seconds 10 --trace 0

Workloads (see pstbench/README.md for the why of each):

- ``pst_ingest``      full-schema PST messages scan with attachment bytes,
                      written to parquet
- ``pst_interactive`` pst_count, a read_limit=5 preview, a columns=
                      metadata aggregate, a recursive folder-path query

Inputs are generated from ``--seed`` into ``.pstbench/`` at the checkout
root (cached by seed and shape; generation is never timed). With
``--trace 0`` the run measures the end-to-end metrics in a closed loop of
whole passes over the workload's ops, after one untimed round, until
``--seconds`` of op time and at least MIN_SAMPLES samples of every op;
with ``--trace 1`` it runs each operation traced and untraced and
reports per-layer metrics plus the tracing overhead, and writes spans to
``.pstbench/trace-<workload>-<seed>.json``. ``pst_ingest``'s traced
run also runs nine registered SQL builders, checked against their DuckDB
oracles on seeded sf0.01-shaped tables, as the engine layer that never
enters the PST reader.

Every operation's answer is checked outside the timed region, against the
generator's manifest. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
report with host facts, corpus shape and per-op figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".pstbench")

WORKLOADS = ("pst_ingest", "pst_interactive")
SETUP_REPEATS = 3
# SQL builders traced in pst_ingest's traced run, and the operator
# module each lives in; the module names the per-layer metric
# operators.<module>.<query>.wall_s
SQL_MIX = {
    "q_tpch_q1": "relational",
    "q_tpch_q9": "relational",
    "q_tpch_q18": "relational",
    "q_tpch_q18_bucketed": "bucketed",
    "q_dedup_minhash_vec": "dedup",
    "q_bm25": "text",
    "q_hybrid_rrf": "similarity",
    "q_passage_dedup": "text",
    "q_recursive_descendants": "recursive",
}
# One timed pass per workload. An analyst counts more often than they
# aggregate, and the cheapest op, the noisiest, gets the extra samples.
PASSES = {
    "pst_ingest": ["ingest"],
    "pst_interactive": ["count", "limit5", "count", "meta_query", "count", "folders"],
}
MIN_SAMPLES = 3  # timed samples per op at least, for a median one outlier does not move
META_COLUMNS = "sender_email_address,message_delivery_time"
FOLDER_PATHS_SQL = """
WITH RECURSIVE tree(pst_path, pst_name, node_id, path) AS (
  SELECT pst_path, pst_name, node_id, '' FROM pst_folders WHERE node_id = parent_node_id
  UNION ALL
  SELECT f.pst_path, f.pst_name, f.node_id, concat(t.path, '/', f.display_name)
  FROM pst_folders f JOIN tree t
    ON f.pst_path = t.pst_path AND f.parent_node_id = t.node_id
  WHERE f.node_id <> f.parent_node_id
)
SELECT pst_name, path FROM tree
"""


def log(msg: str) -> None:
    print(f"[pstbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_settings() -> dict:
    """Fit Spark to the host it runs on: all cores, a driver heap far below RAM, and
    every scratch path inside the checkout."""
    cpus = _cpus()
    mem = _mem_total_bytes()
    heap_mb = max(1024, min(2048, mem // (4 << 20)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {"cpus": cpus, "mem_total_mb": mem >> 20, "driver_heap_mb": heap_mb}


def versions(spark) -> dict:
    import pyspark

    jv = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {"spark": pyspark.__version__, "python": platform.python_version(), "java": jv}


# ------------------------------------------------------------ CPU, memory


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``'s process tree:
    live processes' own time plus the time of children they have reaped.
    Unlike wall time, it does not grow while the host runs someone else."""
    ticks = 0
    for p in _proc_tree(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """Peak summed PSS of the Python side: this process and every process
    below it (pst_count's forked pool, the Python daemon and workers under
    the JVM) except the JVM itself, whose resident heap follows GC timing.
    Sampled from /proc every ``period`` while ``active`` is set, that is
    while an operation runs and not while its answer is checked; ``peak``
    is reset per operation. PSS splits each shared page among its sharers,
    so forked workers that share the daemon's pages are not counted once
    per worker, as summed RSS would.

    The sampler's own CPU time (``cpu_s``) is charged to this process, so
    the timed loop subtracts it from each operation's CPU seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.pid = os.getpid()
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self.cpu_s = 0.0
        self.active = threading.Event()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        """Take one sample now and return the peak so far."""
        with self._lock:
            self.peak = max(self.peak, self._tree_pss())
            return self.peak

    def _tree_pss(self) -> int:
        total = 0
        for p in _proc_tree(self.pid):
            if p == self.jvm_pid:
                continue
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) << 10
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                c0 = time.thread_time()
                self.sample()
                self.cpu_s += time.thread_time() - c0
            self._stop.wait(self.period)

    def start(self) -> "MemSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak / 2**20

    def begin_op(self) -> None:
        with self._lock:
            self.peak = 0
        self.active.set()

    def end_op(self) -> float:
        """Peak MB of the operation just run, with a last sample at its end
        (a short operation may end before the first periodic one)."""
        self.active.clear()
        return self.sample() / 2**20


# --------------------------------------------------------------- session


def new_session():
    from duckdb_pst_spark.session import get_spark

    java_tmp = f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
    return get_spark(
        "pstbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": java_tmp,
            "spark.executor.extraJavaOptions": java_tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process under it (the Python daemon and workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _proc_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for p in procs:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, waiting to be reaped by its parent
            except OSError:
                break  # gone
            time.sleep(0.05)
        else:
            try:
                os.kill(p, 9)
            except OSError:
                pass


# -------------------------------------------------------- PST workloads


def pst_reader_df(spark, glob: str, **opts):
    import corpus

    r = spark.read.format("pst").option("partition_size", str(corpus.SHAPE["partition_size"]))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(glob)


class PstOps:
    """The PST operations, each returning what its check needs."""

    def __init__(self, spark, corpus_dir: str, manifest: dict):
        self.spark = spark
        self.dir = corpus_dir
        self.glob = os.path.join(corpus_dir, "*.pst")
        self.m = manifest
        self.out_dirs = [os.path.join(WORK, "ingest-out", f"run{i}") for i in range(2)]
        self.n_ingest = 0
        self._nobytes = None

    # ---- pst_ingest
    def ingest(self):
        out = self.out_dirs[self.n_ingest % 2]
        self.n_ingest += 1
        pst_reader_df(self.spark, self.glob, read_attachment_body="true").write.mode(
            "overwrite"
        ).parquet(out)
        return out

    def check_ingest(self, out: str) -> bool:
        """Parquet read-back: row count and the order-independent digest,
        one forked worker per part file."""
        import multiprocessing as mp
        from concurrent.futures import ProcessPoolExecutor

        files = sorted(
            os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
        )
        with ProcessPoolExecutor(_cpus(), mp_context=mp.get_context("fork")) as ex:
            parts = list(ex.map(_parquet_digest, files))
        rows = sum(n for n, _ in parts)
        total = sum(d for _, d in parts) % (1 << 64)
        return rows == self.m["messages"] and f"{total:016x}" == self.m["digest_full"]

    # ---- pst_interactive
    def count(self):
        from duckdb_pst_spark.sources.mspst.stats import pst_count

        return pst_count(self.spark, self.glob)

    def check_count(self, n) -> bool:
        return n == self.m["messages"]

    def limit5(self):
        return pst_reader_df(self.spark, self.glob, read_limit="5").collect()

    def check_limit5(self, rows) -> bool:
        import corpus

        if self._nobytes is None:
            self._nobytes = {d for f in self.m["per_file"] for d in f["digests_nobytes"]}
        if len(rows) != 5:
            return False
        return all(corpus.reader_row_digest(r.asDict()) in self._nobytes for r in rows)

    def meta_query(self):
        from pyspark.sql import functions as F

        df = pst_reader_df(self.spark, self.glob, columns=META_COLUMNS)
        return (
            df.groupBy(
                "sender_email_address",
                F.date_format("message_delivery_time", "yyyy-MM").alias("month"),
            )
            .count()
            .orderBy(F.desc("count"), "sender_email_address", "month")
            .limit(len(self.m["top_sender_month"]))
            .collect()
        )

    def check_meta_query(self, rows) -> bool:
        return [list(r) for r in rows] == self.m["top_sender_month"]

    def folders(self):
        # one folders scan, cached; the recursion then re-reads the cache
        # rather than re-planning the Python source at every level
        df = pst_reader_df(self.spark, self.glob, table="folders").cache()
        try:
            df.count()
            df.createOrReplaceTempView("pst_folders")
            return self.spark.sql(FOLDER_PATHS_SQL).collect()
        finally:
            df.unpersist()

    def check_folders(self, rows) -> bool:
        import hashlib

        import corpus

        if len(rows) != self.m["folders"]:
            return False
        got = corpus.combine(
            hashlib.blake2b(f"{n}:{p}".encode(), digest_size=8).hexdigest() for n, p in rows
        )
        return got == self.m["folder_paths_digest"]


def _parquet_digest(path: str) -> tuple[int, int]:
    """(rows, digest sum) of one ingest part file, a batch at a time."""
    import pyarrow.parquet as pq

    import corpus

    rows = total = 0
    for batch in pq.ParquetFile(path).iter_batches(batch_size=256):
        rows += batch.num_rows
        total += sum(int(corpus.reader_row_digest(r), 16) for r in batch.to_pylist())
    return rows, total


# ------------------------------------------------------ SQL builders


class SqlOps:
    def __init__(self, spark, data_dir: str):
        from duckdb_pst_spark.registry import load_all

        self.spark = spark
        self.dir = data_dir
        self.specs = {n: load_all()[n] for n in SQL_MIX}

    def run(self, name: str):
        """Build and collect one query with its per-query confs: the Spark
        side, which the traced run times."""
        from duckdb_pst_spark.registry import applied_confs

        spec = self.specs[name]
        with applied_confs(self.spark, spec):
            sdf = spec.builder(self.spark, self.dir)
            return sdf.collect(), sdf.schema

    def check(self, name: str, rows, schema) -> bool:
        """Compare collected rows with the DuckDB oracle by the repo's rule
        (``tests.oracle.compare``: row count, column set and types, and
        order-insensitive values). The rows go back to Spark as a local
        relation, so the query itself is not run again."""
        import dataclasses

        from tests.oracle import compare

        local = self.spark.createDataFrame(rows, schema)
        spec = dataclasses.replace(self.specs[name], builder=lambda spark, d: local)
        try:
            compare(self.spark, spec, self.dir)
            return True
        except Exception as exc:  # a wrong answer counts as failed
            log(f"oracle mismatch {name}: {type(exc).__name__}: {str(exc)[:300]}")
            return False


# -------------------------------------------------------------- setup


def setup_once(first_pst: str):
    """Session start, DataSource register and Python-worker warm-up.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = new_session()
    spark.sparkContext.setLogLevel("ERROR")
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    pst_reader_df(spark, first_pst, read_limit="1").collect()
    return spark, time.perf_counter() - t0


# ------------------------------------------------------------ stats


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile the sample count supports (p99 needs 100 samples,
    p90 needs 10, else the max)."""
    n = len(values)
    for q, label in ((0.99, "p99"), (0.9, "p90")):
        if n >= round(1 / (1 - q)):
            return pct(values, q), label
    return max(values), "max"


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# ------------------------------------------------------------ timed run


def timed_loop(ops: list[tuple[str, object, object]], seconds: float, sampler: MemSampler):
    """Closed loop over ``ops`` (name, run, check), whole passes, until
    ``seconds`` of measured op time and MIN_SAMPLES samples of each op;
    each op's answer is checked after its timing. Returns per-op wall
    seconds, CPU seconds and peak PSS MB."""
    lat: dict[str, list[float]] = {n: [] for n, _, _ in ops}
    cpu: dict[str, list[float]] = {n: [] for n, _, _ in ops}
    mem: dict[str, list[float]] = {n: [] for n, _, _ in ops}
    attempted = failed = 0
    spent = 0.0
    me = os.getpid()
    while spent < seconds or min(len(v) for v in lat.values()) < MIN_SAMPLES:
        for name, run, check in ops:
            sampler.begin_op()
            s0 = sampler.cpu_s
            c0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            res = run()
            dt = time.perf_counter() - t0
            cpu[name].append(tree_cpu_s(me) - c0 - (sampler.cpu_s - s0))
            mem[name].append(sampler.end_op())
            spent += dt
            lat[name].append(dt)
            attempted += 1
            try:
                ok = bool(check(res))
            except Exception as exc:
                log(f"check {name} raised {type(exc).__name__}: {exc}")
                ok = False
            if not ok:
                log(f"wrong answer: {name}")
                failed += 1
    return lat, cpu, mem, attempted, failed


# Spark-side totals over the SQL builders, reported as the operator layer
OPERATOR_TOTALS = ("shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes",
                   "broadcast_bytes", "scan_bytes")
UNITS = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s", "op_cpu_geomean_s": "s",
         "py_peak_pss_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    from tracing import SPARK_KEYS

    names = [
        ("mspst.fsio.open_calls", "count"), ("mspst.fsio.open_s", "s"),
        ("mspst.ndb.crawl_s", "s"), ("mspst.ndb.btree_entries", "count"),
        ("mspst.ndb.crawls_per_file", "count"),
        ("mspst.ndb.read_data_calls", "count"), ("mspst.ndb.read_data_s", "s"),
        ("mspst.ndb.bytes_read", "B"),
        ("mspst.crypt.decode_bytes", "B"), ("mspst.crypt.decode_s", "s"),
        ("mspst.ltp.pc_built", "count"), ("mspst.ltp.pc_s", "s"),
        ("mspst.ltp.tc_built", "count"), ("mspst.ltp.tc_s", "s"),
        ("mspst.messaging.rows", "count"), ("mspst.messaging.row_self_s", "s"),
    ]
    names += [(f"mspst.messaging.decode.{k}", "count")
              for k in ("body", "body_html", "recipients", "attachments", "subnodes")]
    names += [
        ("mspst.datasource.plan_s", "s"), ("mspst.datasource.partitions", "count"),
        ("mspst.datasource.read_s", "s"), ("mspst.stats.count_s", "s"),
    ]
    units = {"spark.jobs": "count", "spark.tasks": "count"}
    names += [(k, units.get(k, "s" if k.endswith("_s") else "B")) for k in SPARK_KEYS]
    names += [(f"operators.{mod}.{q}.wall_s", "s") for q, mod in SQL_MIX.items()]
    names += [(f"operators.{k}", "s" if k.endswith("_s") else "B") for k in OPERATOR_TOTALS]
    names += [("trace.overhead_s", "s"), ("trace.overhead_frac", "ratio")]
    return names


# ----------------------------------------------------------- traced run


def traced_pst(spark, ops: PstOps, workload: str) -> tuple[dict, dict, bool]:
    """In-process reader passes (untraced, then traced) per op, plus one
    Spark run per op with its status-store delta."""
    from duckdb_pst_spark.sources.mspst import stats
    from duckdb_pst_spark.sources.mspst.datasource import PstDataSource

    from tracing import ReaderTrace, SparkDelta

    def scan(**opts):
        import corpus

        o = {"path": ops.glob, "partition_size": str(corpus.SHAPE["partition_size"]), **opts}
        ds = PstDataSource(o)
        reader = ds.reader(ds.schema())
        parts = reader.partitions()
        n = 0
        for p in parts:
            for _ in reader.read(p):
                n += 1
        return len(parts), n

    def count_inproc():
        # module lookups, so an installed trace sees the calls
        n = stats.pst_count(spark, ops.glob)
        for f in sorted(os.listdir(ops.dir)):
            if f.endswith(".pst"):
                stats.file_count(os.path.join(ops.dir, f))
        return 0, n

    if workload == "pst_ingest":
        plan = [("ingest", lambda: scan(read_attachment_body="true"), ops.ingest, ops.check_ingest)]
    else:
        plan = [
            ("count", count_inproc, ops.count, ops.check_count),
            ("limit5", lambda: scan(read_limit="5"), ops.limit5, ops.check_limit5),
            ("meta_query", lambda: scan(columns=META_COLUMNS), ops.meta_query,
             ops.check_meta_query),
            ("folders", lambda: scan(table="folders"), ops.folders, ops.check_folders),
        ]
    layer: dict[str, float] = {}
    per_op: dict[str, dict] = {}
    spark_tot: dict[str, float] = {}
    ok = True
    tr = ReaderTrace()
    overhead = untraced_total = 0.0
    for name, inproc, spark_op, check in plan:
        inproc()  # warm, so the untraced pass pays no first-call costs
        t0 = time.perf_counter()
        inproc()
        untraced = time.perf_counter() - t0
        with tr:
            tr.op = name
            before = tr.metrics()
            t0 = time.perf_counter()
            parts, _ = inproc()
            traced = time.perf_counter() - t0
            after = tr.metrics()
        delta = {k: after[k] - before[k] for k in after if k != "mspst.ndb.crawls_per_file"}
        delta["mspst.datasource.partitions"] = parts
        layer["mspst.datasource.partitions"] = layer.get("mspst.datasource.partitions", 0) + parts
        sd = SparkDelta(spark)
        sd.start()
        t0 = time.perf_counter()
        res = spark_op()
        spark_wall = time.perf_counter() - t0
        sm = sd.stop()
        sm["spark.arrow_handoff_s"] = max(
            0.0, sm.get("spark.task_run_s", 0.0) - delta["mspst.datasource.read_s"]
        )
        good = bool(check(res))
        if name == "meta_query":
            # the columns= projection must never decode heavy data
            good = good and all(
                delta[f"mspst.messaging.decode.{k}"] == 0
                for k in ("body", "body_html", "recipients", "attachments", "subnodes")
            )
        ok = ok and good
        for k, v in sm.items():
            spark_tot[k] = spark_tot.get(k, 0.0) + v
        overhead += traced - untraced
        untraced_total += untraced
        per_op[name] = {
            "untraced_s": untraced, "traced_s": traced, "overhead_s": traced - untraced,
            "spark_wall_s": spark_wall, "correct": good, "layers": delta, "spark": sm,
        }
    layer.update({k: v for k, v in tr.metrics().items() if k != "mspst.datasource.partitions"})
    layer.update(spark_tot)
    layer["trace.overhead_s"] = overhead
    layer["trace.untraced_s"] = untraced_total
    side = {"per_op": per_op, "self_time": tr.layer_self_times(),
            "spans": tr.spans, "spans_dropped": tr.dropped}
    return layer, side, ok


def traced_sql(spark, sops: SqlOps) -> tuple[dict, dict, bool]:
    """Each SQL builder once, cold, with its status-store delta, then its
    answer checked against the DuckDB oracle; the tracing overhead is the
    time spent reading the status stores."""
    from tracing import SparkDelta

    layer: dict[str, float] = {}
    per_op = {}
    overhead = total = 0.0
    ok = True
    for name, mod in SQL_MIX.items():
        sd = SparkDelta(spark)
        sd.start()
        t0 = time.perf_counter()
        rows, schema = sops.run(name)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        sm = sd.stop()
        collect_s = time.perf_counter() - t1
        good = sops.check(name, rows, schema)
        ok = ok and good
        layer[f"operators.{mod}.{name}.wall_s"] = wall
        for k in OPERATOR_TOTALS:
            layer[f"operators.{k}"] = layer.get(f"operators.{k}", 0.0) + sm.get(f"spark.{k}", 0.0)
        overhead += collect_s
        total += wall
        per_op[name] = {"wall_s": wall, "collect_s": collect_s, "oracle_ok": good, "spark": sm}
    layer["trace.overhead_s"] = overhead
    layer["trace.untraced_s"] = total
    return layer, {"per_op": per_op}, ok


# --------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description="PST reader benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "duckdb_pst_spark")):
        log(f"no duckdb_pst_spark package beside {HERE}; run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    host = host_settings()
    import corpus
    import sqldata

    corpus_root = os.path.join(WORK, "corpus")
    os.makedirs(corpus_root, exist_ok=True)
    report: dict = {"workload": a.workload, "seed": a.seed, "host": host}
    t0 = time.perf_counter()
    corpus_dir, manifest = corpus.ensure_corpus(corpus_root, a.seed)
    report["corpus"] = {k: manifest[k] for k in ("files", "messages", "folders", "bytes")}
    report["input_gen_s"] = time.perf_counter() - t0
    first_pst = os.path.join(corpus_dir, manifest["per_file"][0]["path"])

    setups = []
    spark = None
    for i in range(1 if a.trace else SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        spark, s = setup_once(first_pst)
        setups.append(s)
    report["setup_samples_s"] = setups
    report["versions"] = versions(spark)
    sampler = MemSampler(spark.sparkContext._gateway.proc.pid).start()
    p = PstOps(spark, corpus_dir, manifest)
    ops = [(n, getattr(p, n), getattr(p, f"check_{n}")) for n in PASSES[a.workload]]

    if a.trace:
        sampler.active.set()
        phases = report["phases_s"] = {}
        t0 = time.perf_counter()
        layer, side, ok = traced_pst(spark, p, a.workload)
        phases["trace_pst"] = time.perf_counter() - t0
        if a.workload == "pst_ingest":
            # engine guard: the registered SQL surface, which never enters
            # the PST reader. It rides the traced run with the fewest PST
            # ops, so the two traced runs take about the same time.
            t0 = time.perf_counter()
            sops = SqlOps(spark, sqldata.ensure_tables(corpus_root, a.seed))
            phases["sql_tables"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            sql_layer, side["sql_builders"], sql_ok = traced_sql(spark, sops)
            phases["trace_sql"] = time.perf_counter() - t0
            ok = ok and sql_ok
            for k, v in sql_layer.items():
                layer[k] = layer.get(k, 0.0) + v
        layer["trace.overhead_frac"] = layer["trace.overhead_s"] / max(layer["trace.untraced_s"], 1e-9)
        peak = sampler.stop()
        shutdown(spark)
        names = per_layer_names()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in names}
        side.update({"report": report, "metrics": metrics, "py_peak_pss_mb": peak})
        path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump(side, fh, default=str)
        report["sidecar"] = os.path.relpath(path, ROOT)
        oks = [o["correct"] for o in side["per_op"].values()]
        oks += [o["oracle_ok"] for o in side.get("sql_builders", {}).get("per_op", {}).values()]
        print(json.dumps(report))
        print(json.dumps({"correct": ok, "attempted": len(oks), "failed": oks.count(False),
                          "metrics": metrics}))
        return 0

    # warm-up: each distinct op once, untimed (JIT, first-plan costs)
    t0 = time.perf_counter()
    for name in dict.fromkeys(PASSES[a.workload]):
        getattr(p, name)()
    report["warmup_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    lat, cpu, mem, attempted, failed = timed_loop(ops, a.seconds, sampler)
    report["loop_wall_s"] = time.perf_counter() - t0
    sampler.stop()
    shutdown(spark)

    med = {n: statistics.median(v) for n, v in lat.items()}
    med_cpu = {n: statistics.median(v) for n, v in cpu.items()}
    med_mem = {n: statistics.median(v) for n, v in mem.items()}
    report["ops"] = {
        n: {"median_s": med[n], "tail_s": tail(v)[0], "tail": tail(v)[1], "samples": len(v),
            "cpu_median_s": med_cpu[n], "pss_median_mb": med_mem[n], "wall_samples_s": v,
            "cpu_samples_s": cpu[n], "pss_samples_mb": mem[n]}
        for n, v in lat.items()
    }
    report["failed_frac"] = failed / attempted
    if a.workload == "pst_ingest":
        report["ingest_msgs_per_s"] = manifest["messages"] / med["ingest"]
        out_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p.out_dirs[0]) for f in fs if f.endswith(".parquet")
        )
        report["ingest_bytes_ratio"] = out_bytes / manifest["bytes"]
    report["op_geomean_s"] = geomean(list(med.values()))
    metrics = {
        "setup_s": statistics.median(setups),
        "op_s": sum(med.values()),
        "op_cpu_s": sum(med_cpu.values()),
        "op_cpu_geomean_s": geomean(list(med_cpu.values())),
        "py_peak_pss_mb": max(med_mem.values()),
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

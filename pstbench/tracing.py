"""Per-layer tracing for the benchmark's traced run.

``ReaderTrace`` wraps the PST reader's public layer functions in place
(fsio, ndb, crypt, ltp, messaging, datasource, stats) while it is
installed, and restores them on exit, so untraced runs execute the
original code. Every wrapped call records a span (name, start, end,
parent span, op id); counts are recorded at the same boundaries. Self
time of a layer is its span time minus the time of its child spans.

``SparkDelta`` reads Spark's side of one operation from the status
stores (stages, jobs, SQL plan metrics) as a before/after difference.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict

# (module, owner attribute or None, function name, layer name)
_TARGETS = [
    ("fsio", None, "open_pst", "mspst.fsio.open"),
    ("ndb", "PstFile", "_walk_btree", "mspst.ndb.crawl"),
    ("ndb", "PstFile", "read_data", "mspst.ndb.read_data"),
    ("crypt", None, "permute_decode", "mspst.crypt.decode"),
    ("ltp", "PropertyContext", "__init__", "mspst.ltp.pc"),
    ("ltp", "TableContext", "__init__", "mspst.ltp.tc"),
    ("messaging", "PstArchive", "message_row", "mspst.messaging.row"),
    ("datasource", "PstReader", "partitions", "mspst.datasource.plan"),
    ("stats", None, "pst_count", "mspst.stats.count"),
]
DECODE_KEYS = ("body", "body_html", "recipients", "attachments", "subnodes")
MAX_SPANS = 50_000


class ReaderTrace:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op)
        self.dropped = 0
        self.time = defaultdict(float)
        self.self_time = defaultdict(float)
        self.calls = defaultdict(int)
        self.bytes = defaultdict(int)
        self.btree_entries = 0
        self.crawled_files: set = set()
        # span stacks are per thread: the planner crawls files on a pool
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = None
        self._next = 0
        self._saved: list[tuple] = []
        self._decode0: dict | None = None
        self._decode_acc = {k: 0 for k in DECODE_KEYS}

    # ------------------------------------------------------------ spans
    @property
    def stack(self) -> list[list]:  # [span id, child time] per open span
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _enter(self) -> tuple[int, float]:
        with self._lock:
            self._next += 1
            sid = self._next
        self.stack.append([sid, 0.0])
        return sid, time.perf_counter()

    def _exit(self, name: str, sid: int, t0: float) -> float:
        t1 = time.perf_counter()
        dur = t1 - t0
        stack = self.stack
        _, child = stack.pop()
        parent = stack[-1][0] if stack else None
        if stack:
            stack[-1][1] += dur
        with self._lock:
            self.time[name] += dur
            self.self_time[name] += dur - child
            self.calls[name] += 1
            if len(self.spans) < MAX_SPANS:
                self.spans.append((sid, name, t0, t1, parent, self.op))
            else:
                self.dropped += 1
        return dur

    def _wrap(self, fn, name: str):
        trace = self

        if name == "mspst.ndb.crawl":

            def crawl(pst, ib, ptype, out, _seen=None):
                if _seen is not None:  # inner page of one walk
                    return fn(pst, ib, ptype, out, _seen)
                sid, t0 = trace._enter()
                try:
                    return fn(pst, ib, ptype, out, _seen)
                finally:
                    trace._exit(name, sid, t0)
                    with trace._lock:
                        trace.btree_entries += len(out)
                        trace.crawled_files.add(pst.path)

            return crawl

        if name == "mspst.ndb.read_data":

            def read_data(pst, bid, _depth=0):
                if _depth:
                    return fn(pst, bid, _depth)
                sid, t0 = trace._enter()
                out = []
                try:
                    out = fn(pst, bid, _depth)
                    return out
                finally:
                    trace._exit(name, sid, t0)
                    with trace._lock:
                        trace.bytes[name] += sum(len(b) for b in out)

            return read_data

        if name == "mspst.crypt.decode":

            def decode(data):
                sid, t0 = trace._enter()
                try:
                    return fn(data)
                finally:
                    trace._exit(name, sid, t0)
                    with trace._lock:
                        trace.bytes[name] += len(data)

            return decode

        def wrapped(*a, **kw):
            sid, t0 = trace._enter()
            try:
                return fn(*a, **kw)
            finally:
                trace._exit(name, sid, t0)

        return wrapped

    # ---------------------------------------------------------- install
    def __enter__(self) -> "ReaderTrace":
        import importlib

        from duckdb_pst_spark.sources.mspst import messaging

        for mod_name, owner, attr, name in _TARGETS:
            mod = importlib.import_module(f"duckdb_pst_spark.sources.mspst.{mod_name}")
            holder = getattr(mod, owner) if owner else mod
            orig = holder.__dict__[attr]
            self._saved.append((holder, attr, orig))
            setattr(holder, attr, self._wrap(orig, name))
        # PstReader.read is a generator: time only the steps inside it
        from duckdb_pst_spark.sources.mspst.datasource import PstReader

        orig_read = PstReader.__dict__["read"]
        self._saved.append((PstReader, "read", orig_read))
        trace = self

        def read(reader, partition):
            it = orig_read(reader, partition)
            while True:
                sid, t0 = trace._enter()
                try:
                    row = next(it)
                except StopIteration:
                    trace._exit("mspst.datasource.read", sid, t0)
                    return
                trace._exit("mspst.datasource.read", sid, t0)
                yield row

        PstReader.read = read
        self._decode0 = dict(messaging.DECODE_STATS)
        return self

    def __exit__(self, *exc) -> None:
        for holder, attr, orig in reversed(self._saved):
            setattr(holder, attr, orig)
        self._saved.clear()
        for k, v in self._live_decode().items():
            self._decode_acc[k] += v
        self._decode0 = None

    def _live_decode(self) -> dict[str, int]:
        from duckdb_pst_spark.sources.mspst import messaging

        if self._decode0 is None:
            return {k: 0 for k in DECODE_KEYS}
        return {k: messaging.DECODE_STATS[k] - self._decode0[k] for k in DECODE_KEYS}

    def decode_stats(self) -> dict[str, int]:
        """DECODE_STATS increments made while the trace was installed."""
        live = self._live_decode()
        return {k: self._decode_acc[k] + live[k] for k in DECODE_KEYS}

    def metrics(self) -> dict[str, float]:
        """Per-layer numbers for everything traced so far."""
        t, c = self.time, self.calls
        files = max(1, len(self.crawled_files))
        m = {
            "mspst.fsio.open_calls": c["mspst.fsio.open"],
            "mspst.fsio.open_s": t["mspst.fsio.open"],
            "mspst.ndb.crawl_s": t["mspst.ndb.crawl"],
            "mspst.ndb.btree_entries": self.btree_entries,
            "mspst.ndb.crawls_per_file": c["mspst.ndb.crawl"] / files if c["mspst.ndb.crawl"] else 0,
            "mspst.ndb.read_data_calls": c["mspst.ndb.read_data"],
            "mspst.ndb.read_data_s": self.self_time["mspst.ndb.read_data"],
            "mspst.ndb.bytes_read": self.bytes["mspst.ndb.read_data"],
            "mspst.crypt.decode_bytes": self.bytes["mspst.crypt.decode"],
            "mspst.crypt.decode_s": t["mspst.crypt.decode"],
            "mspst.ltp.pc_built": c["mspst.ltp.pc"],
            "mspst.ltp.pc_s": self.self_time["mspst.ltp.pc"],
            "mspst.ltp.tc_built": c["mspst.ltp.tc"],
            "mspst.ltp.tc_s": self.self_time["mspst.ltp.tc"],
            "mspst.messaging.rows": c["mspst.messaging.row"],
            "mspst.messaging.row_self_s": self.self_time["mspst.messaging.row"],
            "mspst.datasource.plan_s": t["mspst.datasource.plan"],
            "mspst.datasource.read_s": t["mspst.datasource.read"],
            "mspst.stats.count_s": t["mspst.stats.count"],
        }
        for k, v in self.decode_stats().items():
            m[f"mspst.messaging.decode.{k}"] = v
        return m

    def layer_self_times(self) -> dict[str, float]:
        return dict(self.self_time)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(s: str) -> float:
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", s.splitlines()[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkDelta:
    """Spark-side totals of the jobs, stages and SQL executions started
    between ``start()`` and ``stop()``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _stages(self):
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        return self.store.stageList(
            jvm.java.util.ArrayList(), False, False, no_quantiles, jvm.java.util.ArrayList()
        )

    def _snapshot(self) -> tuple[set, int, int]:
        st = self._stages()
        ids = {(st.apply(i).stageId(), st.apply(i).attemptId()) for i in range(st.size())}
        return ids, self.store.jobsList(self.sc._jvm.java.util.ArrayList()).size(), \
            self.sql_store.executionsList().size()

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status stores hold the operation's jobs and stages."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def start(self) -> None:
        self._drain()
        self._before = self._snapshot()

    def stop(self) -> dict[str, float]:
        self._drain()
        stages0, jobs0, execs0 = self._before
        st = self._stages()
        m = defaultdict(float)
        for i in range(st.size()):
            s = st.apply(i)
            if (s.stageId(), s.attemptId()) in stages0:
                continue
            m["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["spark.task_run_s"] += s.executorRunTime() / 1000.0
            m["spark.output_bytes"] += s.outputBytes()
            m["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spark.shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000.0
            m["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["spark.scan_bytes"] += s.inputBytes()
        m["spark.jobs"] = self.store.jobsList(self.sc._jvm.java.util.ArrayList()).size() - jobs0
        execs = self.sql_store.executionsList()
        for k in range(execs0, execs.size()):
            eid = execs.apply(k).executionId()
            mvals = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                n = nodes.apply(i)
                ms = n.metrics()
                for j in range(ms.size()):
                    mm = ms.apply(j)
                    v = mvals.get(mm.accumulatorId())
                    if v.isEmpty():
                        continue
                    if n.name() == "BroadcastExchange" and mm.name() == "data size":
                        m["spark.broadcast_bytes"] += _parse_size(v.get())
                    elif mm.name() == "data returned from Python workers":
                        m["spark.python_bytes_out"] += _parse_size(v.get())
        return dict(m)


SPARK_KEYS = (
    "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.python_bytes_out",
    "spark.arrow_handoff_s", "spark.output_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s", "spark.spill_bytes", "spark.broadcast_bytes",
    "spark.scan_bytes",
)

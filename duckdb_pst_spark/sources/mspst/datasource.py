"""PySpark Python DataSource for binary PST files:
``spark.read.format("pst").option("table", "messages").load(glob)``.

Maps the reference's scan architecture onto the DataSource API
(/root/reference/src/table_function.cpp):

- glob expansion at plan time (A1, table_function.cpp:48-61)
- one InputPartition per file (A3/A4 partition planning — a PST file is
  the natural parallel unit; node-range splits within a file are a
  follow-up, matching the reference's ``partition_size`` buckets)
- per-task ``PstArchive`` instance — the non-thread-safe-handle rule
  (A10, function_state.cpp:59-71)
- named scan parameters (A21): ``read_body_size_bytes``,
  ``read_attachment_body``, ``read_limit``
- class filter applied at planning, before ``read_limit`` (A5); the
  ``columns`` option prunes the decode (A7)
"""

from __future__ import annotations

import itertools
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ShortType,
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

_META = [
    StructField("pst_path", StringType()),
    StructField("pst_name", StringType()),
    StructField("record_key", BinaryType()),
    StructField("node_id", LongType()),
    StructField("parent_node_id", LongType()),
]

FOLDER_SCHEMA = StructType(
    _META
    + [
        StructField("container_class", StringType()),
        StructField("display_name", StringType()),
        StructField("subfolder_count", LongType()),
        StructField("message_count", LongType()),
        StructField("unread_message_count", LongType()),
    ]
)

_RECIPIENT = StructType(
    [
        StructField("display_name", StringType()),
        StructField("account_name", StringType()),
        StructField("email_address", StringType()),
        StructField("address_type", StringType()),
        StructField("recipient_type", StringType()),
        StructField("recipient_type_raw", IntegerType()),
    ]
)
_ATTACHMENT = StructType(
    [
        StructField("filename", StringType()),
        StructField("mime_type", StringType()),
        StructField("size", LongType()),
        StructField("attach_content_id", StringType()),
        StructField("attach_method", StringType()),
        StructField("is_message", BooleanType()),
        StructField("bytes", BinaryType()),
    ]
)

MESSAGE_SCHEMA = StructType(
    _META
    + [
        StructField("subject", StringType()),
        StructField("body", StringType()),
        StructField("body_html", StringType()),
        StructField("display_name", StringType()),
        StructField("comment", StringType()),
        StructField("sender_name", StringType()),
        StructField("sender_email_address", StringType()),
        StructField("recipients", ArrayType(_RECIPIENT)),
        StructField("has_attachments", BooleanType()),
        StructField("attachment_count", LongType()),
        StructField("attachments", ArrayType(_ATTACHMENT)),
        StructField("importance", StringType()),
        StructField("priority", StringType()),
        StructField("sensitivity", StringType()),
        StructField("creation_time", TimestampNTZType()),
        StructField("last_modified", TimestampNTZType()),
        StructField("message_delivery_time", TimestampNTZType()),
        StructField("message_class", StringType()),
        StructField("message_flags", IntegerType()),
        StructField("message_size", LongType()),
        StructField("conversation_topic", StringType()),
        StructField("internet_message_id", StringType()),
    ]
)

# subtype blocks appended to MESSAGE_SCHEMA — the reference's
# schema-inheritance-by-concatenation (schema.hpp:254-260)
# contact block: the reference's 78 columns in schema.hpp:175-260 order,
# plus email_address_1 (an extension — resolved from the named prop
# PidLidEmail1EmailAddress, which the reference schema does not expose)
_CONTACT_STR_COLS_1 = [
    "display_name_prefix", "given_name", "middle_name", "surname",
    "generation_suffix", "initials", "nickname", "preferred_by_name",
    "account_name", "original_display_name", "transmittable_display_name",
    "mhs_common_name", "government_id_number", "organizational_id_number",
]
_CONTACT_STR_COLS_2 = [
    "spouse_name", "childrens_names",
]
_CONTACT_STR_COLS_3 = [
    "hobbies", "profession", "language", "location", "keyword",
    "company_name", "title", "department_name", "office_location",
    "manager_name", "assistant", "customer_id", "primary_telephone",
    "business_telephone", "business_telephone_2", "home_telephone",
    "home_telephone_2", "mobile_telephone", "car_telephone",
    "radio_telephone", "pager_telephone", "callback_number",
    "other_telephone", "assistant_telephone", "company_main_phone",
    "ttytdd_phone", "isdn_number", "telex_number", "primary_fax",
    "business_fax", "home_fax",
    "business_address_street", "business_address_city",
    "business_address_state", "business_postal_code",
    "business_address_country", "business_po_box",
    "home_address_street", "home_address_city", "home_address_state",
    "home_address_postal_code", "home_address_country", "home_address_po_box",
    "other_address_street", "other_address_city", "other_address_state",
    "other_address_postal_code", "other_address_country", "other_address_po_box",
    "postal_address", "personal_home_page", "business_home_page",
    "ftp_site", "computer_network_name",
]
_CONTACT_BOOL_COLS = [
    "mail_permission", "send_rich_info", "conversation_prohibited",
    "disclose_recipients",
]

_EXTRAS = {
    "contacts": (
        [StructField(c, StringType()) for c in _CONTACT_STR_COLS_1]
        + [
            StructField("birthday", TimestampNTZType()),
            StructField("wedding_anniversary", TimestampNTZType()),
        ]
        + [StructField(c, StringType()) for c in _CONTACT_STR_COLS_2]
        + [StructField("gender", ShortType())]
        + [StructField(c, StringType()) for c in _CONTACT_STR_COLS_3]
        + [StructField(c, BooleanType()) for c in _CONTACT_BOOL_COLS]
        + [StructField("email_address_1", StringType())]
    ),
    # APPOINTMENT_CHILDREN order (schema.hpp:263-278)
    "appointments": [
        StructField("location", StringType()),
        StructField("start_time", TimestampNTZType()),
        StructField("end_time", TimestampNTZType()),
        StructField("duration", IntegerType()),
        StructField("all_day_event", BooleanType()),
        StructField("is_meeting", BooleanType()),
        StructField("organizer_name", StringType()),
        StructField("required_attendees", StringType()),
        StructField("optional_attendees", StringType()),
        StructField("meeting_workspace_url", StringType()),
        StructField("busy_status", IntegerType()),
        StructField("response_status", IntegerType()),
        StructField("is_recurring", BooleanType()),
        StructField("recurrence_pattern", StringType()),
        StructField("is_private", BooleanType()),
    ],
    "sticky_notes": [
        StructField("note_color", IntegerType()),
        StructField("note_width", IntegerType()),
        StructField("note_height", IntegerType()),
        StructField("note_x", IntegerType()),
        StructField("note_y", IntegerType()),
    ],
    # TASK_CHILDREN order (schema.hpp:307-330)
    "tasks": [
        StructField("task_status", IntegerType()),
        StructField("is_complete", BooleanType()),
        StructField("percent_complete", DoubleType()),
        StructField("start_date", TimestampNTZType()),
        StructField("due_date", TimestampNTZType()),
        StructField("date_completed", TimestampNTZType()),
        StructField("last_update", TimestampNTZType()),
        StructField("estimated_effort", IntegerType()),
        StructField("actual_effort", IntegerType()),
        StructField("task_owner", StringType()),
        StructField("task_assigner", StringType()),
        StructField("ownership", IntegerType()),
        StructField("last_user", StringType()),
        StructField("is_team_task", BooleanType()),
        StructField("is_recurring", BooleanType()),
    ],
    "distribution_lists": [
        StructField("member_node_ids", ArrayType(LongType())),
        StructField(
            "one_off_members",
            ArrayType(
                StructType(
                    [
                        StructField("display_name", StringType()),
                        StructField("address_type", StringType()),
                        StructField("email_address", StringType()),
                    ]
                )
            ),
        ),
    ],
}


def table_schema(table: str) -> StructType:
    if table == "folders":
        return FOLDER_SCHEMA
    return StructType(MESSAGE_SCHEMA.fields + _EXTRAS.get(table, []))


CLASS_FILTER = {
    "notes": "IPM.Note",
    "contacts": "IPM.Contact",
    "appointments": "IPM.Appointment",
    "sticky_notes": "IPM.StickyNote",
    "tasks": "IPM.Task",
    "distribution_lists": "IPM.DistList",
}


class PstDataSource(DataSource):
    """format("pst") — options: table (folders|messages|notes|contacts|
    appointments|sticky_notes|tasks|distribution_lists),
    read_body_size_bytes, read_attachment_body, read_limit, columns.

    ``columns`` (comma-separated) is the A7 projection pushdown: the
    Python DataSource API has no column-pruning hook (Catalyst prunes
    ABOVE the Python reader), so without it the reader would decode
    every schema column and hand Catalyst data it throws away. With
    ``columns``, the scan schema is the requested subset and the binary
    reader never fetches unprojected bodies/recipients/attachments from
    the file — the reference's behavior (row_serializer.cpp:1214-1216
    serializes only projected columns)."""

    @classmethod
    def name(cls) -> str:
        return "pst"

    def schema(self):
        full = table_schema(self.options.get("table", "messages"))
        cols = self.options.get("columns")
        if not cols:
            return full
        want = [c.strip() for c in cols.split(",") if c.strip()]
        by_name = {f.name: f for f in full.fields}
        unknown = [c for c in want if c not in by_name]
        if unknown:
            raise ValueError(
                f"pst: unknown columns {unknown} for table "
                f"{self.options.get('table', 'messages')!r}"
            )
        return StructType([by_name[c] for c in want])

    def reader(self, schema: StructType) -> "PstReader":
        return PstReader(self.options, schema)

    def streamReader(self, schema: StructType) -> "PstStreamReader":
        return PstStreamReader(self.options, schema)


class PstReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        self.table = options.get("table", "messages")
        self.read_body_size_bytes = int(options.get("read_body_size_bytes", 1_000_000))
        self.read_attachment_body = str(
            options.get("read_attachment_body", "false")
        ).lower() in ("true", "1")
        self.read_limit = options.get("read_limit")
        # rows per scan partition — reference default 2*2048
        # (table_function.hpp:29-30)
        self.options_partition_size = options.get("partition_size", "4096")
        self.schema = schema
        self.fields = [f.name for f in schema.fields]
        # A7: with a `columns` projection the schema IS the subset —
        # thread it into the row decode so unprojected columns are never
        # fetched from the file. None = full-schema scan, decode all.
        self.columns = frozenset(self.fields) if options.get("columns") else None

    def partitions(self):
        """Bind-time planning (A3/A4, table_function.cpp:191-239): crawl
        each file's NBT on the driver and bucket message node-ids into
        partitions of ``partition_size`` (reference default 4096,
        table_function.hpp:29-30) — one Spark task per bucket, with the
        node list carried in the partition like the reference's
        ``PSTInputPartition.nodes``. Typed tables keep only the nids whose
        message class matches (A5, table_function.cpp:133-175), so
        ``read_limit`` counts rows of the table. Folders stay one
        partition per file (16-ish rows). With ``read_limit``, planning
        stops once enough nodes are covered (A6: the crawl itself is cut
        short). Paths may be local globs or remote URLs — http(s) range
        reads / pyarrow filesystems (A2, duckdb_filesystem.cpp:12-36)."""
        from duckdb_pst_spark.sources.mspst.fsio import expand_paths

        files = expand_paths(self.path) if self.path else []
        if not files:
            return [InputPartition(((None, None),))]
        psize = int(self.options_partition_size)
        limit = int(self.read_limit) if self.read_limit is not None else None
        want = CLASS_FILTER.get(self.table)

        def plan_one(f, need=None):
            """(file, message nids | None-for-folders), or None when the
            file is unreadable — A18 error tolerance
            (table_function.cpp:228-235): logged and skipped, not fatal.
            ``need`` caps a typed table's class probe at that many hits."""
            from duckdb_pst_spark.sources.mspst.messaging import class_nids
            from duckdb_pst_spark.sources.mspst.ndb import PstFile, nid_type

            try:
                with PstFile(f) as p:
                    if self.table == "folders":
                        # probe the full NBT crawl so an unreadable or
                        # truncated file is dropped at plan time
                        for _ in p.nbt:
                            pass
                        return (f, None)
                    nids = sorted(n for n in p.nbt if nid_type(n) == 0x04)
                    if want is not None:
                        nids = class_nids(p, nids, want, need)
                    return (f, nids)
            except Exception as exc:
                print(f"pst: skipping unreadable file {f}: {exc}", file=sys.stderr)
                return None

        if limit is None and len(files) > 1:
            # A3 parallel planning (one std::async task per file,
            # table_function.cpp:214-239): the crawl is a handful of
            # ranged reads per file, so on object storage it is
            # IO-latency-bound — a thread pool overlaps the latencies.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(32, len(files))) as ex:
                planned_files = [r for r in ex.map(plan_one, files) if r is not None]
        else:
            # A6: read_limit stops the crawl as soon as enough rows are
            # planned — serial keeps the early stop exact.
            planned_files = []
            seen = 0
            for f in files:
                r = plan_one(f, None if limit is None else limit - seen)
                if r is None:
                    continue
                planned_files.append(r)
                if r[1] is not None:
                    seen += len(r[1])
                    if limit is not None and seen >= limit:
                        break

        # A4 bucketing, with small files PACKED into shared partitions: a
        # Python DataSource task costs ~tens of ms to launch, so one task
        # per tiny archive (e.g. 167 fixture files x 12 rows) drowns in
        # startup overhead. Each partition is a tuple of (file, nids)
        # entries — flushed when it reaches partition_size rows OR the
        # per-partition file cap (sized so task count stays ~3x cores for
        # full parallelism). Big files still split at psize rows exactly
        # as the reference does; one handle per entry per task (A10).
        import math
        import os as _os

        target_tasks = 3 * (_os.cpu_count() or 8)
        max_files = max(1, math.ceil(len(planned_files) / target_tasks))
        out = []
        planned = 0
        entries: list = []
        entry_rows = 0

        def flush():
            nonlocal entries, entry_rows
            if entries:
                out.append(InputPartition(tuple(entries)))
                entries, entry_rows = [], 0

        EST_FOLDER_ROWS = 16
        for f, nids in planned_files:
            if nids is None:  # folders: whole file is one entry
                entries.append((f, None))
                entry_rows += EST_FOLDER_ROWS
                if entry_rows >= psize or len(entries) >= max_files:
                    flush()
                continue
            if limit is not None:
                nids = nids[: max(limit - planned, 0)]
            planned += len(nids)
            i = 0
            while len(nids) - i >= psize:  # full buckets: standalone
                flush()
                out.append(InputPartition(((f, nids[i : i + psize]),)))
                i += psize
            rest = nids[i:]
            if rest:
                entries.append((f, rest))
                entry_rows += len(rest)
                if entry_rows >= psize or len(entries) >= max_files:
                    flush()
            if limit is not None and planned >= limit:
                break
        flush()
        return out or [InputPartition(((None, None),))]

    def read(self, partition):
        # One task reads a pack of (file, nids) entries sequentially —
        # amortizes the Python-worker launch across small files; each
        # entry still gets its own archive handle (A10, never shared).
        for entry in partition.value:
            yield from self._read_entry(entry)

    def _read_entry(self, entry):
        """Rows of one planned (file, nids) entry. Planning already
        applied the class filter and ``read_limit`` to message nids;
        folders are capped here, per file."""
        path, nids = entry
        if path is None:
            return
        from duckdb_pst_spark.sources.mspst.messaging import PstArchive

        try:
            a = PstArchive(path)  # per-task handle (A10)
        except Exception as exc:
            # A18: a file that passed planning but fails to open at task
            # time (racing truncation, transient IO) is logged and skipped.
            print(f"pst: skipping unreadable file {path}: {exc}", file=sys.stderr)
            return
        try:
            meta = {
                "pst_path": path,
                "pst_name": a.display_name,
                "record_key": a.record_key,
            }
            if self.table == "folders":
                limit = int(self.read_limit) if self.read_limit is not None else None
                rows = itertools.islice(a.folders(), limit)
            else:
                rows = []
                for nid in nids or []:
                    # A18 error tolerance (row_serializer.cpp:1252-1263):
                    # a node that fails to parse is logged and skipped;
                    # the scan keeps going (PERMISSIVE-reader semantics).
                    try:
                        rows.append(
                            a.message_row(
                                nid,
                                read_body_size_bytes=self.read_body_size_bytes,
                                read_attachment_body=self.read_attachment_body,
                                columns=self.columns,
                            )
                        )
                    except Exception as exc:
                        print(
                            f"pst: skipping unparseable node {nid} in {path}: {exc}",
                            file=sys.stderr,
                        )
            for r in rows:
                full = {**meta, **r}
                yield tuple(_tupleize(full.get(f)) for f in self.fields)
        finally:
            a.close()


class PstStreamReader(DataSourceStreamReader):
    """Streaming PST ingest: ``spark.readStream.format("pst")`` watches a
    glob and emits each newly arrived archive's rows as a microbatch.

    The reference is batch-only; this is the Spark-native extension of
    its scan layer to continuous archive ingest (mailbox exports landing
    in object storage). Offsets are the sorted set of files already
    ingested — the same compacted-file-log design as Spark's own
    FileStreamSource — so recovery from a checkpoint replans exactly the
    unseen files. Each microbatch runs the unchanged batch planner over
    the new files (node buckets A3/A4, error tolerance A18) and the
    unchanged batch reader per task: one code path for batch and stream.

    ``read_limit`` is a bind-time cap in the reference (A6) and is not
    meaningful under continuous ingest; it applies per planned file here.
    """

    def __init__(self, options, schema: StructType):
        self._options = dict(options)
        self._schema = schema
        self._batch = PstReader(options, schema)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        from duckdb_pst_spark.sources.mspst.fsio import expand_paths

        files = expand_paths(self._batch.path) if self._batch.path else []
        return {"seen": sorted(files)}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["seen"]) - set(start["seen"]))
        parts = []
        for f in new:
            per_file = PstReader({**self._options, "path": f}, self._schema)
            parts.extend(p for p in per_file.partitions() if p.value[0][0] is not None)
        return parts or [InputPartition(((None, None),))]

    def read(self, partition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — offsets are self-contained


def _tupleize(v):
    if isinstance(v, list):
        return [_tupleize(x) for x in v]
    if isinstance(v, dict):
        return tuple(_tupleize(x) for x in v.values())
    return v


def register(spark) -> None:
    """Make ``spark.read.format("pst")`` available on this session."""
    spark.dataSource.register(PstDataSource)

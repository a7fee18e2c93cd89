"""Deterministic Enron-shaped PST corpus generator.

Writes Unicode (wVer 23) archives with ``NDB_CRYPT_PERMUTE`` from the
[MS-PST] specification text, plus ``manifest.json`` holding the ground
truth every benchmark answer check compares against.

Layout written (spec sections in brackets):

- HEADER with ROOT, both CRCs, bidNextB/bidNextP [§2.2.2.6]; AMap/PMap
  pages are not written and ``fAMapValid`` is 0 (INVALID_AMAP), which
  the spec allows and which tells a writer to rebuild them.
- Blocks: data padded to 64 bytes plus BLOCKTRAILER {cb, wSig, dwCRC,
  bid} [§2.2.2.8]; external blocks permute-encoded, internal ones plain.
- XBLOCK/XXBLOCK data trees for values over one block [§2.2.2.8.3.2].
- SLBLOCK/SIBLOCK subnode trees holding the recipient TC, the
  attachment TC, the attachment PCs and every large value
  [§2.2.2.8.3.3].
- Multi-level NBT/BBT BTPAGEs with PAGETRAILER [§2.2.2.7].
- HN (multi-block, HNPAGEHDR/HNBITMAPHDR), BTH, PC and TC [§2.3].
- All strings PT_UNICODE; message class IPM.Note everywhere.

Folder hierarchy/contents tables are not written: the reader derives
the folder tree from NBT parent links.

The only import from the reader is ``crypt.DECODE_TABLE``; the writer
encodes with its inverse. Every other constant is restated from the
spec here, so the writer and the reader encode the format independently.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import multiprocessing as mp
import os
import random
import shutil
import struct
import sys
import zlib
from concurrent.futures import ProcessPoolExecutor

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from duckdb_pst_spark.sources.mspst.crypt import DECODE_TABLE  # noqa: E402

_ENCODE = bytes(DECODE_TABLE.index(i) for i in range(256))

# Corpus shape: the cache key together with the seed. Everything that
# sets the amount of work -- message and folder counts per file, body
# lengths, HTML bodies, recipient and attachment counts, attachment sizes
# -- is drawn from the shape alone, so runs on different seeds do the same
# work; the seed draws the contents (text, names, dates, bytes).
#
# Sources. partition_size is the reference's default of 4096 rows per
# scan task (BASELINE.md) scaled down by 4 with the corpus, so that one
# file still splits across tasks while the rest are packed together; the
# benchmark passes it to every scan as the reader's ``partition_size``
# option.
# bytes_per_message is BASELINE.md's Enron corpus, 72.1 GiB over 1,167,830
# messages; attach_median_bytes is set so the generated corpus averages
# that many file bytes per message (test_corpus checks it within 15 %).
# Every other value is an unverified assumption about Enron mail, not a
# measurement: file-size skew, folder counts and depth, recipient counts,
# the share of messages with attachments or an HTML body, and the body
# length distribution.
SHAPE = {
    "partition_size": 1024,  # rows per scan task (the reader's default / 4)
    "bytes_per_message": 66_290,
    "files": 8,
    "big_files": 1,  # a file over partition_size; it splits across tasks
    "big_msgs": (1100, 1250),
    "small_msgs_median": 80,
    "small_msgs_max": 600,
    "folders": (8, 40),
    "folder_depth": 3,
    "recipients": (1, 10),
    "attach_frac": 0.12,
    "attach_median_bytes": 136_000,
    "attach_max_bytes": 6_000_000,
    "html_frac": 0.3,
    "body_median_chars": 900,
    "body_max_chars": 60_000,
}
SHAPE_VERSION = 5
GEN_WORKERS = 4
CACHE_KEEP = 2  # corpora kept on disk (each ≈ 330 MB)

# --------------------------------------------------------------- NDB spec
PAGE = 512
BLOCK_MAX = 8192
BLOCK_DATA_MAX = BLOCK_MAX - 16  # minus BLOCKTRAILER
HN_ITEM_MAX = 3580  # larger values live in subnodes [§2.3.3.3]
NBT_ENT, BBT_ENT, BT_ENT = 32, 24, 24  # Unicode entry sizes
PAGE_ENTRIES_BYTES = 488
PTYPE_BBT, PTYPE_NBT = 0x80, 0x81
DATA_START = 0x4400 + PAGE  # first AMap slot left zeroed

NID_MESSAGE_STORE = 0x21
NID_ROOT_FOLDER = 0x122
NID_ATTACHMENT_TABLE = 0x671
NID_RECIPIENT_TABLE = 0x692
NT_FOLDER, NT_MESSAGE, NT_ATTACHMENT, NT_LTP = 0x02, 0x04, 0x05, 0x1F

PT_LONG, PT_BOOLEAN, PT_UNICODE, PT_SYSTIME, PT_BINARY = 0x3, 0xB, 0x1F, 0x40, 0x102

_FILETIME_EPOCH = dt.datetime(1601, 1, 1)


def _crc(data: bytes) -> int:
    """[MS-PST] §5.3 CRC: the CRC-32 table with initial value 0 and no
    final inversion — zlib's CRC with both inversions undone."""
    return zlib.crc32(data, 0xFFFFFFFF) ^ 0xFFFFFFFF


def _sig(ib: int, bid: int) -> int:
    """ComputeSig [§5.5]."""
    v = (ib ^ bid) & 0xFFFFFFFFFFFFFFFF
    return ((v >> 16) ^ v) & 0xFFFF


def _filetime(t: dt.datetime) -> bytes:
    return struct.pack("<Q", int((t - _FILETIME_EPOCH).total_seconds()) * 10**7)


class _Writer:
    """Append-only NDB writer: blocks, then NBT and BBT pages, then header."""

    def __init__(self) -> None:
        self.chunks: list[bytes] = []
        self.off = DATA_START
        self.next_b = 1  # bid index; bid = index * 4 (+2 internal)
        self.next_p = 1
        self.bbt: list[tuple[int, int, int]] = []  # (bid, ib, cb)
        self.nbt: list[tuple[int, int, int, int]] = []  # nid, data, sub, parent

    def _emit(self, raw: bytes) -> int:
        ib = self.off
        self.chunks.append(raw)
        self.off += len(raw)
        return ib

    def block(self, data: bytes, internal: bool = False) -> int:
        assert len(data) <= BLOCK_DATA_MAX
        bid = self.next_b * 4 + (2 if internal else 0)
        self.next_b += 1
        stored = data if internal else data.translate(_ENCODE)
        cb = len(stored)
        total = (cb + 16 + 63) & ~63
        ib = self.off
        trailer = struct.pack("<HHIQ", cb, _sig(ib, bid), _crc(stored), bid)
        self._emit(stored + bytes(total - cb - 16) + trailer)
        self.bbt.append((bid, ib, cb))
        return bid

    def data_tree(self, chunks: list[bytes]) -> int:
        """One external block, or an XBLOCK / XXBLOCK over many."""
        if not chunks:
            chunks = [b""]
        if len(chunks) == 1:
            return self.block(chunks[0])
        total = sum(len(c) for c in chunks)
        bids = [self.block(c) for c in chunks]
        per = (BLOCK_DATA_MAX - 8) // 8
        if len(bids) <= per:
            return self.block(
                struct.pack("<BBHI", 0x01, 1, len(bids), total)
                + struct.pack(f"<{len(bids)}Q", *bids),
                internal=True,
            )
        xs = []
        for i in range(0, len(bids), per):
            part = bids[i : i + per]
            sub_total = sum(len(c) for c in chunks[i : i + per])
            xs.append(
                self.block(
                    struct.pack("<BBHI", 0x01, 1, len(part), sub_total)
                    + struct.pack(f"<{len(part)}Q", *part),
                    internal=True,
                )
            )
        return self.block(
            struct.pack("<BBHI", 0x01, 2, len(xs), total)
            + struct.pack(f"<{len(xs)}Q", *xs),
            internal=True,
        )

    def data(self, payload: bytes) -> int:
        return self.data_tree(
            [payload[i : i + BLOCK_DATA_MAX] for i in range(0, len(payload), BLOCK_DATA_MAX)]
        )

    def subnodes(self, entries: list[tuple[int, int, int]]) -> int:
        """SLBLOCK (or SIBLOCK over SLBLOCKs) for (nid, bidData, bidSub)."""
        if not entries:
            return 0
        entries = sorted(entries)
        per = (BLOCK_DATA_MAX - 8) // 24
        leaves = []
        for i in range(0, len(entries), per):
            part = entries[i : i + per]
            body = struct.pack("<BBHI", 0x02, 0, len(part), 0) + b"".join(
                struct.pack("<QQQ", *e) for e in part
            )
            leaves.append((part[0][0], self.block(body, internal=True)))
        if len(leaves) == 1:
            return leaves[0][1]
        body = struct.pack("<BBHI", 0x02, 1, len(leaves), 0) + b"".join(
            struct.pack("<QQ", nid, bid) for nid, bid in leaves
        )
        return self.block(body, internal=True)

    def node(self, nid: int, bid_data: int, bid_sub: int, parent: int) -> None:
        self.nbt.append((nid, bid_data, bid_sub, parent))

    def _page(self, entries: list[bytes], cb_ent: int, level: int, ptype: int) -> tuple[int, int]:
        # pages are 512-aligned [§2.2.2.7]
        pad = (-self.off) % PAGE
        if pad:
            self._emit(bytes(pad))
        bid = self.next_p * 4
        self.next_p += 1
        ib = self.off
        body = b"".join(entries)
        page = bytearray(PAGE)
        page[: len(body)] = body
        struct.pack_into(
            "<BBBB", page, 488, len(entries), PAGE_ENTRIES_BYTES // cb_ent, cb_ent, level
        )
        crc = _crc(bytes(page[:496]))
        struct.pack_into("<BBHIQ", page, 496, ptype, ptype, _sig(ib, bid), crc, bid)
        self._emit(bytes(page))
        return bid, ib

    def _btree(self, leaf: list[tuple[int, bytes]], cb_ent: int, ptype: int) -> tuple[int, int]:
        """Multi-level BTree; ``leaf`` is sorted (key, entry bytes)."""
        level = 0
        rows = leaf
        while True:
            per = PAGE_ENTRIES_BYTES // (cb_ent if level == 0 else BT_ENT)
            pages = []
            for i in range(0, len(rows), per):
                part = rows[i : i + per]
                bref = self._page(
                    [e for _, e in part], cb_ent if level == 0 else BT_ENT, level, ptype
                )
                pages.append((part[0][0], bref))
            if len(pages) == 1:
                return pages[0][1]
            rows = [(k, struct.pack("<QQQ", k, bid, ib)) for k, (bid, ib) in pages]
            level += 1

    def finish(self, path: str) -> int:
        nbt = self._btree(
            [(n, struct.pack("<QQQII", n, d, s, p, 0)) for n, d, s, p in sorted(self.nbt)],
            NBT_ENT,
            PTYPE_NBT,
        )
        bbt = self._btree(
            [(b, struct.pack("<QQHHI", b, ib, cb, 2, 0)) for b, ib, cb in sorted(self.bbt)],
            BBT_ENT,
            PTYPE_BBT,
        )
        eof = self.off
        hdr = bytearray(564)
        hdr[0:4] = b"!BDN"
        hdr[8:10] = b"SM"
        struct.pack_into("<HHBB", hdr, 10, 23, 19, 1, 1)  # wVer, wVerClient, platforms
        struct.pack_into("<Q", hdr, 24, 0)  # bidUnused
        struct.pack_into("<Q", hdr, 32, self.next_p * 4)  # bidNextP
        struct.pack_into("<I", hdr, 40, 1)  # dwUnique
        # ROOT at 180: ibFileEof, ibAMapLast, cbAMapFree, cbPMapFree,
        # BREFNBT, BREFBBT, fAMapValid = 0 (INVALID_AMAP)
        struct.pack_into("<IQQQQQQQQB", hdr, 180, 0, eof, 0x4400, 0, 0, *nbt, *bbt, 0)
        hdr[512] = 0x80  # bSentinel
        hdr[513] = 1  # bCryptMethod = NDB_CRYPT_PERMUTE
        struct.pack_into("<Q", hdr, 516, self.next_b * 4)  # bidNextB
        struct.pack_into("<I", hdr, 4, _crc(bytes(hdr[8:8 + 471])))  # dwCRCPartial
        struct.pack_into("<I", hdr, 524, _crc(bytes(hdr[8:8 + 516])))  # dwCRCFull
        with open(path, "wb") as f:
            f.write(hdr)
            f.write(bytes(DATA_START - len(hdr)))
            for c in self.chunks:
                f.write(c)
        return eof


class _Heap:
    """Heap-on-node builder [§2.3.1]; items are placed first-fit into
    8 KiB blocks in allocation order, so an item's HID is known at once."""

    def __init__(self, w: _Writer, client_sig: int, sub_nid: list[int], subs: list):
        self.w = w
        self.sig = client_sig
        self.blocks: list[list[bytes]] = [[]]
        self.used = [12]
        self._sub_nid = sub_nid  # shared counter for LTP subnode nids
        self.subs = subs  # (nid, bidData, bidSub) of the owning node

    @staticmethod
    def _hdr_size(i: int) -> int:
        if i == 0:
            return 12  # HNHDR
        if i == 8 or (i > 8 and (i - 8) % 128 == 0):
            return 66  # HNBITMAPHDR
        return 2  # HNPAGEHDR

    def item(self, data: bytes) -> int:
        assert len(data) <= HN_ITEM_MAX
        i = len(self.blocks) - 1
        n = len(self.blocks[i])
        # items + HNPAGEMAP (cAlloc, cFree, rgibAlloc[cAlloc+1]), 2-aligned
        need = self.used[i] + len(data) + 1 + 4 + 2 * (n + 2)
        if need > BLOCK_DATA_MAX:
            self.blocks.append([])
            i += 1
            self.used.append(self._hdr_size(i))
            n = 0
        self.blocks[i].append(data)
        self.used[i] += len(data)
        return (i << 16) | ((n + 1) << 5)

    def value(self, data: bytes) -> int:
        """HNID of a variable-size value: heap item, or subnode when large."""
        if len(data) <= HN_ITEM_MAX:
            return self.item(data)
        nid = (self._sub_nid[0] << 5) | NT_LTP
        self._sub_nid[0] += 1
        self.subs.append((nid, self.w.data(data), 0))
        return nid

    def build(self, hid_user_root: int) -> int:
        """Write the heap blocks; returns the node's data bid."""
        out = []
        for i, items in enumerate(self.blocks):
            hdr = self._hdr_size(i)
            allocs = [hdr]
            for it in items:
                allocs.append(allocs[-1] + len(it))
            ib_hnpm = allocs[-1] + (allocs[-1] & 1)
            if i == 0:
                head = struct.pack("<HBBII", ib_hnpm, 0xEC, self.sig, hid_user_root, 0)
            elif hdr == 66:
                head = struct.pack("<H", ib_hnpm) + bytes(64)
            else:
                head = struct.pack("<H", ib_hnpm)
            body = head + b"".join(items)
            if len(body) & 1:
                body += b"\x00"
            body += struct.pack(f"<HH{len(allocs)}H", len(items), 0, *allocs)
            out.append(body)
        return self.w.data_tree(out)


def _bth(heap: _Heap, cb_key: int, cb_ent: int, records: list[bytes]) -> int:
    """BTH [§2.3.2] over sorted fixed-size records; returns the header HID.
    Leaves hold up to HN_ITEM_MAX bytes; index levels are added as needed."""
    rec = cb_key + cb_ent
    if not records:
        return heap.item(struct.pack("<BBBBI", 0xB5, cb_key, cb_ent, 0, 0))
    per = HN_ITEM_MAX // rec
    level = 0
    rows = [(r[:cb_key], r) for r in records]
    while True:
        nodes = []
        for i in range(0, len(rows), per):
            part = rows[i : i + per]
            nodes.append((part[0][0], heap.item(b"".join(r for _, r in part))))
        if len(nodes) == 1:
            return heap.item(struct.pack("<BBBBI", 0xB5, cb_key, cb_ent, level, nodes[0][1]))
        rows = [(k, k + struct.pack("<I", hid)) for k, hid in nodes]
        per = HN_ITEM_MAX // (cb_key + 4)
        level += 1


def _encode(heap: _Heap, ptype: int, value) -> int:
    if ptype == PT_LONG:
        return value & 0xFFFFFFFF
    if ptype == PT_BOOLEAN:
        return 1 if value else 0
    if ptype == PT_UNICODE:
        return heap.value(value.encode("utf-16-le"))
    if ptype == PT_SYSTIME:
        return heap.value(_filetime(value))
    if ptype == PT_BINARY:
        return heap.value(bytes(value))
    raise ValueError(f"unsupported property type {ptype:#x}")


def _pc(w: _Writer, props: dict[int, tuple[int, object]], subs: list, sub_nid: list[int]) -> int:
    """Property Context [§2.3.3]: BTH(cbKey 2, cbEnt 6). Returns data bid;
    large values are appended to ``subs``."""
    heap = _Heap(w, 0xBC, sub_nid, subs)
    recs = []
    for pid in sorted(props):
        ptype, val = props[pid]
        if val is None:
            continue
        recs.append(struct.pack("<HHI", pid, ptype, _encode(heap, ptype, val)))
    root = _bth(heap, 2, 6, recs)
    return heap.build(root)


def _tc(
    w: _Writer,
    columns: list[tuple[int, int]],
    rows: list[tuple[int, dict]],
    subs: list,
    sub_nid: list[int],
) -> int:
    """Table Context [§2.3.4]. ``columns`` are (propid, ptype), all cells
    4 bytes wide after the mandatory LtpRowId/LtpRowVer pair; the row
    matrix goes to a subnode when it outgrows one heap item."""
    cols = [(0x67F2, PT_LONG), (0x67F3, PT_LONG)] + columns
    n = len(cols)
    end_4b = 4 * n
    width = end_4b + (n + 7) // 8
    heap = _Heap(w, 0x7C, sub_nid, subs)
    matrix = []
    for row_id, vals in rows:
        cells = [row_id, 0]
        ceb = bytearray((n + 7) // 8)
        ceb[0] |= 0xC0
        for i, (pid, ptype) in enumerate(columns, start=2):
            v = vals.get(pid)
            if v is None:
                cells.append(0)
                continue
            cells.append(_encode(heap, ptype, v))
            ceb[i // 8] |= 1 << (7 - i % 8)
        matrix.append(struct.pack(f"<{n}I", *cells) + bytes(ceb))
    index = [struct.pack("<II", rid, i) for rid, i in sorted((rid, i) for i, (rid, _) in enumerate(rows))]
    hid_index = _bth(heap, 4, 4, index)
    if not matrix:
        hnid_rows = 0
    elif len(matrix) * width <= HN_ITEM_MAX:
        hnid_rows = heap.item(b"".join(matrix))
    else:  # rows never straddle a block [§2.3.4.4]
        per = BLOCK_DATA_MAX // width
        chunks = [b"".join(matrix[i : i + per]) for i in range(0, len(matrix), per)]
        hnid_rows = (sub_nid[0] << 5) | NT_LTP
        sub_nid[0] += 1
        subs.append((hnid_rows, w.data_tree(chunks), 0))
    info = struct.pack("<BB4HIII", 0x7C, n, end_4b, end_4b, end_4b, width, hid_index, hnid_rows, 0)
    # TCOLDESCs are listed in ascending tag order; layout stays as built
    for tag, i in sorted(((pid << 16) | ptype, i) for i, (pid, ptype) in enumerate(cols)):
        info += struct.pack("<IHBB", tag, 4 * i, 4, i)
    return heap.build(heap.item(info))


# ------------------------------------------------------------ corpus model

_SYL = ["ka", "lo", "mi", "ne", "ra", "tu", "si", "ve", "do", "pa", "re", "gi",
        "an", "el", "or", "us", "im", "et", "ba", "zo", "fe", "hu", "ja", "wy"]
_FIRST = ["john", "jeff", "sara", "kay", "vince", "mark", "susan", "greg", "tana",
          "louise", "kenneth", "sally", "chris", "daren", "steven", "kate", "phillip",
          "mike", "richard", "jane", "lynn", "eric", "dana", "kim", "gerald", "tom"]
_LAST = ["lay", "skilling", "kaminski", "dasovich", "shackleton", "germany", "taylor",
         "whalley", "farmer", "kitchen", "mann", "jones", "nemec", "beck", "scott",
         "allen", "sanders", "lokey", "symes", "haedicke", "mclaughlin", "campbell"]
_DOMAINS = ["enron.com", "enron.com", "enron.com", "ect.enron.com", "aol.com", "hotmail.com"]
_FOLDER_WORDS = ["inbox", "sent", "deleted", "projects", "deals", "calendar", "legal",
                 "california", "west", "gas", "power", "trading", "hr", "archive",
                 "notes", "misc", "contracts", "personal", "reports", "meetings"]
_EXT = [("pdf", "application/pdf"), ("doc", "application/msword"),
        ("xls", "application/vnd.ms-excel"), ("txt", "text/plain"),
        ("jpg", "image/jpeg"), ("zip", "application/zip")]
IMPORTANCE = ["LOW", "NORMAL", "HIGH"]
PRIORITY = ["NONURGENT", "NORMAL", "URGENT"]
SENSITIVITY = ["NONE", "PERSONAL", "PRIVATE", "CONFIDENTIAL"]
RECIPIENT_TYPE = {1: "TO", 2: "CC", 3: "BCC"}


def _people(rng: random.Random, n: int) -> list[tuple[str, str]]:
    out = []
    for _ in range(n):
        f, l = rng.choice(_FIRST), rng.choice(_LAST)
        out.append((f"{f.title()} {l.title()}", f"{f}.{l}@{rng.choice(_DOMAINS)}"))
    return out


def _lognormal_int(rng: random.Random, median: float, sigma: float, lo: int, hi: int) -> int:
    return max(lo, min(hi, int(rng.lognormvariate(math.log(median), sigma))))


def _file_sizes(rng: random.Random) -> list[int]:
    s = SHAPE
    sizes = [rng.randint(*s["big_msgs"]) for _ in range(s["big_files"])]
    for _ in range(s["files"] - s["big_files"]):
        sizes.append(_lognormal_int(rng, s["small_msgs_median"], 1.0, 20, s["small_msgs_max"]))
    rng.shuffle(sizes)
    return sizes


def _folder_tree(rng: random.Random, n: int) -> list[tuple[int, int, str]]:
    """[(nid, parent nid, name)] below the root, depth <= folder_depth."""
    out: list[tuple[int, int, str, int]] = []
    depth = {NID_ROOT_FOLDER: 0}
    idx = 0x400
    for k in range(n):
        candidates = [NID_ROOT_FOLDER] + [f for f, _, _, d in out if d < SHAPE["folder_depth"]]
        parent = NID_ROOT_FOLDER if k < 3 else rng.choice(candidates)
        nid = (idx << 5) | NT_FOLDER
        idx += 1
        d = depth[parent] + 1
        depth[nid] = d
        name = f"{rng.choice(_FOLDER_WORDS)}_{k}"
        out.append((nid, parent, name, d))
    return [(a, b, c) for a, b, c, _ in out]


def message_digest(row: dict) -> str:
    """Order-independent per-message digest: a hash of the canonical row
    (every output column except ``pst_path``; attachment bytes by hash)."""
    parts = []
    for k in sorted(row):
        if k == "pst_path":
            continue
        parts.append(f"{k}={_canon(row[k])}")
    return hashlib.blake2b("\x1f".join(parts).encode("utf-8", "surrogatepass"), digest_size=8).hexdigest()


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + hashlib.sha1(bytes(v)).hexdigest()
    if isinstance(v, dt.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def reader_row_digest(row: dict) -> str:
    """Digest of one row as the reader returns it (a dict from
    ``PstArchive``, ``Row.asDict()`` or a parquet read-back): nested
    recipients/attachments become field-ordered tuples, and ``pst_path``,
    which depends on where the corpus lives, is left out."""
    row = {k: v for k, v in row.items() if k != "pst_path"}
    row["recipients"] = [_fields(r, RECIPIENT_FIELDS) for r in row["recipients"] or []]
    row["attachments"] = [_fields(a, ATTACHMENT_FIELDS) for a in row["attachments"] or []]
    return message_digest(row)


def _fields(v, names) -> tuple:
    if isinstance(v, dict):
        return tuple(v[n] for n in names)
    return tuple(v)


def combine(digests) -> str:
    """Order-independent combination: sum mod 2**64 of the digests."""
    return f"{sum(int(d, 16) for d in digests) % (1 << 64):016x}"


RECIPIENT_FIELDS = ("display_name", "account_name", "email_address", "address_type",
                    "recipient_type", "recipient_type_raw")
ATTACHMENT_FIELDS = ("filename", "mime_type", "size", "attach_content_id",
                     "attach_method", "is_message", "bytes")


def _write_file(path: str, rng: random.Random, srng: random.Random, n_msgs: int,
                n_folders: int, file_no: int, people, pool: str, base_time: dt.datetime) -> dict:
    """One archive. ``srng`` (from the shape) draws every size and count,
    ``rng`` (from the seed) every content."""
    w = _Writer()
    store_name = f"mailbox_{file_no:03d}"
    record_key = hashlib.md5(f"{store_name}:{rng.random()}".encode()).digest()
    sub_counter = [1]
    store_subs: list = []
    w.node(NID_MESSAGE_STORE,
           _pc(w, {0x3001: (PT_UNICODE, store_name), 0x0FF9: (PT_BINARY, record_key)},
               store_subs, sub_counter), 0, 0)

    folders = _folder_tree(rng, n_folders)
    folder_nids = [f for f, _, _ in folders]
    weights = [rng.paretovariate(1.2) for _ in folder_nids]
    msg_folder = rng.choices(folder_nids, weights=weights, k=n_msgs)
    counts: dict[int, int] = {}
    for f in msg_folder:
        counts[f] = counts.get(f, 0) + 1

    folder_rows = [(NID_ROOT_FOLDER, NID_ROOT_FOLDER, "")] + folders
    folder_truth = []
    for nid, parent, name in folder_rows:
        unread = rng.randint(0, counts.get(nid, 0))
        props = {
            0x3001: (PT_UNICODE, name),
            0x3602: (PT_LONG, counts.get(nid, 0)),
            0x3603: (PT_LONG, unread),
            0x360A: (PT_BOOLEAN, any(p == nid for _, p, _ in folders)),
            0x3613: (PT_UNICODE, "IPF.Note"),
        }
        subs: list = []
        w.node(nid, _pc(w, props, subs, [1]), 0, parent)
        folder_truth.append({"node_id": nid, "parent_node_id": parent, "display_name": name})

    digests_full, digests_nobytes = [], []
    sender_month: dict[tuple[str, str], int] = {}
    att_total = 0
    stats = {"bodies_over_8k": 0, "html": 0, "with_attachments": 0, "huge_attachments": 0,
             "min_recipients": 99, "max_recipients": 0}
    for m in range(n_msgs):
        nid = ((0x10000 + m) << 5) | NT_MESSAGE
        folder = msg_folder[m]
        sender_name, sender_email = people[min(int(rng.paretovariate(0.9)) - 1, len(people) - 1)] \
            if rng.random() < 0.7 else rng.choice(people)
        delivered = base_time + dt.timedelta(seconds=rng.randint(0, 3 * 365 * 86400))
        created = delivered - dt.timedelta(seconds=rng.randint(0, 3600))
        modified = delivered + dt.timedelta(seconds=rng.randint(0, 86400))
        subj_len = rng.randint(8, 90)
        o = rng.randrange(0, len(pool) - subj_len)
        subject = pool[o : o + subj_len].strip() or "re"
        if rng.random() < 0.3:
            subject = "RE: " + subject
        body_len = _lognormal_int(srng, SHAPE["body_median_chars"], 1.3, 20, SHAPE["body_max_chars"])
        o = rng.randrange(0, len(pool) - body_len)
        body = pool[o : o + body_len]
        html = None
        if srng.random() < SHAPE["html_frac"]:
            html = "<html><body><p>" + body.replace("\n", "</p><p>") + "</p></body></html>"
        importance = rng.choices([0, 1, 2], [1, 8, 1])[0]
        priority = rng.choices([-1, 0, 1], [1, 8, 1])[0]
        sensitivity = rng.choices([0, 1, 2, 3], [12, 1, 1, 1])[0]
        flags = rng.choice([1, 3, 17, 19])
        n_rcpt = min(SHAPE["recipients"][1], max(SHAPE["recipients"][0], int(srng.paretovariate(1.3))))
        rcpts = []
        for r in range(n_rcpt):
            name, email = rng.choice(people)
            rt = 1 if r == 0 else rng.choices([1, 2, 3], [5, 3, 1])[0]
            rcpts.append({
                "display_name": name,
                "account_name": email.split("@")[0],
                "email_address": email,
                "address_type": "SMTP",
                "recipient_type": RECIPIENT_TYPE[rt],
                "recipient_type_raw": rt,
            })
        atts = []
        n_att = 0
        if srng.random() < SHAPE["attach_frac"]:
            n_att = srng.choices([1, 2, 3], [6, 3, 1])[0]
        for a in range(n_att):
            size = _lognormal_int(srng, SHAPE["attach_median_bytes"], 1.4, 64,
                                  SHAPE["attach_max_bytes"])
            ext, mime = rng.choice(_EXT)
            atts.append({
                "filename": f"att_{m}_{a}.{ext}",
                "mime_type": mime,
                "size": size,
                "attach_content_id": f"cid{m}.{a}@mail" if rng.random() < 0.2 else None,
                "attach_method": "BY_VALUE",
                "is_message": False,
                "bytes": rng.randbytes(size),
            })
            att_total += size
        internet_id = f"<{file_no}.{m}.{rng.getrandbits(32):08x}.JavaMail@enron>"
        topic = subject[4:] if subject.startswith("RE: ") else subject
        size_prop = len(body) * 2 + sum(a["size"] for a in atts) + 400

        # --- write the message node and its subnode tree
        subs: list = []
        ctr = [1]
        for k, att in enumerate(atts):
            asubs: list = []
            pc_bid = _pc(w, {
                0x3704: (PT_UNICODE, att["filename"]),
                0x3705: (PT_LONG, 1),
                0x370E: (PT_UNICODE, att["mime_type"]),
                0x0E20: (PT_LONG, att["size"]),
                0x3712: (PT_UNICODE, att["attach_content_id"]),
                0x3701: (PT_BINARY, att["bytes"]),
            }, asubs, [1])
            anid = ((0x100 + k) << 5) | NT_ATTACHMENT
            subs.append((anid, pc_bid, w.subnodes(asubs)))
            att["_nid"] = anid
        if atts:
            tsubs: list = []
            tc_bid = _tc(w, [(0x0E20, PT_LONG), (0x3704, PT_UNICODE), (0x3705, PT_LONG)],
                         [(a["_nid"], {0x0E20: a["size"], 0x3704: a["filename"], 0x3705: 1})
                          for a in atts], tsubs, [1])
            subs.append((NID_ATTACHMENT_TABLE, tc_bid, w.subnodes(tsubs)))
        rsubs: list = []
        rc_bid = _tc(w, [(0x0C15, PT_LONG), (0x3001, PT_UNICODE), (0x3002, PT_UNICODE),
                         (0x3003, PT_UNICODE), (0x3A00, PT_UNICODE)],
                     [(i + 1, {0x0C15: r["recipient_type_raw"], 0x3001: r["display_name"],
                               0x3002: r["address_type"], 0x3003: r["email_address"],
                               0x3A00: r["account_name"]}) for i, r in enumerate(rcpts)],
                     rsubs, [1])
        subs.append((NID_RECIPIENT_TABLE, rc_bid, w.subnodes(rsubs)))
        props = {
            0x001A: (PT_UNICODE, "IPM.Note"),
            0x0037: (PT_UNICODE, subject),
            0x1000: (PT_UNICODE, body),
            0x1013: (PT_BINARY, html.encode("utf-8") if html is not None else None),
            0x0C1A: (PT_UNICODE, sender_name),
            0x0C1F: (PT_UNICODE, sender_email),
            0x0017: (PT_LONG, importance),
            0x0026: (PT_LONG, priority),
            0x0036: (PT_LONG, sensitivity),
            0x3007: (PT_SYSTIME, created),
            0x3008: (PT_SYSTIME, modified),
            0x0E06: (PT_SYSTIME, delivered),
            0x0E07: (PT_LONG, flags),
            0x0E08: (PT_LONG, size_prop),
            0x0E1B: (PT_BOOLEAN, bool(atts)),
            0x0070: (PT_UNICODE, topic),
            0x1035: (PT_UNICODE, internet_id),
        }
        data_bid = _pc(w, props, subs, ctr)
        w.node(nid, data_bid, w.subnodes(subs), folder)

        # --- ground truth: the row the reader must produce
        row = {
            "pst_name": store_name, "record_key": record_key,
            "node_id": nid, "parent_node_id": folder,
            "subject": subject, "body": body, "body_html": html,
            "display_name": None, "comment": None,
            "sender_name": sender_name, "sender_email_address": sender_email,
            "recipients": [tuple(r[f] for f in RECIPIENT_FIELDS) for r in rcpts],
            "has_attachments": bool(atts), "attachment_count": len(atts),
            "importance": IMPORTANCE[importance], "priority": PRIORITY[priority + 1],
            "sensitivity": SENSITIVITY[sensitivity],
            "creation_time": created, "last_modified": modified,
            "message_delivery_time": delivered, "message_class": "IPM.Note",
            "message_flags": flags, "message_size": size_prop,
            "conversation_topic": topic, "internet_message_id": internet_id,
        }
        row["attachments"] = [tuple(a[f] for f in ATTACHMENT_FIELDS) for a in atts]
        digests_full.append(message_digest(row))
        row["attachments"] = [
            tuple(None if f == "bytes" else a[f] for f in ATTACHMENT_FIELDS) for a in atts
        ]
        digests_nobytes.append(message_digest(row))
        key = (sender_email, delivered.strftime("%Y-%m"))
        sender_month[key] = sender_month.get(key, 0) + 1
        stats["bodies_over_8k"] += len(body) * 2 > 8192
        stats["html"] += html is not None
        stats["with_attachments"] += bool(atts)
        stats["huge_attachments"] += sum(a["size"] > 1 << 20 for a in atts)
        stats["min_recipients"] = min(stats["min_recipients"], len(rcpts))
        stats["max_recipients"] = max(stats["max_recipients"], len(rcpts))

    size = w.finish(path)
    return {
        "path": os.path.basename(path),
        "pst_name": store_name,
        "messages": n_msgs,
        "folders": folder_truth,
        "bytes": size,
        "digests_full": digests_full,
        "digests_nobytes": digests_nobytes,
        "sender_month": sender_month,
        "attachment_bytes": att_total,
        "stats": stats,
        "max_folder_depth": max(d for _, _, _, d in folders_with_depth(folders)),
    }


def folders_with_depth(folders: list[tuple[int, int, str]]):
    depth = {NID_ROOT_FOLDER: 0}
    for nid, parent, name in folders:  # parents are created before children
        depth[nid] = depth[parent] + 1
        yield nid, parent, name, depth[nid]


def folder_paths(folders: list[dict]) -> list[str]:
    """Root-relative paths ('/a/b'), root itself as ''."""
    by = {f["node_id"]: f for f in folders}
    out = []
    for f in folders:
        parts = []
        cur = f
        while cur["node_id"] != cur["parent_node_id"]:
            parts.append(cur["display_name"])
            cur = by[cur["parent_node_id"]]
        out.append("/".join([""] + parts[::-1]) if parts else "")
    return out


TOP_N = 20


def _write_file_job(job: tuple) -> dict:
    path, file_seed, size_seed, *rest = job
    return _write_file(path, random.Random(file_seed), random.Random(size_seed), *rest)


def generate(out_dir: str, seed: int) -> dict:
    """Write the corpus for ``seed`` into ``out_dir``; returns the manifest."""
    rng = random.Random(f"pstbench-corpus:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    words = ["".join(rng.choice(_SYL) for _ in range(rng.randint(1, 4))) for _ in range(3000)]
    zipf = [1.0 / (i + 1) for i in range(len(words))]
    toks = rng.choices(words, weights=zipf, k=120_000)
    for i in range(0, len(toks), rng.randint(9, 25)):
        toks[i] += rng.choice([".\r\n", ",", "\r\n\r\n", "."])
    pool = " ".join(toks)
    people = _people(rng, 600)
    shape_rng = random.Random(json.dumps([SHAPE, SHAPE_VERSION], sort_keys=True))
    sizes = _file_sizes(shape_rng)
    n_folders = [shape_rng.randint(*SHAPE["folders"]) for _ in sizes]
    size_seeds = [shape_rng.getrandbits(64) for _ in sizes]
    base = dt.datetime(1999, 1, 1)
    jobs = [
        (os.path.join(out_dir, f"mailbox_{i:03d}.pst"), rng.getrandbits(64), size_seeds[i], n,
         n_folders[i], i, people, pool, base)
        for i, n in enumerate(sizes)
    ]
    # files are independent: write them in parallel, biggest first; the
    # bytes do not depend on the worker count
    order = sorted(range(len(jobs)), key=lambda i: -sizes[i])
    with ProcessPoolExecutor(GEN_WORKERS, mp_context=mp.get_context("fork")) as ex:
        done = dict(zip(order, ex.map(_write_file_job, [jobs[i] for i in order])))
    files = [done[i] for i in range(len(jobs))]
    sm: dict[tuple[str, str], int] = {}
    for f in files:
        for k, v in f.pop("sender_month").items():
            sm[k] = sm.get(k, 0) + v
    top = sorted(sm.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:TOP_N]
    paths = []
    for f in files:
        paths.extend(f"{f['pst_name']}:{p}" for p in folder_paths(f["folders"]))
    stats: dict[str, int] = {}
    for f in files:
        for k, v in f["stats"].items():
            merge = min if k.startswith("min_") else max if k.startswith("max_") else int.__add__
            stats[k] = merge(stats[k], v) if k in stats else v
    stats["big_files"] = sum(f["messages"] > SHAPE["partition_size"] for f in files)
    stats["max_folder_depth"] = max(f["max_folder_depth"] for f in files)
    stats["min_folders"] = min(len(f["folders"]) - 1 for f in files)
    stats["max_folders"] = max(len(f["folders"]) - 1 for f in files)
    manifest = {
        "seed": seed,
        "stats": stats,
        "shape": SHAPE,
        "shape_version": SHAPE_VERSION,
        "files": len(files),
        "messages": sum(f["messages"] for f in files),
        "folders": sum(len(f["folders"]) for f in files),
        "bytes": sum(f["bytes"] for f in files),
        "attachment_bytes": sum(f["attachment_bytes"] for f in files),
        "digest_full": combine(d for f in files for d in f["digests_full"]),
        "digest_nobytes": combine(d for f in files for d in f["digests_nobytes"]),
        "folder_paths_digest": combine(
            hashlib.blake2b(p.encode(), digest_size=8).hexdigest() for p in paths
        ),
        "top_sender_month": [[s, m, c] for (s, m), c in top],
        "per_file": files,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def cache_key(seed: int) -> str:
    shape = json.dumps([SHAPE, SHAPE_VERSION], sort_keys=True)
    return f"seed{seed}-{hashlib.sha1(shape.encode()).hexdigest()[:10]}"


def ensure_corpus(cache_root: str, seed: int) -> tuple[str, dict]:
    """Corpus for ``seed`` under ``cache_root``, generated on first use and
    reused after. Only the CACHE_KEEP most recently used corpora are kept."""
    d = os.path.join(cache_root, cache_key(seed))
    mf = os.path.join(d, "manifest.json")
    if not os.path.exists(mf):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    olds = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir() and e.name.startswith("seed")),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in olds[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    with open(mf) as fh:
        return d, json.load(fh)


"""Spec-literal ANSI PST writer for tests.

Builds small [MS-PST] archives from hardcoded spec offsets. It imports
nothing from the reader (``duckdb_pst_spark.sources.mspst``), so the
writer and the reader encode the spec independently — a shared constant
would make the tests self-validating.

- NDB, ANSI layout ([MS-PST] §2.2.2): 512-byte header with 4-byte
  BREFs, external blocks (BID bit 1 clear) and internal SLBLOCKs (bit 1
  set), one leaf BTPAGE each for the NBT (16-byte NBTENTRY) and the BBT
  (12-byte BBTENTRY). No block trailers, no encryption.
- LTP ([MS-PST] §2.3): one-block heaps-on-node carrying a Property
  Context or a Table Context.

``write_archive`` takes ``{nid: props}`` plus parents; ``mailbox`` adds
the store, root folder and one mail folder around a set of messages.
"""

from __future__ import annotations

import struct

PAGE = 512

PT_LONG = 0x0003
PT_STRING8 = 0x001E
PT_BINARY = 0x0102

# [MS-PST] §2.4.1 special internal NIDs of a message's subnode tree
NID_ATTACHMENT_TABLE = 0x671
NID_RECIPIENT_TABLE = 0x692

# NIDs: nidType rides the low 5 bits ([MS-PST] §2.2.2.1) — the store is
# 0x21, the root folder 0x122 = (9<<5)|2, so the mail folder and the
# messages continue the index sequence.
NID_STORE = 0x21
NID_ROOT = 0x122            # (9 << 5) | 2, NORMAL_FOLDER
NID_INBOX = (10 << 5) | 2   # 0x142, NORMAL_FOLDER


def message_nid(i: int) -> int:
    """NID of the i-th message (NORMAL_MESSAGE, type 0x04): 0x164, 0x184, …"""
    return ((11 + i) << 5) | 0x04


def _page(entries: list[bytes], cb_ent: int, c_level: int, ptype: int) -> bytes:
    """ANSI BTPAGE: rgentries, then cEnt/cEntMax/cbEnt/cLevel at 496,
    PAGETRAILER (ptype, ptypeRepeat, wSig, bid, dwCRC) at 500."""
    body = b"".join(entries)
    assert len(body) <= 496, "one leaf page only"
    out = bytearray(PAGE)
    out[: len(body)] = body
    struct.pack_into("<BBBB", out, 496, len(entries), 496 // cb_ent, cb_ent, c_level)
    struct.pack_into("<BBHII", out, 500, ptype, ptype, 0, 0, 0)
    return bytes(out)


def _heap(client_sig: int, items: list[bytes]) -> bytes:
    """One-block heap-on-node ([MS-PST] §2.3.1.2/§2.3.1.5): HNHDR
    {ibHnpm, bSig 0xEC, bClientSig, hidUserRoot = item 1, rgbFillLevel}
    at 0, the items, then HNPAGEMAP {cAlloc, cFree, rgibAlloc[cAlloc+1]}
    at ibHnpm. HID of 1-based allocation i is i<<5."""
    off = 12  # HNHDR size
    allocs = [off]
    for it in items:
        off += len(it)
        allocs.append(off)
    hdr = struct.pack("<HBBII", off, 0xEC, client_sig, 1 << 5, 0)
    pagemap = struct.pack(f"<HH{len(allocs)}H", len(items), 0, *allocs)
    return hdr + b"".join(items) + pagemap


def _value(ptype: int, val: object, var_items: list[bytes], first_idx: int) -> int:
    """The 4-byte cell for one value: PT_LONG inline, variable-length
    types as the HID of a new heap item appended to ``var_items``."""
    if ptype == PT_LONG:
        return int(val)
    if ptype == PT_STRING8:
        var_items.append(str(val).encode("cp1252"))
    elif ptype == PT_BINARY:
        var_items.append(bytes(val))
    else:
        raise AssertionError(
            f"writer supports PT_LONG/PT_STRING8/PT_BINARY, got {ptype:#x}"
        )
    return (first_idx + len(var_items) - 1) << 5


def hn_pc(props: dict[int, tuple[int, object]]) -> bytes:
    """Heap carrying a Property Context ([MS-PST] §2.3.3): item 1 =
    BTHHEADER {bType 0xB5, cbKey 2, cbEnt 6, bIdxLevels 0, hidRoot =
    item 2}, item 2 = sorted 8-byte records {wPropId, wPropType,
    dwValueHnid}, items 3.. = variable-length values."""
    var_items: list[bytes] = []
    recs = b""
    for pid in sorted(props):
        ptype, val = props[pid]
        recs += struct.pack("<HHI", pid, ptype, _value(ptype, val, var_items, 3))
    bth = struct.pack("<BBBBI", 0xB5, 2, 6, 0, 2 << 5)
    return _heap(0xBC, [bth, recs] + var_items)


def hn_tc(columns: list[tuple[int, int]], rows: list[tuple[int, dict]]) -> bytes:
    """Heap carrying a Table Context ([MS-PST] §2.3.4).

    ``columns``: (wPropId, wPropType) in row-layout order — every cell
    is written into the 4-byte group. ``rows``: (dwRowID, {wPropId:
    value}). Item 1 = TCINFO {bType 0x7C, cCols, rgib[4] = ends of the
    4/2/1-byte/CEB groups, hidRowIndex, hnidRows, hidIndex, rgTCOLDESC
    {dwTag, ibData, cbData, iBit}}; item 2 = row-index BTHHEADER (cbKey
    4 = dwRowID, cbEnt 4 = dwRowIndex); item 3 = the row-index records;
    item 4 = the row matrix (each row: dwRowID, the 4-byte cells, the
    Cell Existence Bitmap — bit i of column i at byte i//8, mask
    1<<(7-i%8)); items 5.. = variable-length values."""
    n = len(columns)
    end_4b = 4 + 4 * n
    rgib = (end_4b, end_4b, end_4b, end_4b + (n + 7) // 8)

    var_items: list[bytes] = []
    matrix = b""
    index_recs = b""
    for ridx, (row_id, vals) in enumerate(rows):
        index_recs += struct.pack("<II", row_id, ridx)
        body = struct.pack("<I", row_id)
        ceb = bytearray((n + 7) // 8)
        for i, (pid, ptype) in enumerate(columns):
            cell = 0
            if pid in vals:
                cell = _value(ptype, vals[pid], var_items, 5)
                ceb[i // 8] |= 1 << (7 - i % 8)
            body += struct.pack("<I", cell)
        matrix += body + bytes(ceb)

    tcinfo = struct.pack("<BB4HIII", 0x7C, n, *rgib, 2 << 5, 4 << 5, 0)
    for i, (pid, ptype) in enumerate(columns):
        tcinfo += struct.pack("<IHBB", (pid << 16) | ptype, 4 + 4 * i, 4, i)
    bth = struct.pack("<BBBBI", 0xB5, 4, 4, 0, 3 << 5)
    return _heap(0x7C, [tcinfo, bth, index_recs, matrix] + var_items)


def recipient_tc(recipients: list[tuple[int, str, str]]) -> bytes:
    """Recipient table: one row per (PR_RECIPIENT_TYPE, display name,
    SMTP address)."""
    return hn_tc(
        [(0x0C15, PT_LONG), (0x3001, PT_STRING8),
         (0x3002, PT_STRING8), (0x3003, PT_STRING8)],
        [
            (i + 1, {0x0C15: rt, 0x3001: name, 0x3002: "SMTP", 0x3003: email})
            for i, (rt, name, email) in enumerate(recipients)
        ],
    )


def layout(
    blocks: dict[int, bytes], nbt: list[tuple[int, int, int, int]], w_ver: int
) -> bytes:
    """Whole ANSI file: header, ``blocks`` ({bid: payload}) at 256-aligned
    offsets from 1024, then one NBT leaf page of ``nbt`` entries (nid,
    bidData, bidSub, nidParent) and one BBT leaf page."""
    placed: dict[int, int] = {}
    ib = 1024
    for bid, payload in blocks.items():
        placed[bid] = ib
        ib += (len(payload) + 255) // 256 * 256
    nbt_ib, bbt_ib = ib, ib + PAGE
    file_size = bbt_ib + PAGE

    nbt_page = _page(
        [struct.pack("<IIII", *e) for e in sorted(nbt)],
        cb_ent=16, c_level=0, ptype=0x81,
    )
    bbt_page = _page(
        [struct.pack("<IIHH", bid, placed[bid], len(blocks[bid]), 1)
         for bid in sorted(blocks)],
        cb_ent=12, c_level=0, ptype=0x80,
    )

    # header ([MS-PST] §2.2.2.6, ANSI offsets)
    hdr = bytearray(PAGE)
    hdr[0:4] = b"!BDN"
    struct.pack_into("<H", hdr, 10, w_ver)
    struct.pack_into("<I", hdr, 168, file_size)  # ROOT.ibFileEof
    struct.pack_into("<II", hdr, 184, 0, nbt_ib)  # ROOT.BREFNBT
    struct.pack_into("<II", hdr, 192, 0, bbt_ib)  # ROOT.BREFBBT
    hdr[461] = 0  # bCryptMethod = none

    buf = bytearray(file_size)
    buf[:PAGE] = hdr
    for bid, payload in blocks.items():
        buf[placed[bid] : placed[bid] + len(payload)] = payload
    buf[nbt_ib : nbt_ib + PAGE] = nbt_page
    buf[bbt_ib : bbt_ib + PAGE] = bbt_page
    return bytes(buf)


def write_archive(
    path,
    nodes: dict[int, dict[int, tuple[int, object]]],
    parents: dict[int, int],
    subnodes: dict[int, dict[int, bytes]] | None = None,
    w_ver: int = 14,
) -> str:
    """Write an archive of one PC node per ``nodes`` entry ({nid: props})
    under ``parents`` ({nid: parent nid}). ``subnodes`` gives a node a
    subnode tree: {nid: {subnode nid: heap bytes}}, stored as one SLBLOCK
    of 12-byte SLENTRYs. Returns ``str(path)``."""
    blocks: dict[int, bytes] = {}
    next_bid = 4

    def add(payload: bytes, internal: bool = False) -> int:
        nonlocal next_bid
        bid = next_bid | 2 if internal else next_bid
        next_bid += 4
        blocks[bid] = payload
        return bid

    nbt = []
    for nid in sorted(nodes):
        data = add(hn_pc(nodes[nid]))
        sub = 0
        if subnodes and nid in subnodes:
            entries = sorted((snid, add(heap), 0) for snid, heap in subnodes[nid].items())
            sub = add(
                struct.pack("<BBH", 0x02, 0, len(entries))
                + b"".join(struct.pack("<III", *e) for e in entries),
                internal=True,
            )
        nbt.append((nid, data, sub, parents[nid]))
    with open(path, "wb") as f:
        f.write(layout(blocks, nbt, w_ver))
    return str(path)


def mailbox(
    path,
    messages: dict[int, dict[int, tuple[int, object]]],
    subnodes: dict[int, dict[int, bytes]] | None = None,
    w_ver: int = 14,
) -> str:
    """Store "ANSI test store" → root folder → mail folder "Inbox ANSI"
    (IPF.Note) holding ``messages`` ({nid: props})."""
    nodes = {
        NID_STORE: {0x3001: (PT_STRING8, "ANSI test store")},
        NID_ROOT: {
            0x3001: (PT_STRING8, ""),
            0x3602: (PT_LONG, 0),
            0x3603: (PT_LONG, 0),
        },
        NID_INBOX: {
            0x3001: (PT_STRING8, "Inbox ANSI"),
            0x3613: (PT_STRING8, "IPF.Note"),
            0x3602: (PT_LONG, len(messages)),
            0x3603: (PT_LONG, len(messages)),
        },
        **messages,
    }
    parents = {NID_STORE: NID_STORE, NID_ROOT: NID_ROOT, NID_INBOX: NID_ROOT}
    parents.update({nid: NID_INBOX for nid in messages})
    return write_archive(path, nodes, parents, subnodes, w_ver)


def message(cls: str, subject: str, body: str = "body text") -> dict:
    """Props of one message: class, subject, plain body and a size."""
    return {
        0x001A: (PT_STRING8, cls),
        0x0037: (PT_STRING8, subject),
        0x1000: (PT_STRING8, body),
        0x0E08: (PT_LONG, 100 + len(body)),
    }


def mixed_mailbox(path) -> str:
    """Three message classes (IPM.Note, IPM.Task, IPM.Contact); the note
    and the task carry recipient tables (2 and 1 rows)."""
    note, task, contact = (message_nid(i) for i in range(3))
    return mailbox(
        path,
        {
            note: message("IPM.Note", "quarterly numbers"),
            task: message("IPM.Task", "file the report"),
            contact: message("IPM.Contact", "Ann Example"),
        },
        {
            note: {NID_RECIPIENT_TABLE: recipient_tc(
                [(1, "Ann", "ann@example.com"), (2, "Bob", "bob@example.com")]
            )},
            task: {NID_RECIPIENT_TABLE: recipient_tc([(1, "Cy", "cy@example.com")])},
        },
    )

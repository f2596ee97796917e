"""Binlog FILE export: frame the engine's snapshot and net-change streams
as genuine MySQL binlog-v4 files — magic, FORMAT_DESCRIPTION, per
transaction BEGIN / TABLE_MAP / <=8KB-chunked ROWS / XID, ROTATE trailer,
CRC32 footers — plus the parser that reads them back.

The reference writes every compacted output through one set of go-mysql
event encoders (common/log/bin.go:28-207; backup/binlog/repl.go:706-992
drives it per table), and so does this module: one codec, with a
``_Layout`` value naming what differs between the two exports — the
TABLE_MAP columns (BLOBs, meta=4 → 4-byte length prefixes), the op passes
with their ROWS event types and columns-present bitmaps, and file naming.
The framing is the PUBLIC binlog v4 layout (MySQL internals manual):
19-byte headers (timestamp, type, server_id, event_size, log_pos, flags),
body, CRC32-IEEE footer; log_pos is the event's END position.

Snapshot (``write_binlog_files``): table ``files``, 2 columns, I only,
files ``binlog-{repo}.log`` (``binlog-{repo}.{seg:05d}.log`` rotated):

    WRITE_ROWS  (I): bitmap 0b11 -> key, value
        key   = repo \\x00 path
        value = commit \\x00 (\\x00 | \\x01 lang) \\x00 content

Net-change (``write_netchange_binlog_files``): table ``changes``, 3
columns (key, commit, content) with binlog-v2 partial row images, files
``{repo}/chg_{start_seq:010d}_{end_seq:010d}.log[.z]``:

    WRITE_ROWS  (I): after image,  bitmap 0b111 -> key, new_commit, new_content
    DELETE_ROWS (D): before image, bitmap 0b101 -> key, old_content
    UPDATE_ROWS (U): before 0b101 (key, old_content)
                     + after 0b111 (key, new_commit, new_content)

A file holds one transaction per non-empty pass, in pass order; I, D, U
is the reference's dumpBinlog (backup/binlog/repl.go:770-800), with its
{type}_{start}_{end} naming (common/inter/constant.go:82,134-136), zlib
(common/client/cfs.go:62-68) and tar consolidation (cfs.go:84-171).
Start/end are SEQ bounds, the engine's monotone analog of the
reference's flush timestamps.

Chunking rule (the reference's accumulate-then-flush-on-overflow buffer,
`size > BinlogBufferSize`, backup/binlog/repl.go:909): within a
transaction a row goes to chunk floor(cum_bytes_before_row / 8192), a
row's size being, per image, 1 (null bitmap) + sum(4 + len(column)).
The DuckDB oracle of `cdc_binlog_file_export` recomputes the snapshot
assignment with octet_length + a window cumsum. Rotation
(``max_file_bytes``) applies the same rule one level up — a window
cumsum of the layout's Spark size expression (built from the same column
definitions as the encoder) picks each row's segment, and writer tasks
group by (repo, segment), so a hot repo's segments spread over the
cluster. Each segment is a self-describing file whose xids advance by the
number of passes. Files are written ON THE EXECUTORS; parsing reads
Spark's binaryFile source -> mapInPandas, verifying every CRC32.
"""

from __future__ import annotations

import hashlib
import io
import operator
import os
import struct
import tarfile
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BINLOG_MAGIC = b"\xfebin"
BUFFER_SIZE = 8 * 1024  # the reference's BinlogBufferSize (8KB rows chunks)
HEADER_LEN = 19
STMT_END_F = 0x01

# event type codes (public binlog v4)
FORMAT_DESCRIPTION_EVENT = 15
QUERY_EVENT = 2
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
XID_EVENT = 16
ROTATE_EVENT = 4

SERVER_ID = 1
SERVER_VERSION = b"5.7.99-mysql-binlog-spark"
TABLE_ID = 1
_POST_HEADER_LENS = 39  # v4 post-header length table size we emit
NETCHANGE_KIND = "chg"

_U32 = struct.Struct("<I")

_S, _L = T.StringType(), T.LongType()


def _struct(*fields: tuple[str, T.DataType, bool]) -> T.StructType:
    return T.StructType([T.StructField(*f) for f in fields])


FILE_MANIFEST_SCHEMA = _struct(
    ("repo", _S, False), ("file_name", _S, False), ("n_rows", _L, False),
    ("n_chunks", _L, False), ("byte_len", _L, False),
    ("file_sha256", _S, False),
)
PARSED_ROW_SCHEMA = _struct(
    ("repo", _S, False), ("path", _S, False), ("commit", _S, True),
    ("lang", _S, True), ("content", _S, True), ("chunk_idx", _L, False),
    ("xid", _L, False),
)
NETCHANGE_MANIFEST_SCHEMA = _struct(
    ("repo", _S, False), ("file_name", _S, False), ("n_rows", _L, False),
    ("n_inserts", _L, False), ("n_deletes", _L, False),
    ("n_updates", _L, False), ("start_seq", _L, False),
    ("end_seq", _L, False), ("byte_len", _L, False),
    ("compressed", T.BooleanType(), False), ("file_sha256", _S, False),
)
NETCHANGE_ROW_SCHEMA = _struct(
    ("repo", _S, False), ("path", _S, False), ("diff_op", _S, False),
    ("old_content", _S, True), ("new_content", _S, True),
    ("new_commit", _S, True), ("chunk_idx", _L, False), ("xid", _L, False),
)


# -- event encoders ---------------------------------------------------------


def _event(etype: int, body: bytes, log_pos: int, ts: int = 0,
           flags: int = 0) -> bytes:
    """One framed event: 19-byte header + body + CRC32(header+body)."""
    size = HEADER_LEN + len(body) + 4
    header = struct.pack("<IBIIIH", ts, etype, SERVER_ID, size, log_pos + size, flags)
    crc = zlib.crc32(header + body) & 0xFFFFFFFF
    return header + body + struct.pack("<I", crc)


def _fde_body() -> bytes:
    """FORMAT_DESCRIPTION: binlog_version=4, 50-byte server version,
    create_ts, header_len, post-header length table, checksum alg byte."""
    post = bytearray(_POST_HEADER_LENS)
    # the FDE's self-entry is its own fixed-part size (2 version + 50
    # server-version + 4 create_ts + 1 header_len + this table), which a
    # strict binlog-v4 consumer validates (MySQL 5.1's 84 is a 27-entry
    # table's)
    for etype, n in ((QUERY_EVENT, 13), (ROTATE_EVENT, 8), (TABLE_MAP_EVENT, 8),
                     (FORMAT_DESCRIPTION_EVENT, 2 + 50 + 4 + 1 + _POST_HEADER_LENS),
                     (WRITE_ROWS_EVENT_V2, 10), (UPDATE_ROWS_EVENT_V2, 10),
                     (DELETE_ROWS_EVENT_V2, 10)):
        post[etype - 1] = n
    return (
        struct.pack("<H", 4)
        + SERVER_VERSION.ljust(50, b"\x00")
        + struct.pack("<I", 0)
        + struct.pack("<B", HEADER_LEN)
        + bytes(post)
        + b"\x01"  # BINLOG_CHECKSUM_ALG_CRC32
    )


def _query_body(schema: bytes, query: bytes) -> bytes:
    """QUERY event (BEGIN): 13-byte post-header + schema\\0 + query."""
    return (
        struct.pack("<IIBHH", 0, 0, len(schema), 0, 0)  # proxy_id, exec_time,
        + schema + b"\x00" + query                      # schema_len, err, sv_len
    )


def decode_query_body(body: bytes) -> tuple[str, str]:
    """(schema, query) of any QUERY event body: after the 13-byte
    post-header (schema_len at byte 8, status_vars_len at 11-12) comes
    the status-vars block — empty in this codec's files, always present
    in a real server's — then schema\\0 and the statement."""
    schema_len = body[8]
    start = 13 + struct.unpack_from("<H", body, 11)[0]
    schema = body[start:start + schema_len].decode()
    return schema, body[start + schema_len + 1:].decode()


def _table_map_body(schema: bytes, table: bytes, n_cols: int) -> bytes:
    """TABLE_MAP: table_id(6) flags(2) schema table; ``n_cols`` BLOB
    columns with meta=4 (4-byte length prefixes), nothing nullable."""
    return (
        TABLE_ID.to_bytes(6, "little")
        + struct.pack("<H", 0)
        + bytes([len(schema)]) + schema + b"\x00"
        + bytes([len(table)]) + table + b"\x00"
        + bytes([n_cols])                 # column count (packed int < 251)
        + bytes([252] * n_cols)           # MYSQL_TYPE_BLOB
        + bytes([n_cols] + [4] * n_cols)  # metadata: 4-byte length prefix
        + b"\x00"                         # null bitmap: none nullable
    )


def _rows_body(n_cols: int, bitmaps: bytes, payload: bytes, flags: int) -> bytes:
    """ROWS v2: table_id(6) flags(2) extra_len(2)=2, column count, one
    columns-present bitmap per image (UPDATE: before + after), images."""
    return (
        TABLE_ID.to_bytes(6, "little")
        + struct.pack("<HH", flags, 2)
        + bytes([n_cols]) + bitmaps + payload
    )


def safe_file_component(repo: str) -> str:
    """Injective, filesystem-safe encoding of a repo id for use inside an
    output file name. Git repo ids routinely contain '/' ('org/name'),
    and a hostile value could carry '..' or an absolute prefix — raw
    interpolation would escape out_dir (path traversal).
    percent-encodes everything outside [A-Za-z0-9._-]; '.' is kept only
    when it cannot form a dot-segment (a leading '.' is encoded)."""
    from urllib.parse import quote

    enc = quote(repo, safe="._-")
    return "%2E" + enc[1:] if enc.startswith(".") else enc


# -- column definitions and the two layouts ---------------------------------


def _no_nul(field: str, s: str) -> str:
    """NUL delimits the fields packed into one column, so a value that
    carries one cannot round-trip: refuse it rather than mis-parse it."""
    if "\x00" in s:
        raise ValueError(f"binlog export: {field} {s!r} contains a NUL byte")
    return s


def _key_bytes(repo: str, path: str) -> bytes:
    return _no_nul("repo", repo).encode() + b"\x00" + path.encode()


def _value_bytes(commit: str, lang: str | None, content: str) -> bytes:
    lang_part = b"\x00" if lang is None else b"\x01" + _no_nul("lang", lang).encode()
    return (_no_nul("commit", commit).encode() + b"\x00" + lang_part + b"\x00"
            + content.encode())


def _decode_key(rec: dict, v: bytes) -> None:
    repo, path = v.split(b"\x00", 1)
    rec["repo"], rec["path"] = repo.decode(), path.decode()


def _decode_value(rec: dict, v: bytes) -> None:
    commit, rest = v.split(b"\x00", 1)
    rec["commit"] = commit.decode()
    if rest[:1] == b"\x00":  # lang-null marker
        rec["content"] = rest[2:].decode()
    else:  # \x01 + lang + \x00 + content
        lang, content = rest[1:].split(b"\x00", 1)
        rec["lang"], rec["content"] = lang.decode(), content.decode()


class _Col(NamedTuple):
    """One BLOB column: its bytes from (file repo, row tuple), its octet
    length as a Spark expression over the export DataFrame, and the
    decoder that writes it back into a parsed record."""

    encode: Callable[[str, tuple], bytes]
    octets: Callable[[], Column]
    decode: Callable[[dict, bytes], None]


def _key_col(encode: Callable[[str, tuple], bytes]) -> _Col:
    return _Col(encode, lambda: F.octet_length("repo") + 1 + F.octet_length("path"),
                _decode_key)


def _text_col(i: int, name: str) -> _Col:
    def decode(rec: dict, v: bytes) -> None:
        rec[name] = v.decode()

    return _Col(lambda _repo, r: r[i].encode(), lambda: F.octet_length(name), decode)


class _Pass(NamedTuple):
    op: str
    etype: int
    images: tuple[tuple[_Col, ...], ...]  # the columns of each row image
    bitmaps: bytes                        # columns-present bitmap per image


class _Layout(NamedTuple):
    table: bytes
    n_cols: int
    passes: tuple[_Pass, ...]
    order: tuple[str, ...]     # row order inside a file
    row_cols: tuple[str, ...]  # the framer's row tuple
    op_of: Callable[[tuple], str]
    name: Callable             # (pdf, repo, seg, last_seg) -> (file, next, extra)
    glob: str
    manifest_schema: T.StructType
    row_schema: T.StructType


def _snapshot_name(pdf, repo, seg, _last_seg):
    suffix = "" if seg is None else f".{seg:05d}"
    return f"binlog-{safe_file_component(repo)}{suffix}.log", f"{repo}.next", {}


def _netchange_name(pdf, repo, seg, last_seg):
    start, end = int(pdf["seq"].iloc[0]), int(pdf["seq"].iloc[-1])
    name = f"{safe_file_component(repo)}/{NETCHANGE_KIND}_{start:010d}_{end:010d}.log"
    nxt = f"{NETCHANGE_KIND}_{end:010d}" if seg != last_seg else ""
    return name, nxt, {"start_seq": start, "end_seq": end}


# rows are (repo, path, commit, lang, content): snapshot rows carry their repo
_SNAP_IMAGE = (
    _key_col(lambda _repo, r: _key_bytes(r[0], r[1])),
    _Col(lambda _repo, r: _value_bytes(r[2], r[3], r[4]),
         lambda: (F.octet_length("commit") + 1
                  + F.when(F.col("lang").isNull(), F.lit(1))
                  .otherwise(1 + F.octet_length("lang"))
                  + 1 + F.octet_length("content")),
         _decode_value),
)
SNAPSHOT = _Layout(
    table=b"files",
    n_cols=2,
    passes=(_Pass("I", WRITE_ROWS_EVENT_V2, (_SNAP_IMAGE,), bytes([0b11])),),
    order=("path",),
    row_cols=("repo", "path", "commit", "lang", "content"),
    op_of=lambda _r: "I",
    name=_snapshot_name,
    glob="binlog-*.log",
    manifest_schema=FILE_MANIFEST_SCHEMA,
    row_schema=PARSED_ROW_SCHEMA,
)

# rows are (path, diff_op, old_content, new_content, new_commit)
_NC_KEY = _key_col(lambda repo, r: _key_bytes(repo, r[0]))
_NC_BEFORE = (_NC_KEY, _text_col(2, "old_content"))
_NC_AFTER = (_NC_KEY, _text_col(4, "new_commit"), _text_col(3, "new_content"))
_BM_KEY_CONTENT, _BM_ALL = 0b101, 0b111
NETCHANGE = _Layout(
    table=b"changes",
    n_cols=3,
    passes=(
        _Pass("I", WRITE_ROWS_EVENT_V2, (_NC_AFTER,), bytes([_BM_ALL])),
        _Pass("D", DELETE_ROWS_EVENT_V2, (_NC_BEFORE,), bytes([_BM_KEY_CONTENT])),
        _Pass("U", UPDATE_ROWS_EVENT_V2, (_NC_BEFORE, _NC_AFTER),
              bytes([_BM_KEY_CONTENT, _BM_ALL])),
    ),
    order=("seq", "path"),
    row_cols=("path", "diff_op", "old_content", "new_content", "new_commit"),
    op_of=operator.itemgetter(1),
    name=_netchange_name,
    glob=f"{NETCHANGE_KIND}_*",
    manifest_schema=NETCHANGE_MANIFEST_SCHEMA,
    row_schema=NETCHANGE_ROW_SCHEMA,
)


# -- the codec: row encoder and its size twins, framer, parser --------------


def _encode_row(p: _Pass, repo: str, row: tuple) -> bytes:
    """One row entry: per image a null-bitmap byte (nothing is null in
    either layout), then each column as a 4-byte length + its bytes."""
    out = []
    for cols in p.images:
        out.append(b"\x00")
        for c in cols:
            v = c.encode(repo, row)
            out.append(_U32.pack(len(v)))
            out.append(v)
    return b"".join(out)


def _row_size(p: _Pass, repo: str, row: tuple) -> int:
    """Python twin of ``_size_expr``: the encoded size of one row entry."""
    return sum(1 + sum(4 + len(c.encode(repo, row)) for c in cols)
               for cols in p.images)


def _size_expr(layout: _Layout) -> Column:
    """``_row_size`` as a Spark expression over the export's columns."""
    def pass_size(p: _Pass) -> Column:
        return sum(1 + sum(4 + c.octets() for c in cols) for cols in p.images)

    expr = pass_size(layout.passes[-1])
    for p in reversed(layout.passes[:-1]):
        expr = F.when(F.col("diff_op") == p.op, pass_size(p)).otherwise(expr)
    return expr.cast("long")


def _frame(layout: _Layout, repo: str, rows: list[tuple], xid: int,
           next_name: str) -> tuple[bytes, int, dict[str, int]]:
    """Frame rows (already in file order) as a complete binlog file: FDE,
    one BEGIN / TABLE_MAP / <=8KB-chunked ROWS / XID transaction per
    non-empty pass (xids counting up from ``xid``), ROTATE naming
    ``next_name``. Returns (bytes, rows-event count, rows per op)."""
    by_op: dict[str, list] = {p.op: [] for p in layout.passes}
    for r in rows:
        bucket = by_op.get(layout.op_of(r))
        if bucket is None:
            raise ValueError(f"binlog export: unknown diff_op "
                             f"{layout.op_of(r)!r} for repo {repo!r}")
        bucket.append(r)

    out = bytearray(BINLOG_MAGIC)

    def emit(etype: int, body: bytes) -> None:
        out.extend(_event(etype, body, len(out)))

    emit(FORMAT_DESCRIPTION_EVENT, _fde_body())
    n_chunks = 0
    for p in layout.passes:
        if not by_op[p.op]:
            continue
        emit(QUERY_EVENT, _query_body(repo.encode(), b"BEGIN"))
        emit(TABLE_MAP_EVENT,
             _table_map_body(repo.encode(), layout.table, layout.n_cols))
        # a row belongs to chunk floor(cum_bytes_before_row / 8192)
        chunks: list[bytearray] = [bytearray()]
        cum = 0
        for r in by_op[p.op]:
            try:
                enc = _encode_row(p, repo, r)
            except (AttributeError, TypeError):  # a None where bytes belong
                raise ValueError(
                    f"binlog export: {p.op} row {r[:2]!r} of repo {repo!r} is "
                    "missing its required image columns"
                ) from None
            idx = cum // BUFFER_SIZE
            while idx >= len(chunks):
                chunks.append(bytearray())
            chunks[idx] += enc
            cum += len(enc)
        for i, ch in enumerate(chunks):
            flags = STMT_END_F if i == len(chunks) - 1 else 0
            emit(p.etype, _rows_body(layout.n_cols, p.bitmaps, ch, flags))
        emit(XID_EVENT, struct.pack("<Q", xid))
        xid += 1
        n_chunks += len(chunks)
    emit(ROTATE_EVENT, struct.pack("<Q", len(out)) + next_name.encode())
    return bytes(out), n_chunks, {op: len(b) for op, b in by_op.items()}


def iter_binlog_events(blob: bytes):
    """Validated walk over one binlog file: yields (etype, raw_event,
    body, pos) per event, where ``raw_event`` is the complete framed
    event (header+body+CRC — what BINLOG-statement replay base64s) and
    ``body`` excludes header and CRC. Verifies the magic, every event's
    size/log_pos bookkeeping and CRC32; accepts whole-stream zlib."""
    if blob[:1] == b"\x78" and not blob.startswith(BINLOG_MAGIC):
        blob = zlib.decompress(blob)
    if not blob.startswith(BINLOG_MAGIC):
        raise ValueError("not a binlog file (bad magic)")
    pos = len(BINLOG_MAGIC)
    while pos < len(blob):
        if pos + HEADER_LEN > len(blob):
            raise ValueError(f"truncated event header at byte {pos}")
        _ts, etype, _sid, size, log_pos, _fl = struct.unpack_from("<IBIIIH", blob, pos)
        if size < HEADER_LEN + 4 or pos + size > len(blob):
            raise ValueError(f"bad event size {size} at byte {pos}")
        if log_pos != pos + size:
            raise ValueError(f"log_pos {log_pos} != end position {pos + size} at {pos}")
        raw = blob[pos:pos + size]
        body = raw[HEADER_LEN:-4]
        (crc,) = struct.unpack("<I", raw[-4:])
        if zlib.crc32(raw[:-4]) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC32 mismatch in event at byte {pos}")
        yield etype, raw, body, pos
        pos += size


def _parse(layout: _Layout, blob: bytes) -> list[dict]:
    """Decode one file into ``layout.row_schema`` dicts. Beyond the event
    walk's checks, verifies each rows event's column count and bitmaps
    against the layout and the STMT_END/XID protocol; malformed input
    fails loudly. The chunk index restarts with every transaction."""
    passes = {p.etype: p for p in layout.passes}
    blanks = {}
    for p in layout.passes:
        blanks[p.etype] = dict.fromkeys(layout.row_schema.fieldNames())
        if "diff_op" in blanks[p.etype]:
            blanks[p.etype]["diff_op"] = p.op
    rows: list[dict] = []
    pending: list[dict] = []
    chunk_idx = 0
    saw_fde = saw_stmt_end = False
    for etype, _raw, body, pos in iter_binlog_events(blob):
        if etype == FORMAT_DESCRIPTION_EVENT:
            if struct.unpack("<H", body[:2])[0] != 4:
                raise ValueError("unsupported binlog version")
            saw_fde = True
        elif etype in passes:
            if not saw_fde:
                raise ValueError("rows event before FORMAT_DESCRIPTION")
            p = passes[etype]
            off = 11 + len(p.bitmaps)  # table_id, flags, extra, ncols, bitmaps
            if body[10] != layout.n_cols or body[11:off] != p.bitmaps:
                raise ValueError(f"rows event at byte {pos} does not match "
                                 f"the {layout.table.decode()!r} layout")
            base = {**blanks[etype], "chunk_idx": chunk_idx, "xid": -1}
            while off < len(body):
                rec = base.copy()
                for cols in p.images:
                    off += 1  # null-bitmap byte
                    for c in cols:
                        (ln,) = _U32.unpack_from(body, off)
                        off += 4
                        c.decode(rec, body[off:off + ln])
                        off += ln
                pending.append(rec)
            chunk_idx += 1
            if body[6] & STMT_END_F:
                saw_stmt_end = True
        elif etype == XID_EVENT:
            if not saw_stmt_end and pending:
                raise ValueError("XID before the STMT_END rows chunk")
            (xid,) = struct.unpack("<Q", body[:8])
            for r in pending:
                r["xid"] = xid
            rows.extend(pending)
            pending = []
            chunk_idx = 0
            saw_stmt_end = False
    if pending:
        raise ValueError("rows chunks with no committing XID event")
    return rows


# -- distributed writer and reader ------------------------------------------


def _write(layout: _Layout, df: DataFrame, out_dir: str,
           max_file_bytes: int | None, compress: bool) -> DataFrame:
    """Executor-side export: one file per (repo[, segment]) group, written
    as tmp + ``os.replace``; returns the per-file manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rotated = max_file_bytes is not None
    manifest_cols = layout.manifest_schema.fieldNames()

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(layout.order))
        # Arrow->pandas can surface SQL NULLs as NaN; normalize to None so
        # the framer's image checks see real nulls
        pdf = pdf.astype(object).where(pd.notnull(pdf), None)
        repo = pdf["repo"].iloc[0]
        seg = last_seg = None
        if rotated:
            seg, last_seg = int(pdf["_seg"].iloc[0]), int(pdf["_max_seg"].iloc[0])
        rows = list(zip(*(pdf[c] for c in layout.row_cols)))
        name, nxt, extra = layout.name(pdf, repo, seg, last_seg)
        blob, n_chunks, counts = _frame(
            layout, repo, rows, len(layout.passes) * (seg or 0) + 1, nxt
        )
        if compress:
            blob = zlib.compress(blob, 6)
            name += ".z"
        dest = os.path.join(out_dir, name)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        tmp = os.path.join(os.path.dirname(dest),
                           f".{os.path.basename(dest)}.tmp-{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, dest)
        return pd.DataFrame([{
            "repo": repo, "file_name": name, "n_rows": len(rows),
            "n_chunks": n_chunks, "n_inserts": counts.get("I", 0),
            "n_deletes": counts.get("D", 0), "n_updates": counts.get("U", 0),
            "byte_len": len(blob), "compressed": compress,
            "file_sha256": hashlib.sha256(blob).hexdigest(), **extra,
        }], columns=manifest_cols)

    df = df.select(*dict.fromkeys(("repo", *layout.order, *layout.row_cols)))
    if not rotated:
        grouped = df.groupBy("repo")
    else:
        by_repo = Window.partitionBy("repo")
        cum_before = F.coalesce(F.sum(_size_expr(layout)).over(
            by_repo.orderBy(*layout.order).rowsBetween(Window.unboundedPreceding, -1)
        ), F.lit(0))
        df = df.withColumn(
            "_seg", F.floor(cum_before / F.lit(max_file_bytes)).cast("long")
        ).withColumn("_max_seg", F.max("_seg").over(by_repo))
        # the window's repo-only partitioning already satisfies the groupBy
        # (subset rule) and would serialize a hot repo's segments through
        # one task: this second exchange buys cross-executor parallelism
        grouped = df.repartition("repo", "_seg").groupBy("repo", "_seg")
    return grouped.applyInPandas(build, schema=layout.manifest_schema)


def _read(layout: _Layout, spark, path: str) -> DataFrame:
    """Distributed parse of an export tree (rotated segments, ``.z`` zlib
    files and ``.tar`` consolidation archives) back into rows."""
    # pathGlobFilter, not a glob IN the path: loading a glob path makes
    # Spark's FileStreamSink.hasMetadata stat the glob string as a literal
    # file and log a FileNotFoundException stack at WARN on every read
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", layout.glob)
        .load(path)
        .select("path", "content")
    )
    cols = layout.row_schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs: list[dict] = []
            for name, blob in zip(pdf["path"], pdf["content"]):
                if name.endswith(".tar"):
                    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
                        for member in tf.getmembers():
                            if member.isfile():
                                recs.extend(_parse(
                                    layout, tf.extractfile(member).read()))
                else:
                    recs.extend(_parse(layout, bytes(blob)))
            yield (
                pd.DataFrame(recs, columns=cols)
                if recs
                else pd.DataFrame({c: pd.Series(dtype="object") for c in cols})
            )

    return files.mapInPandas(run, schema=layout.row_schema)


# -- public API -------------------------------------------------------------


def build_binlog_file(rows: list[tuple[str, str, str, str | None, str]],
                      repo: str, xid: int = 1) -> bytes:
    """Frame one transaction's (repo, path, commit, lang, content) rows,
    already path-ordered, as a complete snapshot binlog file."""
    return _frame(SNAPSHOT, repo, rows, xid, f"{repo}.next")[0]


def build_netchange_file(
    rows: list[tuple[str, str, str | None, str | None, str | None]],
    repo: str,
    start_xid: int = 1,
    next_name: str = "",
) -> bytes:
    """Frame (path, op, old_content, new_content, new_commit) rows,
    already (seq, path)-ordered, as a complete net-change binlog file:
    one transaction per op pass present, xids from ``start_xid``, ROTATE
    naming ``next_name``."""
    return _frame(NETCHANGE, repo, rows, start_xid, next_name)[0]


def parse_binlog_bytes(blob: bytes) -> list[dict]:
    """One snapshot binlog file -> row dicts (``PARSED_ROW_SCHEMA``)."""
    return _parse(SNAPSHOT, blob)


def parse_netchange_bytes(blob: bytes) -> list[dict]:
    """One net-change binlog file, plain or zlib -> row dicts
    (``NETCHANGE_ROW_SCHEMA``)."""
    return _parse(NETCHANGE, blob)


def write_binlog_files(
    snapshot: DataFrame, out_dir: str, max_file_bytes: int | None = None
) -> DataFrame:
    """Export a (repo, path, commit, lang, content) snapshot as binlog
    files in ``out_dir``, one per repo (the reference's per-table
    compacted output) or per ``max_file_bytes`` segment; returns the
    ``FILE_MANIFEST_SCHEMA`` manifest. Without rotation (the
    oracle-checked shape) a hot repo materializes in one pandas frame."""
    return _write(SNAPSHOT, snapshot, out_dir, max_file_bytes, False)


def write_netchange_binlog_files(
    changes: DataFrame,
    out_dir: str,
    max_file_bytes: int | None = None,
    compress: bool = False,
) -> DataFrame:
    """Export a net-change set (``LakeTable.diff(v0, v1,
    keep_lineage=True)``: repo, path, diff_op, seq, old_content,
    new_content, new_commit) as ``out_dir/<repo>/chg_{start}_{end}.log``
    files, rotated by ``max_file_bytes`` (each segment's ROTATE names the
    next one's prefix, the reference's NextPrefix,
    common/inter/constant.go:137-139) and optionally zlib'd (``.log.z``).
    Returns the ``NETCHANGE_MANIFEST_SCHEMA`` manifest."""
    return _write(NETCHANGE, changes, out_dir, max_file_bytes, compress)


def read_binlog_files(spark, path: str) -> DataFrame:
    """Distributed parse of a snapshot export directory back into rows."""
    return _read(SNAPSHOT, spark, path)


def read_netchange_binlog_files(spark, out_dir: str) -> DataFrame:
    """Distributed parse of a net-change export tree back into diff rows,
    old images included."""
    return _read(NETCHANGE, spark, out_dir)


def consolidate_netchange_exports(spark, out_dir: str) -> DataFrame:
    """Fold each repo's rotated segment files into ONE rolling
    ``chg_{min}_{max}.tar`` archive and remove the originals — the
    reference's tar consolidation (common/client/cfs.go:84-171,
    DstTarFileName constant.go:141-143); ``read_netchange_binlog_files``
    opens tar members transparently. One applyInPandas task per repo
    directory, done where the files live (out_dir is shared storage, as
    the writer assumes). Members carry zeroed metadata, so archive bytes
    are a pure function of the members. Returns the per-archive
    manifest."""
    dirs = sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))
    schema = "repo_dir string, tar_name string, n_members long, byte_len long"
    if not dirs:
        return spark.createDataFrame([], schema)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["repo_dir"].iloc[0]
        rdir = os.path.join(out_dir, d)
        names = sorted(
            n for n in os.listdir(rdir)
            if n.startswith(f"{NETCHANGE_KIND}_") and ".log" in n
            and not n.endswith(".tar")
        )
        if not names:
            return pd.DataFrame(columns=["repo_dir", "tar_name", "n_members",
                                         "byte_len"])
        seqs = [int(n.split("_")[1]) for n in names] + [
            int(n.split("_")[2].split(".")[0]) for n in names
        ]
        tar_name = f"{NETCHANGE_KIND}_{min(seqs):010d}_{max(seqs):010d}.tar"
        tmp = os.path.join(rdir, f".{tar_name}.tmp-{os.getpid()}")
        with tarfile.open(tmp, "w") as tf:
            for n in names:
                with open(os.path.join(rdir, n), "rb") as f:
                    data = f.read()
                info = tarfile.TarInfo(name=n)
                info.size = len(data)
                info.mtime = 0  # deterministic archive bytes
                tf.addfile(info, io.BytesIO(data))
        os.replace(tmp, os.path.join(rdir, tar_name))
        for n in names:
            os.remove(os.path.join(rdir, n))
        return pd.DataFrame([{
            "repo_dir": d, "tar_name": tar_name, "n_members": len(names),
            "byte_len": os.path.getsize(os.path.join(rdir, tar_name)),
        }])

    listing = spark.createDataFrame([(d,) for d in dirs], "repo_dir string")
    return listing.groupBy("repo_dir").applyInPandas(fold, schema=schema)

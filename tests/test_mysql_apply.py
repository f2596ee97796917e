"""Recover-to-live-MySQL adapter: the BINLOG-statement executor driven
against a mock DB-API connection — asserts the exact statement and
transaction sequence the reference's recover produces
(recover/res/resume.go:592-747, common/db/mysql.go:333-359)."""

from __future__ import annotations

import base64

import pytest

from mysql_binlog_spark.sinks.binlog_file import (
    build_binlog_file,
    build_netchange_file,
)
from mysql_binlog_spark.sinks.mysql_apply import (
    BinlogSqlApplier,
    apply_binlog_dir,
)

SNAP_ROWS = [
    ("r1", "a.py", "c1", "python", "print(1)"),
    ("r1", "b.go", "c2", None, "package main"),
]
NC_ROWS = [
    ("a.py", "I", None, "new a", "c1"),
    ("b.go", "D", "old b", None, None),
    ("c.rs", "U", "old c", "new c", "c2"),
]


class MockCursor:
    def __init__(self, log):
        self.log = log

    def execute(self, sql):
        self.log.append(("exec", sql))

    def close(self):
        pass


class MockConn:
    def __init__(self):
        self.log = []

    def cursor(self):
        return MockCursor(self.log)

    def commit(self):
        self.log.append(("commit", None))

    def close(self):
        pass


def _tags(log):
    return [
        "commit" if kind == "commit"
        else sql.split()[0] if not sql.startswith("BINLOG")
        else "BINLOG"
        for kind, sql in log
    ]


def test_snapshot_file_statement_and_txn_sequence():
    conn = MockConn()
    applier = BinlogSqlApplier(lambda: conn)
    report = applier.apply_bytes(build_binlog_file(SNAP_ROWS, "r1", xid=9))
    # FDE in its own committed BINLOG statement, then BEGIN / buffered
    # TABLE_MAP+rows BINLOG statement / XID-commit
    assert _tags(conn.log) == [
        "BEGIN", "BINLOG", "commit",          # format description
        "BEGIN", "BINLOG", "commit",          # the rows transaction
    ]
    assert report.transactions == 2
    assert report.rows_statements == 1
    assert report.xids == [9]
    # the rows statement carries BOTH the TABLE_MAP and the rows event
    rows_stmt = [s for k, s in conn.log if k == "exec" and s.startswith("BINLOG")][1]
    assert rows_stmt.count("\n") >= 2 and rows_stmt.endswith("';")
    # base64 is the 76-char-line MySQL variant
    b64_lines = [
        ln for ln in rows_stmt.splitlines()
        if ln and not ln.startswith(("BINLOG", "'"))
    ]
    assert all(len(ln) <= 76 for ln in b64_lines)
    for ln in b64_lines[:1]:
        base64.b64decode(ln)  # decodes cleanly


def test_netchange_file_three_pass_transactions():
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(
        build_netchange_file(NC_ROWS, "r1", start_xid=1)
    )
    # FDE txn + one txn per op-type pass (I, D, U)
    assert report.transactions == 4
    assert report.rows_statements == 3
    assert report.xids == [1, 2, 3]
    assert _tags(conn.log) == [
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
    ]


def test_chunked_transaction_is_one_buffered_statement():
    """8KB chunking produces several rows EVENTS but one buffered BINLOG
    statement per transaction (buffer flushes on STMT_END only)."""
    big = [("r1", f"p{i:03d}", f"c{i}", "py", "x" * 600) for i in range(40)]
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(
        build_binlog_file(big, "r1")
    )
    assert report.rows_statements == 1
    rows_stmt = [s for k, s in conn.log if k == "exec" and s.startswith("BINLOG")][1]
    # TABLE_MAP + >=3 chunk events, blank-line separated base64 blocks
    assert report.transactions == 2


def test_max_allowed_packet_growth_hook():
    conn = MockConn()
    applier = BinlogSqlApplier(lambda: conn, max_allowed_packet=200)
    report = applier.apply_bytes(build_binlog_file(SNAP_ROWS, "r1"))
    grows = [s for k, s in conn.log if k == "exec"
             and s.startswith("SET GLOBAL max_allowed_packet")]
    assert len(grows) == 1 and report.packet_growths == 1
    # doubled beyond the statement size, and issued BEFORE the statement
    new_size = int(grows[0].split("=")[1])
    assert new_size > 200 and applier.max_allowed_packet == new_size
    idx_grow = next(i for i, (k, s) in enumerate(conn.log)
                    if k == "exec" and s.startswith("SET GLOBAL"))
    idx_rows = [i for i, (k, s) in enumerate(conn.log)
                if k == "exec" and s.startswith("BINLOG")][1]
    assert idx_grow < idx_rows


def test_rollback_savepoint_elided_and_ddl_gets_use_schema():
    """DDL QUERY events run use <schema> + statement in their own txn;
    ROLLBACK/SAVEPOINT are skipped (resume.go:636-638)."""
    from mysql_binlog_spark.sinks.binlog_file import (
        BINLOG_MAGIC,
        QUERY_EVENT,
        _event,
        _fde_body,
        _query_body,
        FORMAT_DESCRIPTION_EVENT,
    )

    out = bytearray(BINLOG_MAGIC)
    pos = len(out)
    for etype, body in [
        (FORMAT_DESCRIPTION_EVENT, _fde_body()),
        (QUERY_EVENT, _query_body(b"maindb", b"TRUNCATE TABLE r2")),
        (QUERY_EVENT, _query_body(b"", b"SAVEPOINT sp1")),
        (QUERY_EVENT, _query_body(b"", b"ROLLBACK")),
    ]:
        ev = _event(etype, body, pos)
        out.extend(ev)
        pos += len(ev)
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(bytes(out))
    stmts = [s for k, s in conn.log if k == "exec"]
    assert stmts[3] == "use maindb" and stmts[4] == "TRUNCATE TABLE r2"
    assert report.ddl_statements == 1
    assert not any("SAVEPOINT" in s or "ROLLBACK" in s for s in stmts)


def test_corrupt_input_fails_loudly():
    blob = bytearray(build_binlog_file(SNAP_ROWS, "r1"))
    blob[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        BinlogSqlApplier(MockConn).apply_bytes(bytes(blob))


def test_apply_dir_walks_rotated_compressed_exports(spark, tmp_path):
    """End-to-end over a real net-change export tree: rotated + zlib'd
    segments apply in seq order through one connection."""
    from mysql_binlog_spark.sinks.binlog_file import (
        write_netchange_binlog_files,
    )

    rows = [
        ("r1", f"p{i:03d}", "I", i, None, f"body-{i}" * 30, f"c{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, diff_op string, seq long, "
        "old_content string, new_content string, new_commit string",
    )
    out = str(tmp_path / "nc")
    manifest = write_netchange_binlog_files(
        df, out, max_file_bytes=2048, compress=True
    ).collect()
    assert len(manifest) > 1
    conn = MockConn()
    report = apply_binlog_dir(lambda: conn, out)
    assert report.files == len(manifest)
    # one FDE txn + one insert-pass txn per file
    assert report.transactions == 2 * len(manifest)
    assert report.rows_statements == len(manifest)
    # consolidated tars apply identically (member-order walk)
    from mysql_binlog_spark.sinks.binlog_file import (
        consolidate_netchange_exports,
    )

    consolidate_netchange_exports(spark, out).collect()
    conn2 = MockConn()
    report2 = apply_binlog_dir(lambda: conn2, out)
    assert report2.transactions == report.transactions
    assert report2.rows_statements == report.rows_statements
    assert [s for k, s in conn2.log] == [s for k, s in conn.log]


def _stream(events) -> bytes:
    """Frame (etype, body) pairs as one binlog file."""
    from mysql_binlog_spark.sinks.binlog_file import BINLOG_MAGIC, _event

    out = bytearray(BINLOG_MAGIC)
    for etype, body in events:
        out.extend(_event(etype, body, len(out)))
    return bytes(out)


def test_query_event_status_vars_are_skipped():
    """A real server's QUERY events carry a status-vars block between the
    post-header and the schema; its length (body[11:13]) must be skipped,
    not read as schema and statement."""
    import struct

    from mysql_binlog_spark.sinks.binlog_file import (
        FORMAT_DESCRIPTION_EVENT,
        QUERY_EVENT,
        _fde_body,
    )

    status = bytes([0x00, 0, 0, 0, 0, 0x01, 0, 0, 0, 0, 0, 0, 0, 0])
    query = (struct.pack("<IIBHH", 7, 0, len(b"maindb"), 0, len(status))
             + status + b"maindb\x00TRUNCATE TABLE r2")
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(
        _stream([(FORMAT_DESCRIPTION_EVENT, _fde_body()), (QUERY_EVENT, query)])
    )
    stmts = [s for k, s in conn.log if k == "exec"]
    assert stmts[-2:] == ["use maindb", "TRUNCATE TABLE r2"]
    assert report.ddl_statements == 1


def test_apply_dir_skips_crashed_writer_temp_files(tmp_path):
    """A writer that dies between write and rename leaves
    ``.<name>.log.tmp-<pid>``; the directory walk must not apply it."""
    d = tmp_path / "r1"
    d.mkdir()
    blob = build_binlog_file(SNAP_ROWS, "r1")
    (d / "binlog-r1.log").write_bytes(blob)
    (d / ".binlog-r2.log.tmp-4242").write_bytes(blob[: len(blob) // 2])
    (d / "notes.logbook").write_bytes(b"not a binlog")
    report = apply_binlog_dir(MockConn, str(tmp_path))
    assert report.files == 1 and report.xids == [1]


def test_packet_growth_reconnects_and_reapplies_format():
    """resetMaxPkgSize: after SET GLOBAL the session is rebuilt through the
    factory (a session's max_allowed_packet is fixed at connect time), the
    FDE is re-applied as its own committed BINLOG statement, the open
    transaction is re-opened with what it had already executed, and only
    then does the oversized statement run."""
    from mysql_binlog_spark.sinks.binlog_file import (
        TABLE_MAP_EVENT,
        WRITE_ROWS_EVENT_V2,
        XID_EVENT,
        iter_binlog_events,
    )

    def events(rows):
        return [(t, body) for t, _raw, body, _pos in
                iter_binlog_events(build_binlog_file(rows, "r1"))]

    small = events(SNAP_ROWS[:1])
    big = events([("r1", "big.txt", "c9", None, "v" * 400)])
    # one transaction, two statements: the second outgrows the packet
    rows_stmt = [(t, b) for t, b in big
                 if t in (TABLE_MAP_EVENT, WRITE_ROWS_EVENT_V2)]
    blob = _stream(
        [e for e in small if e[0] != XID_EVENT][:-1]  # drop XID and ROTATE
        + rows_stmt
        + [(XID_EVENT, (11).to_bytes(8, "little"))]
    )
    conns: list[MockConn] = []

    def factory():
        conns.append(MockConn())
        return conns[-1]

    applier = BinlogSqlApplier(factory, max_allowed_packet=400)
    report = applier.apply_bytes(blob)
    assert report.packet_growths == 1 and len(conns) == 2
    old, new = conns
    old_stmts = [s for k, s in old.log if k == "exec"]
    fde_stmt, small_stmt = old_stmts[1], old_stmts[3]
    assert old_stmts[-1].startswith("SET GLOBAL max_allowed_packet")
    assert ("commit", None) not in old.log[old.log.index(("exec", small_stmt)):]
    assert _tags(new.log) == [
        "BEGIN", "BINLOG", "commit",            # format re-installed
        "BEGIN", "BINLOG", "BINLOG", "commit",  # replayed + oversized, XID
    ]
    new_stmts = [s for k, s in new.log if k == "exec"]
    assert new_stmts[1] == fde_stmt and new_stmts[3] == small_stmt
    assert len(new_stmts[4]) > 400 and report.xids == [11]

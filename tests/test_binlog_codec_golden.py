"""Golden bytes for both binlog export layouts: the sha256 of every framed
file, so any change to the codec that alters a single exported byte
fails here. Covers the snapshot (2-column WRITE_ROWS) and net-change
(3-column I/D/U) layouts, single- and multi-chunk transactions, and the
executor writers with rotation (plus zlib for the net-change export)."""

from __future__ import annotations

import hashlib
import os

from mysql_binlog_spark.sinks.binlog_file import (
    build_binlog_file,
    build_netchange_file,
    write_binlog_files,
    write_netchange_binlog_files,
)

ROWS = [
    ("r1", "a.py", "c1", "python", "print(1)"),
    ("r1", "b.go", "c2", None, "package main"),
    ("r1", "c.rs", "c3", "rust", "fn main() {}"),
]
BIG_ROWS = [("r1", f"p{i:04d}", f"c{i}", "py", "x" * 600) for i in range(40)]

NC_ROWS = [
    ("a.py", "I", None, "print(1)", "c1"),
    ("b.go", "U", "old body", "new body", "c2"),
    ("c.rs", "D", "deleted body", None, None),
    ("d.md", "I", None, "# doc", "c3"),
]
# every pass spans several 8KB chunks
NC_BIG_ROWS = [
    (f"p{i:03d}", op, None if op == "I" else "o" * 700,
     None if op == "D" else "n" * 900, None if op == "D" else f"c{i}")
    for i, op in enumerate(["I", "D", "U"] * 30)
]


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _tree(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            full = os.path.join(d, n)
            with open(full, "rb") as f:
                out[os.path.relpath(full, root)] = _sha(f.read())
    return out


def test_snapshot_frames_golden():
    assert _sha(build_binlog_file(ROWS, "r1", xid=7)) == (
        "71ad93cefe94eba99c22b18d90612a49fc14b0120055899a2927338b6d02e895"
    )
    assert _sha(build_binlog_file(BIG_ROWS, "r1", xid=1)) == (
        "9d63fdb53920c13fda6e1e89bd8f70b06bd3adc304bb95c5911ffbce9c679de6"
    )


def test_netchange_frames_golden():
    assert _sha(
        build_netchange_file(NC_ROWS, "r1", start_xid=5, next_name="chg_42")
    ) == "7231b030250e1ad26c5813cb477dc784f97c80fa4fe1b4d4cba92dfe8f7f2c1e"
    assert _sha(
        build_netchange_file(NC_BIG_ROWS, "r9", start_xid=4, next_name="chg_7")
    ) == "8819e6e116f3ee5c32656c5833a874cba56078a24076537c4833274b354b0977"


def test_rotated_writers_golden(spark, tmp_path):
    snap = spark.createDataFrame(
        [("hot", f"p{i:03d}", f"c{i}", None if i % 4 == 0 else "py",
          f"body-{i}-" * 40) for i in range(60)]
        + [("org/cold", "q", "c", "md", "tiny")],
        "repo string, path string, commit string, lang string, content string",
    )
    out = str(tmp_path / "snap")
    write_binlog_files(snap, out, max_file_bytes=8192).collect()
    assert _tree(out) == {
        "binlog-hot.00000.log":
            "786623cbdf868f7a2c8c1d3078c1fc51894712ab836e20330dde9756566f29e3",
        "binlog-hot.00001.log":
            "6a21c065a4b7af1101c04c638c7e47cd23c0df43bcc1ea17013d50b64b54e7ad",
        "binlog-hot.00002.log":
            "84a49b4bae509447b050d4f88e75be85e35574f3de63fb42df6c0f7b6aa2365a",
        "binlog-org%2Fcold.00000.log":
            "533ff888c7477a1a4d21398264610c1a170bff2e17996589228fc407c4d36bcd",
    }

    ops = ["I", "D", "U"]
    chg = spark.createDataFrame(
        [("hot", f"p{i:03d}", ops[i % 3], 100 + i,
          None if i % 3 == 0 else f"old-{i}-" * 30,
          None if i % 3 == 1 else f"new-{i}-" * 50,
          None if i % 3 == 1 else f"c{i}") for i in range(60)]
        + [("../evil", "x", "I", 7, None, "y", "c")],
        "repo string, path string, diff_op string, seq long, "
        "old_content string, new_content string, new_commit string",
    )
    out = str(tmp_path / "nc")
    write_netchange_binlog_files(
        chg, out, max_file_bytes=8192, compress=True
    ).collect()
    assert _tree(out) == {
        "%2E.%2Fevil/chg_0000000007_0000000007.log.z":
            "5f0d9785fa0947c93d128d7e6cde16002ddd61a8735f5cdee08524d4095aba3e",
        "hot/chg_0000000100_0000000121.log.z":
            "b7bee2a91233d0d6e009d3d23c1384e61d2cecd9989b6b01316499d8191defbe",
        "hot/chg_0000000122_0000000142.log.z":
            "00c2899461cddff8d05b24f8133d4d88dee2b6ca6cb1b7b4be18df315d7a6e51",
        "hot/chg_0000000143_0000000159.log.z":
            "64f8e47d22cc97952b44dff177eecf15d25b1e54883b740f582a35d6c55621e2",
    }

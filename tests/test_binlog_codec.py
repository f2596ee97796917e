"""The one binlog codec, checked across both layouts: the Spark size
expression, its Python twin and the encoded bytes agree; values a layout
cannot carry fail loudly; and build -> parse round-trips random rows
(unicode, empty strings, rows over the 8KB chunk size, every I/D/U mix,
zlib) with the chunk indices the cumsum rule predicts."""

from __future__ import annotations

import zlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mysql_binlog_spark.sinks.binlog_file import (
    BUFFER_SIZE,
    NETCHANGE,
    SNAPSHOT,
    _encode_row,
    _row_size,
    _size_expr,
    build_binlog_file,
    build_netchange_file,
    parse_binlog_bytes,
    parse_netchange_bytes,
)

SNAP_DDL = "repo string, path string, commit string, lang string, content string"
NC_DDL = ("repo string, path string, diff_op string, seq long, "
          "old_content string, new_content string, new_commit string")


def _nc_change(i, op, old, new):
    """(repo, path, diff_op, seq, old_content, new_content, new_commit)."""
    return ("rè", f"p{i}-ü", op, i, None if op == "I" else old,
            None if op == "D" else new, None if op == "D" else f"c{i}")


@pytest.mark.parametrize("layout", ["snapshot", "netchange"])
def test_size_expr_matches_python_size_and_encoder(spark, layout):
    """The rotation planner sizes rows with the Spark expression, the
    framer with the encoded bytes: pin both to the Python twin, for each
    layout, on mixed ops, a null lang, multi-byte UTF-8 and empty
    strings."""
    if layout == "snapshot":
        lay, ddl = SNAPSHOT, SNAP_DDL
        rows = [
            ("r1", "a.py", "c1", "python", "print(1)"),
            ("r1", "b.go", "c2", None, "package main"),
            ("rü", "日本/語.md", "ç", "日本語", "é" * 300),
            ("r1", "", "", "", ""),
        ]
    else:
        lay, ddl = NETCHANGE, NC_DDL
        rows = [_nc_change(i, op, "ö" * (i + 1), "ñ" * (2 * i + 1))
                for i, op in enumerate(["I", "D", "U", "I", "U", "D"])]
        rows += [("r", "", "I", 90, None, "", ""), ("r", "e", "D", 91, "", None, None),
                 ("r", "f", "U", 92, "", "", "")]
    got = (
        spark.createDataFrame(rows, ddl)
        .select("path", _size_expr(lay).alias("sz"))
        .collect()
    )
    sizes = {r["path"]: r["sz"] for r in got}
    assert len(sizes) == len(rows)
    cols = [f.split()[0] for f in ddl.split(", ")]
    passes = {p.op: p for p in lay.passes}
    for row in rows:
        named = dict(zip(cols, row))
        p = passes[named.get("diff_op", "I")]
        framed = tuple(named[c] for c in lay.row_cols)
        want = _row_size(p, named["repo"], framed)
        assert sizes[named["path"]] == want, row
        assert want == len(_encode_row(p, named["repo"], framed)), row


def test_nul_in_delimited_fields_is_rejected():
    """NUL separates the fields packed into one column. Where a NUL would
    shift the parse, the encoder refuses the value; where a field is last
    or a column of its own, it round-trips."""
    for bad in [("r\x00x", "p", "c\x00d", "py", "body"),
                ("r", "p", "c\x00d", "py", "body"),
                ("r", "p", "c", "p\x00y", "body")]:
        with pytest.raises(ValueError, match="NUL"):
            build_binlog_file([bad], bad[0])
    with pytest.raises(ValueError, match="NUL"):
        build_netchange_file([("p", "I", None, "n", "c")], "r\x00x")
    with pytest.raises(ValueError, match="NUL"):
        build_netchange_file([("p", "D", "o", None, None)], "r\x00x")

    ok = ("r", "x\x00p", "c", "py", "a\x00b")
    back = parse_binlog_bytes(build_binlog_file([ok], "r"))
    assert [(b["repo"], b["path"], b["commit"], b["lang"], b["content"])
            for b in back] == [ok]
    nc = ("x\x00p", "U", "o\x00ld", "n\x00ew", "c\x00m")
    back = parse_netchange_bytes(build_netchange_file([nc], "r"))
    assert [(b["path"], b["diff_op"], b["old_content"], b["new_content"],
             b["new_commit"]) for b in back] == [nc]


_chars = st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00")
_text = st.text(_chars, max_size=12)
_body = st.one_of(
    _text,
    st.builds(lambda c, n: c * n, _chars,
              st.integers(BUFFER_SIZE // 2, 3 * BUFFER_SIZE)),
)
# rows are (op, path, commit, lang, old/snapshot content, new content)
_row = st.tuples(st.sampled_from("IDU"), _text, _text, st.one_of(st.none(), _text),
                 _body, _body)


def _image(*vals: bytes) -> int:
    return 1 + sum(4 + len(v) for v in vals)


def _poison(v: str | None) -> str | None:
    return None if v is None else v + "\x00z"


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(
    layout=st.sampled_from(["snapshot", "netchange"]),
    repo=_text,
    raw=st.lists(_row, max_size=8),
    xid=st.integers(0, 2**40),
    next_name=_text,
    compress=st.booleans(),
    nul_in=st.sampled_from([None] * 5 + ["repo", "path", "commit", "lang", "body"]),
)
def test_build_parse_roundtrip_fuzz(layout, repo, raw, xid, next_name, compress,
                                    nul_in):
    """Parse returns exactly the framed rows, in file order (net-change:
    grouped by pass I, D, U), with per-transaction xids and the chunk
    index floor(cum_bytes_before_row / 8192). A NUL goes into one field
    of the first row (or the repo): where the layout packs that field
    before another, the build must raise; elsewhere it round-trips."""
    if nul_in == "repo":
        repo = _poison(repo)
    elif nul_in and raw:
        field = {"path": 1, "commit": 2, "lang": 3, "body": 4}[nul_in]
        raw[0] = tuple(_poison(v) if i == field else v for i, v in enumerate(raw[0]))
    enc = str.encode
    if layout == "snapshot":
        rows = [(repo, path, commit, lang, body)
                for _op, path, commit, lang, body, _new in raw]
        nul = any("\x00" in s for r in rows for s in (r[0], r[2], r[3] or ""))
        build = lambda: build_binlog_file(rows, repo, xid=xid)  # noqa: E731
        parse = parse_binlog_bytes
        passes = [[(r, _image(enc(repo) + b"\x00" + enc(r[1]),
                              enc(r[2]) + b"\x00"
                              + (b"\x00" if r[3] is None else b"\x01" + enc(r[3]))
                              + b"\x00" + enc(r[4])))
                   for r in rows]]
        fields = ("repo", "path", "commit", "lang", "content")
    else:
        rows = [(path, op, None if op == "I" else old, None if op == "D" else new,
                 None if op == "D" else commit)
                for op, path, commit, _lang, old, new in raw]
        nul = "\x00" in repo
        build = lambda: build_netchange_file(  # noqa: E731
            rows, repo, start_xid=xid, next_name=next_name)
        parse = parse_netchange_bytes

        def size(r):
            key = enc(repo) + b"\x00" + enc(r[0])
            before = _image(key, enc(r[2] or ""))
            after = _image(key, enc(r[4] or ""), enc(r[3] or ""))
            return {"I": after, "D": before, "U": before + after}[r[1]]

        passes = [[(r, size(r)) for r in rows if r[1] == op] for op in "IDU"]
        fields = ("path", "diff_op", "old_content", "new_content", "new_commit")
    if nul and rows:
        with pytest.raises(ValueError, match="NUL"):
            build()
        return
    blob = build()
    got = parse(zlib.compress(blob) if compress else blob)
    want, tx = [], xid
    for sized in passes:
        if not sized:
            continue
        cum = 0
        for r, sz in sized:
            want.append((r, cum // BUFFER_SIZE, tx))
            cum += sz
        tx += 1
    assert [(tuple(g[f] for f in fields), g["chunk_idx"], g["xid"])
            for g in got] == want
    assert all(g["repo"] == repo for g in got)

"""egress_hot_repo: net-change export of a table where one repo holds
~90% of the rows.

Set-up ingests a skewed changelog (``hot_frac=0.02``, ``hot_weight=0.9``
over 50 repos: one hot repo) into a change-tracked table. Timed, per
cycle: ``diff(0, head, keep_lineage=True)`` exported with size rotation
(a bound that cuts the hot repo into dozens of segments) and zlib, then
consolidated into per-repo tars (together: ``rate_per_s``), then parsed
back through the ``noop`` sink (``op_p50_ms``). Ingest-side layers are
idle while it is timed.

Each cycle's parsed-back rows must equal the diff rows as a multiset,
checked outside the timed region.
"""

from __future__ import annotations

import os
import time

from perfbench import batch, inputs
from perfbench import harness as H

SIZES = {
    "full": dict(n_events=350_000, events_per_file=43_750, max_file_bytes=512 * 1024),
    "tiny": dict(n_events=3_000, events_per_file=500, max_file_bytes=16 * 1024),
}
#: idle point lookups in the traced run (the lake read layer)
LOOKUPS = 30
N_BUCKETS = 32
#: one parse-back takes ~1.5 s, most of it one Python task on the hot
#: repo's archive, and varies ±20%; two samples steady its median
PARSES_PER_CYCLE = 2
DIFF_COLS = ["repo", "path", "diff_op", "old_content", "new_content", "new_commit"]


def _multiset_digest(df) -> tuple:
    """(rows, two order-independent hash sums) over the diff columns;
    equal digests mean equal multisets up to a hash collision."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c), F.lit("\u0000null")) for c in DIFF_COLS]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.hash(*cols).cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    return (int(r["n"]), str(r["h1"]), str(r["h2"]))


def _corrupt_one_byte(out_dir: str) -> None:
    """Fault injection for the self-tests: flip one byte in the middle of
    the largest exported file."""
    paths = [
        os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
    ]
    target = max(paths, key=os.path.getsize)
    with open(target, "r+b") as f:
        f.seek(os.path.getsize(target) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))


def _egress_cycle(run: H.Run, table, head: int, want: tuple, max_file_bytes: int,
                  tag: str, inject: str | None = None):
    """One export of ``diff(0, head)`` + consolidate (timed together),
    then its parse-back (timed alone, ``PARSES_PER_CYCLE`` times) and the
    multiset check (untimed). The cycle is one op. Returns (export
    seconds, parse seconds, export manifest rows), or None if any step
    raised or the check failed."""
    from mysql_binlog_spark.sinks.binlog_file import (
        consolidate_netchange_exports,
        read_netchange_binlog_files,
        write_netchange_binlog_files,
    )

    out = run.path(f"export-{tag}")
    try:
        t0 = time.monotonic()
        with run.tracer.span("egress.cycle"):
            with run.tracer.span("sinks.export"), run.jobs.group(f"export-{tag}"):
                # fault injection for the self-tests: a diff up to a
                # version that was never committed
                to = head + 1 if inject == "raise" else head
                man = write_netchange_binlog_files(
                    table.diff(0, to, keep_lineage=True), out,
                    max_file_bytes=max_file_bytes, compress=True,
                ).collect()
            with run.tracer.span("sinks.consolidate"):
                consolidate_netchange_exports(run.spark, out).collect()
        export_s = time.monotonic() - t0
        if inject == "corrupt-export":
            _corrupt_one_byte(out)
        parse_s: list[float] = []
        for _ in range(PARSES_PER_CYCLE):
            t0 = time.monotonic()
            with run.tracer.span("sinks.parse"):
                read_netchange_binlog_files(run.spark, out).write.format("noop").mode(
                    "overwrite"
                ).save()
            parse_s.append(time.monotonic() - t0)
        got = _multiset_digest(read_netchange_binlog_files(run.spark, out))
    except Exception as e:  # noqa: BLE001 - a failed export or parse is a failed op
        run.op(False, f"export {tag}: {e!r}"[:300])
        return None
    finally:
        H.sweep(out)
    run.op(True)
    run.check(got == want, f"export {tag}: parsed {got} != diff {want}")
    return (export_s, parse_s, man) if got == want else None


def run(run: H.Run) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from mysql_binlog_spark.engine.pipeline import run_ingest
    from mysql_binlog_spark.lake.table import LakeTable

    p = SIZES[run.size]

    events = inputs.changelog(
        run.seed, p["n_events"], n_repos=50, hot_frac=0.02, hot_weight=0.9
    )
    src = run.path("changelog")
    n_files = inputs.write_changelog_dir(events, src, p["events_per_file"])
    n_events = events.num_rows
    table = LakeTable(run.spark, run.path("lake"), n_buckets=N_BUCKETS, track_changes=True)
    run_ingest(run.spark, src, table, epoch_size=n_events // 2)
    run.mark("table")
    head = table.current_version()
    want = _multiset_digest(table.diff(0, head, keep_lineage=True))
    run.inputs.update(events=n_events, files=n_files, diff_rows=want[0])
    run.mark("digest")
    # warm every timed phase once
    H.warm_python_workers(run.spark)
    if _egress_cycle(run, table, head, want, p["max_file_bytes"], "warm") is None:
        raise RuntimeError("warm-up export failed: " + "; ".join(run.errors))

    run.start_timed()
    deadline = time.monotonic() + run.seconds
    export_s, parse_s, walls = [], [], []
    man = []
    cycles = 0
    # fault injection for the self-tests spoils the first timed cycle
    while H.another(walls, deadline):
        cycles += 1
        res = _egress_cycle(run, table, head, want, p["max_file_bytes"], str(cycles),
                            inject=run.inject if cycles == 1 else None)
        if res is None:
            continue
        e, ps, man = res
        export_s.append(e)
        parse_s.extend(ps)
        walls.append(e + sum(ps))
    if not walls:
        raise RuntimeError("no export parsed back: " + "; ".join(run.errors))
    run.samples.update(export_s=export_s, parse_s=parse_s)
    e2e = {
        "rate_per_s": want[0] / H.median(export_s),
        "op_p50_ms": H.median(parse_s) * 1000.0,
    }
    layers = {}
    if run.trace:
        with run.tracer.span("lake.diff") as s:
            table.diff(0, head, keep_lineage=True).write.format("noop").mode("overwrite").save()
        diff_s = s["end"] - s["start"]
        rows = sum(r["n_rows"] for r in man)
        layers = {
            "lake.diff_s": diff_s,
            "lake.diff_rows": want[0],
            # the export recomputes the diff it writes: its self time
            "sinks.export_s": max(
                0.0, H.median(run.tracer.durations("sinks.export", run.t_timed)) - diff_s
            ),
            "sinks.consolidate_s": H.median(
                run.tracer.durations("sinks.consolidate", run.t_timed)
            ),
            "sinks.parse_s": H.median(run.tracer.durations("sinks.parse", run.t_timed)),
            "sinks.files_out": len(man),
            "sinks.bytes_out_per_row": sum(r["byte_len"] for r in man) / max(1, rows),
            "lake.state_rows": table.read_state().count(),
            "_shuffle": {"sinks.export_shuffle_mb": [f"export-{cycles}"]},
        }
        keys = [
            (r["repo"], r["path"])
            for r in table.read_state()
            .select("repo", "path")
            .orderBy(F.xxhash64("repo", "path", F.lit(run.seed)))
            .limit(LOOKUPS)
            .collect()
        ]
        layers.update(H.idle_lookups(run, table, keys))
        layers.update(batch.probe(run))
    return e2e, layers

"""catchup: bulk recover of a seeded changelog into a fresh table.

Timed: ``run_ingest`` passes, each into a fresh untracked 32-bucket
table, repeated until the window closes. Source read, rename expansion +
collapse, DDL planning and large-batch merge do the work; there are no
lookups or exports while it is timed.

The traced run adds one decomposed pass over the same public calls
(``read_changelog``, ``expand_renames``/``collapse_latest``,
``LakeTable.merge``/``apply_repo_ddl``) to split the time per layer.
"""

from __future__ import annotations

import random
import threading
import time

from perfbench import harness as H
from perfbench import inputs

SIZES = {
    "full": dict(n_events=500_000, n_repos=200, events_per_file=62_500),
    "tiny": dict(n_events=3_000, n_repos=20, events_per_file=500),
}
N_BUCKETS = 32
#: idle point lookups in the traced run (the lake read layer)
LOOKUPS = 30
#: traced runs only: small files streamed, then merged directly, into
#: the caught-up table (see ``_tail_probe``)
PROBE_STREAMED = 3
PROBE_MERGED = 2
PROBE_FILE_EVENTS = {"full": 1_000, "tiny": 100}


def _fresh_table(run: H.Run, name: str):
    from mysql_binlog_spark.lake.table import LakeTable

    return LakeTable(run.spark, run.path(name), n_buckets=N_BUCKETS)


def run(run: H.Run) -> tuple[dict, dict]:
    from mysql_binlog_spark.engine.pipeline import run_ingest

    p = SIZES[run.size]
    events = inputs.catchup_changelog(run.seed, p["n_events"], p["n_repos"])
    src = run.path("changelog")
    n_files = inputs.write_changelog_dir(events, src, p["events_per_file"])
    n_events = events.num_rows
    epoch_size = p["n_events"] // 2
    run.mark("inputs")

    # warm the timed phase once, with a whole pass (a smaller warm-up pass
    # left the first timed pass ~15% slower than the next); the oracle
    # replay, pure Python, runs beside it while the pass waits on the JVM
    oracle: dict = {}
    replay = threading.Thread(
        target=lambda: oracle.update(state=inputs.oracle_state(events)), name="oracle"
    )
    replay.start()
    warm = _fresh_table(run, "lake-warm")
    try:
        run_ingest(run.spark, src, warm, epoch_size=epoch_size)
    finally:
        replay.join()
    H.sweep(warm.root)
    state = oracle["state"]
    want = inputs.state_digest(state)
    run.inputs.update(events=n_events, files=n_files, state_rows=want[0])

    run.start_timed()
    deadline = time.monotonic() + run.seconds
    walls: list[float] = []
    passes = 0
    table = None
    while H.another(walls, deadline):
        passes += 1
        if table is not None:
            H.sweep(table.root)
        table = _fresh_table(run, f"lake-{passes}")
        # fault injection for the self-tests: the first timed pass reads
        # a changelog directory that does not exist
        pass_src = run.path("missing") if run.inject == "raise" and passes == 1 else src
        t0 = time.monotonic()
        try:
            with run.tracer.span("engine.run_ingest"), run.jobs.group(f"ingest-{passes}"):
                run_ingest(run.spark, pass_src, table, epoch_size=epoch_size)
        except Exception as e:  # noqa: BLE001 - a failed pass is a failed op
            run.op(False, f"run_ingest: {e!r}"[:300])
            continue
        walls.append(time.monotonic() - t0)
        got = H.table_digest(table)
        run.op(True)
        run.check(got == want, f"catchup pass {passes}: table {got} != oracle {want}")
    if not walls:
        raise RuntimeError("every catch-up pass failed: " + "; ".join(run.errors))

    run.samples["pass_s"] = walls
    e2e = {
        "rate_per_s": n_events / H.median(walls),
        "op_p50_ms": H.median(walls) * 1000.0,
    }
    layers = {}
    if run.trace:
        layers = _decomposed(run, src, epoch_size, want, n_events)
        layers.update(_tail_probe(run, table, events, state))
        keys = inputs.sample_keys(state, LOOKUPS, random.Random(run.seed))
        layers.update(H.idle_lookups(run, table, keys))
        layers["lake.state_rows"] = want[0]
    H.sweep(table.root)
    return e2e, layers


def _decomposed(run: H.Run, src: str, epoch_size: int, want, n_events: int) -> dict:
    """One pass through ``run_ingest``'s public steps, each timed on its
    own. Read and collapse are forced through the ``noop`` sink; their
    times are subtracted from the next step, which recomputes them."""
    from pyspark.sql import functions as F

    from mysql_binlog_spark.engine.pipeline import plan_entries
    from mysql_binlog_spark.operators.collapse import collapse_latest, expand_renames
    from mysql_binlog_spark.operators.ddl import extract_ddl_ops_for_path
    from mysql_binlog_spark.sources.changelog_source import read_changelog

    spark = run.spark
    tr = run.tracer
    table = _fresh_table(run, "lake-layers")
    with tr.span("engine.plan"), run.jobs.group("plan"):
        events = read_changelog(spark, src)
        max_seq = events.agg(F.max("seq")).collect()[0][0]
        entries = plan_entries(max_seq, epoch_size, extract_ddl_ops_for_path(spark, src, events))
    rows = events.filter(F.col("op") != "Q")
    read_s = collapse_s = merge_s = ddl_s = 0.0
    keys = merges = merge_jobs = 0
    for entry in entries:
        if entry[0] == "merge":
            _, eid, lo, hi = entry
            ev = rows.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
            with tr.span("sources.read") as s:
                ev.write.format("noop").mode("overwrite").save()
            t_read = _dur(s)
            batch = collapse_latest(expand_renames(ev))
            with tr.span("operators.collapse") as s:
                batch.write.format("noop").mode("overwrite").save()
            t_coll = _dur(s)
            keys += batch.count()
            with tr.span("lake.merge") as s, run.jobs.group(f"merge-{eid}"):
                res = table.merge(batch, epoch=eid)
            read_s += t_read
            collapse_s += max(0.0, t_coll - t_read)
            merge_s += max(0.0, _dur(s) - t_coll)
            merges += 1
            merge_jobs += run.jobs.jobs(f"merge-{eid}")
        else:
            _, eid, op = entry
            with tr.span("lake.ddl_apply") as s:
                if op.action in ("truncate", "drop", "rename"):
                    table.apply_repo_ddl(eid, op.action, op.repo, new_repo=op.new_repo)
                else:
                    table.merge(
                        spark.createDataFrame([], "repo string, path string, seq long, op string"),
                        epoch=eid,
                    )
            ddl_s += _dur(s)
    got = H.table_digest(table)
    run.check(got == want, f"decomposed catch-up: table {got} != oracle {want}")
    H.sweep(table.root)
    return {
        "engine.plan_s": tr.total("engine.plan"),
        "engine.epochs": len(entries),
        "sources.read_s": read_s,
        "operators.collapse_s": collapse_s,
        "operators.keys_per_event": keys / n_events,
        "lake.merge_self_s": merge_s,
        "lake.ddl_apply_s": ddl_s,
        "lake.merge_jobs_per_epoch": merge_jobs / max(1, merges),
        "_shuffle": {
            "lake.merge_shuffle_mb": [f"merge-{e[1]}" for e in entries if e[0] == "merge"]
        },
    }


def _tail_probe(run: H.Run, table, events, state) -> dict:
    """Small batches into the caught-up table, for the streaming and
    tail-merge layers: ``PROBE_STREAMED`` files through
    ``stream_ingest(available_now=True)``, one per micro-batch, then
    ``PROBE_MERGED`` files through ``LakeTable.merge`` directly. The
    files continue the changelog's seqs in a repo namespace of their own;
    the table must then match the oracle of both. Each streamed file is
    an op, failed if its max seq is not visible through
    ``high_watermark()`` once the stream has drained."""
    import os

    import pyarrow.parquet as pq

    from mysql_binlog_spark.streaming.ingest import stream_ingest

    n_files = PROBE_STREAMED + PROBE_MERGED
    size = PROBE_FILE_EVENTS[run.size]
    more = inputs.shifted(
        inputs.changelog(run.seed + 2_000_003, n_files * size, n_repos=200),
        events.num_rows, "repo-c",
    )
    landing, staging = run.path("probe-landing"), run.path("probe-staging")
    os.makedirs(landing)
    os.makedirs(staging)
    paths = []
    for i in range(n_files):
        d = landing if i < PROBE_STREAMED else staging
        name = f"part-{i:05d}.parquet"
        # fault injection for the self-tests: the last streamed file lands
        # under a hidden name, which the file source never picks up, so it
        # never commits
        if run.inject == "stuck-file" and i == PROBE_STREAMED - 1:
            name = "." + name
        paths.append(os.path.join(d, name))
        pq.write_table(more.slice(i * size, size), paths[-1], compression="zstd")
    q = stream_ingest(
        run.spark, landing, table, run.path("probe-checkpoint"), max_files_per_trigger=1
    )
    q.awaitTermination()
    hwm = table.high_watermark()
    for i in range(PROBE_STREAMED):
        hi = events.num_rows + (i + 1) * size - 1
        run.op(hi <= hwm, f"probe file {i} (max seq {hi}) not visible (hwm {hwm})")
    batch_s = [
        pr["durationMs"]["triggerExecution"] / 1000.0
        for pr in q.recentProgress
        if pr["numInputRows"] > 0
    ]
    layers = H.tail_merges(run, table, paths[PROBE_STREAMED:])
    want = inputs.state_digest({**state, **inputs.oracle_state(more)})
    got = H.table_digest(table)
    run.check(got == want, f"catch-up tail probe: table {got} != oracle {want}")
    layers.update({
        "streaming.batches": len(batch_s),
        "streaming.files_per_batch": PROBE_STREAMED / max(1, len(batch_s)),
        "streaming.batch_p50_s": H.median(batch_s),
        "streaming.backlog_files_end": PROBE_STREAMED - len(batch_s),
    })
    return layers


def _dur(span) -> float:
    return span["end"] - span["start"] if span else 0.0

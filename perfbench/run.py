"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
sets up, measures for ``--seconds``, checks the outputs, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics (spans then go to
``.perfbench-out/``). The line before it records the run conditions.

Every scratch path (lakes, exports, stream checkpoints, Spark local and
temp dirs, the event log) lives in ``.perfbench-run/<run>/``, which is
removed when the run ends; every process started (the Spark JVM and its
Python workers) is stopped and waited for.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rate_per_s": "1/s",
    "op_p50_ms": "ms",
}
PER_LAYER = {
    "engine.plan_s": "s",
    "engine.epochs": "count",
    "sources.read_s": "s",
    "operators.collapse_s": "s",
    "operators.keys_per_event": "ratio",
    "lake.merge_self_s": "s",
    "lake.ddl_apply_s": "s",
    "lake.merge_jobs_per_epoch": "count",
    "lake.merge_shuffle_mb": "MB",
    "lake.tail_merge_p50_s": "s",
    "lake.buckets_touched_per_epoch": "count",
    "lake.rows_rewritten_per_event": "ratio",
    "lake.state_rows": "count",
    "lake.lookup_idle_p50_ms": "ms",
    "lake.lookup_jobs": "count",
    "lake.diff_s": "s",
    "lake.diff_rows": "count",
    "streaming.batches": "count",
    "streaming.files_per_batch": "ratio",
    "streaming.batch_p50_s": "s",
    "streaming.backlog_files_end": "count",
    "sinks.export_s": "s",
    "sinks.consolidate_s": "s",
    "sinks.parse_s": "s",
    "sinks.files_out": "count",
    "sinks.bytes_out_per_row": "B",
    "sinks.export_shuffle_mb": "MB",
    # the dedup / ANN batch probe (perfbench/batch.py)
    "functions.text_token_stats_s": "s",
    "functions.text_fingerprint_s": "s",
    "dedup.dedup_minhash_lsh_s": "s",
    "dedup.dedup_simhash_s": "s",
    "dedup.dedup_group_assignment_s": "s",
    "similarity.sim_bruteforce_topk_s": "s",
    "similarity.sim_lsh_topk_s": "s",
    "dedup.emb_near_dup_lsh_s": "s",
}
#: workload -> its module in this package
WORKLOADS = {"catchup": "catchup", "egress_hot_repo": "egress"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: input scale, and a fault to inject
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", choices=("raise", "corrupt-export", "stuck-file"))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mysql_binlog_spark")):
        print(f"perfbench: no engine source (mysql_binlog_spark/) under {ROOT}",
              file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    import pyspark

    from perfbench import harness as H

    load_start = os.getloadavg()
    steal_start = H.cpu_steal()
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench-run", name)
    os.makedirs(run_dir)
    spark = None
    try:
        spark = H.start_spark(run_dir, bool(args.trace))
        run = H.Run(spark, run_dir, args.seed, args.seconds, bool(args.trace),
                    args.size, args.inject, T_START)
        run.mark("session")
        wl = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        e2e, layers = wl.run(run)
        e2e["setup_s"] = run.setup_s
        e2e["peak_rss_mb"] = H.peak_rss_mb()
        H.stop_spark(spark)
        spark = None
        shuffle = layers.pop("_shuffle", {})
        if args.trace:
            by_group = H.shuffle_mb_by_group(os.path.join(run_dir, "eventlog"))
            for metric, groups in shuffle.items():
                layers[metric] = sum(by_group.get(g, 0.0) for g in groups)
            run.tracer.dump(os.path.join(ROOT, ".perfbench-out", f"spans-{name}.json"))
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            H.stop_spark(spark)
        H.sweep(run_dir)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still has its directory there

    conditions = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": H.nproc(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "cpu_steal_share": _share(steal_start, H.cpu_steal()),
        "pyspark": pyspark.__version__,
        "inputs": run.inputs,
        "setup_phases": run.phases,
        "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
        "errors": run.errors[:20],
    }
    if args.trace:
        conditions["traced_end_to_end"] = e2e
        conditions["self_s"] = run.tracer.self_times()
        wanted, values = PER_LAYER, layers
    else:
        wanted, values = END_TO_END, e2e
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in wanted.items()
        },
    }))
    return 0


def _share(start, end) -> float:
    """Share of cpu time stolen by the hypervisor between two samples."""
    total = end[1] - start[1]
    return round((end[0] - start[0]) / total, 4) if total else 0.0


if __name__ == "__main__":
    sys.exit(main())

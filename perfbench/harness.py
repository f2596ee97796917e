"""Shared benchmark plumbing: run directory, Spark session, spans, job
counts, event-log shuffle bytes, process-tree memory, digests and
percentiles.

Nothing here imports the engine at module import time, so ``run.py`` can
fail cleanly (non-zero exit, no result line) in a directory that holds
only the benchmark.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

#: shuffle partitions, pinned so every run plans the same exchanges
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans ``{name, start, end, parent, run_id}``.

    Disabled tracers hand out the same context manager but record
    nothing, so workload code reads the same in both modes. Spans are
    written out once, by ``dump``, when the run ends."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["start"] >= since
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        child spans (children of one span do not overlap: they run on
        the span's own thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ Spark side


def start_spark(run_dir: str, trace: bool):
    """local[nproc] session whose every scratch path sits in ``run_dir``."""
    from mysql_binlog_spark.session import get_spark

    cpus = nproc()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}"
        ),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = ev
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


class JobGroups:
    """Tags the calling thread's Spark jobs with a group id and counts
    them afterwards through the status tracker. Groups are per thread
    (PySpark pins Python threads to JVM threads)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextmanager
    def group(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))


def shuffle_mb_by_group(eventlog_dir: str) -> dict[str, float]:
    """Shuffle bytes written per job group, from the event log (read
    after the session stopped, when the log is complete)."""
    stage_group: dict[int, str] = {}
    written: dict[str, float] = {}
    paths = glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    written[g] = written.get(g, 0.0) + m.get("Shuffle Bytes Written", 0)
    return {g: b / 1e6 for g, b in written.items()}


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process's
    descendants: the Spark driver JVM and its Python workers."""
    return sum(_hwm_kb(p) for p in descendants(os.getpid())) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every
    descendant process (JVM, Python worker daemon) to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
    wait_gone(pids)


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(os.path.exists(f"/proc/{p}") for p in alive) and time.monotonic() < deadline:
        time.sleep(0.1)


def sweep(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# -------------------------------------------------------------- digests


def rows_digest(rows) -> str:
    """Order-independent digest of snapshot rows
    ``(repo, path, commit, lang, content_sha256)``."""
    h = hashlib.sha256()
    for r in sorted(tuple("" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


SNAPSHOT_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def table_digest(table) -> tuple[int, str]:
    from mysql_binlog_spark.engine.pipeline import table_snapshot

    pdf = table_snapshot(table).select(*SNAPSHOT_COLS).toPandas()
    pdf = pdf.astype(object).where(pdf.notna(), None)
    rows = list(pdf.itertuples(index=False, name=None))
    return len(rows), rows_digest(rows)


# ------------------------------------------------------------- run state


class Run:
    """What one benchmark run knows and accumulates: its session, seed,
    window, tracer and job groups, and the op/check tallies every
    workload reports."""

    def __init__(self, spark, run_dir, seed, seconds, trace, size, inject, t_start):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.inject = inject
        self.t_start = t_start
        self.t_timed = None
        self.tracer = Tracer(trace, f"{os.path.basename(run_dir)}")
        self.jobs = JobGroups(spark, trace)
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.errors: list[str] = []
        self.inputs: dict = {}
        #: set-up step -> seconds, and timed unit -> its samples, for
        #: diagnosing slow or noisy runs
        self.phases: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._mark = t_start

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def mark(self, step: str) -> None:
        """Ends a set-up step (the time since the previous mark)."""
        now = time.monotonic()
        self.phases[step] = round(now - self._mark, 3)
        self._mark = now

    def start_timed(self) -> None:
        """Marks the end of set-up: everything before this is setup_s."""
        self.mark("warm")
        self.t_timed = time.monotonic()

    @property
    def setup_s(self) -> float:
        return self.t_timed - self.t_start

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A failed output check fails the run and counts as a failed op."""
        if not ok:
            self.correct = False
            self.failed += 1
            self.errors.append(what)


def another(walls: list[float], deadline: float) -> bool:
    """Whether to start another timed unit: until one has succeeded, any
    time before the deadline; then only if one more of the median length
    ends by the deadline plus half a unit, so a run measures close to its
    window however long a unit is."""
    if not walls:
        return time.monotonic() < deadline
    unit = median(walls)
    return time.monotonic() + unit <= deadline + unit / 2


def rows_in_buckets(table, n_touched: int) -> int:
    """State rows a merge touching ``n_touched`` buckets rewrote: the
    head version's row count (parquet footers) scaled to the touched
    share of buckets, which keys hash over uniformly."""
    import pyarrow.parquet as pq

    m = table.read_manifest()
    total = sum(
        pq.ParquetFile(f).metadata.num_rows for fs in m["buckets"].values() for f in fs
    )
    return round(total * n_touched / table.n_buckets)


def tail_merges(run: Run, table, paths: list[str]) -> dict:
    """Tail-sized batches (one changelog file each) merged directly with
    ``LakeTable.merge``: the copy-on-write cost of one small merge."""
    import pyarrow.parquet as pq

    from mysql_binlog_spark.operators.collapse import collapse_latest, expand_renames
    from mysql_binlog_spark.sources.changelog_source import read_changelog

    walls, touched, rewritten, n_ev = [], 0, 0, 0
    for path in paths:
        batch = collapse_latest(expand_renames(read_changelog(run.spark, path)))
        t0 = time.monotonic()
        with run.tracer.span("lake.tail_merge"):
            res = table.merge(batch, epoch=table.next_epoch_id())
        walls.append(time.monotonic() - t0)
        touched += res.buckets_touched
        rewritten += rows_in_buckets(table, res.buckets_touched)
        n_ev += pq.ParquetFile(path).metadata.num_rows
    return {
        "lake.tail_merge_p50_s": median(walls),
        "lake.buckets_touched_per_epoch": touched / len(paths),
        "lake.rows_rewritten_per_event": rewritten / n_ev,
    }


def lookup_loop(run: Run, table, keys, group=None) -> list[float]:
    """Closed-loop point lookups (no think time), one per key; returns
    latencies in ms. A lookup that raises counts as a failed op."""
    lat: list[float] = []
    with run.jobs.group(group) if group else nullcontext():
        for repo, path in keys:
            t0 = time.monotonic()
            try:
                with run.tracer.span("lake.lookup"):
                    table.lookup(repo, path).collect()
            except Exception as e:  # noqa: BLE001 - a failed read is a failed op
                run.op(False, f"lookup {repo}/{path}: {e!r}"[:300])
                continue
            lat.append((time.monotonic() - t0) * 1000.0)
            run.op(True)
    return lat


def idle_lookups(run: Run, table, keys) -> dict:
    """The lake read layer with nothing else running: point lookups
    (after 5 to warm the path), and Spark jobs per lookup."""
    lookup_loop(run, table, keys[:5])
    lat = lookup_loop(run, table, keys, group="lookup-idle")
    return {
        "lake.lookup_idle_p50_ms": median(lat),
        "lake.lookup_jobs": run.jobs.jobs("lookup-idle") / len(lat),
    }


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot, each with pandas and Arrow
    imported, so no timed task pays a worker's first import."""
    n = nproc()
    spark.range(0, n, 1, n).mapInPandas(_hold_slot, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _hold_slot(batches):
    # held long enough that every slot runs a task at the same time
    time.sleep(1.0)
    yield from batches

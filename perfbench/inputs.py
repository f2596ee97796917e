"""Seeded workload inputs and their oracle digests.

Every input is a pure function of the workload seed. The engine only
ever sees the files written here; the expected final table state comes
from ``changelog.oracle.replay_oracle`` (a pure-Python sequential
replay that shares no code with the engine).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.harness import rows_digest


def changelog(seed: int, n_events: int, **spec_kw) -> pa.Table:
    from mysql_binlog_spark.changelog.generator import (
        EVENT_SCHEMA,
        ChangelogSpec,
        iter_event_batches,
    )

    spec = ChangelogSpec(n_events=n_events, seed=seed, **spec_kw)
    return pa.Table.from_batches(list(iter_event_batches(spec)), schema=EVENT_SCHEMA)


#: the catch-up changelog's repo DDL barriers, as ONE multi-statement
#: QUERY event between its two halves: a truncate and a rename of hot
#: repos (both rewrite buckets) and a barrier-only ALTER
CATCHUP_DDL = (
    "TRUNCATE TABLE `repo-0001`; "
    "RENAME TABLE `repo-0000` TO `repo-rn9000`; "
    "ALTER TABLE `repo-0002` ADD COLUMN score INT DEFAULT 0"
)


def catchup_changelog(seed: int, n_events: int, n_repos: int) -> pa.Table:
    """Two generated halves joined by one DDL event.

    A generated stream's own DDL count is random (``p_ddl`` draws), and
    each repo DDL rewrites whole buckets, so it would make the work per
    seed vary. Here the DDL count and kinds are fixed: the second half
    is generated with its own seed and its repos renamed into a disjoint
    namespace (``repo-b....``), so the DDL's effects on the first half's
    repos never meet a later row event."""
    half = n_events // 2
    a = changelog(2 * seed + 1, half, n_repos=n_repos)
    b = changelog(2 * seed + 2, n_events - half - 1, n_repos=n_repos)
    ddl = pa.table(
        {
            "seq": pa.array([half], pa.int64()),
            "repo": ["repo-0000"],
            "path": [""],
            "op": ["Q"],
            "commit": [hashlib.sha1(f"ddl:{seed}".encode()).hexdigest()],
            "lang": pa.array([None], pa.string()),
            "content": pa.array([None], pa.string()),
            "before_content": pa.array([None], pa.string()),
            "new_path": pa.array([None], pa.string()),
            "statement": [CATCHUP_DDL],
        },
        schema=a.schema,
    )
    return pa.concat_tables([a, ddl, shifted(b, half + 1, "repo-b")])


def shifted(events: pa.Table, seq0: int, repo_prefix: str) -> pa.Table:
    """``events`` with seqs moved up by ``seq0`` and repos renamed into the
    ``repo_prefix`` namespace, so they can follow another changelog
    without touching its keys."""
    schema = events.schema
    return events.set_column(
        schema.get_field_index("seq"), "seq", pc.add(events["seq"], seq0)
    ).set_column(
        schema.get_field_index("repo"),
        "repo",
        pc.replace_substring(events["repo"], "repo-", repo_prefix),
    ).cast(schema)


def write_changelog_dir(events: pa.Table, out_dir: str, events_per_file: int) -> int:
    """Land ``events`` (seq-ordered) as ``part-NNNNN.parquet`` files plus
    the ``_ddl.parquet`` side stream with its landing stamp, the layout
    ``changelog.generator.write_events_parquet_dir`` produces."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = 0
    for off in range(0, events.num_rows, events_per_file):
        pq.write_table(
            events.slice(off, events_per_file),
            os.path.join(out_dir, f"part-{n_files:05d}.parquet"),
            compression="zstd",
            row_group_size=max(1, events_per_file // 4),
        )
        n_files += 1
    ddl = events.filter(pc.equal(events["op"], "Q")).replace_schema_metadata(
        {"n_event_files": str(n_files), "max_seq": str(pc.max(events["seq"]).as_py())}
    )
    pq.write_table(ddl, os.path.join(out_dir, "_ddl.parquet"), compression="zstd")
    return n_files


def oracle_state(events: pa.Table) -> dict:
    """Final state of a sequential replay of ``events``."""
    from mysql_binlog_spark.changelog.oracle import replay_oracle

    cols = events.sort_by("seq").to_pydict()
    names = list(cols)
    return replay_oracle(dict(zip(names, vals)) for vals in zip(*cols.values()))


def state_digest(state: dict) -> tuple[int, str]:
    """(row count, digest) of an oracle state, in the shape of
    ``harness.table_digest``."""
    rows = [
        (
            repo,
            path,
            v["commit"],
            v["lang"],
            hashlib.sha256(v["content"].encode()).hexdigest()
            if v["content"] is not None
            else None,
        )
        for (repo, path), v in state.items()
    ]
    return len(rows), rows_digest(rows)


def sample_keys(state: dict, n: int, rnd) -> list[tuple[str, str]]:
    """``n`` keys (with repeats) drawn from a state's live keys."""
    keys = sorted(state)
    return [keys[rnd.randrange(len(keys))] for _ in range(n)]

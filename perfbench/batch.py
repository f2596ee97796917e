"""The dedup / ANN batch probe: ``__spark_entry__.queries()`` on seeded
documents and embeddings, for the ``dedup``, ``similarity`` and
``functions`` layers.

Run only in a traced run (see ``egress.py``). Each query in ``QUERIES``
is one op: it is collected and checked against its ``oracle_sql()`` in
DuckDB the way ``scripts/check_contract.py`` compares them, then forced
through the ``noop`` sink once more, warm, for its
``<module>.<query>_s`` metric.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import harness as H

#: query -> the engine module (under ``mysql_binlog_spark``) it drives;
#: one text, several dedup, and the ANN / embedding queries
QUERIES = {
    "text_token_stats": "functions",
    "text_fingerprint": "functions",
    "dedup_minhash_lsh": "dedup",
    "dedup_simhash": "dedup",
    "dedup_group_assignment": "dedup",
    "sim_bruteforce_topk": "similarity",
    "sim_lsh_topk": "similarity",
    "emb_near_dup_lsh": "dedup",
}
METRICS = [f"{module}.{q}_s" for q, module in QUERIES.items()]
SIZES = {"full": 500, "tiny": 60}

VOCAB = (
    "a the of to and data table key value row column batch stream merge join "
    "filter sort hash agg window query order group part line scan spark fast "
    "slow big small vector index shard epoch commit"
).split()
LANGS = ["en", "es", "de", "fr", "zh"]
DIM = 64
CLUSTERS = 10


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents of random words; about one in six is an earlier
    document with a few words changed, so the near-dup queries find
    pairs, and a few are exact copies."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.03:
            texts.append(texts[int(rng.integers(i))])
            continue
        if i >= 10 and r < 0.18:
            words = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(len(VOCAB), size=int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(j)] for j in rng.integers(len(LANGS), size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    """``n`` float32 vectors around ``CLUSTERS`` centres; about one in
    ten is a slightly moved copy of an earlier vector."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    labels = rng.integers(CLUSTERS, size=n)
    vecs = centres[labels] * 0.1 + rng.normal(0.0, 0.1, (n, DIM))
    for i in range(10, n):
        if rng.random() < 0.1:
            j = int(rng.integers(i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.005, DIM)
            labels[i] = labels[j]
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def probe(run: H.Run) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_contract import normalize, values_equal

    sf_dir = run.path("sf")
    os.makedirs(sf_dir)
    n = SIZES[run.size]
    pq.write_table(documents(run.seed, n), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(run.seed, n), os.path.join(sf_dir, "embeddings.parquet"))
    run.inputs.update(documents=n, embeddings=n)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    layers = {}
    for q, module in QUERIES.items():
        try:
            # the checked run also warms the timed one
            got = normalize(qs[q](run.spark, sf_dir).toPandas())
            ok, why = values_equal(got, normalize(con.execute(oracles[q]).fetchdf()))
            t0 = time.monotonic()
            with run.tracer.span(f"{module}.{q}"):
                qs[q](run.spark, sf_dir).write.format("noop").mode("overwrite").save()
            layers[f"{module}.{q}_s"] = time.monotonic() - t0
        except Exception as e:  # noqa: BLE001 - a query that raises is a failed op
            run.op(False, f"query {q}: {e!r}"[:300])
            continue
        run.op(True)
        run.check(ok, f"query {q} != oracle: {why}")
    con.close()
    return layers

"""Seeded input generators for the benchmark workloads.

Every generator is pure numpy/pandas/pyarrow (no Spark), writes sharded
parquet under one directory per (workload, seed), and is deterministic in
its seed. A finished directory carries an ``_OK`` marker, so a later run
with the same seed reuses it instead of generating again. The reference
outputs the checks compare against are computed from the same directory
once per seed (``reference.json``), before the run is launched.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# incremental-lowoverlap sizes: bootstrap corpus, appended convs, and the
# edit (old convs removed; the first EDITED of them re-added with changed text)
INC_OLD, INC_NEW, INC_REMOVED, INC_EDITED = 80, 8, 4, 2
TURNS, COPY_EVERY = 15, 40
# queries workload: the row counts of the sf0.01 tables
Q_DOCS, Q_EMB, Q_EVENTS, Q_USERS = 500, 500, 10_000, 150
Q_ORDERS, Q_LINEITEM, Q_CUSTOMERS, Q_PARTS, Q_SUPPLIERS = 15_000, 60_000, 1_500, 2_000, 100

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]


def write_sharded(df: pd.DataFrame, path: str, n_shards: int) -> None:
    """Write ``df`` as ``n_shards`` parquet files under directory ``path``.
    Spark's parquet reader rejects TIMESTAMP(NANOS), hence the coercion."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    step = max(1, -(-tbl.num_rows // n_shards))
    for i in range(n_shards):
        chunk = tbl.slice(i * step, step)
        if chunk.num_rows == 0 and i > 0:
            break
        pq.write_table(
            chunk, os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _lowoverlap_convs(rng: np.random.Generator, n: int):
    """Unique random text per conversation (the ``lowoverlap`` generator
    of tools/bench_incremental.py, seeded) with a planted near-duplicate
    family: every COPY_EVERY-th conversation copies an earlier unique one
    and appends 30 characters to its last turn. Every conversation has
    TURNS turns, so each seed has the same shape: same turn count, same
    number of planted pairs. Returns the conversations and the planted
    (original, copy) pairs."""
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype="S1")

    def text(k: int) -> str:
        return b"".join(alphabet[rng.integers(0, 32, size=k)]).decode()

    convs: dict[str, list[str]] = {}
    unique: list[str] = []
    planted: list[tuple[str, str]] = []
    for i in range(n):
        cid = f"c{i:06d}"
        if i % COPY_EVERY == COPY_EVERY - 1:
            src = unique[int(rng.integers(0, len(unique)))]
            turns = list(convs[src])
            turns[-1] = turns[-1] + " " + text(30)
            planted.append((src, cid))
        else:
            turns = [text(int(rng.integers(200, 700))) for _ in range(TURNS)]
            unique.append(cid)
        convs[cid] = turns
    return convs, planted


def _turns_frame(convs: dict[str, list[str]]) -> pd.DataFrame:
    rows = [
        (cid, t_idx, "user" if t_idx % 2 == 0 else "assistant", t, None)
        for cid, turns in convs.items()
        for t_idx, t in enumerate(turns)
    ]
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def gen_incremental(seed: int, out: str) -> None:
    """old/ (bootstrap), new/ (append), edit/ (re-added edited convs),
    final/ (the post-change corpus) and meta.json (removed ids, planted
    pairs)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    convs, planted = _lowoverlap_convs(rng, INC_OLD + INC_NEW)
    ids = sorted(convs)
    old_ids, new_ids = ids[:INC_OLD], ids[INC_OLD:]
    removed = sorted(
        old_ids[int(i)] for i in rng.choice(INC_OLD, size=INC_REMOVED, replace=False)
    )
    edited = {cid: list(convs[cid]) for cid in removed[:INC_EDITED]}
    for turns in edited.values():
        turns[0] = turns[0][::-1]
    final = {c: convs[c] for c in ids if c not in set(removed)}
    final.update(edited)

    def frame(keys, src):
        return _turns_frame({c: src[c] for c in keys})

    write_sharded(frame(old_ids, convs), os.path.join(out, "old"), 8)
    write_sharded(frame(new_ids, convs), os.path.join(out, "new"), 2)
    write_sharded(frame(sorted(edited), edited), os.path.join(out, "edit"), 1)
    write_sharded(frame(sorted(final), final), os.path.join(out, "final"), 8)
    old_set = set(old_ids)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({
            "removed": removed,
            # planted pairs whose both members exist at bootstrap time
            "planted_old": [p for p in planted if p[0] in old_set and p[1] in old_set],
        }, f)


def ref_incremental(out: str) -> dict:
    """Full runs over the bootstrap and the post-change corpus."""
    return {part: _full_run(pd.read_parquet(os.path.join(out, part)))
            for part in ("old", "final")}


def _full_run(turns: pd.DataFrame) -> dict:
    """Verified pairs and clusters of a from-scratch run of the
    single-process reference (``dedup_spark.oracle``: the pipeline's
    kernels and constants; tests/test_pipeline_e2e.py holds
    ``DedupPipeline.run`` exactly equal to it)."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.oracle import run_oracle

    ref = run_oracle(turns, DedupConfig())
    return {"pairs": sorted([a, b] for a, b, *_ in ref["verified_pairs"]),
            "clusters": dict(ref["clusters"])}


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """10-100 words from a 31-word vocabulary; every 20th document is a
    near-copy of an earlier one (some words replaced by "dup"). Lengths
    are a seeded permutation of one fixed multiset, so every seed derives
    the same number of turns."""
    lengths = rng.permutation(np.linspace(10, 100, Q_DOCS).round().astype(int))
    texts: list[str] = []
    for n in lengths:
        toks = [_DOC_VOCAB[int(i)] for i in rng.integers(0, len(_DOC_VOCAB), size=n)]
        if len(texts) % 20 == 19:
            src = texts[int(rng.integers(0, len(texts)))].split()[:n]
            toks[:len(src)] = src
            for p in rng.choice(n, size=max(1, n // 20), replace=False):
                toks[int(p)] = "dup"
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(Q_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, size=Q_DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(Q_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, size=Q_EMB).astype("int32")
    v = centroids[label] + rng.normal(scale=1.5, size=(Q_EMB, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pd.DataFrame({
        "vec_id": np.arange(Q_EMB, dtype="int64"),
        "embedding": list(v),
        "label": label,
    })


def _events(rng: np.random.Generator) -> pd.DataFrame:
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, size=Q_EVENTS)
    ).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(Q_EVENTS, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, Q_USERS, size=Q_EVENTS).astype("int64"),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], size=Q_EVENTS),
        "value": np.round(rng.exponential(50.0, size=Q_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=Q_EVENTS)],
    })


def _tpch(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    day = np.timedelta64(1, "D")
    base = np.datetime64("1995-01-01")
    customer = pd.DataFrame({
        "c_custkey": np.arange(Q_CUSTOMERS, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(Q_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, size=Q_CUSTOMERS).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=Q_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], size=Q_CUSTOMERS),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(Q_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, Q_CUSTOMERS, size=Q_ORDERS).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], size=Q_ORDERS),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=Q_ORDERS), 2),
        "o_orderdate": (base + rng.integers(0, 2400, size=Q_ORDERS) * day).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=Q_ORDERS),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, Q_ORDERS, size=Q_LINEITEM).astype("int64"),
        "l_partkey": rng.integers(0, Q_PARTS, size=Q_LINEITEM).astype("int64"),
        "l_suppkey": rng.integers(0, Q_SUPPLIERS, size=Q_LINEITEM).astype("int64"),
        "l_linenumber": rng.integers(1, 8, size=Q_LINEITEM).astype("int32"),
        "l_quantity": rng.integers(1, 51, size=Q_LINEITEM).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, size=Q_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, size=Q_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, size=Q_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], size=Q_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], size=Q_LINEITEM),
        "l_shipdate": (base + rng.integers(0, 2500, size=Q_LINEITEM) * day).astype("datetime64[us]"),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def gen_queries(seed: int, out: str) -> None:
    """The tables the headline driver queries read, one ``<table>.parquet``
    directory each, shaped like the sf0.01 test tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "events": _events(rng),
        **_tpch(rng),
    }
    for name, df in tables.items():
        write_sharded(df, os.path.join(out, f"{name}.parquet"), 4)


def ref_queries(out: str) -> dict[str, int]:
    """Row count of every timed driver query that has DuckDB oracle SQL."""
    import duckdb
    from dedup_spark.entry_queries import QUERIES
    from driver import TIMED_QUERIES

    con = duckdb.connect(config={"threads": 4})
    try:
        for t in ("documents", "embeddings", "events", "customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(out, t + '.parquet')}/*.parquet')")
        return {name: con.sql(f"SELECT count(*) FROM ({QUERIES[name].sql})").fetchone()[0]
                for name, _ in TIMED_QUERIES if QUERIES[name].sql is not None}
    finally:
        con.close()


GENERATORS = {"incremental-lowoverlap": gen_incremental, "queries-sf0.01": gen_queries}
REFERENCES = {"incremental-lowoverlap": ref_incremental, "queries-sf0.01": ref_queries}
REFERENCE = "reference.json"


def ensure_inputs(workload: str, seed: int, cache_dir: str) -> str:
    """Directory holding the inputs of (workload, seed) and their
    ``reference.json`` (the outputs the checks compare against),
    generated on first use and reused after."""
    out = os.path.join(cache_dir, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    GENERATORS[workload](seed, out)
    with open(os.path.join(out, REFERENCE), "w") as f:
        json.dump(REFERENCES[workload](out), f)
    open(os.path.join(out, "_OK"), "w").close()
    return out

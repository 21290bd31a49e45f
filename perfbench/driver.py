"""One benchmark run inside a spark-submit driver (launched by run.py).

    spark-submit ... perfbench/driver.py --workload W --inputs DIR
        --work DIR --launch-time T --seconds S --trace 0|1 --out FILE

Sets up Spark through ``get_spark``, runs the workload's operations in a
closed loop (one operation at a time), checks their outputs, and writes
one JSON result to ``--out``. The library is driven only through
``get_spark``, ``DedupPipeline.run``, ``IncrementalDedup`` and
``QUERIES[name].spark_fn``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import traceback

from inputs import REFERENCE, dir_bytes

# bench.py's headline driver queries with their family, in bench.py's
# order (a query may reuse subplans an earlier one memoized). Seven of its
# 32 are left out so that the runs of every workload fit the benchmark's
# time budget: containment_lsh_candidates (the approximate twin of verified_token_pairs'
# exact prefix-filter candidates), ann_lsh_topk and ann_ivf_topk (ANN
# indexes over the embeddings cosine_topk scans), embedding_neardup_pairs
# (empty on sf-shaped data), session_spans (events_sessionize plus one
# aggregation), winnow_fingerprints (the winnow pass winnow_anchors runs)
# and top_revenue_orders (a second TPC-H aggregation).
TIMED_QUERIES = [
    ("turns_from_documents", "dedup"), ("transcript_assembly", "dedup"),
    ("shingle_df", "dedup"), ("informative_shingles", "dedup"),
    ("minhash_lsh_candidates", "dedup"), ("simhash_docs", "dedup"),
    ("verified_token_pairs", "dedup"), ("cc_clusters", "dedup"),
    ("substring_spans", "substring"), ("span_scores", "substring"),
    ("interval_marks", "substring"), ("conv_shingle_stats", "dedup"),
    ("exact_dedup_docs", "dedup"), ("events_sessionize", "relational"),
    ("topk_events_per_user", "relational"), ("token_stats", "text"),
    ("bpe_token_stats", "text"), ("quality_score", "text"),
    ("langid_heuristic", "text"), ("doc_fingerprint", "text"),
    ("winnow_anchors", "substring"),
    ("cosine_topk", "ann"), ("embedding_norms", "ann"),
    ("multimodal_features", "ann"), ("tpch_pricing_summary", "relational"),
]


class Run:
    """Operation log of one run: timed calls plus output checks."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[dict] = []

    def call(self, name: str, fn, **attrs):
        """Time one operation; a raised exception marks it failed."""
        op = {"name": name, "ok": True, "checks": {}, **attrs}
        self.ops.append(op)
        t0 = time.time()
        try:
            if self.tracer is None:
                out = fn()
            else:
                with self.tracer.span(name, "call", **attrs):
                    out = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            op["ok"] = False
            op["error"] = traceback.format_exc(limit=4)
            out = None
        op["start"], op["end"] = t0, time.time()
        op["wall_s"] = op["end"] - t0
        return op, out

    @staticmethod
    def check(op: dict, name: str, passed: bool, detail=None) -> None:
        op["checks"][name] = {"ok": bool(passed), "detail": detail}
        if not passed:
            op["ok"] = False


def _reference(inputs: str) -> dict:
    with open(os.path.join(inputs, REFERENCE)) as f:
        return json.load(f)


def _cache_compare(path: str, value, ops: list[dict], name: str) -> None:
    """Later runs of a seed must reproduce ``value``; the first run whose
    ``ops`` all passed stores it."""
    op = ops[-1]
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        Run.check(op, name, want == value, None if want == value else {"want": want, "got": value})
    elif all(o["ok"] for o in ops):
        with open(path, "w") as f:
            json.dump(value, f)
        Run.check(op, name, True, "stored")


def _pairs(df) -> set:
    return {(r.conv_a, r.conv_b) for r in df.select("conv_a", "conv_b").collect()}


def _clusters(df) -> dict:
    return {r.conv_id: r.cluster_id for r in df.select("conv_id", "cluster_id").collect()}


def run_incremental(spark, run: Run, inputs: str, work: str, checks: str) -> dict:
    import pandas as pd
    from dedup_spark.config import DedupConfig
    from dedup_spark.incremental import IncrementalDedup

    with open(os.path.join(inputs, "meta.json")) as f:
        meta = json.load(f)
    wh = os.path.join(work, "warehouse")
    inc = IncrementalDedup(spark, DedupConfig(), wh)
    old_pdf = pd.read_parquet(os.path.join(inputs, "old"))

    def n_rows(part: str) -> int:
        return len(pd.read_parquet(os.path.join(inputs, part), columns=["conv_id"]))

    def same_as_full_run(op: dict, res, want: dict) -> tuple[set, dict]:
        pairs, cl = _pairs(res.verified_pairs), _clusters(res.clusters)
        Run.check(op, "verified_pairs_equal_full_run", pairs == {tuple(p) for p in want["pairs"]},
                  {"got": len(pairs), "want": len(want["pairs"])})
        Run.check(op, "clusters_equal_full_run", cl == want["clusters"],
                  {"got": len(cl), "want": len(want["clusters"])})
        return pairs, cl

    boot, res = run.call("bootstrap", lambda: inc.bootstrap(
        spark.read.parquet(os.path.join(inputs, "old"))), turns=len(old_pdf))
    ref = _reference(inputs)
    digest = {}
    if res is not None:
        Run.check(boot, "stages_not_reused",
                  all(not m.reused for m in inc.pipeline.catalog.metrics),
                  [m.stage for m in inc.pipeline.catalog.metrics if m.reused])
        kept = res.deduped_turns.select("conv_id", "turn_idx", "text").toPandas()
        joined = kept.merge(old_pdf[["conv_id", "turn_idx", "text"]],
                            on=["conv_id", "turn_idx"], how="left", suffixes=("", "_in"))
        Run.check(boot, "surviving_text_identical",
                  len(kept) > 0 and bool((joined["text"] == joined["text_in"]).all()),
                  {"kept": len(kept)})
        pairs, cl = same_as_full_run(boot, res, ref["old"])
        planted = meta["planted_old"]
        hit = sum(cl.get(a) is not None and cl.get(a) == cl.get(b) for a, b in planted)
        recall = hit / len(planted) if planted else 1.0
        Run.check(boot, "planted_recall", recall >= 0.99, {"recall": recall, "pairs": len(planted)})
        digest["bootstrap"] = [len(kept), sum(c == k for c, k in cl.items()), len(pairs)]

    app, res_a = run.call("append", lambda: inc.append(
        spark.read.parquet(os.path.join(inputs, "new"))), turns=n_rows("new"))
    ed, res_e = run.call("edit", lambda: inc.apply(
        new_turns=spark.read.parquet(os.path.join(inputs, "edit")),
        remove_conv_ids=meta["removed"]), turns=n_rows("edit"))
    if res_e is not None:
        pairs, cl = same_as_full_run(ed, res_e, ref["final"])
        digest["edit"] = [len(cl), sum(c == k for c, k in cl.items()), len(pairs)]
    _cache_compare(os.path.join(checks, "digest.json"), digest, run.ops, "digest_repeats")

    input_bytes = sum(dir_bytes(os.path.join(inputs, p)) for p in ("old", "new", "edit"))
    return {
        "turns_per_s": boot["turns"] / boot["wall_s"],
        "ops_after_load_s": app["wall_s"] + ed["wall_s"],
        "stored_bytes_per_input_byte": dir_bytes(wh) / input_bytes,
        "reports": {op: r.report for op, r in (("append", res_a), ("edit", res_e))
                    if r is not None},
        "catalog_metrics": [{"stage": m.stage, "rows_out": m.rows_out, "reused": m.reused}
                            for m in inc.pipeline.catalog.metrics],
    }


def run_queries(spark, run: Run, inputs: str, work: str, checks: str) -> dict:
    from dedup_spark.entry_queries import QUERIES

    # the queries memoize shared subplans per (session, table directory),
    # so every pass reads its own copy of the tables
    tables = os.path.join(work, "tables")
    shutil.copytree(inputs, tables, ignore=shutil.ignore_patterns(REFERENCE))
    rows: dict[str, int] = {}
    for name, family in TIMED_QUERIES:
        op, n = run.call(name, lambda name=name: QUERIES[name].spark_fn(spark, tables).count(),
                         family=family)
        rows[name] = n
    # row counts must equal the DuckDB oracle's where a query has one, and
    # repeat across runs of one seed where it has not
    oracle = _reference(inputs)
    path = os.path.join(checks, "row_counts.json")
    seen = rows
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    elif all(op["ok"] for op in run.ops):
        with open(path, "w") as f:
            json.dump(rows, f)
    for op in run.ops:
        name, got = op["name"], rows[op["name"]]
        want = oracle.get(name, seen.get(name))
        Run.check(op, "rows_equal_oracle" if name in oracle else "rows_repeat",
                  got is not None and got == want, {"want": want, "got": got})
    dedup = [op for op in run.ops if op["family"] == "dedup"]
    rest = [op for op in run.ops if op["family"] != "dedup"]
    return {
        "turns_per_s": (rows.get("turns_from_documents") or 0) / sum(op["wall_s"] for op in dedup),
        "ops_after_load_s": sum(op["wall_s"] for op in rest),
        "stored_bytes_per_input_byte": 0.0,
    }


WORKLOADS = {"incremental-lowoverlap": run_incremental, "queries-sf0.01": run_queries}


def _anchor(spark) -> float:
    """bench.py's raw-compute anchor: a fixed zero-shuffle codegen loop."""
    t0 = time.monotonic()
    spark.range(0, 2_000_000_000, 1, 64).selectExpr(
        "sum(xxhash64(id) % 1000000)").collect()
    return time.monotonic() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--checks", required=True,
                    help="per-seed directory of reference outputs for the checks")
    ap.add_argument("--launch-time", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    os.makedirs(args.checks, exist_ok=True)
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    from dedup_spark.session import get_spark

    t_call = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t_spark = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t_ready = time.time()
    result = {
        "workload": args.workload,
        "setup_s": t_ready - args.launch_time,
        "session": {"start_s": t_spark - args.launch_time, "warmup_s": t_ready - t_spark},
    }
    if tracer is not None:
        tracer.bind(spark)
        tracer.add("get_spark", "session", t_call, t_spark)
        tracer.add("warmup", "session", t_spark, t_ready)
        result["session"]["anchor_before_s"] = _anchor(spark)

    # closed loop: passes of the workload's operation sequence, each in a
    # fresh directory, until --seconds have been measured (at least one)
    passes = []
    t_begin = time.time()
    while not passes or time.time() - t_begin < args.seconds:
        run = Run(tracer)
        pass_dir = os.path.join(args.work, f"pass{len(passes)}")
        os.makedirs(pass_dir, exist_ok=True)
        out = WORKLOADS[args.workload](spark, run, args.inputs, pass_dir, args.checks)
        out["ops"] = run.ops
        passes.append(out)
        shutil.rmtree(pass_dir, ignore_errors=True)
        if not all(op["ok"] for op in run.ops):
            break
    result["passes"] = passes
    result["timed"] = [passes[0]["ops"][0]["start"], passes[-1]["ops"][-1]["end"]]

    if tracer is not None:
        result["session"]["anchor_after_s"] = _anchor(spark)
        result["spans"] = tracer.spans
    spark.stop()
    with open(args.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

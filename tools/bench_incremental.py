"""Incremental-append cost benchmark: bootstrap N convs, append M, and
report the append/bootstrap wall ratio plus the delta report.

Protocol (BASELINE.md round-4 series point: 113.7 s append vs 262.6 s
bootstrap = 0.43× at local[8] on the 12k+1k synthetic corpus): each
phase runs in its OWN spark-submit process (cold JVM both sides), same
master, 8g driver heap.

Two corpus regimes:

* ``synthetic`` — the shared-vocabulary FIXTURES.md corpus
  (dedup_spark.corpus.generate_corpus): the documented WORST case,
  where a 1k append drifts informative-band membership corpus-wide and
  every old conversation legitimately re-signs — an upper bound on
  append cost, not the typical one.
* ``lowoverlap`` — unique random text per conversation with a planted
  ~5% near-dup family rate: df drift confined to the delta, the regime
  a real training corpus lives in; append cost here demonstrates the
  ∝-delta design.

Usage:
    python tools/bench_incremental.py [--mode synthetic|lowoverlap]
        [--n-old 12000] [--n-new 1000] [--master local[8]]
Prints one JSON line per phase plus a final summary line, which carries
the append's Spark job count (``jobs_per_fold``) next to its per-phase
walls (``t_phases``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _write_parquet(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(tbl, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _gen_synthetic(n_old: int, n_new: int, out_dir: str) -> tuple[str, str]:
    from dedup_spark.corpus import CorpusSpec, generate_corpus

    turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=n_old + n_new))
    convs = sorted(turns_pdf["conv_id"].unique())
    old_ids = set(convs[:n_old])
    old = turns_pdf[turns_pdf["conv_id"].isin(old_ids)]
    new = turns_pdf[~turns_pdf["conv_id"].isin(old_ids)]
    po, pn = os.path.join(out_dir, "old.parquet"), os.path.join(out_dir, "new.parquet")
    _write_parquet(old, po)
    _write_parquet(new, pn)
    return po, pn


def _gen_lowoverlap(n_old: int, n_new: int, out_dir: str) -> tuple[str, str]:
    import numpy as np
    import pandas as pd

    rng = np.random.Generator(np.random.PCG64(4242))
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype="S1")

    def text(n):
        return b"".join(alphabet[rng.integers(0, 32, size=n)]).decode()

    rows = []
    dup_pool: list[list[str]] = []
    for i in range(n_old + n_new):
        cid = f"c{i:06d}"
        if dup_pool and rng.random() < 0.05:
            turns = list(dup_pool[int(rng.integers(0, len(dup_pool)))])
            # near-dup: perturb the tail turn
            turns[-1] = turns[-1] + " " + text(30)
        else:
            turns = [text(int(rng.integers(200, 700)))
                     for _ in range(int(rng.integers(5, 25)))]
            if rng.random() < 0.08:
                dup_pool.append(turns)
        for t_idx, t in enumerate(turns):
            rows.append((cid, t_idx, "user" if t_idx % 2 == 0 else "assistant",
                         t, None))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool"])
    old_ids = {f"c{i:06d}" for i in range(n_old)}
    po, pn = os.path.join(out_dir, "old.parquet"), os.path.join(out_dir, "new.parquet")
    _write_parquet(pdf[pdf["conv_id"].isin(old_ids)], po)
    _write_parquet(pdf[~pdf["conv_id"].isin(old_ids)], pn)
    return po, pn


def _submit(master: str, args: list[str]) -> dict:
    zip_path = "/tmp/pkg/dedup_spark.zip"
    os.makedirs("/tmp/pkg", exist_ok=True)
    shutil.make_archive(zip_path[:-4], "zip", root_dir=REPO,
                        base_dir="dedup_spark")
    cmd = [
        "spark-submit", "--master", master, "--driver-memory", "8g",
        "--py-files", zip_path, os.path.join(REPO, "run_pipeline.py"),
    ] + args
    t0 = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"spark-submit failed ({out.returncode})")
    line = next(
        (ln for ln in out.stdout.splitlines() if ln.startswith("{")), "{}"
    )
    rep = json.loads(line)
    rep["process_wall_sec"] = round(wall, 1)
    return rep


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="lowoverlap",
                    choices=["synthetic", "lowoverlap"])
    ap.add_argument("--n-old", type=int, default=12000)
    ap.add_argument("--n-new", type=int, default=1000)
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--workdir", default="/dev/shm/incbench")
    args = ap.parse_args()

    wd = f"{args.workdir}_{args.mode}"
    if os.path.isdir(wd):
        shutil.rmtree(wd)
    os.makedirs(wd)
    gen = _gen_synthetic if args.mode == "synthetic" else _gen_lowoverlap
    old_p, new_p = gen(args.n_old, args.n_new, wd)

    wh = os.path.join(wd, "wh")
    boot = _submit(args.master, ["--warehouse", wh, "--turns", old_p,
                                 "--bootstrap"])
    print(json.dumps({"phase": "bootstrap", **boot}))
    app = _submit(args.master, ["--warehouse", wh, "--append", new_p])
    print(json.dumps({"phase": "append", **app}))

    ratio = app["wall_sec"] / boot["wall_sec"]
    print(json.dumps({
        "metric": "incremental_append_ratio",
        "mode": args.mode,
        "n_old": args.n_old,
        "n_new": args.n_new,
        "bootstrap_wall_sec": boot["wall_sec"],
        "append_wall_sec": app["wall_sec"],
        "ratio": round(ratio, 3),
        "jobs_per_fold": app["jobs"],
        "t_phases": app.get("delta_report", {}).get("t_phases", {}),
        "delta_report": app.get("delta_report", {}),
        "master": args.master,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark command: one run of one workload, as its own spark-submit.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It packages ``dedup_spark/`` the
way a cluster deploy does (``--py-files`` zip), generates the workload's
inputs from ``--seed`` (cached per seed under ``.perfbench/inputs``),
launches ``spark-submit --master local[4] --driver-memory 8g`` with
ParallelGC on ``perfbench/driver.py``, samples the resident memory of the
spark-submit process tree, and prints a metric table followed by one JSON
line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` turns on span wrappers and the Spark event log and reports
the per-layer metrics instead, including the tracing overhead (traced
minus untraced walls of the same workload). The warehouse, Spark scratch
and event log of a run live under ``.perfbench/runs`` and are deleted
when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
CHILD_TIMEOUT_S = 172.0

sys.path[:0] = [HERE, ROOT]
import inputs  # noqa: E402
import rollup  # noqa: E402

WORKLOADS = sorted(inputs.GENERATORS)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _bench = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _bench["end_to_end"] + _bench["per_layer"]}


def _die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _build() -> str:
    """Zip the library for ``--py-files`` (the spark-submit deploy shape)."""
    if not os.path.isfile(os.path.join(ROOT, "dedup_spark", "__init__.py")):
        _die(f"no dedup_spark package under {ROOT}; run from a source checkout")
    os.makedirs(os.path.join(WORK, "build"), exist_ok=True)
    base = os.path.join(WORK, "build", f"dedup_spark-{os.getpid()}")
    return shutil.make_archive(base, "zip", root_dir=ROOT, base_dir="dedup_spark")


def _proc_tree_rss(root_pid: int) -> tuple[int, int]:
    """Resident bytes of ``root_pid`` and all its descendants, and of
    ``root_pid`` alone."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, root, todo = 0, 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            rss = 0
        total += rss
        root = root or rss
        todo.extend(children.get(pid, []))
    return total, root


def _steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests (``steal`` in
    /proc/stat, summed over cores) since boot; 0 where it is not kept."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _kill_tree(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _launch(workload: str, seed: int, seconds: float, trace: bool, zip_path: str,
            inp: str, deadline: float) -> dict:
    """One spark-submit of driver.py → its result dict plus RSS samples."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    events = os.path.join(run_dir, "events")
    # JVM and Python temporary files stay in the run directory too
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = dict(os.environ, TMPDIR=tmp, SPARK_LAUNCHER_OPTS=jvm_tmp)
    cmd = [
        "spark-submit", "--master", f"local[{CORES}]", "--driver-memory", "8g",
        "--conf", f"spark.driver.extraJavaOptions=-XX:+UseParallelGC {jvm_tmp}",
        "--conf", f"spark.local.dir={os.path.join(run_dir, 'spark-local')}",
    ]
    if trace:
        os.makedirs(events)
        cmd += ["--conf", "spark.eventLog.enabled=true",
                "--conf", "spark.eventLog.compress=false",
                "--conf", f"spark.eventLog.dir=file://{events}"]
    cmd += ["--py-files", zip_path, os.path.join(HERE, "driver.py"),
            "--workload", workload, "--inputs", inp, "--work", run_dir,
            "--checks", os.path.join(WORK, "checks", f"{workload}-{seed}"),
            "--seconds", str(seconds), "--trace", str(int(trace)), "--out", out]
    log_path = os.path.join(WORK, "logs", f"{workload}-{seed}-{int(trace)}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    samples: list[tuple[float, int, int, float]] = []
    try:
        with open(log_path, "w") as log:
            launch = time.time()
            proc = subprocess.Popen(cmd + ["--launch-time", repr(launch)], cwd=run_dir, env=env,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                while proc.poll() is None:
                    if time.time() > deadline:
                        _kill_tree(proc)
                        _die(f"{workload} run exceeded its time budget; log: {log_path}", 1)
                    samples.append((time.time(), *_proc_tree_rss(proc.pid), _steal_s()))
                    time.sleep(0.1)
            except BaseException:
                _kill_tree(proc)
                raise
        if proc.returncode != 0 or not os.path.exists(out):
            _die(f"spark-submit exited {proc.returncode}; log: {log_path}", 1)
        with open(out) as f:
            res = json.load(f)
        res["rss_samples"] = samples
        res["child_exit"] = time.time()
        if trace:
            log = rollup.parse(rollup.read_events(events))
            rolled = rollup.span_rollup(res["spans"], log)
            res["layers"] = rollup.layer_metrics(res, log, rolled)
            res["span_rollup"] = rolled
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "turns_per_s": statistics.median([p["turns_per_s"] for p in res["passes"]]),
        "ops_after_load_s": statistics.median([p["ops_after_load_s"] for p in res["passes"]]),
    }


def _peak_rss_mb(res: dict) -> tuple[float, float]:
    """Peak resident memory during the timed operations of the driver JVM
    (which hosts the executors in local mode) and of its Python processes
    (the Python driver and the UDF workers). Both are per-layer metrics,
    not end-to-end ones: the JVM's peak follows ParallelGC's adaptive heap
    sizing (3.1-4.7 GB over runs of one workload) and the Python peak the
    number of UDF workers alive at one instant (identical runs peaked
    3.7 GB apart), both wider than the largest bound a gated metric may
    have."""
    lo, hi = res["timed"]
    window = [(tree, jvm) for t, tree, jvm, _ in res["rss_samples"] if lo <= t <= hi]
    return (max(jvm for _, jvm in window) / 1e6,
            max(tree - jvm for tree, jvm in window) / 1e6)


def _steal_during_ops(res: dict) -> float:
    """CPU seconds stolen from this VM while the timed operations ran:
    context for a slow run (host load), not a metric."""
    lo, hi = res["timed"]
    window = [steal for t, _, _, steal in res["rss_samples"] if lo <= t <= hi]
    return window[-1] - window[0] if window else 0.0


def _untraced_path(workload: str, seed: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-{seed}.json")


def _untraced_baseline(workload: str, seed: int) -> dict | None:
    """setup_s and ops_s of the untraced run of this seed, else the medians
    over the workload's untraced runs, else None: the tracing overhead is
    measured against it."""
    results = os.path.join(WORK, "results")
    paths = [_untraced_path(workload, seed)]
    if not os.path.exists(paths[0]):
        paths = [os.path.join(results, f) for f in sorted(os.listdir(results))
                 if f.startswith(workload + "-")] if os.path.isdir(results) else []
    if not paths:
        return None
    runs = []
    for path in paths:
        with open(path) as f:
            runs.append(json.load(f))
    return {k: statistics.median(r[k] for r in runs) for k in ("setup_s", "ops_s")}


def _ops_total(res: dict) -> float:
    return statistics.median([sum(op["wall_s"] for op in p["ops"]) for p in res["passes"]])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops the spark-submit tree (see _launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if shutil.which("spark-submit") is None:
        _die("spark-submit is not on PATH")
    zip_path = _build()
    try:
        inp = inputs.ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
        deadline = t_start + CHILD_TIMEOUT_S
        base = _untraced_baseline(args.workload, args.seed) if args.trace else None
        if args.trace and base is None:
            r0 = _launch(args.workload, args.seed, args.seconds, False, zip_path, inp, deadline)
            base = {"setup_s": r0["setup_s"], "ops_s": _ops_total(r0)}
        res = _launch(args.workload, args.seed, args.seconds, bool(args.trace), zip_path,
                      inp, deadline)
    finally:
        os.remove(zip_path)

    ops = [op for p in res["passes"] for op in p["ops"]]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        bad = {k: v for k, v in op["checks"].items() if not v["ok"]}
        print(f"# FAILED {op['name']}: {op.get('error', '').strip() or bad}", file=sys.stderr)
    if args.trace:
        metrics = dict(res["layers"])
        metrics["session.jvm_peak_rss_mb"], metrics["functions.python_peak_rss_mb"] = \
            _peak_rss_mb(res)
        metrics["trace.overhead_s"] = _ops_total(res) - base["ops_s"]
        metrics["trace.overhead_setup_s"] = res["setup_s"] - base["setup_s"]
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"spans": res["span_rollup"], "layers": res["layers"]}, f)
        print(f"# per-span trace: {trace_path}")
    else:
        metrics = end_to_end(res)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(_untraced_path(args.workload, args.seed), "w") as f:
            json.dump({"setup_s": res["setup_s"], "ops_s": _ops_total(res)}, f)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} passes={len(res['passes'])}")
    for op in ops:
        print(f"#   op {op['name']:<28} {op['wall_s']:9.3f} s  {'ok' if op['ok'] else 'FAILED'}")
    print(f"#   {'failed_ops_ratio':<31} {len(failed) / len(ops):9.4f}")
    print(f"#   {'host_steal_during_ops':<31} {_steal_during_ops(res):9.3f} s")
    for k, v in metrics.items():
        print(f"#   {k:<31} {v:12.4f} {UNITS[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Spark event-log parser and per-layer roll-up of a traced run.

The event log (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``) is JSON lines. It is read on the
driver after the run, with no Spark job. Tasks are attributed to spans
through the job group their stage was submitted under (``pb<span id>``,
see spans.py); jobs are attributed to time windows (pipeline run, fold
phases) by their submission time.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import GROUP_PREFIX

MB = 1e6

# operator layers: module name -> the catalog stages it computes
LAYERS = {
    "transcripts": ["transcripts"],
    "shingling": ["shingle_sets", "shingle_ann", "informative_sets"],
    "lsh": ["signatures", "bucket_sizes", "skew_report", "candidate_pairs"],
    "verify": ["verified_pairs"],
    "connected_components": ["clusters"],
    "substring": ["key_occ_repeated", "anchor_skew", "substring_chains"],
    "scoring": ["position_classes", "substring_spans"],
    "intervals": ["interval_marks", "trimmed_turns"],
}
LAYER_FIELDS = ["wall_s", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "task_skew", "rows_out"]
BRANCH_A = ["verified_pairs", "clusters", "deduped_turns", "stats"]
BRANCH_B = ["key_occ_repeated", "anchor_skew", "substring_chains", "position_classes",
            "substring_spans", "interval_marks"]
# Arrow/pandas UDF stages of the pipeline and fold phases that run the UDFs
UDF_STAGES = ["shingle_sets", "signatures"]
UDF_PHASES = ["shingle_delta", "resign"]
FOLD_PHASES = ["guards", "shingle_delta", "df_merge", "affected_probe", "resign",
               "candidates", "verify", "clusters", "fold"]
QUERY_FAMILIES = ["dedup", "substring", "ann", "text", "relational"]


def read_events(path: str):
    """Every event of every event-log file under ``path`` (single-file
    and rolling ``eventlog_v2_*`` layouts alike)."""
    for root, _, files in os.walk(path):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def parse(events) -> dict:
    """→ {"jobs": {id: job}, "tasks": [task]}; each task carries its job
    group and job id, each job its group, submit/end times (s) and tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_group: dict[tuple, str | None] = {}
    raw_tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"id": jid, "group": props.get("spark.jobGroup.id"),
                         "submit": ev["Submission Time"] / 1000.0, "end": None, "tasks": []}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = props.get(
                "spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            raw_tasks.append(ev)
    tasks = []
    for ev in raw_tasks:
        sid, att = ev["Stage ID"], ev.get("Stage Attempt ID", 0)
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        jid = stage_job.get(sid)
        group = stage_group.get((sid, att))
        if group is None and jid in jobs:
            group = jobs[jid]["group"]
        t = {
            "job": jid, "group": group, "stage": sid,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Disk Bytes Spilled", 0),
            "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            "out_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "failed": reason != "Success" or bool(info.get("Failed")),
            "retried": info.get("Attempt", 0) > 0,
        }
        tasks.append(t)
        if jid in jobs:
            jobs[jid]["tasks"].append(t)
    return {"jobs": jobs, "tasks": tasks}


def agg(tasks) -> dict:
    run = [t["run_s"] for t in tasks]
    return {
        "tasks": len(tasks),
        "task_s": sum(run),
        "cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / MB,
        "spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "task_skew": max(run) / statistics.median(run) if run and statistics.median(run) > 0 else 0.0,
        "udf_wait_s": sum(max(0.0, t["run_s"] - t["cpu_s"]) for t in tasks),
        "in_mb": sum(t["in_b"] for t in tasks) / MB,
        "out_mb": sum(t["out_b"] for t in tasks) / MB,
        "failed_tasks": sum(t["failed"] for t in tasks),
        "retried_tasks": sum(t["retried"] for t in tasks),
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_rollup(spans: list[dict], log: dict) -> list[dict]:
    """Per-span task roll-up plus self time (duration minus the part of
    it the span's children cover)."""
    by_group: dict[str, list] = {}
    for t in log["tasks"]:
        by_group.setdefault(t["group"], []).append(t)
    jobs_by_group: dict[str, int] = {}
    for j in log["jobs"].values():
        jobs_by_group[j["group"]] = jobs_by_group.get(j["group"], 0) + 1
    children: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        g = f"{GROUP_PREFIX}{s['id']}"
        r = dict(s)
        r.update(agg(by_group.get(g, [])))
        r["jobs"] = jobs_by_group.get(g, 0)
        r["wall_s"] = s["end"] - s["start"]
        r["self_s"] = r["wall_s"] - covered(children.get(s["id"], []), s["start"], s["end"])
        out.append(r)
    return out


def _jobs_in(log: dict, lo: float, hi: float) -> list[dict]:
    return [j for j in log["jobs"].values() if lo <= j["submit"] < hi]


def layer_metrics(result: dict, log: dict, rolled: list[dict]) -> dict:
    """Named per-layer metrics of one traced run (first pass)."""
    p = result["passes"][0]
    calls = [(op["start"], op["end"]) for op in p["ops"]]

    def in_calls(s) -> bool:
        return any(lo <= s["start"] <= hi for lo, hi in calls)

    rolled = [s for s in rolled if in_calls(s)]
    m: dict[str, float] = {}
    rows = {}
    for c in p.get("catalog_metrics", []):
        rows[c["stage"]] = rows.get(c["stage"], 0) + c["rows_out"]

    stage_spans: dict[str, list] = {}
    for s in rolled:
        if s["kind"] == "stage":
            stage_spans.setdefault(s["stage"], []).append(s)

    def tasks_of(spans_) -> list:
        groups = {f"{GROUP_PREFIX}{s['id']}" for s in spans_}
        return [t for t in log["tasks"] if t["group"] in groups]

    for layer, stages in LAYERS.items():
        sp = [s for st in stages for s in stage_spans.get(st, [])]
        a = agg(tasks_of(sp))
        m[f"{layer}.wall_s"] = sum(s["self_s"] for s in sp)
        for k in ("task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "task_skew"):
            m[f"{layer}.{k}"] = a[k]
        m[f"{layer}.rows_out"] = float(sum(rows.get(st, 0) for st in stages))
    m["shingling.ann_rows"] = float(rows.get("shingle_ann", 0))
    m["lsh.candidates"] = float(rows.get("candidate_pairs", 0))
    m["verify.yield"] = (rows.get("verified_pairs", 0) / rows["candidate_pairs"]
                         if rows.get("candidate_pairs") else 0.0)
    m["connected_components.jobs"] = float(sum(s["jobs"] for s in stage_spans.get("clusters", [])))
    m["substring.repeated_keys"] = float(rows.get("key_occ_repeated", 0))
    m["substring.chains"] = float(rows.get("substring_chains", 0))

    # fold phases: consecutive intervals rebuilt from t_phases, anchored at
    # the start of each incremental.apply span; jobs go by submit time
    applies = sorted((s for s in rolled if s["name"] == "incremental.apply"),
                     key=lambda s: s["start"])
    reports = [p.get("reports", {}).get(k) for k in ("append", "edit")]
    phase_wall = {ph: 0.0 for ph in FOLD_PHASES}
    phase_jobs: dict[str, list] = {ph: [] for ph in FOLD_PHASES}
    for s, rep in zip(applies, reports):
        t = s["start"]
        for ph, dt in ((rep or {}).get("t_phases") or {}).items():
            if ph in phase_wall:
                phase_wall[ph] += dt
                phase_jobs[ph] += _jobs_in(log, t, t + dt)
            t += dt
    udf_tasks = tasks_of([s for st in UDF_STAGES for s in stage_spans.get(st, [])])
    udf_tasks += [t for ph in UDF_PHASES for j in phase_jobs[ph] for t in j["tasks"]]
    m["functions.udf_wait_s"] = agg(udf_tasks)["udf_wait_s"]

    sess = result["session"]
    for k in ("start_s", "warmup_s", "anchor_before_s", "anchor_after_s"):
        m[f"session.{k}"] = sess.get(k, 0.0)
    m["session.anchor_mean_s"] = (sess.get("anchor_before_s", 0.0) + sess.get("anchor_after_s", 0.0)) / 2
    lo, hi = calls[0][0], calls[-1][1]
    timed_tasks = [t for j in _jobs_in(log, lo, hi) for t in j["tasks"]]
    m["session.failed_tasks"] = float(sum(t["failed"] for t in timed_tasks))
    m["session.retried_tasks"] = float(sum(t["retried"] for t in timed_tasks))

    runs = [s for s in rolled if s["name"] == "pipeline.run"]
    job_iv = [(j["submit"], j["end"] or j["submit"]) for j in log["jobs"].values()]

    def extent(stages) -> float:
        sp = [s for st in stages for s in stage_spans.get(st, [])]
        return max(s["end"] for s in sp) - min(s["start"] for s in sp) if sp else 0.0

    m["pipeline.branch_a_s"] = extent(BRANCH_A)
    m["pipeline.branch_b_s"] = extent(BRANCH_B)
    m["pipeline.driver_idle_s"] = sum(
        s["wall_s"] - covered(job_iv, s["start"], s["end"]) for s in runs)
    m["pipeline.jobs"] = float(sum(len(_jobs_in(log, s["start"], s["end"])) for s in runs))

    writes = [s for s in rolled if s["kind"] == "write"]
    m["catalog.write_s"] = sum(s["wall_s"] for s in writes)
    m["catalog.flush_wait_s"] = sum(s["wall_s"] for s in rolled if s["kind"] == "flush")
    m["catalog.written_mb"] = agg(tasks_of(writes))["out_mb"]
    m["catalog.stored_bytes_per_input_byte"] = p.get("stored_bytes_per_input_byte", 0.0)

    for ph in FOLD_PHASES:
        m[f"incremental.{ph}_s"] = phase_wall[ph]
    folds = [op for op in p["ops"] if op["name"] in ("append", "edit")]
    fold_jobs = [j for op in folds for j in _jobs_in(log, op["start"], op["end"])]
    fold_tasks = agg([t for j in fold_jobs for t in j["tasks"]])
    m["incremental.jobs_per_fold"] = len(fold_jobs) / len(folds) if folds else 0.0
    m["incremental.state_read_mb"] = fold_tasks["in_mb"]
    m["incremental.state_written_mb"] = fold_tasks["out_mb"]
    for name, key in (("touched_shingles", "n_touched_shingles"), ("resigned", "n_resigned"),
                      ("candidate_pairs", "n_candidate_pairs")):
        m[f"incremental.{name}"] = float(sum((r or {}).get(key, 0) for r in reports))
    walls = {op["name"]: op["wall_s"] for op in p["ops"]}
    m["incremental.append_s"] = walls.get("append", 0.0)
    m["incremental.edit_s"] = walls.get("edit", 0.0)

    for fam in QUERY_FAMILIES:
        m[f"entry_queries.{fam}_s"] = sum(
            op["wall_s"] for op in p["ops"] if op.get("family") == fam)
    m["entry_queries.queries_s"] = sum(op["wall_s"] for op in p["ops"] if op.get("family"))
    return m

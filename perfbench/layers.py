"""Per-layer metrics of a traced run, from the harness's spans and the
records Spark's listeners left in `trace.jsonl`.

Listener events are attributed to the span whose wall-clock interval holds
their start time (the client is closed-loop, so at most one operation is
in flight). Every metric is a mean per timed operation: per arrival
(landing + trigger) or per library query, except `backfill_refresh_ms`,
which times the incremental workload's one-off first refresh of the whole
lake. A layer that does not run in a workload reads 0.
"""
import json
import os

LAYER_METRICS = [
    "build_ms", "analysis_ms", "optimize_ms", "physical_plan_ms",
    "graft_rule_ms", "graft_rule_runs", "graft_rule_effective_ratio",
    "graft_exec_nodes", "exec_ms", "jobs", "stages", "tasks", "task_run_ms",
    "task_cpu_ms", "gc_ms", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "stage_gap_ms", "core_busy_ratio", "scan_nodes", "scan_files", "scan_rows",
    "scan_mb", "scan_ms", "backfill_refresh_ms", "land_write_ms",
    "refined_write_ms", "register_ms",
    "files_written", "partitions_written", "bytes_written_mb", "lake_mb",
    "latest_offset_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "raw_rows_scanned_per_arrival_row",
]
FAMILY_METRICS = ["build_ms", "plan_ms", "exec_ms", "jobs", "task_run_ms"]
FAMILIES = ["core", "tpch", "window", "collapse", "text", "sim", "media"]
MB = 1024.0 * 1024.0

UNITS = {"ratio": "ratio", "_ms": "ms", "_mb": "MB"}


def unit(name):
    base = name.split(".")[0]
    for suffix, u in UNITS.items():
        if base.endswith(suffix):
            return u
    return "count"


def all_names():
    return LAYER_METRICS + [f"{m}.{f}" for f in FAMILIES for m in FAMILY_METRICS]


def _within(t, spans):
    return any(s["start_ms"] <= t <= s["end_ms"] for s in spans)


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _dur_ms(spans):
    return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans)


def _tree_bytes(path):
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def group_metrics(groups, events, cores):
    """Layer metrics summed over `groups` (lists of op spans), per group."""
    spans = [s for g in groups for s in g]
    exec_spans = [s for s in spans if s["name"] in ("exec", "land", "trigger")]
    if not spans:
        return {}
    jobs = [e for e in events["job_start"] if _within(e["ms"], spans)]
    stages = [e for e in events["stage"] if _within(e["submit_ms"], spans)]
    queries = [q for q in events["query"] if _within(q["ms"], spans)]
    progress = [p for p in events["progress"] if _within(p["ms"], spans)]

    def qsum(k):
        return sum(q[k] for q in queries)

    def ssum(k):
        return sum(s.get(k, 0) for s in stages)

    exec_ms = _dur_ms(exec_spans)
    gap = 0.0
    for s in exec_spans:
        inside = [(max(st["submit_ms"], s["start_ms"]), min(st["done_ms"], s["end_ms"]))
                  for st in stages if s["start_ms"] <= st["submit_ms"] <= s["end_ms"]]
        gap += (s["end_ns"] - s["start_ns"]) / 1e6 - _union_ms(inside)
    tops = [s for s in spans if s["name"] in ("query", "land", "trigger")]
    triggers = [s for s in spans if s["name"] == "trigger"]
    in_trigger = [q for q in queries if _within(q["ms"], triggers)]
    rule_runs = sum(s["graft_rule_runs"] for s in tops)
    input_rows = sum(p["input_rows"] for p in progress)
    n = float(len(groups))
    m = {
        "build_ms": _dur_ms([s for s in spans if s["name"] == "build"]),
        "analysis_ms": qsum("analysis_ms"),
        "optimize_ms": qsum("optimize_ms"),
        "physical_plan_ms": qsum("physical_plan_ms"),
        "graft_rule_ms": sum(s["graft_rule_ns"] for s in tops) / 1e6,
        "graft_rule_runs": rule_runs,
        "graft_exec_nodes": qsum("graft_exec_nodes"),
        "exec_ms": exec_ms,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": ssum("tasks"),
        "task_run_ms": ssum("run_ms"),
        "task_cpu_ms": ssum("cpu_ns") / 1e6,
        "gc_ms": ssum("gc_ms"),
        "shuffle_read_mb": ssum("shuffle_read_b") / MB,
        "shuffle_write_mb": ssum("shuffle_write_b") / MB,
        "spill_mb": ssum("spill_b") / MB,
        "stage_gap_ms": gap,
        "scan_nodes": qsum("scan_nodes"),
        "scan_files": qsum("scan_files"),
        "scan_rows": qsum("scan_rows"),
        "scan_mb": qsum("scan_bytes") / MB,
        "scan_ms": qsum("scan_ms"),
        "land_write_ms": _dur_ms([s for s in spans if s["name"] == "land"]),
        "refined_write_ms": sum(q["duration_ms"] for q in in_trigger
                                if q["plan"] == "write"),
        "register_ms": sum(q["duration_ms"] for q in in_trigger
                           if q["plan"] == "command"),
        "files_written": qsum("files_written"),
        "partitions_written": qsum("partitions_written"),
        "bytes_written_mb": qsum("bytes_written") / MB,
        "latest_offset_ms": sum(p["latestOffset"] for p in progress),
        "add_batch_ms": sum(p["addBatch"] for p in progress),
        "wal_commit_ms": sum(p["walCommit"] for p in progress),
        "commit_offsets_ms": sum(p["commitOffsets"] for p in progress),
    }
    out = {k: v / n for k, v in m.items()}
    out["graft_rule_effective_ratio"] = (
        sum(s["graft_rule_effective"] for s in tops) / rule_runs if rule_runs else 0.0)
    out["core_busy_ratio"] = m["task_run_ms"] / (exec_ms * cores) if exec_ms else 0.0
    out["raw_rows_scanned_per_arrival_row"] = (
        sum(q["raw_scan_rows"] for q in queries) / input_rows if input_rows else 0.0)
    out["plan_ms"] = out["analysis_ms"] + out["optimize_ms"] + out["physical_plan_ms"]
    return out


def per_layer(workload, run_dir, records, family_of, cores):
    events = {k: [] for k in ("span", "job_start", "stage", "sql_start", "sql_end",
                              "query", "progress")}
    with open(os.path.join(run_dir, "trace.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            events[r["kind"]].append(r)
    spans = events["span"]
    by_id = {s["id"]: s for s in spans}
    # a query record's time is the start of the execution that ran it
    start_ms = {e["exec"]: e["ms"] for e in events["sql_start"]}
    exec_of = {e["qe"]: e["exec"] for e in events["sql_end"]}
    for q in events["query"]:
        q["ms"] = start_ms.get(exec_of.get(q["qe"]), -1)

    def top(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s

    if workload == "query_mix":
        groups = {}
        for s in spans:
            t = top(s)
            if t["name"] == "query":
                groups.setdefault(t["id"], []).append(s)
        op_groups = list(groups.values())
    else:
        groups = {}
        for s in spans:
            if s["name"] in ("land", "trigger") and s["parent"] == 0:
                groups.setdefault(s["round"], []).append(s)
        op_groups = [g for g in groups.values()
                     if any(s["name"] == "trigger" for s in g)]
    m = group_metrics(op_groups, events, cores)
    metrics = {k: m.get(k, 0.0) for k in LAYER_METRICS}
    if workload == "etl_incremental":
        metrics["backfill_refresh_ms"] = _dur_ms(
            [s for s in spans if s["name"] == "backfill_refresh"])
        prep = next(r for r in records if r["kind"] == "prep")
        metrics["lake_mb"] = (_tree_bytes(prep["raw"]) + _tree_bytes(prep["refined"])) / MB
    for fam in FAMILIES:
        fam_groups = [g for g in op_groups
                      if workload == "query_mix" and family_of.get(g[0].get("query")) == fam]
        fm = group_metrics(fam_groups, events, cores) if fam_groups else {}
        for k in FAMILY_METRICS:
            metrics[f"{k}.{fam}"] = fm.get(k, 0.0)
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}

"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <etl_incremental|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --repeat <runs> [--seconds <s>]

Run from the root of a checkout. It builds the program from source
(`build.py`), makes the seeded inputs, starts the set-up probes and the
measuring JVM (`perfbench.Main`), checks every output against DuckDB,
and prints one JSON object as the last line of standard output. With
`--repeat` it runs one workload several times, each with another seed,
and prints each end-to-end metric's median and spread beside its bound.
See README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from datetime import date, timedelta

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import fixture  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("etl_incremental", "query_mix")
CORES = min(4, os.cpu_count() or 1)
SETUP_PROBES = 1
JVM_TIMEOUT_S = 150
FIXTURE_SF = 0.1
LAKE_ASSETS, LAKE_DAYS, ARRIVAL_ASSETS = 40, 180, 3

# One library query per family, each with a DuckDB oracle (README.md says
# why each is here and why there are not more).
QUERY_FAMILIES = {
    "core": ["a1_asset_agg"],
    "tpch": ["q8_market_share"],
    "window": ["x116_cum_corpus_share"],
    "collapse": ["x132_argmax_join"],
    "text": ["x1_dedup_exact"],
    "sim": ["x4_cosine_topk"],
    "media": ["x119_image_neardup"],
}
FAMILY_OF = {n: f for f, names in QUERY_FAMILIES.items() for n in names}

READS = [
    ("r1_partition_filter",
     "SELECT count(*) AS n, sum(trade_volume) AS volume, "
     "avg(close_price) AS avg_close FROM refined WHERE ativo = '{a}'"),
    ("r2_projection",
     "SELECT date, close_price FROM refined "
     "WHERE ativo = '{b}' AND date >= TIMESTAMP '{since} 00:00:00'"),
    ("r3_latest",
     "SELECT ativo, date, close_price, mm_7d FROM refined "
     "WHERE ativo = '{a}' ORDER BY date DESC LIMIT 10"),
    ("r4_per_asset",
     "SELECT ativo, count(*) AS n, avg(close_price) AS avg_close, "
     "max(mm_7d) AS max_mm_7d, sum(trade_volume) AS volume "
     "FROM refined GROUP BY ativo"),
]

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def tickers(rng, n):
    out = set()
    while len(out) < n:
        stem = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(4))
        out.add(f"{stem}{rng.choice(['3', '4', '11'])}.SA")
    return sorted(out)


def make_plan(workload, seed, run_dir):
    """Write every seeded input choice of one run to `plan.tsv`, one
    `key<TAB>value` line each; return the lines and the lake's (tickers,
    start, days)."""
    rng = random.Random(f"{workload}:{seed}")
    lines = []
    if workload == "etl_incremental":
        assets = tickers(rng, LAKE_ASSETS)
        days = LAKE_DAYS
        start = date(2005, 1, 1) + timedelta(days=rng.randrange(3650))
        end = start + timedelta(days=days)
        lines += [("assets", ",".join(assets)), ("start", start.isoformat()),
                  ("days", str(days)), ("processing_date", end.isoformat())]
        stems = [t.split(".")[0] for t in assets]
        a, b = rng.choice(stems), rng.choice(stems)
        since = (end - timedelta(days=90)).isoformat()
        lines += [("read", name, sql.format(a=a, b=b, since=since))
                  for name, sql in READS]
        for k in range(400):
            day = (end + timedelta(days=k)).isoformat()
            lines.append(("arrival", day,
                          ",".join(sorted(rng.sample(assets, ARRIVAL_ASSETS)))))
    else:
        names = sorted(FAMILY_OF)
        lines += [("fixture", os.path.join(run_dir, "fixture")),
                  ("names", ",".join(names))]
        for _ in range(100):
            lap = names[:]
            rng.shuffle(lap)
            lines.append(("lap", ",".join(lap)))
    with open(os.path.join(run_dir, "plan.tsv"), "w", encoding="utf-8") as f:
        f.writelines("\t".join(line) + "\n" for line in lines)
    return lines, ((assets, start.isoformat(), days)
                   if workload == "etl_incremental" else None)


def jvm(classpath, mode, run_dir, seconds, trace):
    """Start one harness JVM; return (monotonic ns at launch, records)."""
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Duser.timezone=UTC",
           f"-Dderby.system.home={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", mode, run_dir,
            str(CORES), str(seconds), str(trace)]
    log_path = os.path.join(run_dir, f"{mode}.log")
    with open(log_path, "w") as log:
        t0 = time.monotonic_ns()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"{mode} JVM failed ({code})")
    with open(os.path.join(run_dir, "result.jsonl")) as f:
        records = [json.loads(line) for line in f]
    return t0, records


def log(msg, since):
    print(f"[perfbench] {msg} {time.monotonic() - since:.1f}s", file=sys.stderr)


def setup_seconds(t0, records):
    ready = next(r["ns"] for r in records if r["kind"] == "ready")
    return (ready - t0) / 1e9


def run_once(workload, seed, seconds, trace):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("no program sources here: run from the repository root")
    classpath = build.build()
    run_dir = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = time.monotonic()
        plan, lake = make_plan(workload, seed, run_dir)
        if workload == "query_mix":
            fixture.generate(os.path.join(run_dir, "fixture"), FIXTURE_SF, seed)
        else:
            fixture.write_lake(os.path.join(run_dir, "lake", "raw"), *lake)
        log("inputs", t)
        setups = []
        for i in range(SETUP_PROBES):
            t = time.monotonic()
            probe = os.path.join(run_dir, f"probe{i}")
            os.makedirs(probe)
            setups.append(setup_seconds(*jvm(classpath, "setup", probe, 0, 0)))
            shutil.rmtree(probe)
            log("setup probe", t)
        t = time.monotonic()
        t0, records = jvm(classpath, workload, run_dir, seconds, trace)
        setups.append(setup_seconds(t0, records))
        log(workload, t)
        t = time.monotonic()
        verdict = checks.check(workload, plan, records)
        log("checks", t)
        if trace:
            metrics = layers.per_layer(workload, run_dir, records, FAMILY_OF, CORES)
        else:
            metrics = end_to_end(records, setups)
        return {"correct": verdict["correct"], "attempted": verdict["attempted"],
                "failed": verdict["failed"], "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def typical_latency(records):
    """Geometric mean, over the kinds of operation in `records`, of each
    kind's median latency: one figure per mix that no single kind's
    position in the ranking can make jump."""
    by_kind = {}
    for r in records:
        by_kind.setdefault(r["name"], []).append(r["s"])
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def end_to_end(records, setups):
    ops = [r for r in records if r["kind"] == "op"]
    reads = [r for r in records if r["kind"] == "read"] or ops
    rss_kb = next(r["peak_kb"] for r in records if r["kind"] == "rss")
    values = {
        "setup_s": (statistics.median(setups), "s"),
        "op_latency_s": (typical_latency(ops), "s"),
        "ops_per_s": (len(ops) / sum(r["s"] for r in ops), "1/s"),
        "read_latency_s": (typical_latency(reads), "s"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def repeat(workload, runs, seconds):
    """Run one workload `runs` times with seeds 1..runs; report spreads."""
    with open(BENCHMARK) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for seed in range(1, runs + 1):
        res = run_once(workload, seed, seconds, 0)
        print(json.dumps(res), file=sys.stderr)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    report = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med
        report[k] = {"median": med, "spread": round(spread, 4),
                     "bound": bounds.get(k), "steady": spread < bounds.get(k, 0) / 3}
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(BENCHMARK) as f:
            seconds = json.load(f)["run_seconds"]
    if a.repeat:
        print(json.dumps(repeat(a.workload, a.repeat, seconds), indent=1))
    else:
        print(json.dumps(run_once(a.workload, a.seed, seconds, a.trace)))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload recsys --seed 1 --seconds 40 --trace 0

Run it from the repository root. The first run builds the engine and the
harness with sbt; later runs reuse the build until a source file changes.
Each run starts a fresh JVM (`graft.perfbench.Harness`) in a private
directory under `.bench_build/perfbench/`, removed when the run ends.

`--trace 0` prints the end-to-end metrics; `--trace 1` installs the
harness's Spark listeners and prints the per-layer metrics. Each run
writes its per-query records (and, traced, its spans) to
`.bench_build/perfbench/`. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

The input is the sf0.1 test data: `$SPARK_GRAFT_SF_DIR`, else
`~/testdata/sf0.1`. Its content must match `golden/sf0.1_fingerprint.json`.
See README.md for the workloads and metrics.
"""
import argparse
import hashlib
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("recsys", "recsys_cold", "recsys_heavy", "lifecycle", "relational",
             "relational_heavy", "events", "curation")
# the workloads BENCHMARK.json lists
GATED = ("recsys", "relational")
HEAP = "4g"
# the gated workloads must end within 180 s; the others run longer
JVM_TIMEOUT_S = 170
JVM_TIMEOUT_UNGATED_S = 900
# Runtime modules Spark needs opened on JDK 17 (the list spark-submit passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build --

def build_inputs():
    """Files whose change requires a rebuild, as (path, size, mtime_ns)."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    out = []
    for f in sorted(files):
        st = os.stat(f)
        out.append((os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns))
    return out


def classpath():
    """The harness's runtime classpath, building with sbt when stale."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.isfile(engine) and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("engine sources not found: run from the root of a graft checkout")
    stamp = hashlib.sha256(repr(build_inputs()).encode()).hexdigest()
    cache = os.path.join(HERE, "target", "classpath.json")
    try:
        with open(cache) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    # no sbt server and no JVM perf-data file: both would write outside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"sbt build failed with code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    log(f"built in {time.monotonic() - t0:.0f} s")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


# ----------------------------------------------------------------- data --

def check_data(sf_dir):
    """Refuse to run on input that differs from the recorded sf0.1 data.

    Compares each parquet file's size and SHA-256 with the recorded
    fingerprint. A different mtime alone (the data regenerated with the
    same content) is reported but accepted.
    """
    with open(os.path.join(HERE, "golden", "sf0.1_fingerprint.json")) as f:
        want = json.load(f)
    if not os.path.isdir(sf_dir):
        fail(f"test data directory {sf_dir} not found (set SPARK_GRAFT_SF_DIR)")
    have = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    if have != sorted(want):
        fail(f"{sf_dir} holds {have}, expected {sorted(want)}", 4)
    for name in have:
        path = os.path.join(sf_dir, name)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        w = want[name]
        if os.path.getsize(path) != w["bytes"] or digest != w["sha256"]:
            fail(f"{path} differs from the recorded fingerprint", 4)
        if int(os.path.getmtime(path) * 1000) != w["mtime_ms"]:
            log(f"note: {name} has a new mtime but the recorded content")


# -------------------------------------------------------------- metrics --

def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        cover = union_ms([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                         s["start_ms"], s["end_ms"])
        s["self_ms"] = max(0.0, s["end_ms"] - s["start_ms"] - cover)


def merge_passes(passes):
    """One record per query, in the first pass's order, from its records
    of every pass: its wall in each pass and their median over the timed
    passes (all but the first), the first outcome other than completed
    (else completed), every pass's count, and the rest from the last
    pass."""
    by_name = [{r["name"]: r for r in recs} for recs in passes]
    merged = []
    for name in (r["name"] for r in passes[0]):
        recs = [p[name] for p in by_name]
        q = dict(recs[-1])
        q["walls"] = [r["wall_s"] for r in recs]
        q["wall_s"] = statistics.median(q["walls"][1:])
        q["outcome"] = next((r["outcome"] for r in recs if r["outcome"] != "completed"),
                            "completed")
        q["counts"] = [r["count"] for r in recs]
        merged.append(q)
    return merged


def pass_walls(queries):
    """The wall of each pass: the sum of its query walls."""
    return [sum(ws) for ws in zip(*(q["walls"] for q in queries))]


def end_to_end(raw, failed):
    # every timed run of every query is one per-query wall
    walls = sorted(w for q in raw["queries"] for w in q["walls"][1:])
    n = len(walls)
    # the highest order statistic that leaves at least 10 walls above
    # it, and never one below the median
    rank = max(n - 11, (n - 1) // 2)
    log(f"query_tail_s is order statistic {rank + 1} of {n} timed query walls")
    return {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (statistics.median(pass_walls(raw["queries"])[1:]), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (walls[rank], "s"),
        "ok_frac": (1.0 - failed / len(raw["queries"]), "ratio"),
    }


def per_layer(raw):
    """The per-layer metrics, from the last pass, a timed one."""
    last = len(raw["queries"][0]["walls"]) - 1
    spans = [s for s in raw["spans"] if s["pass"] == last]
    cpus = int(raw["cpus"])
    by = {}
    for s in spans:
        by.setdefault(s["layer"], []).append(s)
    queries = {s["trace"]: s for s in by.get("query", [])}
    builds = {s["trace"]: s for s in by.get("registry", [])}
    execs = {}
    for e in by.get("catalyst", []):
        execs.setdefault(e["trace"], []).append(e)
    # planning belongs to the execution that starts as it ends
    for p in by.get("planning", []):
        nxt = [e for e in execs.get(p["trace"], []) if e["start_ms"] >= p["end_ms"] - 1]
        if nxt:
            p["parent"] = min(nxt, key=lambda e: e["start_ms"])["id"]
    # Spark's work belongs to the harness call it started in: the build
    # (a gate count, a driver collect, an eager memo build, a stream run)
    # or the count
    calls = {}
    for c in by.get("registry", []) + by.get("action", []):
        calls.setdefault(c["trace"], []).append(c)
    for s in spans:
        if s["layer"] in ("catalyst", "planning", "scheduler", "streaming") \
                and s["trace"] in queries and s["parent"] == queries[s["trace"]]["id"]:
            for c in calls.get(s["trace"], []):
                if c["start_ms"] <= s["start_ms"] <= c["end_ms"]:
                    s["parent"] = c["id"]
    self_times(spans)

    def total(layer, key):
        return sum(s["attrs"].get(key, 0.0) for s in by.get(layer, []))

    wall = sum(q["walls"][last] for q in raw["queries"])
    jobs = by.get("scheduler", [])
    job_s = sum(union_ms([(j["start_ms"], j["end_ms"]) for j in jobs if j["trace"] == tr],
                         q["start_ms"], q["end_ms"]) for tr, q in queries.items()) / 1e3
    task_s = total("stage", "task_ms") / 1e3
    build_jobs = sum(1 for j in jobs if j["trace"] in builds
                     and builds[j["trace"]]["start_ms"] <= j["start_ms"] <= builds[j["trace"]]["end_ms"])
    batches = by.get("streaming", [])
    last_state = {}
    for b in batches:
        stream = b["name"].rsplit("#", 1)[0]
        rows, mb = last_state.get(stream, (0.0, 0.0))
        last_state[stream] = (max(rows, b["attrs"]["state_rows"]), max(mb, b["attrs"]["state_mb"]))
    memo = raw["memo"]
    m = {
        "trace.wall_s": (statistics.median(pass_walls(raw["queries"])[1:]), "s"),
        "registry.build_s": (sum(s["end_ms"] - s["start_ms"] for s in builds.values()) / 1e3, "s"),
        "registry.self_s": (sum(s["self_ms"] for s in builds.values()) / 1e3, "s"),
        "registry.build_jobs": (build_jobs, "count"),
        "catalyst.plan_s": (total("planning", "plan_ms") / 1e3, "s"),
        "catalyst.executions": (len(by.get("catalyst", [])), "count"),
        "catalyst.self_s": (sum(e["self_ms"] for e in by.get("catalyst", [])) / 1e3, "s"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (len(by.get("stage", [])), "count"),
        "scheduler.tasks": (int(total("stage", "tasks")), "count"),
        "scheduler.job_s": (job_s, "s"),
        "scheduler.self_s": (sum(j["self_ms"] for j in jobs) / 1e3, "s"),
        "scheduler.driver_s": (wall - job_s, "s"),
        "scheduler.task_s": (task_s, "s"),
        "scheduler.util": (task_s / (cpus * wall), "ratio"),
        "scheduler.task_overhead_s": (total("stage", "task_overhead_ms") / 1e3, "s"),
        "scheduler.retries": (int(total("stage", "failed_tasks"))
                              + sum(1 for s in by.get("stage", []) if s["attrs"]["attempt"] > 0), "count"),
        "shuffle.write_mb": (total("stage", "shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (total("stage", "shuffle_read_mb"), "MB"),
        "shuffle.fetch_wait_s": (total("stage", "fetch_wait_ms") / 1e3, "s"),
        "shuffle.spill_mb": (total("stage", "spill_mb"), "MB"),
        "io.input_mb": (total("stage", "input_mb"), "MB"),
        "io.output_mb": (total("stage", "output_mb"), "MB"),
        "memo.builds": (sum(e["builds"] for e in memo), "count"),
        "memo.rebuilds": (sum(max(0, e["builds"] - 1) for e in memo), "count"),
        "memo.build_s": (sum(v for q in raw["queries"] for k, v in q["stages"].items()
                             if k.startswith("memo/")), "s"),
        "memo.peak_mb": (sum(e["peak_mb"] for e in memo), "MB"),
        "memo.evictions": (sum(q["evictions"] for q in raw["queries"]), "count"),
        "streaming.batches": (len(batches), "count"),
        "streaming.batch_s": (sum(b["end_ms"] - b["start_ms"] for b in batches) / 1e3, "s"),
        "streaming.state_commit_s": (total("streaming", "state_commit_ms") / 1e3, "s"),
        "streaming.state_rows": (int(sum(r for r, _ in last_state.values())), "count"),
        "streaming.state_mb": (sum(mb for _, mb in last_state.values()), "MB"),
        "jvm.gc_s": (raw["jvm"]["gc_s"], "s"),
        "jvm.jit_s": (raw["jvm"]["jit_s"], "s"),
        "jvm.peak_heap_mb": (raw["jvm"]["peak_heap_mb"], "MB"),
        "jvm.heap_live_mb": (raw["jvm"]["heap_live_mb"], "MB"),
    }
    module_of = {f"{raw['workload']}/{raw['seed']}/{q['name']}": q["module"]
                 for q in raw["queries"]}
    # the modules of the gated workloads on every run, so that each traced
    # run reports the same set, and the run's own
    mods = [m for w in GATED + (raw["workload"],) for m in raw["workload_modules"][w]]
    for mod in dict.fromkeys(mods):
        m[f"mod.{mod}.wall_s"] = (sum(q["wall_s"] for q in raw["queries"] if q["module"] == mod), "s")
        m[f"mod.{mod}.jobs"] = (sum(1 for j in jobs if module_of.get(j["trace"]) == mod), "count")
    return m


# ------------------------------------------------------------------ run --

def cpu_times():
    """The machine's cumulative CPU times from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a host shared with other machines shows here,
    not in the load average."""
    if a is None or b is None or len(a) < 8:
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="expected length of the timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    cp = classpath()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    check_data(sf_dir)
    with open(os.path.join(HERE, "golden", "counts_sf0.1.json")) as f:
        golden = json.load(f)

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(STATE, exist_ok=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    raw_path = os.path.join(run_dir, "raw.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_LOCAL_DIRS"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--trace", str(args.trace), "--data", sf_dir, "--cpus", str(cpus),
              "--run-dir", run_dir, "--out", raw_path])
    timeout = JVM_TIMEOUT_S if args.workload in GATED else JVM_TIMEOUT_UNGATED_S
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {timeout} s", 5)
        if code != 0:
            fail(f"harness exited with code {code}", 5)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()[0]
    steal = steal_frac(cpu_start, cpu_times())

    raw["queries"] = merge_passes(raw.pop("passes"))
    # output check: every pass of every query must complete with its
    # recorded row count
    pkg = "recsys" if args.workload == "recsys_cold" else args.workload
    failed = 0
    for q in raw["queries"]:
        want = golden.get(q["name"])
        if q["outcome"] != "completed":
            failed += 1
        elif want is None:
            failed += 1
            log(f"{q['name']}: no recorded count in golden/counts_sf0.1.json")
        elif any(c != want for c in q["counts"]):
            failed += 1
            log(f"{q['name']}: counts {q['counts']} != recorded {want}")

    metrics = per_layer(raw) if args.trace else end_to_end(raw, failed)
    record = os.path.join(STATE, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(dict({k: raw[k] for k in ("workload", "seed", "cpus", "setup_s", "jvm", "memo",
                                             "workload_modules", "queries", "spans")},
                       load_avg_start=load_start, load_avg_end=load_end,
                       cpu_steal_frac=steal), f)
    log(f"per-query records{' and spans' if args.trace else ''} written to "
        f"{os.path.relpath(record, ROOT)}")
    walls = pass_walls(raw["queries"])
    if sum(walls) > 2 * args.seconds:
        log(f"the passes took {sum(walls):.1f} s, over twice --seconds {args.seconds}")
    log(f"set-up {raw['setup_s']:.2f} s; pass walls " + ", ".join(f"{w:.1f} s" for w in walls))
    log(f"workload {args.workload} ({pkg} queries), seed {args.seed}, "
        f"{cpus} cpus, -Xmx{HEAP}, load average {load_start:.2f} -> {load_end:.2f}, "
        f"cpu steal {'n/a' if steal is None else f'{100 * steal:.1f}%'}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(raw["queries"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

"""Job benchmark for graft.Main: parquet input to landed gzip CSV.

Run from the root of a checkout:

    python3 perfbench/run.py --workload reference_extract --seed 1 \
        --seconds 30 --trace 0

It builds the program and the harness from source when they are missing
or stale, writes seeded inputs, runs the workload's jobs through
`graft.Main.run` in one JVM (`local[N]`, N = usable cores) and checks every
landed extract. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs one plain rep and one traced rep and
reports the per-layer metrics, and writes the per-step record to
`.perfbench_out/`. See perfbench/NOTES.md.
"""
import argparse
import datetime as dt
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("reference_extract", "curate_corpus", "maintain_indexes")
# seeds map onto this many input variants, each with a recorded manifest
VARIANTS = 8
SF = 0.01
MB = float(1 << 20)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


def build_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles program and harness with sbt when the sources changed;
    returns the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/Main.scala")):
        fail("no graft sources here; run from the root of a checkout", 2)
    stamp_file = os.path.join(HERE, "target", "classpath.json")
    stamp = build_stamp(root)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("perfbench: building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def variant_of(seed):
    """Seed → (input variant, GRAFT_DATE). The date sets the md5-dated
    extract keys and the index maintenance batch key."""
    v = seed % VARIANTS
    return v, (dt.date(2026, 1, 5) + dt.timedelta(days=37 * v)).isoformat()


def run_harness(classpath, args, work, out_file, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.JobBench", "--out", out_file] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir is set per rep
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            log(fh.read()[-6000:])
        fail(f"harness exited with {code}")
    with open(out_file) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def load_manifest(workload):
    path = os.path.join(HERE, "manifests", f"{workload}.json")
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def check_rep(rec, expected):
    """Output check of one rep → (attempted, failed, problems).
    A delivery fails when fanOut reported false, when its target's bytes
    differ from another target's, or when the decompressed CSV does not
    match the recorded manifest."""
    problems = []
    deliveries = rec["deliveries"]
    not_ok = sum(1 for d in deliveries if not d["ok"])
    if not_ok:
        problems.append(f"{not_ok} deliveries reported failed by fanOut")
    landed = rec["landed"]
    keys = sorted(set(k for t in landed.values() for k in t))
    bad = 0
    for t, got in sorted(landed.items()):
        for k in keys:
            g = got.get(k)
            others = [o.get(k) for o in landed.values()]
            if g is None or any(o != g for o in others):
                bad += 1
                problems.append(f"{t}:{k} differs between targets")
            elif expected is not None and (
                    k not in expected or expected[k] != [g["sha256"], g["rows"]]):
                bad += 1
                problems.append(f"{t}:{k} does not match the manifest")
        if expected is not None:
            for k in sorted(set(expected) - set(got)):
                bad += 1
                problems.append(f"{t}:{k} missing")
    return len(deliveries), max(not_ok, bad), problems


def one_target(rec):
    return rec["landed"][sorted(rec["landed"])[0]]


LAYER = [
    # (metric, unit, function of the summed step record)
    ("sources.jobs", "count", lambda s: s["source_jobs"]),
    ("sources.load_s", "s", lambda s: s["source_load_s"]),
    ("queries.build_s", "s", lambda s: s["build_s"]),
    ("queries.eager_jobs", "count", lambda s: s["eager_jobs"]),
    ("catalyst.plan_s", "s", lambda s: s["plan_s"]),
    ("catalyst.exchanges", "count", lambda s: s["exchanges"]),
    ("scheduler.jobs", "count", lambda s: s["jobs"]),
    ("scheduler.stages", "count", lambda s: s["stages"]),
    ("scheduler.tasks", "count", lambda s: s["tasks"]),
    ("scheduler.tasks_per_stage", "count",
     lambda s: s["tasks"] / s["stages"] if s["stages"] else 0.0),
    ("functions.task_cpu_s", "s", lambda s: s["task_cpu_s"]),
    ("functions.task_run_s", "s", lambda s: s["task_run_s"]),
    ("functions.gc_s", "s", lambda s: s["gc_s"]),
    ("functions.busy_share", "share",
     lambda s: s["task_run_s"] / (s["wall_s"] * s["cores"])
     if s["wall_s"] else 0.0),
    ("shuffle.write_mb", "MB", lambda s: s["shuffle_write_b"] / MB),
    ("shuffle.read_mb", "MB", lambda s: s["shuffle_read_b"] / MB),
    ("shuffle.spill_mb", "MB", lambda s: s["spill_b"] / MB),
    ("sinks.fanout_s", "s", lambda s: s["fanout_s"]),
    ("sinks.driver_s", "s", lambda s: s["driver_s"]),
    ("sinks.rows", "count", lambda s: s["rows"]),
    ("sinks.landed_mb", "MB", lambda s: s["landed_b"] / MB),
    ("sinks.deliveries", "count", lambda s: s["deliveries"]),
    ("sinks.failed", "count", lambda s: s["failed"]),
    ("jobs.terms_s", "s", lambda s: s["terms_s"]),
    ("jobs.maintain_s", "s", lambda s: s["maintain_s"]),
    ("operators.cache_blocks_left", "count", lambda s: s["cache_blocks_left"]),
]
# step-record fields that are exact counts, for the repeat check
EXACT = ["jobs", "stages", "tasks", "shuffle_write_b", "shuffle_read_b",
         "rows", "landed_b", "exchanges", "eager_jobs", "source_jobs",
         "deliveries", "failed"]
SUMMED = ["source_jobs", "source_load_s", "build_s", "eager_jobs", "plan_s",
          "exchanges", "jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
          "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b", "fanout_s",
          "driver_s", "rows", "landed_b", "deliveries", "failed", "terms_s",
          "maintain_s"]


def layer_metrics(steps, wall_s, cache_blocks_left, cores):
    s = {k: sum(float(x.get(k) or 0.0) for x in steps) for k in SUMMED}
    s["wall_s"] = wall_s
    s["cache_blocks_left"] = float(cache_blocks_left)
    s["cores"] = cores
    return {name: (fn(s), unit) for name, unit, fn in LAYER}


def step_records(rec, cores):
    """Per-step layer metrics of a traced rep, with span ids."""
    out = []
    for sp in rec["spans"]:
        if sp["step"] == "job":
            continue
        m = layer_metrics([sp], sp["wall_s"], sp["cache_blocks_left"], cores)
        out.append({"id": sp["id"], "parent": sp["parent"], "job": sp["job"],
                    "step": sp["step"], "key": sp["key"],
                    "sha256": sp["sha256"], "sorted_sha256": sp["sorted_sha256"],
                    "wall_s": sp["wall_s"],
                    "exact": {k: sp.get(k, 0.0) for k in EXACT},
                    "metrics": {k: v for k, (v, _) in m.items()}})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--traced-reps", type=int, default=1)
    ap.add_argument("--conf", action="append", default=[],
                    help="extra Spark setting key=value (planted regressions)")
    ap.add_argument("--record", help="also write the full run record here")
    ap.add_argument("--max-seconds", type=float, default=175.0,
                    help="kill the harness after this long (default 175)")
    ap.add_argument("--record-manifest", action="store_true",
                    help="store this run's landed outputs as the expected "
                         "manifest of its input variant")
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    classpath = build(root)
    # the build may take long on a fresh checkout; the run itself is
    # stopped --max-seconds after the build
    deadline = time.time() + a.max_seconds

    variant, date = variant_of(a.seed)
    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        sizes = gen.write(data, variant, SF)
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--date", date, "--cores", str(a.cores),
                "--seconds", str(a.seconds),
                "--mode", "trace" if a.trace else "plain",
                "--traced-reps", str(a.traced_reps)]
        for c in a.conf:
            args += ["--conf", c]
        recs = run_harness(classpath, args, work,
                           os.path.join(work, "records.jsonl"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    manifest = load_manifest(a.workload)
    entry = manifest.get("variants", {}).get(str(variant))
    if manifest.get("sf") != SF:
        entry = None
    expected = entry["keys"] if entry and entry.get("date") == date else None
    setups = [r["setup_s"] for r in recs if r["kind"] == "setup"]
    reps = [r for r in recs if r["kind"] == "rep"]
    traced = [r for r in recs if r["kind"] == "traced"]
    attempted = failed = 0
    problems = []
    for r in reps + traced:
        n, f, p = check_rep(r, expected)
        attempted += n
        failed += f
        problems += p
    if expected is None and not a.record_manifest:
        problems.append(f"no recorded manifest for variant {variant}")
    # every rep of the same inputs must land the same extracts
    if any(one_target(r) != one_target(reps[0]) for r in reps + traced):
        problems.append("reps landed different outputs")
    correct = failed == 0 and not problems

    if a.record_manifest and failed == 0 and not any(
            "differ" in p for p in problems):
        manifest.setdefault("variants", {})[str(variant)] = {
            "date": date,
            "keys": {k: [v["sha256"], v["rows"]]
                     for k, v in sorted(one_target(reps[0]).items())}}
        manifest["sf"] = SF
        os.makedirs(os.path.join(HERE, "manifests"), exist_ok=True)
        with open(os.path.join(HERE, "manifests", f"{a.workload}.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
            fh.write("\n")
        correct = True
        problems = []

    for p in problems[:20]:
        log(f"perfbench: check: {p}")
    walls = [r["job_wall_s"] for r in reps]
    med = statistics.median
    summary = {
        "workload": a.workload, "seed": a.seed, "variant": variant,
        "date": date, "cores": a.cores, "reps": len(reps),
        "failed_share": failed / attempted if attempted else 1.0,
        "inputs": {t: {"rows": n, "bytes": b} for t, (n, b) in sizes.items()},
        "job_wall_s": walls, "setup_s": setups,
        "cpu_s": [r["cpu_s"] for r in reps],
        "heap_peak_mb": [r["heap_peak_b"] / MB for r in reps],
        "heap_retained_mb": [r["heap_retained_b"] / MB for r in reps],
        "collections": [r["collections"] for r in reps],
        "elapsed_s": time.time() - started}
    if not a.trace:
        rows = [sum(v["rows"] for v in one_target(r).values()) for r in reps]
        landed_b = [sum(v["bytes"] for v in one_target(r).values()) for r in reps]
        metrics = {
            "job_wall_s": (med(walls), "s"),
            "rows_out_per_s": (med(n / w for n, w in zip(rows, walls)), "1/s"),
            "cpu_s": (med(r["cpu_s"] for r in reps), "s"),
            "landed_mb": (med(landed_b) / MB, "MB"),
            "setup_s": (med(setups), "s"),
        }
    else:
        plain = reps[-1]
        steps_by_rep = [step_records(t, a.cores) for t in traced]
        t0 = traced[0]
        metrics = layer_metrics(
            [sp for sp in t0["spans"] if sp["step"] != "job"],
            t0["job_wall_s"], t0["cache_blocks_left"], a.cores)
        metrics["operators.heap_peak_mb"] = (t0["heap_peak_b"] / MB, "MB")
        metrics["operators.heap_retained_mb"] = (t0["heap_retained_b"] / MB, "MB")
        metrics["trace.overhead_s"] = (t0["job_wall_s"] - plain["job_wall_s"], "s")
        if any(one_target(t) != one_target(plain) for t in traced):
            correct = False
            log("perfbench: check: the traced replay landed other bytes than Main.run")
        inexact = []
        for other in steps_by_rep[1:]:
            for x, y in zip(steps_by_rep[0], other):
                for k in EXACT:
                    if x["exact"][k] != y["exact"][k]:
                        inexact.append(f"{x['job']}/{x['step']}:{k} "
                                       f"{x['exact'][k]} vs {y['exact'][k]}")
        summary["steps"] = steps_by_rep[0]
        summary["repeat_check"] = {
            "traced_runs": len(traced), "exact": not inexact,
            "inexact": inexact}
        for x in steps_by_rep[0]:
            print(json.dumps({"step": f"{x['job']}/{x['step']}", "id": x["id"],
                              "parent": x["parent"], "metrics": x["metrics"]}))
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump(summary, fh, indent=1)
        log(f"perfbench: traced record in {os.path.relpath(path, root)}")
    summary["metrics"] = {k: v for k, (v, _) in metrics.items()}
    if a.record:
        with open(a.record, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    print(json.dumps({k: v for k, v in summary.items() if k not in ("steps",)}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

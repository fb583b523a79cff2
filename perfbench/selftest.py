"""Self-test of the job benchmark; writes the committed records.

Run from the root of a checkout (takes about 20 minutes on 4 cores):

    python3 perfbench/selftest.py [--seed 1] [--only repeat,local1,planted]

- repeat:  for every workload, one traced run with two traced reps. Every
           exact counter of every step should repeat; one that does not is
           listed as inexact (records/<w>.trace.json).
- local1:  one traced run per workload at local[1], the baseline beside the
           local[N] record (records/<w>.local1.json). Reported, not gated.
- planted: reference_extract with a regression planted from outside the
           program (AQE partition coalescing off, 200 shuffle partitions).
           Passes when scheduler.tasks and job_wall_s both rise and the
           output check still passes (records/planted.json).

Exits non-zero when an output check fails or the planted regression is
not detected.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(HERE, "records")
WORKLOADS = ("reference_extract", "curate_corpus", "maintain_indexes")
PLANT = ["spark.sql.adaptive.coalescePartitions.enabled=false",
         "spark.sql.shuffle.partitions=200"]


def bench(workload, seed, out, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1",
           "--record", out, "--max-seconds", "900"] + list(extra)
    print("+", " ".join(cmd[1:]), flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"selftest: run failed: {' '.join(cmd)}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(out) as fh:
        return last, json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--only", default="repeat,local1,planted")
    a = ap.parse_args()
    parts = a.only.split(",")
    os.makedirs(RECORDS, exist_ok=True)
    failures = []
    traced = {}
    for w in WORKLOADS:
        if "repeat" in parts or ("planted" in parts and w == "reference_extract"):
            last, rec = bench(w, a.seed, os.path.join(RECORDS, f"{w}.trace.json"),
                              "--traced-reps", "2")
            traced[w] = rec
            rc = rec["repeat_check"]
            print(f"{w}: correct={last['correct']} exact={rc['exact']} "
                  f"overhead_s={rec['metrics']['trace.overhead_s']:.2f}")
            if not last["correct"]:
                failures.append(f"{w}: output check failed")
            # a counter that does not repeat is reported, not dropped
            for line in rc["inexact"]:
                print(f"  inexact: {line}")
        if "local1" in parts:
            last, rec = bench(w, a.seed, os.path.join(RECORDS, f"{w}.local1.json"),
                              "--cores", "1")
            print(f"{w} local[1]: correct={last['correct']} "
                  f"job_wall_s={rec['job_wall_s']}")
            if not last["correct"]:
                failures.append(f"{w} local[1]: output check failed")
    if "planted" in parts:
        w = "reference_extract"
        plant = []
        for c in PLANT:
            plant += ["--conf", c]
        last, rec = bench(w, a.seed, os.path.join(RECORDS, "planted.json"), *plant)
        base = traced[w]
        moved = {}
        for m in ("scheduler.tasks", "scheduler.stages", "shuffle.read_mb"):
            moved[m] = [base["metrics"][m], rec["metrics"][m]]
        moved["job_wall_s"] = [base["job_wall_s"][0], rec["job_wall_s"][0]]
        detected = (moved["scheduler.tasks"][1] > moved["scheduler.tasks"][0]
                    and moved["job_wall_s"][1] > moved["job_wall_s"][0])
        # an extract whose bytes changed but whose sorted lines did not
        # was only reordered: its ORDER BY leaves ties to the engine
        base_steps = {x["step"]: x for x in base["steps"]}
        reordered = sorted(x["step"] for x in rec["steps"] if x["key"]
                           and x["sha256"] != base_steps[x["step"]]["sha256"]
                           and x["sorted_sha256"] == base_steps[x["step"]]["sorted_sha256"])
        changed = sorted(x["step"] for x in rec["steps"] if x["key"]
                         and x["sorted_sha256"] != base_steps[x["step"]]["sorted_sha256"])
        print(f"planted: moved={json.dumps(moved)} -> "
              f"{'detected' if detected else 'NOT detected'}; output check "
              f"{'passed' if last['correct'] else 'FAILED'}; reordered only: "
              f"{reordered}; other rows: {changed}")
        with open(os.path.join(RECORDS, "planted.json")) as fh:
            planted = json.load(fh)
        planted["planted"] = {"conf": PLANT, "baseline_vs_planted": moved,
                              "detected": detected,
                              "output_check_passed": last["correct"],
                              "reordered_only": reordered,
                              "other_rows": changed}
        with open(os.path.join(RECORDS, "planted.json"), "w") as fh:
            json.dump(planted, fh, indent=1)
            fh.write("\n")
        if not detected:
            failures.append("planted regression not detected")
        if not last["correct"]:
            failures.append("output check failed under the planted regression")
    for f in failures:
        print(f"selftest: FAIL {f}")
    if failures:
        sys.exit(1)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()

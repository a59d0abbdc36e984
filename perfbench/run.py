#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve|replay|stream_replay|batch_queries \
      --seed N --seconds S --trace 0|1

Builds the library from source when needed (perfbench/build.py), runs the
workload in one JVM, and checks its outputs on the way (see
perfbench/README.md). The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, where the metrics are the
end-to-end ones of BENCHMARK.json untraced and the per-layer ones traced.
Every run leaves a stamped record under .bench_build/perfbench/runs/; no
record overwrites another. Exits non-zero when a check fails; a run that
was measured under conditions it cannot vouch for (see `valid` below) still
exits 0, and its record says why its figures are suspect.
"""
import argparse
import gzip
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "replay", "stream_replay", "batch_queries")
TIME_LIMIT_S = 170
# A run during which the hypervisor gave more than this share of the CPU to
# other tenants is marked invalid in its record: its times describe the
# neighbours, not graft. On a shared 4-core VM, calm runs measured a share
# of 0.0003-0.003; every recorded run above 0.03 (0.04-0.21) was 17-80 %
# slower than the calm median on some end-to-end metric. The mark does not
# change the exit code or `correct`, which speak of graft's outputs only.
STEAL_BOUND = 0.03


def git(root, *args):
    try:
        r = subprocess.run(["git", "-C", root] + list(args), capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user .. steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other tenants between two
    cpu_times() samples: the ambient contention a shared machine adds."""
    if not before or not after:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) > 0 else None


def stamp(root, args, b):
    sha = git(root, "rev-parse", "HEAD")
    status = git(root, "status", "--porcelain") if sha else None
    return {
        "git_sha": sha,
        "git_dirty": None if status is None else bool(status),
        "source_key": b["key"],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "nproc": len(os.sched_getaffinity(0)),
        "heap_limit": build.HEAP,
        "ambient_load": list(os.getloadavg()),
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    data = os.path.join(root, "perfbench", "data", "sf0.01")
    for need in ("BENCHMARK.json", "src/main/scala", "scripts/check.py", data):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} missing; run from the root of a graft checkout")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    b = build.ensure(root, data)
    t0 = time.time()
    runs = os.path.join(root, ".bench_build", "perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                              f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))  # fails rather than reuse another run's directory
    record = {"stamp": stamp(root, args, b)}
    cpu0 = cpu_times()

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), PYTHONDONTWRITEBYTECODE="1")
    result_path = os.path.join(work, "result.json")
    cmd = (["java"] + build.java_opts() + [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(b["jar"]),
           "perfbench.Main", args.workload, str(args.seed), str(args.seconds), str(args.trace), data, work,
           b["dir"], result_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
            print(f"perfbench: JVM exceeded {TIME_LIMIT_S} s", file=sys.stderr)
    if rc != 0 or not os.path.isfile(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: workload JVM failed (exit {rc}); log in {log_path}")

    res = json.load(open(result_path))
    got = res["per_layer"] if args.trace else res["end_to_end"]
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not reach reports 0 (e.g. the OffsetLog on replay)
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    steal = steal_share(cpu0, cpu_times())
    invalid = list(res["invalid"])
    if steal is not None and steal > STEAL_BOUND:
        invalid.append(f"CPU steal share {steal:.3f} above {STEAL_BOUND}")
    for why in invalid:
        print(f"perfbench: run invalid: {why}", file=sys.stderr)
    correct = bool(res["verified"]) and res["failed"] == 0
    line = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}

    record["stamp"].update(cpu_steal_share=steal, cpu_steal_bound=STEAL_BOUND)
    record.update(valid=not invalid, invalid=invalid, result=res, printed=line, wall_s=time.time() - t0)
    with open(os.path.join(work, "record.json"), "x") as f:
        json.dump(record, f, indent=1)
    # keep the record, log and spans; drop the bulky scratch
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif name in ("jvm.log", "spans.csv"):
            with open(p, "rb") as src, gzip.open(p + ".gz", "wb") as dst:
                shutil.copyfileobj(src, dst)
            os.remove(p)

    named = " ".join(f"{k}={v:.6g}" for k, v in res["workload_metrics"].items())
    print(f"perfbench {args.workload} seed={args.seed}: {named}")
    print(f"perfbench record: {os.path.relpath(work, root)}/record.json")
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline); later runs reuse the build. A run generates
its inputs from the seed, starts one JVM that sets up, warms up and then
measures the workload for `--seconds`, checks every output, and prints one
JSON line last: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. `--workload all` runs all four workloads in turn. The full
record of a run is written under perfbench/.work/<workload>/.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

HEAP = "-Xmx2g"
GEN_REPEATS = 3
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def sources_newer_than(stamp, roots):
    t = os.path.getmtime(stamp)
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")) and \
                        os.path.getmtime(os.path.join(d, f)) > t:
                    return True
    return False


def build(root):
    """Compile the library and the benchmark; return the JVM command."""
    src = os.path.join(root, "src", "main", "scala")
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(src)):
        fail(f"{root} holds no library sources (build.sbt, src/main/scala);"
             " run from the repository root")
    roots = [src, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    if not os.path.exists(LAUNCH) or sources_newer_than(LAUNCH, roots):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        log = os.path.join(WORK, "build.log")
        os.makedirs(WORK, exist_ok=True)
        with open(log, "w") as out:
            rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "launchSpec"], BUILD_LIMIT_S, cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(LAUNCH):
            fail(f"build failed (exit {rc}); see {log}")
    with open(LAUNCH) as f:
        lines = [x for x in f.read().splitlines() if x]
    # temporary files stay inside the checkout (no /tmp/hsperfdata either)
    tmp = os.path.join(WORK, "tmp")
    return ["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + \
        lines[1:] + ["-cp", lines[0], "perfbench.Main"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def source_digest(root):
    """Content hash of the library and benchmark sources (the checkout
    the benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", ".work", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".py", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, data):
    """Generate the inputs GEN_REPEATS times; the median time counts
    toward set-up."""
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t = time.monotonic()
        rows = gen.GENERATORS[workload](seed, data)
        times.append(time.monotonic() - t)
    return statistics.median(times), rows


def run_one(root, cmd, workload, seed, seconds, trace, deadline):
    work = os.path.join(WORK, workload)
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    gen_s, rows = generate(workload, seed, data)
    record_path = os.path.join(work, "record.json")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_group(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds),
                              "--trace", "1" if trace else "0",
                              "--data", data, "--out", record_path],
                       max(1.0, deadline - time.monotonic()), env=env,
                       stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(record_path):
        fail(f"{workload}: JVM exited with {rc}; see {work}/jvm.log", 1)
    with open(record_path) as f:
        record = json.load(f)

    results = checks.run(workload, data, record)
    # a wrong output counts as one failed operation per failed check
    attempted = max(len(record["ops"]), 1)
    failed = min(attempted, sum(1 for o in record["ops"] if not o["ok"]) +
                 sum(1 for c in results if not c["ok"]))
    correct = failed == 0 and not record.get("failure")

    e2e, specific = metrics.end_to_end(record, gen_s)
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "correct": correct,
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "end_to_end": e2e, "workload_metrics": specific,
        "checks": results, "failure": record.get("failure"),
        "input_rows": rows,
        "setup_parts": dict(record["setup"], gen_s=gen_s),
        "measured_s": record["measured_s"], "finish_s": record["finish_s"],
        "env": dict(record["env"], git_sha=git_sha(root),
                    source_digest=source_digest(root), heap=HEAP,
                    nproc=nproc(), loadavg_before=load_before,
                    loadavg_after=loadavg(),
                    cache_note="the library keeps no cache of its own on "
                               "these paths; every input fits in memory"),
    }
    if trace:
        layer_metrics, detail = metrics.per_layer(record)
        artifact["per_layer"] = layer_metrics
        artifact["layers"] = {k: v for k, v in detail.items()
                              if k not in ("ops", "spans")}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(dict(detail, per_layer=layer_metrics,
                           workload=workload, seed=seed), f)
        reported = layer_metrics
    else:
        reported = e2e
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    return artifact, {k: {"value": v, "unit": unit_of(k)}
                      for k, v in reported.items()}


def unit_of(name):
    if name.endswith("_ms") or name == "op_tail":
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_amp", "_rate", "_ratio")) or name == "trace_overhead":
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.GENERATORS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cmd = build(root)

    names = sorted(gen.GENERATORS) if args.workload == "all" \
        else (args.workload,)
    all_correct = True
    for w in names:
        deadline = time.monotonic() + RUN_LIMIT_S
        artifact, reported = run_one(root, cmd, w, args.seed, args.seconds,
                                     bool(args.trace), deadline)
        for c in artifact["checks"]:
            print(f"check {w} {c['name']}: {'ok' if c['ok'] else 'FAILED'} "
                  f"({c['detail']})")
        shown = dict(artifact["end_to_end"], **artifact["workload_metrics"],
                     error_rate=artifact["error_rate"])
        for k, v in sorted(shown.items()):
            print(f"metric {w} {k} = {v} {unit_of(k)}")
        all_correct = all_correct and artifact["correct"]
        print(json.dumps({"correct": artifact["correct"],
                          "attempted": artifact["attempted"],
                          "failed": artifact["failed"], "metrics": reported}))
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()

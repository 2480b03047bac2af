#!/usr/bin/env python3
"""The repository's benchmark command (see README.md beside this file).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use, generates
the workload's input tables on first use, runs the harness JVM once,
and prints the run record and, as the last line of stdout, the result
object. Everything it writes stays under perfbench/work/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = {"contract_sf0.1": "sf0.1", "engine_sf0.1": "sf0.1"}
DATA_SEED = 42
HEAP = "4g"
RUN_LIMIT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def jvm_args():
    """The harness JVM arguments, written by `sbt writeLaunch` on first use."""
    launch = os.path.join(WORK, "launch.txt")
    if not os.path.exists(launch):
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        build = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                               stdout=sys.stderr, stderr=sys.stderr)
        if build.returncode != 0 or not os.path.exists(launch):
            fail("build failed")
        print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(launch) as f:
        return [line for line in f.read().split("\n") if line]


def run_java(args, main, main_args, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    # a fixed set of JIT compiler threads, so that none ends mid-pass and
    # takes its CPU time out of what the harness subtracts
    cmd = ["java", *args, "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", main, *main_args]
    proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} did not finish within {timeout:.0f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"{main} exited with {proc.returncode}")
    return out


def dataset(name):
    """Directory of a dataset's tables, generated from DATA_SEED on first use."""
    path = os.path.join(WORK, "data", name)
    if not os.path.isdir(path):
        part = path + ".part"
        shutil.rmtree(part, ignore_errors=True)
        gen_data.generate(part, float(name.removeprefix("sf")), DATA_SEED)
        os.rename(part, path)
    return path


def size_on_disk(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opt = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        fail(f"no program source beside {HERE}")

    nproc = len(os.sched_getaffinity(0))
    args = jvm_args()
    start = time.time()
    data = dataset(WORKLOADS[opt.workload])
    tag = f"{opt.workload}-s{opt.seed}-t{opt.trace}"
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = run_java(args, "graft.perfbench.Harness", [
        "--workload", opt.workload, "--seed", str(opt.seed), "--seconds", str(opt.seconds),
        "--trace", str(opt.trace), "--data", data, "--nproc", str(nproc),
        "--expected", os.path.join(HERE, "expected", f"{opt.workload}.tsv"),
        "--observed", os.path.join(results, f"{opt.workload}.observed.tsv"),
        "--spans", os.path.join(results, f"{tag}.spans.jsonl"),
    ], os.path.join(WORK, "tmp", f"run-{os.getpid()}"), start + RUN_LIMIT_S - time.time())

    lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in out.splitlines()
             if l.startswith(("RECORD ", "RESULT "))}
    if "RESULT" not in lines or "RECORD" not in lines:
        fail("the harness printed no result")
    record = json.loads(lines["RECORD"])
    record.update({"git_sha": git_sha(), "data_dir": os.path.relpath(data, ROOT),
                   "data_bytes": size_on_disk(data), "data_seed": DATA_SEED,
                   "jvm_heap": next((a for a in args if a.startswith("-Xmx")), None),
                   "run_s": time.time() - start})
    result = json.loads(lines["RESULT"])
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

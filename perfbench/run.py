#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library and the
benchmark into `.bench_build/`; later runs reuse the classes while the
sources are unchanged. Inputs are generated from `--seed` into a private
run directory that is removed afterwards. The last line is a JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`).
The exit code is non-zero if the run failed or any output check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

ANALYTICS = ("corpus_vector",)
JVM_TIMEOUT_S = 165


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"unknown workload {args.workload!r}")
    config_path = os.path.join(HERE, "config.json")
    with open(config_path) as f:
        config = json.load(f)

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classpath = build.build(root, build_dir)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(args, config, config_path, classpath, work)
        problems = list(result["problems"])
        if result["oracle"]:
            mismatched = oracle.check(os.path.join(work, "tables"),
                                      os.path.join(work, "out"), result["oracle"])
            problems += mismatched
            result["failed"] += len(mismatched)
        if args.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    section, measured = (("per_layer", result["layers"]) if args.trace
                         else ("end_to_end", result["e2e"]))
    metrics = {}
    for m in bench[section]:
        if m["name"] in measured:
            value = measured[m["name"]]
        elif args.trace:
            value = 0.0  # a layer this workload does not exercise
        else:
            sys.exit(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    extra = {k: v for k, v in measured.items() if k not in metrics}
    if extra:
        print(f"[perfbench] also measured: {json.dumps(extra, sort_keys=True)}",
              file=sys.stderr)
    failed = int(result["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(result["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_jvm(args, config, config_path, classpath, work):
    # A fixed heap and a fixed young generation, so the collector never
    # resizes either, and no pre-touch: peak RSS counts the native memory,
    # the young generation and the old-generation pages the program used.
    heap, young = config["jvm_heap"], config["jvm_young"]
    cmd = ["java", *build.JVM_OPENS, f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--config", config_path]
    if args.workload in ANALYTICS:
        tables = os.path.join(work, "tables")
        t0 = time.perf_counter()
        datagen.generate(tables, args.seed, config["analytics"]["tables"])
        cmd += ["--tables", tables, "--gen-seconds", repr(time.perf_counter() - t0)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"benchmark JVM failed ({code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())

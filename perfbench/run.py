#!/usr/bin/env python3
"""One workload of the engine's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Compiles the engine once (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM on the compiled classes and the Spark jars, checks every output against
results computed apart from the engine, and prints one JSON object as the
last line of standard output: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).

Everything a run writes lives under `.perfbench/` in the checkout; a run's
own directory is deleted when it ends.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

CORES = 4
HEAP = "2g"
# A fixed young generation: with G1's adaptive sizing eden grows to most of
# the heap, a run makes only a handful of collections, and the heap in use
# after a collection (heap_peak_mb) is the largest of a few random samples.
YOUNG = "256m"
JVM_TIMEOUT_S = 150  # a run, checks included, must end within 180 s


def jvm_command(root, work, plan_path):
    opens = [a for p in build.JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
             f"-XX:ActiveProcessorCount={CORES}", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", build.classpath(root), "perfbench.Harness", plan_path])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    ap.add_argument("--refresh-oracles", action="store_true",
                    help="recompute cached DuckDB oracle results")
    args = ap.parse_args(argv)

    root = os.getcwd()
    build.build(root)
    work = os.path.join(root, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = None
    try:
        spec = workloads.ALL[args.workload]
        plan, expect = spec.prepare(work, args.seed, args.seconds, random.Random(args.seed))
        plan.update(workload=args.workload, work=work, cores=CORES, trace=bool(args.trace))
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        log = open(os.path.join(work, "jvm.log"), "w")
        steal0 = metrics.read_steal()
        launch = time.time()
        proc = subprocess.Popen(jvm_command(root, work, plan_path), cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        proc.wait(timeout=JVM_TIMEOUT_S)
        log.close()
        steal = metrics.steal_pct(steal0, metrics.read_steal())
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
        with open(result_path) as f:
            result = json.load(f)
        verdict = checks.check(args.workload, plan, expect, result, work, root, CORES,
                               refresh=args.refresh_oracles)
        for line in verdict.problems[:40]:
            print("CHECK " + line, file=sys.stderr)
        values = metrics.compute(args.workload, result, launch, CORES, bool(args.trace), steal)
        print(json.dumps({"host.steal_pct": steal, "host.calib_start_s": result["calib_start_s"],
                          "host.calib_end_s": result["calib_end_s"]}), file=sys.stderr)
        print(json.dumps({
            "correct": verdict.correct,
            "attempted": verdict.attempted,
            "failed": verdict.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload <pr_stream|corpus_stream|all>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark
(``perfbench/build.py``), then runs the workload in one JVM on
``local[<cores>]`` and prints its result as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. ``--workload all`` runs every workload in turn and ends with one
combined line whose metric names are prefixed by the workload.

Scratch space (stores, spark local dirs, JVM temp files) lives under
``.bench_build/perfbench/work-<pid>`` and is removed at exit; per-run
detail files go to ``.bench_build/perfbench/out``.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["pr_stream", "corpus_stream"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(root, classes, workload, a):
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap sized to the workloads (several times the largest heap
    # in use after a collection, `jvm.peak_heap_mb`): a growable heap
    # makes peak RSS follow when the collector chose to grow it, and a
    # small serial-collected one spends ~10% of a batch in full collections
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", "--workload", workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores()), "--work", work,
              "--out", os.path.join(base, "out")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

    def stop(*_):
        # only kill here: waiting inside the handler can deadlock with
        # communicate(); the finally below reaps the JVM
        proc.kill()
        raise SystemExit(3)
    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {workload}: no result within {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        stop()
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        print(f"[perfbench] {workload}: JVM exited {proc.returncode} "
              "without a result", file=sys.stderr)
        sys.exit(proc.returncode or 4)
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return result, proc.returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results, code = [], 0
    for w in names:
        r, rc = run_one(root, classes, w, a)
        results.append((w, r))
        code = code or rc
        if len(names) > 1:
            print(json.dumps(r))
    if len(names) == 1:
        print(json.dumps(results[0][1]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {f"{w}.{k}": v for w, r in results
                        for k, v in r["metrics"].items()}}))
    sys.exit(code)


if __name__ == "__main__":
    main()

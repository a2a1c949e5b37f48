#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark if needed (perfbench/build.py), runs
perfbench.Main in one local-mode Spark JVM with 3 task slots, and
prints the run's result as one JSON object on the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. Everything the run writes stays under .bench_build/
and is deleted when the run ends. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
SPEC = ROOT / "BENCHMARK.json"
RESULT_PREFIX = "PERFBENCH_RESULT "
# Spark task slots: one core is left to the driver thread, the JIT and
# the GC. With every core given to tasks, the driver-bound t-SNE loop
# varied by up to 30% between runs on a 4-core machine; with 3 slots,
# by about 3%.
MAX_SLOTS = 3
RUN_TIMEOUT_S = 170
# fixed heap; no hsperfdata file, which the JVM would write outside the run dir
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def expected_metrics(spec: dict, traced: bool) -> dict:
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def validate(result: dict, expected: dict):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result has keys {sorted(result)}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        missing = sorted(set(expected) - set(got))
        extra = sorted(set(got) - set(expected))
        wrong = sorted(k for k in set(got) & set(expected) if got[k] != expected[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, "
             f"unexpected {extra}, wrong unit {wrong}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        fail(f"attempted is {result['attempted']!r}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args = ap.parse_args()

    if not SPEC.is_file():
        fail(f"{SPEC.name} not found at the repository root")
    spec = json.loads(SPEC.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    try:
        classes = build.ensure_built()
    except build.CompileFailure as e:
        fail(f"build failed: {e}")

    cores = max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0)) - 1))
    work = build.BUILD_DIR / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", str(work), "--cores", str(cores)])
    # Spark would prefer these to spark.local.dir and write outside the run dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        with open(log, "wb") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log tail:\n"
                     + log.read_text(errors="replace")[-3000:], 3)
        lines = [l for l in stdout.decode(errors="replace").splitlines()
                 if l.startswith(RESULT_PREFIX)]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited {proc.returncode} without a result; log tail:\n"
                 + log.read_text(errors="replace")[-3000:], 3)
        sys.stderr.write("".join(l + "\n" for l in log.read_text(errors="replace")
                                 .splitlines() if l.startswith("[perfbench]")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1][len(RESULT_PREFIX):])
    validate(result, expected_metrics(spec, args.trace == "1"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

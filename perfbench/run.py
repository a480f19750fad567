#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds first when needed (build.py). The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; run records, span
files and exact counts are written under perfbench/out/records.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# JDK module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isdir(build.PROGRAM_SRC) or not os.path.exists(spec_path):
        sys.exit(f"perfbench: run from a checkout of the program "
                 f"(missing {build.PROGRAM_SRC} or BENCHMARK.json)")
    spec = json.load(open(spec_path))
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; one of {names}")

    classpath = build.build()
    work = os.path.join(build.OUT, "work")
    records = os.path.join(build.OUT, "records")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), records):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        a.workload, str(a.seed), str(a.seconds), str(a.trace), work, records, spec_path]
    err_path = os.path.join(records, "last-stderr.log")
    with open(err_path, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=TIMEOUT_S, cwd=build.ROOT)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {TIMEOUT_S}s (stderr in {err_path})")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(err_path).read()[-4000:])
        sys.exit(f"perfbench: workload failed with exit code {r.returncode}")
    result = json.loads(lines[-1])
    expected = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != expected:
        sys.exit(f"perfbench: metrics {sorted(set(result['metrics']) ^ expected)} missing or extra")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

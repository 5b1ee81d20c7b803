"""Product-path benchmark of graft: the CLI compare and the CLI pipeline,
run in-process and timed end to end (see perfbench/README.md).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck

Run from the repository root. Builds the program from source into
.bench_build on first use, then runs one JVM per call; the last line of
standard output is the JSON result. Exits non-zero, printing no result,
when the program cannot be built or the run cannot finish.
"""

import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("compare_identical", "compare_drift", "pipeline_curation")
MAX_CORES = 4
RUN_TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 900

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args()
    if not a.selfcheck and not a.workload:
        p.error("--workload or --selfcheck is required")

    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classpath = build.build(build_dir)
    except (subprocess.CalledProcessError, OSError) as e:
        sys.exit(f"perfbench: build failed: {e}")

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    work = os.path.join(build_dir, "work")
    run_dir = os.path.join(work, "selfcheck" if a.selfcheck else a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(build_dir, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Bench",
        "--dir", run_dir, "--cores", str(cores), "--seed", str(a.seed),
    ]
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", a.trace]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=SELFCHECK_TIMEOUT_S if a.selfcheck else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    finally:
        keep = os.path.join(run_dir, "traces")
        if os.path.isdir(keep):
            dest = os.path.join(build_dir, "traces")
            os.makedirs(dest, exist_ok=True)
            for f in os.listdir(keep):
                shutil.copy(os.path.join(keep, f), dest)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed with exit code {proc.returncode}")
    print(lines[-1])


if __name__ == "__main__":
    main()

"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the engine and the benchmark first
(see build.py), then runs the workload in one JVM. Every line the JVM prints
is passed through; the last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, without a
result line, when the build or the run fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# ann_serve_selfprobe is ann_serve plus a self-probe check that the engine
# fails; it is runnable but not a listed workload of BENCHMARK.json
WORKLOADS = ["ci_nightly", "curation_stream", "ann_serve",
             "ann_serve_selfprobe"]
# The JIT of each workload, fixed for every commit measured. ci_nightly and
# ann_serve time warm ops after an untimed warm-up, where the JVM's default
# tiered JIT (with C2) runs them fastest and steadiest. curation_stream's
# run is one cold round bound by first executions, where C2's compiler
# threads compete with Spark's task threads for code that runs once; the
# C1-only JIT cuts that run by about 5 s of its 60-70 s on 4 cores.
JIT = {"curation_stream": ["-XX:TieredStopAtLevel=1"]}
# The JVM ends an overrunning run itself, with a failed result, at 160 s
# (Main.DeadlineS); this limit only catches a JVM that cannot.
RUN_LIMIT_S = 175
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(cp, work, main, args, cds, jit=()):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    log4j = os.path.join(build.ROOT, "perfbench", "log4j2.properties")
    # JVM warnings go to stderr: stdout ends with the result line.
    return (["java"] + cds + list(jit) + ["-Xlog:disable",
             "-Xlog:all=warning:stderr"] + opens +
            ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={log4j}",
             "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def run_jvm(cmd, work):
    """Run the JVM, pass its stdout through, return (exit code, last line)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         cwd=build.ROOT)
    last = None
    try:
        out, _ = p.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 1, None
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if lines:
        last = lines[-1]
        for ln in lines[:-1]:
            print(ln)
    return p.returncode, last


def class_archive(cp):
    """JVM flags that map the class-data-sharing archive, made on first use
    by a short untimed training run that archives the classes it loads.
    Every run starts from that archive: training that fails is a build
    failure, and -Xshare:on makes a JVM that cannot map it exit with an
    error, so no run falls back to loading the classes from the jars."""
    if not os.path.isfile(build.CDS_ARCHIVE):
        work = os.path.join(build.BUILD, "cds-training")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = java_cmd(cp, work, "perfbench.Main", [
            "--workload", "ci_nightly", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--work", work],
            [f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}"])
        try:
            r = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL, cwd=build.ROOT,
                               timeout=600)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
        shutil.rmtree(work, ignore_errors=True)
        if not ok or not os.path.isfile(build.CDS_ARCHIVE):
            if os.path.exists(build.CDS_ARCHIVE):
                os.remove(build.CDS_ARCHIVE)
            raise build.BuildError("the class-data-sharing training run failed")
    return ["-Xshare:on", f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    try:
        cp = build.build()
        cds = class_archive(cp)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    try:
        if a.self_test:
            code, last = run_jvm(java_cmd(cp, work, "perfbench.SelfTest",
                                          [build.ROOT], cds), work)
            if last:
                print(last)
            return code
        code, last = run_jvm(java_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work], cds, JIT.get(a.workload, ())), work)
        try:
            res = json.loads(last) if last else None
        except ValueError:
            res = None
        if code != 0 or not isinstance(res, dict) or \
                set(res) != {"correct", "attempted", "failed", "metrics"}:
            print(f"run failed (exit {code}) without a result", file=sys.stderr)
            return code or 1
        print(last)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

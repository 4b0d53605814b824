#!/usr/bin/env python3
"""Build the program and its benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the program and the benchmark with sbt
(perfbench/build.sbt depends on the root build) and caches the runtime
classpath under .bench_build/; later runs reuse it until a source file
changes. The workload runs in a fresh JVM; its standard output (the last
line is the result object) is passed through unchanged. Temporary files of
sbt, the JVM and Spark go to .bench_build/tmp, inside the checkout.
"""
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
TMP = os.path.join(BUILD, "tmp")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800
HEAP = "-Xmx2g"

# The module opens Spark needs on JDK 17 outside spark-submit; the same
# list as the root build's forked run (Spark's JavaModuleOptions).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = []
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(path)
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in sorted(names)
                         if n.endswith((".scala", ".java", ".sbt", ".properties")))
    return files


def source_hash():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(digest):
    """The runtime classpath, building first when the sources changed."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's lock files and temporary files in the checkout
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""),
        f"-Dsbt.ivy.home={BUILD}/ivy2", "-Dsbt.boot.lock=false",
        f"-Djna.tmpdir={TMP}", f"-Djava.io.tmpdir={TMP}",
        "-XX:-UsePerfData"]).strip()
    log_path = os.path.join(BUILD, "build.log")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S, text=True)
    with open(log_path, "w") as log:
        log.write(proc.stdout)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        errors = [x for x in lines if x.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode}); log in {log_path}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    return cp


def commit(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    return "src-sha256:" + digest[:16]


def main():
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")
    os.makedirs(TMP, exist_ok=True)
    digest = source_hash()
    cp = classpath(digest)
    cmd = ["java", HEAP, f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + sys.argv[1:]
    env = dict(os.environ, PERFBENCH_COMMIT=commit(digest), SPARK_LOCAL_DIRS=TMP)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 124)
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build and run the repository benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --mint      # re-mint perfbench/queries/hashes.tsv

The first call compiles the program's main sources together with the
benchmark's (sbt, offline, from perfbench/) and caches the classpath under
.bench_build/; later calls reuse it while the sources are unchanged. The
benchmark's stdout passes through; its last line is the JSON result.
Spark's log goes to .bench_build/logs/.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JAVA_OPTS = [
    "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on the PATH", 1)
    return home


def classpath():
    """Compile if the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(OUT, "logs", "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dspark.home={spark_home()}", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
    log_text = p.stdout
    with open(log_path, "a") as log:
        log.write(log_text)
    if p.returncode != 0:
        sys.stderr.write(log_text[-4000:])
        fail(f"build failed (see {log_path})", 1)
    lines = [l for l in log_text.splitlines()
             if l.startswith(os.path.join(BENCH, "target"))]
    if not lines:
        fail(f"build printed no classpath (see {log_path})", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    args = sys.argv[1:]
    for need in (os.path.join(BENCH, "build.sbt"), PROGRAM_SRC):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found: run from the root "
                 "of a checkout of the repository")
    cp = classpath()
    if args == ["--mint"]:
        main_class, tag = "perfbench.Mint", "mint"
    else:
        main_class = "perfbench.Main"
        opts = dict(zip(args[::2], args[1::2]))
        tag = "{}-seed{}-trace{}".format(opts.get("--workload", "none"),
                                         opts.get("--seed", "1"),
                                         opts.get("--trace", "0"))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(OUT, "logs", tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
                                 "-cp", cp, main_class, *args],
                                cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {RUN_TIMEOUT_S} s (see {log_path})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"exit code {proc.returncode} (see {log_path})", 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its JSON result.

    python3 perfbench/run.py --workload <qa_search|qa_refresh|catalog> \
        --seed <n> --seconds <s> --trace <0|1> [--data <sf0.1 directory>]

`catalog` reads the sf0.1 test tables from --data; the request workloads
read only the corpus under perfbench/data.

Run from the repository root. The first run builds the program from
source (sbt, offline) into perfbench/target and caches the classpath; later
runs reuse the build while the sources are unchanged. The workload runs in
one JVM; its last line of standard output is the result object. Scratch
data goes to perfbench/.work and is replaced on every run.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} ran past {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    want = stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            have = fh.read().split("\n")
        if have[0] == want:
            return have[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l.startswith(TARGET)]
    if code != 0 or not lines:
        fail(f"build failed (sbt exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(want + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["qa_search", "qa_refresh", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", help="directory of the sf0.1 tables (catalog)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if a.workload == "catalog" and not a.data:
        fail("catalog needs --data <directory of the sf0.1 tables>")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} beside perfbench/: run from a full checkout")

    cp = build()
    work = os.path.join(HERE, ".work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.home={HERE}",
              f"-Dperfbench.work={work}",
              f"-Dperfbench.data={os.path.abspath(a.data or '')}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"workload exited with {code}", 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the write-path benchmark (see METHOD.md).

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --gate-selftest

Builds the program and the harness from source with sbt on first use
(cached in perfbench/target, keyed by a hash of every source and build
file), then runs the harness in one JVM at local[4]. The harness prints a
metrics table and, as the last line of standard output, one JSON object.
Exits non-zero if the build fails, the run fails or the correctness gate
fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("crawl_fresh", "crawl_resume", "pdf_only")

BUILD_LIMIT_S = 840
RUN_LIMIT_S = 170

# The module opens Spark needs on JDK 17 (the list the program's build.sbt
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


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{os.path.basename(cmd[0])} exceeded {limit_s} s and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """Classpath of the built harness, building it when sources changed."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp_digest, cp = fh.read().split("\n", 1)
        cp = cp.strip()
        # a cleaned build directory invalidates the cached classpath too
        if stamp_digest == digest and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    # a terminated benchmark still stops its children (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gate-selftest", action="store_true",
                    help="check that the gate rejects an altered truth table")
    a = ap.parse_args()
    if not a.gate_selftest and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no program sources next to perfbench/ (expected src/main/scala and build.sbt)")

    cp = classpath()
    # every call generates its inputs afresh: nothing from an earlier call
    # (another seed, a killed run) is left to read or to fill the disk
    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
              "--root", ROOT])
    if a.gate_selftest:
        cmd.append("--gate-selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    code, out = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    for line in lines[:-1]:
        print(line)
    if a.gate_selftest:
        if lines:
            print(lines[-1])
        sys.exit(code)
    if not lines or not lines[-1].startswith("{"):
        if lines:
            print(lines[-1])
        fail(f"harness exited {code} without a result")
    print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()

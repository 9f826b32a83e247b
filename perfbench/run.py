#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload elt_report --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while no source file has changed. The benchmark itself runs in
one JVM (see src/main/scala/graft/perfbench/Main.scala) and prints, as its
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Everything it writes stays under perfbench/work/ and
perfbench/target/ (plus the parent build's target/).

`--selftest broken_op,wrong_fingerprint` injects a failing op and a
wrong expected fingerprint; the run must then report them and exit 1.
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
BUILD_DIR = os.path.join(HERE, "target", "perfbench-build")
WORK = os.path.join(HERE, "work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: graft's sources and build, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath(want):
    """Build if any source changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["elt_report", "cdc_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", default="")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a full checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    want = stamp()
    cp = classpath(want)
    inputs = f"inputs-{want[:16]}"
    if os.path.isdir(WORK):
        for d in os.listdir(WORK):
            if d.startswith("inputs-") and d != inputs:
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    traces = os.path.join(WORK, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--traces", traces, "--cpus", str(cpus),
            # reference tables, kept while the sources are unchanged
            "--inputs", os.path.join(WORK, inputs)] +
           (["--selftest", a.selftest] if a.selftest else []))
    t0 = time.time()
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s, exit {code}",
          file=sys.stderr)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if code == 0 and not last.startswith("{"):
        fail("the benchmark printed no result")
    sys.exit(code)


if __name__ == "__main__":
    main()

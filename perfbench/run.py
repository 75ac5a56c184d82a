#!/usr/bin/env python3
"""Repository benchmark: build the library and the benchmark from source,
then run one workload and print its result.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles with sbt (offline)
into `.bench_build/`; later runs reuse the classpath while the sources are
unchanged. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ["build", "serve_local", "search_dist", "clean"]
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session starts outside spark-submit;
# the same list the library's build passes to forked runs.
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


def source_digest():
    """Digest of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group. The whole group is killed, and
    waited for, on timeout or when this script is terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _):
        stop()
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, on_signal)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        for s in (signal.SIGTERM, signal.SIGINT):
            signal.signal(s, signal.SIG_DFL)
    return proc.returncode, out


def classpath():
    stamp = OUT / "classpath.stamp"
    cp_file = OUT / "classpath.txt"
    digest = source_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    OUT.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = OUT / "build.log"
    t0 = time.time()
    with open(log, "w") as f:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT)
    lines = log.read_text().splitlines()
    if code != 0 or not lines or "[error]" in "\n".join(lines[-20:]):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log in {log})")
    cp = next(l.strip() for l in reversed(lines) if not l.startswith("[") and ".jar" in l)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} not found: run from a checkout of the repository")

    cp = classpath()
    work = OUT / "work"
    log = OUT / f"run-{a.workload}.log"
    # a fixed, pre-touched heap: the resident set then moves with native and
    # off-heap memory instead of with when the collector grew the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work)])
    with open(log, "w") as f:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=f, text=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if not result:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"no result (exit {code}; log in {log})")
    print(result[-1])
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()

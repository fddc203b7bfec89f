#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (offline) and caches the classpath under
perfbench/.work; later runs reuse it until a source file changes. The
JVM's stdout is passed through; its last line is the JSON result. Spark's
log goes to perfbench/.work/logs/.

Other modes:
    --self-check                   generator determinism, then an injected
                                   failure that must fail the command
    --gen-expected                 rewrite perfbench/expected/query_mix.tsv
    --inject-failure throw|mismatch  make the second timed op fail
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Djava.io.tmpdir={WORK / 'tmp'}",
]
# Spark 4 on JDK 17 outside spark-submit needs these (as in graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: graft's sources and build, and ours."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from a full checkout")
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = WORK / "build" / "classpath.txt", WORK / "build" / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (WORK / "build").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build" / "sbt.log"
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                             cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode}); see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def java(cp, args, log_name, timeout=RUN_TIMEOUT_S):
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *JVM_OPTS, *opens, "-cp", cp, "perfbench.Main", *args, "--home", str(BENCH)]
    log = WORK / "logs" / log_name
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {timeout}s; see {log}", 3)
    if p.returncode != 0:
        lines = log.read_text(errors="replace").splitlines()
        print("\n".join(l for l in lines if "FAILED" in l or l.startswith(("Exception", "Caused by"))),
              file=sys.stderr)
    return p.returncode, stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["etl_batch", "etl_incremental", "query_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", choices=["throw", "mismatch"])
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--gen-expected", action="store_true")
    a = ap.parse_args()
    cp = build()
    stamp = time.strftime("%Y%m%d-%H%M%S")
    if a.gen_expected:
        code, out = java(cp, ["--gen-expected"], f"gen-expected-{stamp}.log", timeout=3600)
        print(out, end="")
        sys.exit(code)
    if a.self_check:
        code, out = java(cp, ["--self-check"], f"self-check-{stamp}.log", timeout=900)
        print(out, end="")
        for kind in ("throw", "mismatch"):
            c, _ = java(cp, ["--workload", "etl_batch", "--seed", "1", "--seconds", "3", "--trace", "0",
                             "--inject-failure", kind], f"inject-{kind}-{stamp}.log")
            print(f"injected {kind}: exit code {c} ({'fails the command' if c != 0 else 'NOT DETECTED'})")
            code = code or (0 if c != 0 else 1)
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.inject_failure:
        args += ["--inject-failure", a.inject_failure]
    code, out = java(cp, args, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if result:
        print(result[-1])
    sys.exit(code if result else (code or 4))


if __name__ == "__main__":
    main()

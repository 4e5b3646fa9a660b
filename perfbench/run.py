#!/usr/bin/env python3
"""Run one benchmark workload; the last stdout line is the JSON result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Everything a run writes stays
under perfbench/work/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
WORK = BENCH / "work"
BUILD = WORK / "build"
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 3600
BUILD_TIMEOUT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for root in (REPO / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    digest = sources_digest()
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    (BUILD / "sbt.log").write_text(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write registry fingerprints to this file and exit")
    a = ap.parse_args()
    if not a.workload and not a.record:
        fail("--workload is required")

    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {REPO / 'src'}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()

    # a fresh scratch area per run: tmpdir (engine fixtures), spark dirs, inputs
    run_dir = WORK / "run" / (a.workload or "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "inputs", "spark-local", "cwd"):
        (run_dir / d).mkdir(parents=True)
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir / 'cwd'}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(run_dir),
            "--ref", str(BENCH / "ref")]
    if a.record:
        cmd += ["--record", str(Path(a.record).resolve())]
    limit = RECORD_TIMEOUT_S if a.record else RUN_TIMEOUT_S
    err_log = logs / f"{a.workload or 'record'}-{a.seed}-t{a.trace}.stderr"
    with open(err_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir / "cwd", stdout=subprocess.PIPE,
                                stderr=err, text=True)
        watchdog = threading.Timer(limit, proc.kill)
        watchdog.start()
        last = ""
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                if line.strip():
                    last = line.strip()
            proc.wait()
        finally:
            expired = not watchdog.is_alive()
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if expired:
        fail(f"run exceeded {limit} s and was stopped; stderr in {err_log}")
    if proc.returncode != 0 or (not a.record and not last.startswith("{")):
        sys.stderr.write("".join(open(err_log).readlines()[-40:]))
        fail(f"run failed (exit {proc.returncode}); stderr in {err_log}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (about a minute); later runs reuse the build
until a source file changes. The last line of standard output is the result
JSON; progress and Spark's log go to standard error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
WORKLOADS = ("ingest", "lookup", "curate", "graph")
BUILD_TIMEOUT_S = 700  # a first run builds, and must end within 900 s
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (Spark's own
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_inputs():
    """Every file whose change calls for a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "project", ROOT / "src" / "main", HERE / "src" / "main"):
        if base.is_dir():
            files += [p for p in base.rglob("*") if p.is_file() and "target" not in p.parts
                      and (base.name != "project" or p.suffix in (".sbt", ".scala", ".properties"))]
    return sorted(set(files))


def digest():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    want = digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    print("[perfbench] building graft and the benchmark with sbt", file=sys.stderr, flush=True)
    # sbt is a launcher script with a JVM under it: run it in its own
    # process group so a timeout stops both
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: build did not finish within {BUILD_TIMEOUT_S} s")
    lines = out.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and " " not in l.strip()]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(want)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: {ROOT} is not a graft checkout (no build.sbt or src/main/scala)")

    classpath = build()
    tmp = OUT / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx2g", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--out", str(OUT)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {args.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"perfbench: {args.workload} failed (exit {proc.returncode})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()

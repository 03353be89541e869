#!/usr/bin/env python3
"""Layered pipeline benchmark: one command runs a workload, checks its
outputs and prints every metric.

    python3 perfbench/run.py --workload tts_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark client (`sbt` in perfbench/, offline); later runs reuse the
build while the sources are unchanged. Everything a run writes goes to
`.bench_build/`. The last stdout line is the result JSON; the full
artifact (run stamp, per-pass load average, per-query latencies,
counters, spans) is written to `.bench_build/out/`.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.tsv")
WORKLOADS = ("tts_etl", "stream_lanes")
# Fixed driver heap, so that driver_heap_peak_mb is comparable.
XMX = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles, to decide on a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
                           stdin=subprocess.DEVNULL, timeout=840)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "perfbench/target" in l and ":" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record result digests instead of checking them (see record.py)")
    a = ap.parse_args()

    needs = [os.path.join(ROOT, "src", "main", "scala", "graft"), DATA]
    for need in needs + ([] if a.record else [DIGESTS]):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")

    cp = classpath()
    out = os.path.join(BUILD, "out")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.LayerBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--digests", DIGESTS, "--out", out,
            "--commit", git_commit()]
    if a.record:
        cmd += ["--record", "1"]
    log_path = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                             stdin=subprocess.DEVNULL)
        try:
            stdout, _ = p.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out, see {log_path}")
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"no result (exit {p.returncode}), see {log_path}")
    result = json.loads(lines[-1])
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()

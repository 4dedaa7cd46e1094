#!/usr/bin/env python3
"""Benchmark entry point for the Spark ETL engine.

Run from the root of a checkout of the repository:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
      one run of one workload; the last stdout line is the JSON result
  python3 perfbench/run.py --all [--seed N] [--seconds S] [--trace 0|1]
      every workload in turn, with a summary table; exits non-zero when
      any output check failed
  python3 perfbench/run.py --selftest
      the harness's own tests (generator, plan columns, output checks)

The first call compiles the engine (the root build, into target/) and the
harness (perfbench/src, into perfbench/target) with sbt; later calls reuse
that build while the sources are unchanged. Working files go under
.perfbench/ at the checkout root and are removed when a run ends; traced
runs leave their span file there.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources;
    returns the runtime classpath."""
    stamp, cp_file = TARGET / "perfbench.stamp", TARGET / "perfbench.classpath"
    digest = source_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Xmx2g"] + opts).strip()
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    try:
        res = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 4)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def java_cmd(classpath, main, args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    tmp = ROOT / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # Only a heap ceiling: the heap starts small and grows as the run
    # touches it, so the resident-set high-water mark (peak_rss_mb) moves
    # with cached blocks, broadcast relations and other heap use as well
    # as with native memory.
    heap = ["-XX:+UseParallelGC", "-Xmx1536m"]
    return [str(java), *heap, *opens,
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main, *args]


def run_jvm(classpath, main, args):
    """Run one JVM with a hard timeout; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(java_cmd(classpath, main, args), cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} {' '.join(args)} exceeded {RUN_TIMEOUT_S}s", 5)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode, out.splitlines()


def run_all(classpath, workloads, seed, seconds, trace):
    results = {}
    code = 0
    for w in workloads:
        rc, lines = run_jvm(classpath, "perfbench.Main",
                            ["--workload", w, "--seed", str(seed), "--seconds", str(seconds),
                             "--trace", str(trace)])
        try:
            results[w] = json.loads(lines[-1])
        except (IndexError, ValueError):
            results[w] = None
        if rc != 0 or not results[w] or not results[w]["correct"]:
            code = 1
    print("\nworkload          metric                                   value          unit")
    for w, r in results.items():
        if r is None:
            print(f"{w:<17} (no result)")
            continue
        rate = r["failed"] / max(1, r["attempted"])
        rows = list(r["metrics"].items()) + [("fail_rate", {"value": rate, "unit": "ratio"})]
        for name, m in rows:
            print(f"{w:<17} {name:<40} {m['value']:<14.6g} {m['unit']}")
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not ENGINE.is_dir():
        fail(f"engine sources not found at {ENGINE}; run from the root of a repository checkout")
    if not (a.selftest or a.all or a.workload):
        fail("give --workload, --all or --selftest")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"] if a.seconds is None else a.seconds
    cp = build()
    if a.selftest:
        rc, _ = run_jvm(cp, "perfbench.SelfTest", [])
        sys.exit(rc)
    if a.all:
        sys.exit(run_all(cp, [w["name"] for w in bench["workloads"]], a.seed, seconds, a.trace))
    rc, _ = run_jvm(cp, "perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                           "--seconds", str(seconds), "--trace", str(a.trace)])
    sys.exit(rc)


if __name__ == "__main__":
    main()

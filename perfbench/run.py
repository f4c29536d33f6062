#!/usr/bin/env python3
"""Benchmark of the record-linkage engine.

Run from the repository root:

    python3 perfbench/run.py --workload link-inmem --seed 42 --seconds 10 --trace 0

Builds the engine and the runner from source with sbt on first use (again
whenever a source changes), then runs one JVM per measurement. With
--trace 0 it prints the end-to-end metrics of BENCHMARK.json; with
--trace 1 it runs the same workload untraced and then traced, in two
JVMs, and prints the per-layer metrics, the tracing overhead included.
The last line of stdout is the result as one JSON object. The exit code
is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala" / "graft"
VECTORS = ROOT / "src" / "test" / "resources" / "strsim_vectors.csv"
ARCHIVE = BUILD / "classes.jsa"
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 840
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked tests).
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


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SOURCES.parent, HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(cp, main, extra):
    return (["java"] + JVM_OPTS + extra
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main])


def build():
    """Compiles with sbt, then archives the loaded classes (AppCDS) in a
    training run; returns the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    shutil.rmtree(BUILD, ignore_errors=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the Spark install whose bin/ on PATH sits next to its jars/
        homes = [Path(d).parent for d in env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").exists()
                 and any((Path(d).parent / "jars").glob("spark-core_*.jar"))]
        if not homes:
            fail("set SPARK_HOME to a Spark install")
        env["SPARK_HOME"] = str(homes[0])
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            sbt_opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = sbt_opts.strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        errs = [l for l in proc.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errs[:40] or proc.stdout.splitlines()[-40:]) + "\n" + proc.stderr[-2000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    BUILD.mkdir(parents=True)
    work = BUILD / "train"
    (work / "tmp").mkdir(parents=True)
    train = subprocess.run(
        java_cmd(cp, "perfbench.Train", [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                         f"-Djava.io.tmpdir={work / 'tmp'}"]) + ["--work", str(work)],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if train.returncode != 0:
        sys.stderr.write(train.stderr[-3000:])
        fail(f"training run failed (exit {train.returncode})")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def run_jvm(cp, args, trace, deadline):
    """One JVM run of perfbench.Main; returns its result object."""
    tag = f"{args.workload}-s{args.seed}-n{args.seconds}-t{trace}"
    out, spans = BUILD / f"result-{tag}.json", BUILD / f"spans-{tag}.json"
    work = BUILD / f"work-{tag}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    cmd = java_cmd(cp, "perfbench.Main", [f"-XX:SharedArchiveFile={ARCHIVE}", f"-Djava.io.tmpdir={tmp}"]) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace), "--out", str(out), "--spans", str(spans), "--work", str(work),
        "--vectors", str(VECTORS)]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{tag} did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        fail(f"{tag}: JVM exited with {code} without a result")
    result = json.loads(out.read_text())
    if trace:
        print(f"perfbench: spans in {spans.relative_to(ROOT)}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (spec_file.exists() and ENGINE_SOURCES.is_dir() and VECTORS.exists()):
        fail("run from a checkout of the repository: engine sources not found")
    spec = json.loads(spec_file.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")

    cp = build()
    started = time.time()
    if args.trace == 0:
        res = run_jvm(cp, args, 0, started + RUN_LIMIT_S)
        runs, wanted = [res], spec["end_to_end"]
    else:
        # the overhead needs the untraced time of the same inputs, which an
        # earlier untraced run of this build may have left; the two never
        # share a JVM
        cached = BUILD / f"result-{args.workload}-s{args.seed}-n{args.seconds}-t0.json"
        base = json.loads(cached.read_text()) if cached.exists() else None
        if not (base and base["correct"]):
            base = run_jvm(cp, args, 0, started + RUN_LIMIT_S / 2)
        res = run_jvm(cp, args, 1, started + RUN_LIMIT_S)
        res["metrics"]["trace.overhead_s"] = res["metrics"]["trace.pass_s"] - base["metrics"]["wall_s"]
        if res["digest"] != base["digest"]:
            res["correct"] = False
            res["errors"].append(f"traced digest {res['digest']} != untraced {base['digest']}")
        runs, wanted = [base, res], spec["per_layer"]

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if args.trace == 0:
                fail(f"metric {m['name']} was not measured")
            v = 0.0  # a layer this workload never calls
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for r in runs:
        print(f"perfbench: noise {json.dumps(r['noise'])}")
    errors = [e for r in runs for e in r["errors"]]
    for e in errors:
        print(f"perfbench: error: {e}")
    correct = all(r["correct"] for r in runs) and not errors
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

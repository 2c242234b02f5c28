#!/usr/bin/env python3
"""Benchmark of the parse -> route -> window -> aggregate pipeline and the
operator queries.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program together
with the harness (sbt, offline); later runs reuse the build while the sources
are unchanged. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The line before it,
prefixed "host ", holds reference figures that are not metrics: CPU steal
seconds over the passes, nproc and, in traced runs, the 4-thread spin time.
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
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD = HERE / "target" / "pipebench"
WORK = HERE / "work"
OUT = HERE / "out"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840



def communicate(proc, timeout, what):
    """Waits for `proc` (started in its own session); on timeout kills its
    whole process group and fails."""
    try:
        return proc.communicate(timeout=timeout)[0]
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"pipebench: {what} did not finish in {timeout} s")


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (PROGRAM_SRC, HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles program + harness; returns the runtime classpath."""
    digest = sources_digest()
    stamp = BUILD / "classpath.json"
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["classpath"]
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    out = communicate(proc, BUILD_TIMEOUT_S, "the build")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit("pipebench: build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp[-1]}))
    return cp[-1]


# Spark 4 on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, work):
    # C1 only: a run is too short for C2 to finish compiling, and how far it
    # gets varies from run to run; C1 code is steady after the warm-up pass
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(OUT)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    out = communicate(proc, JVM_TIMEOUT_S, "the JVM")
    if proc.returncode != 0:
        raise SystemExit(f"pipebench: the JVM exited with {proc.returncode}")
    found = {}
    for line in out.splitlines():
        for tag in ("BENCH_HOST ", "BENCH_RESULT "):
            if line.startswith(tag):
                found[tag.strip()] = json.loads(line[len(tag):])
    if "BENCH_RESULT" not in found:
        raise SystemExit("pipebench: the JVM printed no result")
    return found["BENCH_RESULT"], found.get("BENCH_HOST", {})


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not (PROGRAM_SRC / "graft").is_dir():
        raise SystemExit(f"pipebench: no program sources under {PROGRAM_SRC}")
    # after the sources check: oracle.py imports the program's tools/check_oracle.py
    sys.path.insert(0, str(HERE))
    from oracle import check_all
    classpath = build()

    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res, host = run_jvm(classpath, args, work)
        errors = list(res.get("errors", []))
        if args.workload == "operator_queries":
            t0 = time.time()
            sql = json.loads((OUT / "oracle_sql.json").read_text())
            errors += check_all(res["tables"], res["outputs"], sql)
            host["oracle_check_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = expected_metrics(args.trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        raise SystemExit(f"pipebench: metric names/units differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}")
    for e in errors:
        sys.stderr.write(f"pipebench check: {e}\n")
    print("host " + json.dumps(host, sort_keys=True))
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()

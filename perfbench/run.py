#!/usr/bin/env python3
"""Benchmark of the engine's dashboard and live-pipeline workloads (see
NOTES.md).

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard|pipeline --seed N \
      --seconds S --trace 0|1 [--cpus N]

The first run in a checkout builds the engine plus the harness with sbt
and writes the fixture tables; both are cached in the build directory
($CARGO_TARGET_DIR, default .bench_build). Each run starts one benchmark
JVM, checks its outputs, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it
is the full report (sample counts, checks, per-query breakdown).

The JVM takes the engine's run settings: a heap of $SPARK_DRIVER_MEM
(default 8g), grown on demand. Its scratch (java.io.tmpdir, spark.local.dir,
checkpoints) stays in the run's work directory under the build directory.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import fixtures  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("dashboard", "pipeline")
CHECK = ROOT / "tools" / "check.py"
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    p = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return p if p.is_absolute() else ROOT / p


def tree_stamp(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile engine + harness once per source tree; returns the classpath
    and the tree's stamp."""
    sources = [ROOT / "src" / "main", CHECK, HERE / "src", HERE / "build.sbt",
               HERE / "project" / "build.properties"]
    missing = [str(p.relative_to(ROOT)) for p in sources if not p.exists()]
    if missing:
        die(f"engine sources not found: {', '.join(missing)}")
    stamp = tree_stamp(sources)
    cp_file = bdir / "sbt" / "classpath.txt"
    stamp_file = bdir / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip(), stamp
    log = bdir / "build.log"
    env = dict(os.environ, PERFBENCH_BUILD_DIR=str(bdir))
    # the build resolves nothing: Spark comes from $SPARK_HOME/jars and the
    # Scala toolchain from the local caches
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-3000:])
        die("build failed")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), stamp


def ensure_fixtures(bdir):
    stamp = tree_stamp([HERE / "fixtures.py"])
    data = bdir / "data"
    stamp_file = data / "fixtures.stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        shutil.rmtree(data, ignore_errors=True)
        for sf in fixtures.SCALES:
            fixtures.write(data / f"sf{sf}", float(sf))
        stamp_file.write_text(stamp)
    return data


def run_jvm(cp, args, trace, work, data, deadline):
    """Runs one benchmark JVM; returns its report, its log and the time
    (ms since the epoch) it was spawned."""
    java = Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java"
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = [str(java) if java.exists() else "java", f"-Xmx{heap}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    report = work / "report.json"
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(trace), str(args.cpus), str(data), str(work), str(report)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    with open(log, "w") as out:
        spawn_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on a timeout or a signal, the JVM must not outlive this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not report.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"benchmark JVM failed ({rc})", 1)
    return json.loads(report.read_text()), log, spawn_ms


def failures_in_log(log):
    return [ln.strip() for ln in log.read_text().splitlines() if "[perfbench] FAIL" in ln]


def check_queries(report, work, deadline):
    """Per-query verdicts from the engine's own oracle harness
    (tools/check.py), run over the results the first untimed cycle wrote."""
    results = Path(report["results_dir"])
    sql = {q: s for q, s in report["oracle_sql"].items() if s}
    (results / "oracle_sql.json").write_text(json.dumps(sql))
    verdicts = {q: (False, "no oracle SQL" if q not in sql else "no verdict from tools/check.py")
                for q in report["oracle_sql"]}
    # cwd: DuckDB spills to ./.tmp
    r = subprocess.run([sys.executable, str(CHECK), report["scale_dir"], str(results)],
                       cwd=work, capture_output=True, text=True,
                       timeout=max(10, deadline - time.time()))
    for ln in r.stdout.splitlines():
        word, _, rest = ln.partition(" ")
        name = rest.split(" ")[0].rstrip(":")
        if word in ("PASS", "FAIL") and name in sql:
            verdicts[name] = (word == "PASS", "" if word == "PASS" else rest[len(name):].strip(": "))
    for q in report["repetition_mismatch"]:
        verdicts[f"{q}:repetitions"] = (False, "results differ across repetitions")
    return verdicts


def check_pipeline(report):
    return {k: (v["got"] == v["want"], f"got {v['got']}, want {v['want']}")
            for k, v in report["checks"].items()}


def history_file(bdir, stamp, workload):
    """Untraced results of this source tree's runs of `workload`."""
    return bdir / "history" / stamp[:16] / f"{workload}.jsonl"


def record(bdir, stamp, workload, e2e):
    f = history_file(bdir, stamp, workload)
    f.parent.mkdir(parents=True, exist_ok=True)
    with open(f, "a") as h:
        h.write(json.dumps(e2e) + "\n")


def untraced_p50(bdir, stamp, args, cp, data, work, deadline):
    """Median p50_ms of this tree's untraced runs of the workload; when
    there are none yet, one untraced run of this seed is made first."""
    f = history_file(bdir, stamp, args.workload)
    past = [json.loads(x)["p50_ms"] for x in f.read_text().splitlines()
            if x.strip()] if f.exists() else []
    if not past:
        report, _, spawn_ms = run_jvm(cp, args, 0, work / "baseline", data, deadline)
        e2e, _ = metrics.e2e(report, spawn_ms)
        record(bdir, stamp, args.workload, e2e)
        past = [e2e["p50_ms"]]
    return statistics.median(past)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    with open(bdir / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, stamp = ensure_built(bdir)
        data = ensure_fixtures(bdir)
        deadline = time.time() + RUN_LIMIT_S

        work = bdir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            base_p50 = (untraced_p50(bdir, stamp, args, cp, data, work, deadline - 85)
                        if args.trace else None)
            report, log, spawn_ms = run_jvm(cp, args, args.trace, work, data, deadline - 15)
            e2e, counts = metrics.e2e(report, spawn_ms)
            if args.workload == "pipeline":
                verdicts = check_pipeline(report)
                validity = metrics.validity(report)
                lo, hi = report["window_us"]
                failed = report["read_failures"]
                attempted = sum(len(metrics.triggers(report, r, lo, hi))
                                for r in ("raw", "partials", "daily")) + len(report["reads"]) + failed
            else:
                verdicts = check_queries(report, work, deadline - 5)
                validity = {"problems": []}
                execs = metrics.timed_execs(report)
                attempted = len(execs)
                failed = sum(1 for e in execs if not e["ok"])
            attempted += len(verdicts)
            failed += sum(1 for ok, _ in verdicts.values() if not ok)
            correct = failed == 0 and not validity["problems"]
            layer, extra = {}, {}
            if args.trace:
                layer, extra = metrics.per_layer(report, (e2e["p50_ms"] / base_p50 - 1.0) * 100.0)
                trace = bdir / "traces" / f"{args.workload}-{args.seed}.json"
                trace.parent.mkdir(exist_ok=True)
                trace.write_text(json.dumps(report["spans"]))
                extra["trace_file"] = str(trace.relative_to(ROOT) if trace.is_relative_to(ROOT)
                                          else trace)
                extra["untraced_p50_ms"] = base_p50
            elif correct:
                record(bdir, stamp, args.workload, e2e)
            full = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": report["cpus"],
                "error_rate": failed / attempted,
                "e2e": {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()},
                "samples": counts, "setup_phases": report.get("setup_phases"),
                "validity": validity,
                "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in verdicts.items()},
                "failures": failures_in_log(log),
                **({"per_layer": layer, **extra} if args.trace else {}),
            }
            print(json.dumps(full, default=str))
            chosen = layer if args.trace else {k: e2e[k] for k in metrics.GATED}
            units = metrics.PER_LAYER_UNITS if args.trace else metrics.E2E_UNITS
            print(json.dumps({
                "correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
            }))
            sys.stdout.flush()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine from
source, runs one workload, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):
  etl_refresh  the paper's pipeline: paged source, catalog fan-out,
               DO NOTHING / DO UPDATE merges into in-memory Derby
  lr_census    classifier censuses over the memoized scored corpus
Each is a closed loop: one client, one operation at a time, at most four
JDBC connections. The seed makes the ETL source and the query order.

Run from the root of a checkout. The first run builds the engine and the
harness with sbt into $CARGO_TARGET_DIR (default .bench_build) and reuses
the build while the sources are unchanged. Each run is one JVM on
local[4] with its own java.io.tmpdir; Spark's logs go to a file in the run
directory, never to stdout.

stdout carries `workload metric value unit` lines and, last, one JSON
record {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0; with --trace 1 the per-layer metrics, from a
SparkListener, a QueryExecutionListener and a StreamingQueryListener the
harness registers, with spans written to trace.json in the run directory.
Run metadata (commit, seed, cores, heap, JVM, data directory, generator
sizes, probe values) is written to meta.json beside them.

Per-layer metrics, summed over a run, and the end-to-end metric each
should move (the other workload is predicted not to move):
  query.build_s, query.execute_s, scheduler.*, catalyst.*, scan.input_mb,
  executor.*, shuffle.*                  wall_s, op_p50_s on lr_census
  sources.pagination.*                   records_per_s on etl_refresh
  ingest.fanout_s, ingest.typed_s        wall_s on etl_refresh
  sources.jdbc_sink.*                    records_per_s, op_p50_s on etl_refresh
  streaming.*                            op_p50_s on etl_refresh
  memory.retained_mb                     none: memory never released
setup_s guards against work moved into set-up.

Other options:
  --smoke       tiny sizes (sf0.001 and a small ETL run) to try the harness
  --data DIR    driver test data for lr_census (default: sf0.01 under
                $SPARK_GRAFT_TESTDATA, ~/testdata if unset; sf0.001
                with --smoke); the warm-up always reads sf0.001
  --record      store the observed query outputs as the expected values
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# workload -> scale factor of the driver test data it reads
WORKLOADS = {"etl_refresh": None, "lr_census": "sf0.01"}
EXPECTED = HERE / "expected.json"
# end-to-end metrics in the JSON record (BENCHMARK.json). op_p50_s,
# op_tail_s, failed_frac and retained_mb are printed as lines only: the
# operation percentiles of a run are too few samples to hold a bound
UNITS = {"setup_s": "s", "wall_s": "s", "records_per_s": "1/s"}
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compile the engine and the harness once per source state; return the
    runtime classpath (the two jars copied into the build directory)."""
    stamp = build_dir / "stamp"
    cp_file = build_dir / "classpath.txt"
    build_dir.mkdir(parents=True, exist_ok=True)
    with open(build_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
            return cp_file.read_text().strip(), digest
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
        log = build_dir / "build.log"
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspathAsJars"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800)
        lines = log.read_text().splitlines()
        if r.returncode != 0 or not lines:
            fail(f"build failed, see {log}")
        jars = []
        for j in lines[-1].split(os.pathsep):
            p = Path(j)
            if ROOT in p.parents:  # built here: copy, so a rebuild never
                dst = build_dir / p.name  # swaps classes under a run
                shutil.copyfile(p, dst)
                p = dst
            jars.append(str(p))
        cp = os.pathsep.join(jars)
        cp_file.write_text(cp)
        stamp.write_text(digest)
        return cp, digest


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, run_dir, data_dir, warm_dir):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    out, trace_out = run_dir / "raw.json", run_dir / "trace.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              f"-Dperfbench.log={run_dir / 'spark.log'}",
              f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", str(out), "--trace-out", str(trace_out),
              "--expected", str(EXPECTED), "--warm-data", warm_dir]
           + (["--smoke"] if args.smoke else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s, see {run_dir}")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not out.exists():
        fail(f"run failed (exit {rc}), see {run_dir / 'jvm.log'}")
    return json.loads(out.read_text())


def record_expected(raw, data_dir):
    observed = raw["notes"].get("observed", {})
    table = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    table.setdefault(Path(data_dir).name, {}).update(observed)
    EXPECTED.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(observed)} expected outputs for {Path(data_dir).name}",
          file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--data")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no engine sources under {ROOT}; run from a checkout of the repository")
    sf = WORKLOADS[args.workload]
    testdata = Path(os.environ.get("SPARK_GRAFT_TESTDATA", Path.home() / "testdata"))
    data_dir = args.data or str(testdata / ("sf0.001" if args.smoke else sf or "sf0.1"))
    if sf and not Path(data_dir).is_dir():
        fail(f"no test data at {data_dir}")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp, digest = build(build_dir)
    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    raw = run_jvm(cp, args, run_dir, data_dir, str(testdata / "sf0.001"))
    if args.record:
        record_expected(raw, data_dir)

    w = args.workload
    meta = dict(raw["meta"], commit=commit(), source_sha256=digest,
                notes=raw["notes"], problems=raw["problems"])
    (run_dir / "meta.json").write_text(json.dumps(meta, indent=1, default=str))
    e2e = raw["end_to_end"]
    # untraced wall times of this build and size, for the tracing overhead
    history = build_dir / "history" / f"{digest[:16]}-{w}-{args.seconds}-{int(args.smoke)}.jsonl"
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(raw["per_layer"].items())}
        metrics["memory.retained_mb"] = {"value": raw["retained_mb"], "unit": "MB"}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
        history.parent.mkdir(exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": e2e["wall_s"]}) + "\n")
    for k, m in metrics.items():
        print(f"{w} {k} {m['value']:.6g} {m['unit']}")
    notes = raw["notes"]
    print(f"{w} op_p50_s {e2e['op_p50_s']:.6g} s")
    print(f"{w} op_tail_s {e2e['op_tail_s']:.6g} s (p{notes['op_tail_percentile']} "
          f"of {notes['op_samples']} samples)")
    print(f"{w} failed_frac {raw['failed'] / raw['attempted']:.6g} 1")
    print(f"{w} retained_mb {raw['retained_mb']:.6g} MB")
    if args.trace:
        untraced = [json.loads(l)["wall_s"] for l in history.read_text().splitlines()] \
            if history.exists() else []
        if untraced:
            base = statistics.median(untraced)
            print(f"{w} tracing_overhead_frac {e2e['wall_s'] / base - 1:.6g} 1 "
                  f"(traced wall_s {e2e['wall_s']:.4g} vs median of {len(untraced)} untraced)")
        print(f"{w} trace_file {run_dir / 'trace.json'} path")
    for p in raw["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "1"
    return "count"


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|discover --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. One JVM then runs the named
workload at local[nproc] (perfbench.Main), writing everything under a
fresh work directory in .bench_build/ that is deleted when the run ends.

Workloads (each input is generated from --seed; nothing outside the
checkout is read):
  ingest    seeded raw-log backlog (ec2/ecs/eks/lambda wire shapes)
            through LogPipeline.startIngest, then LogStore.compact.
  discover  one closed-loop client issuing weighted Discover requests
            (searches, aggregations, histograms, parses) over a seeded
            events table with the row count of the repository's sf0.1
            test data.

The timed phase runs whole rounds until --seconds have passed: on
discover the 26-request mix in seeded order, on ingest the whole backlog
into a fresh store and checkpoint followed by its compaction.

End-to-end metrics (--trace 0), one definition per workload:
  setup_s      JVM start to the first timed operation (session, input
               generation, untimed warm-up).
  throughput   ingest: generated lines / round wall time (the query, start
               to termination, plus its compaction); discover: requests / s.
  p50_ms       ingest: median micro-batch duration; discover: median
               request latency (frame construction plus full
               materialization through the noop sink).
  tail_ms      a high percentile of the same samples: on discover the
               60th, the highest with 10 of a round's 26 requests beyond
               it; on ingest the 75th (a round has 10 micro-batches).
  retained_mb  heap in use after a full GC at the end of the timed phase,
               plus non-heap; the RSS peak is in the per-layer set.
Failed operations and failed checks are counted in "failed"; every
timed operation and every check counts in "attempted".

--trace 1 runs the timed phase untraced and then traced, and reports the
per-layer metrics of the traced phase; spans and self times go to
.bench_build/trace/<workload>-<seed>.json.

Correctness, checked outside the timed region: discover compares one
response per distinct query with SparkEntry.oracleSql run in
DuckDB (queries without an oracle must return rows); ingest checks row
conservation, DLQ routing of every junk line, per-format counts, sampled
parsed fields, sink idempotence and the IngestMetrics row count.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "run-classpath.txt"
STAMP = BUILD / "build.stamp"
JVM_TIMEOUT_S = 165

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("[perfbench] no program sources next to perfbench/: nothing to build")
    digest = source_digest()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS") or "-Xmx2g"
    opts += " -Dsbt.offline=true -Dsbt.server.autostart=false"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not CLASSPATH.is_file():
        sys.exit("[perfbench] build failed")
    BUILD.mkdir(exist_ok=True)
    STAMP.write_text(digest)


def run_jvm(args, work, out):
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out), "--cpus", str(cpus)]
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("[perfbench] workload timed out")
    if rc != 0 or not out.is_file():
        sys.exit(f"[perfbench] workload exited with {rc}")
    return json.loads(out.read_text())


def oracle_failures(checks, data_dir):
    """Number of responses that differ from their oracle (or are empty),
    compared with the canonicalization and tolerance of tools/check.py."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    from check import canon, cells_equal
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet/*.parquet')")
    failed = 0
    for c in checks:
        name = c["name"]
        try:
            got = canon(pd.read_parquet(c["path"]))
            if c["sql"] is None:
                ok = len(got) > 0
                why = "no rows"
            else:
                exp = canon(con.execute(c["sql"]).fetchdf())
                ok, why = True, ""
                if list(got.columns) != list(exp.columns):
                    ok, why = False, f"columns {list(got.columns)} vs {list(exp.columns)}"
                elif len(got) != len(exp):
                    ok, why = False, f"rows {len(got)} vs {len(exp)}"
                else:
                    for col in got.columns:
                        bad = next(((i, g, e) for i, (g, e) in
                                    enumerate(zip(got[col].tolist(), exp[col].tolist()))
                                    if not cells_equal(g, e)), None)
                        if bad:
                            ok, why = False, f"col={col} row={bad[0]}: {bad[1]!r} vs {bad[2]!r}"
                            break
        except Exception as e:  # an unreadable response or failing oracle is a failed check
            ok, why = False, str(e)
        if not ok:
            failed += 1
            log(f"oracle check failed: {name}: {why}")
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "discover"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build()
    work = BUILD / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        res = run_jvm(args, work, work / "result.json")
        checks = res["oracle"]
        failed = res["failed"] + (oracle_failures(checks, work / "data") if checks else 0)
        attempted = res["attempted"] + len(checks)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None or got["unit"] != m["unit"]:
            sys.exit(f"[perfbench] metric {m['name']} missing or in the wrong unit: {got}")
        metrics[m["name"]] = got
    if args.trace:
        out = BUILD / "trace" / f"{args.workload}-{args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({"workload": args.workload, "seed": args.seed,
                                   "metrics": metrics, **res["artifact"]}))
        log(f"trace written to {out.relative_to(ROOT)}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    if "samples" in res["artifact"]:
        print(f"samples {res['artifact']['samples']}")
    print(f"fail_ratio {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: runs one workload with one seed and prints one JSON line.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 8 --trace 0

Builds the harness and the repository's sources with sbt (once per source
state), generates the workload's inputs from the seed, runs the timed phase in
one JVM with Spark local[N] (N = usable cores), checks every answer outside the
timed phase, and prints {"correct", "attempted", "failed", "metrics"} as the
last line of standard output: the end-to-end metrics with --trace 0, the
per-layer metrics (from spans recorded around each call into a layer) with
--trace 1. Everything it writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build). Reads the fixture tables from
$SPARK_GRAFT_SF_DIR, or else from the sf0.1 directory listed in TESTDATA.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

SETUP_ROUNDS = 3
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
FIXTURE_TABLES = ["lineitem", "orders", "customer", "supplier", "nation", "region",
                  "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# The kind of op each workload counts in ops_per_s.
PRIMARY = {"sql_read": "read", "commit_mix": "write", "pipeline_batch": "read"}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(bdir):
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("the graft sources (src/main/scala, build.sbt) are not next to perfbench/", 2)
    target = bdir / "sbt"
    stamp_file, cp_file = target / "stamp", target / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text()
    target.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(bdir / "cds", ignore_errors=True)  # archives of the old classes
    env = dict(os.environ, GRAFT_BENCH_TARGET=str(target))
    env.setdefault("COURSIER_MODE", "offline")
    with open(target / "build.log", "w") as logf:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0:
        tail = (target / "build.log").read_text()[-3000:]
        fail(f"sbt build failed (exit {rc}):\n{tail}", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text()


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d and (ROOT / "TESTDATA.md").is_file():
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", (ROOT / "TESTDATA.md").read_text())
        d = m and m.group(1).rstrip("/")
    if not d or not all((Path(d) / f"{t}.parquet").is_file() for t in FIXTURE_TABLES):
        fail(f"fixture tables not found (sf dir {d!r}); set SPARK_GRAFT_SF_DIR", 4)
    return d


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def read_jsonl(path):
    if not path.is_file():
        return []
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def end_to_end(workload, summary, ops, failed_ids):
    reads = stats.ok_latencies(ops, "read", failed_ids)
    done = stats.ok_latencies(ops, PRIMARY[workload], failed_ids)
    return {
        "setup_s": (summary["session_s"] + stats.median(summary["build_s"])
                    + summary["warmup_s"], "s"),
        "ops_per_s": (len(done) / summary["timed_s"], "1/s"),
        "op_gm_ms": (stats.geomean(done), "ms"),
        "read_gm_ms": (stats.geomean(reads), "ms"),
    }


def per_layer(workload, summary, ops, failed_ids, spans, jobs):
    m = {"peak_rss_mb": (summary["peak_rss_kb"] / 1024.0, "MB")}
    reads = stats.ok_latencies(ops, "read", failed_ids)
    writes = stats.ok_latencies(ops, "write", failed_ids)
    rt, wt = stats.tail(reads), stats.tail(writes)
    m["read_samples"] = (len(reads), "count")
    m["read_tail_ms"] = (rt[1] if rt else 0.0, "ms")
    m["read_tail_pct"] = (rt[0] if rt else 0.0, "%")
    m["commit_samples"] = (len(writes), "count")
    m["commit_p50_ms"] = (stats.median(writes), "ms")
    m["commit_tail_ms"] = (wt[1] if wt else 0.0, "ms")
    m["commit_tail_pct"] = (wt[0] if wt else 0.0, "%")
    m["failed_ratio"] = (len([o for o in ops if not o["ok"] or o["id"] in failed_ids])
                         / max(len(ops), 1), "ratio")
    c = summary["counters"]
    m["bytes_written_per_user_byte"] = (
        c.get("core.bytes_written", 0) / c["core.user_bytes"] if c.get("core.user_bytes") else 0.0,
        "ratio")
    m["bytes_stored_per_live_byte"] = (
        c.get("core.bytes_stored", 0) / c["core.live_bytes"] if c.get("core.live_bytes") else 0.0,
        "ratio")
    for k, unit in [("core.snapshots", "count"), ("core.manifests", "count"),
                    ("core.data_files", "count"), ("core.delete_files", "count"),
                    ("core.bytes_written", "bytes"), ("core.user_bytes", "bytes"),
                    ("core.bytes_stored", "bytes"), ("core.live_bytes", "bytes"),
                    ("core.cas_retries", "count")]:
        m[k] = (c.get(k, 0.0), unit)
    commits = len([o for o in ops if o["kind"] == "write" and o["ok"]])
    m["core.cas_landed_ratio"] = (commits / (commits + c.get("core.cas_retries", 0))
                                  if commits else 0.0, "ratio")

    # mean time per call into each layer entry point
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1e6)
    for metric, names in [
            ("engine.execute_ms", ["engine.execute", "engine.execute_as_of"]),
            ("engine.dsv2_plan_ms", ["engine.dsv2_plan"]),
            ("engine.merge_ms", ["engine.merge"]),
            ("dml.upsert_ms", ["dml.upsert"]), ("dml.update_ms", ["dml.update"]),
            ("dml.delete_ms", ["dml.delete"]),
            ("core.append_ms", ["core.append"]), ("core.mor_delete_ms", ["core.mor_delete"]),
            ("core.mor_update_ms", ["core.mor_update"]),
            ("core.cow_delete_ms", ["core.cow_delete"]), ("core.compact_ms", ["core.compact"]),
            ("core.expire_ms", ["core.expire"]), ("core.load_table_ms", ["core.load_table"]),
            ("core.read_ms", ["core.read", "core.read_as_of"])]:
        m[metric] = (stats.mean([x for n in names for x in by_name.get(n, [])]), "ms")

    attrs = [o["attrs"] for o in ops if o["attrs"]]
    for p in ("analysis", "optimization", "planning"):
        m[f"engine.{p}_ms"] = (stats.mean([a[f"engine.{p}_ms"] for a in attrs
                                           if f"engine.{p}_ms" in a]), "ms")
    scans = [a for a in attrs if "engine.files_total" in a]
    kept = sum(a["engine.files_kept"] for a in scans)
    total = sum(a["engine.files_total"] for a in scans)
    m["engine.files_kept"] = (kept / len(scans) if scans else 0.0, "count")
    m["engine.files_total"] = (total / len(scans) if scans else 0.0, "count")
    m["engine.files_kept_ratio"] = (kept / total if total else 0.0, "ratio")

    # Spark scheduling and executor work, per op of the timed phase
    n_ops = max(len(ops), 1)
    op_jobs = stats.op_jobs(spans, jobs)
    mb = 1024.0 * 1024.0
    for metric, f, unit in [
            ("spark.jobs", lambda j: 1, "count"), ("spark.stages", lambda j: j["stages"], "count"),
            ("spark.tasks", lambda j: j["tasks"], "count"),
            ("spark.task_s", lambda j: j["taskMs"] / 1e3, "s"),
            ("spark.cpu_s", lambda j: j["cpuNs"] / 1e9, "s"),
            ("spark.gc_s", lambda j: j["gcMs"] / 1e3, "s"),
            ("spark.input_mb", lambda j: j["inputBytes"] / mb, "MB"),
            ("spark.shuffle_read_mb", lambda j: j["shuffleReadBytes"] / mb, "MB"),
            ("spark.shuffle_write_mb", lambda j: j["shuffleWriteBytes"] / mb, "MB"),
            ("spark.output_mb", lambda j: j["outputBytes"] / mb, "MB")]:
        m[metric] = (sum(f(j) for j in op_jobs) / n_ops, unit)

    job_spans = stats.attach_jobs(spans, op_jobs)
    selfs = stats.self_times(spans, job_spans)
    for layer in ("op", "engine", "core", "dml", "gate", "exec", "spark"):
        m[f"self.{layer}_ms"] = (selfs.get(layer, 0) / 1e6 / n_ops, "ms")
    # op wall time not covered by any Spark job
    roots = [s for s in spans if s["parent"] == 0]
    jobs_of = {}
    for j in job_spans:
        jobs_of.setdefault(j["op"], []).append((j["start"], j["end"]))
    m["driver.self_ms"] = (stats.mean([
        ((r["end"] - r["start"]) - stats.union_ns(jobs_of.get(r["op"], []))) / 1e6
        for r in roots]), "ms")

    m.update(pipeline_layers(workload, ops, failed_ids, op_jobs))
    return m


def pipeline_layers(workload, ops, failed_ids, op_jobs):
    """Pass time and per-gate figures of pipeline_batch, 0 on the other
    workloads; a pass is one run of every gate."""
    m, mb = {}, 1024.0 * 1024.0
    n_gates = len(gen.GATES)
    passes = ([ops[i:i + n_gates] for i in range(0, len(ops), n_gates)]
              if workload == "pipeline_batch" else [])
    pass_s = [sum(o["ms"] for o in p) / 1e3 for p in passes
              if len(p) == n_gates and all(o["ok"] and o["id"] not in failed_ids for o in p)]
    m["job_p50_s"] = (stats.median(pass_s), "s")
    for g in gen.GATES:
        runs = [o for o in ops if o["type"] == g and o["ok"] and o["id"] not in failed_ids]
        ids = {o["id"] for o in runs}
        gj = [j for j in op_jobs if j["op"] in ids]
        k = max(len(runs), 1)
        m[f"gate.{g}_s"] = (stats.median([o["ms"] / 1e3 for o in runs]), "s")
        m[f"gate.{g}_tasks"] = (sum(j["tasks"] for j in gj) / k, "count")
        m[f"gate.{g}_shuffle_mb"] = (sum(j["shuffleWriteBytes"] for j in gj) / mb / k, "MB")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bdir = build_dir()
    classpath = build(bdir)
    sf = sf_dir()
    work = bdir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    plan = gen.plan(args.workload, args.seed)
    (work / "plan.json").write_text(json.dumps(plan))
    cpus = len(os.sched_getaffinity(0))
    # The first run in a build directory writes a class-data-sharing archive
    # of the classes it loaded when its JVM exits; later runs of every
    # workload map it, which takes most of the class loading out of set-up.
    cds = bdir / "cds" / "classes.jsa"
    cds.parent.mkdir(exist_ok=True)
    cds_new = cds.with_suffix(f".{os.getpid()}.new")
    cds_opt = (f"-XX:SharedArchiveFile={cds}" if cds.is_file()
               else f"-XX:ArchiveClassesAtExit={cds_new}")
    cmd = (["java", f"-Xmx{JVM_HEAP}", cds_opt, "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", "--workload", args.workload,
              "--plan", str(work / "plan.json"), "--out", str(work),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf-dir", sf,
              "--cpus", str(cpus), "--rounds", str(SETUP_ROUNDS)])
    try:
        with open(work / "jvm.log", "w") as logf:
            rc = run_proc(cmd, JVM_TIMEOUT_S, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        if rc != 0 or not (work / "summary.json").is_file():
            fail(f"benchmark JVM failed (exit {rc}):\n{(work / 'jvm.log').read_text()[-3000:]}", 5)
        if cds_new.is_file():
            os.replace(cds_new, cds)
        summary = json.loads((work / "summary.json").read_text())
        ops = read_jsonl(work / "ops.jsonl")

        # correctness, outside the timed phase: {op id: error} of answers
        # that differ from the oracle, beside the JVM's own failed ops
        errors = {}
        if args.workload == "sql_read":
            errors = oracle.check_sql_read(sf, plan, read_jsonl(work / "answers.jsonl"))
        elif args.workload == "pipeline_batch":
            bad = oracle.check_gates(sf, work / "gates",
                                     json.loads((work / "oracle.json").read_text()),
                                     bdir / "oracle")
            errors = {o["id"]: f"{o['type']}: {bad[o['type']]}" for o in ops if o["type"] in bad}
        failed_ids = set(errors)
        failed = [o for o in ops if not o["ok"] or o["id"] in failed_ids]
        for o in failed[:5]:
            print(f"perfbench: op {o['id']} ({o['type']}) failed: "
                  f"{o['error'] or errors[o['id']]}", file=sys.stderr)
        for e in summary["check_errors"]:
            print(f"perfbench: end-of-run check failed: {e}", file=sys.stderr)

        e2e = end_to_end(args.workload, summary, ops, failed_ids)
        layers = None
        if args.trace:
            spans, jobs = read_jsonl(work / "spans.jsonl"), read_jsonl(work / "jobs.jsonl")
            layers = per_layer(args.workload, summary, ops, failed_ids, spans, jobs)
            traces = bdir / "traces"
            traces.mkdir(exist_ok=True)
            for f in ("spans.jsonl", "jobs.jsonl", "ops.jsonl"):
                shutil.copy(work / f, traces / f"{args.workload}-{args.seed}.{f}")
        shown = layers if args.trace else e2e
        attempted = len(ops) + len(summary["check_errors"])
        n_failed = len(failed) + len(summary["check_errors"])
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "git_sha": git_sha(), "context": summary["context"],
                  "setup": {k: summary[k] for k in ("session_s", "build_s", "warmup_s")},
                  "end_to_end": {k: v[0] for k, v in e2e.items()},
                  "per_layer": {k: v[0] for k, v in (layers or {}).items()},
                  "attempted": attempted, "failed": n_failed,
                  "ops": [[o["type"], o["surface"], o["kind"], o.get("ms")] for o in ops]}
        print(f"perfbench: context {json.dumps(dict(record['context'], git_sha=record['git_sha'], seed=args.seed))}",
              file=sys.stderr)
        results = bdir / "results"
        results.mkdir(exist_ok=True)
        (results / f"{args.workload}-{args.seed}-trace{args.trace}-{int(time.time())}.json"
         ).write_text(json.dumps(record, indent=1))
        print(json.dumps({
            "correct": n_failed == 0, "attempted": max(attempted, 1), "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        cds_new.unlink(missing_ok=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the sharded-ingest pipeline and the operator catalog.

    python3 perfbench/run.py --workload ingest_chunked --seed 1 --seconds 12 --trace 0

Run from the repository root. It compiles the program (src/main/scala)
together with the benchmark's own JVM harness (perfbench/scala) with the
Scala compiler that ships in the Spark jars (the directory build.sbt names
as unmanagedBase, or $SPARK_JARS), runs the workload in one JVM
at local[nproc], checks the outputs, and prints a summary followed by one
JSON line with the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). It exits 1 when any correctness check fails.

Other modes:
    --sabotage drop_batch|sink_error|throw_entry|bad_fingerprint   must make the run fail
    --record-golden                  re-record perfbench/golden.json
    --compare A.json B.json          compare two saved records
See perfbench/DESIGN.md.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

SCALA = "2.13.17"
XMX = "3g"
SHARDS = 32
# chunked ingest: the first micro-batches run while the JIT compiles the
# per-batch path (about 1.3 s falling to 0.5 s over 20 batches on 4 CPUs);
# batch latencies and per-batch layer means are taken after them
WARMUP_BATCHES = 20
JVM_TIMEOUT_S = 170
# the module list of build.sbt's javaOptions: Spark on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ("ingest_chunked", "ingest_bulk", "catalog_batch")
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
GOLDEN = os.path.join(HERE, "golden.json")
MODULES = ("Relational", "Dedup", "Similarity", "TextAnalysis", "Multimodal", "Temporal",
           "Skew", "Curation", "Graph", "Layout", "StreamingQueries")

# end-to-end metrics: printed JSON with --trace 0 (every workload has each)
E2E_UNITS = {"setup_s": "s", "work_s": "s", "unit_p50_ms": "ms", "retained_heap_mb": "MB"}

PER_LAYER_UNITS = {
    "sources.rows": "count", "sources.read_s": "s", "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "decode.s": "s", "decode.null_ids": "ratio",
    "state.commit_ms": "ms", "state.all_updates_ms": "ms", "state.rows_total": "count",
    "state.rows_updated": "count", "state.memory_bytes": "bytes",
    "microbatch.planning_ms": "ms", "microbatch.add_batch_ms": "ms", "checkpoint.wal_ms": "ms",
    "checkpoint.commit_ms": "ms", "microbatch.trigger_ms": "ms", "microbatch.gap_ms": "ms",
    "microbatch.count": "count",
    "sink.busy_ms": "ms", "sink.retries": "count", "sink.failures": "count",
    "recovery.restart_s": "s", "recovery.replayed_rows": "count", "recovery.replay_batch_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
    "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "input_mb": "MB", "driver_gap_s": "s",
    "catalog.build_s": "s", "catalog.analysis_s": "s", "catalog.optimization_s": "s",
    "catalog.physical_s": "s", "catalog.exec_s": "s", "catalog.scratch_mb": "MB",
    "catalog.fixture_mb": "MB", "catalog.fixture_builds": "count",
    "catalog.codegen_compiles": "count", "catalog.codegen_ms": "ms",
    **{f"operators.{m}.{p}_s": "s" for m in MODULES for p in ("cold", "warm")},
    "baseline.local1_rps": "1/s", "baseline.localN_rps": "1/s",
}

MB = 1024.0 * 1024.0
# the micro-batch phases that progress times by name; triggerExecution minus
# their sum is the gap
BATCH_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class BenchError(Exception):
    """The benchmark could not run (no program to build, JVM died)."""


# ---------------------------------------------------------------- build --

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_JARS, else the jar directory the sbt build uses (unmanagedBase)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("no Spark jar directory: set SPARK_JARS or unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"program sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build():
    """Compile program + harness into <build dir>/classes unless the stamp
    (hash of every source) says it is current. Returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = spark_jars()
    jars = [os.path.join(spark, f"scala-{n}-{SCALA}.jar") for n in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            raise BenchError(f"Scala compiler jar not found: {j}")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", os.path.join(spark, "*"), "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        raise BenchError("compile failed:\n" + p.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, stamp


# ------------------------------------------------------------------ run --

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, work, cpus, trace, mode_args):
    """One harness JVM. Returns (record, launch epoch seconds)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "graftbench.Harness",
            "--cpus", str(cpus), "--work", work, "--out", out, "--trace", str(trace)] + mode_args
    with open(log, "w") as lf:
        launch = time.time()
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness JVM timed out after {JVM_TIMEOUT_S}s; log {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BenchError(f"harness JVM exited {rc} without a record:\n{tail}")
    with open(out) as f:
        return json.load(f), launch


def ingest_plan(workload, seed, seconds, sabotage):
    """Sizes scale with --seconds (calibrated on a 4-CPU box: 0.5-0.9 s per
    500-record batch after the warm-up, ~2.5 s per 1M-record batch after a
    first one of ~10 s); the seed picks the fault batches. Returns the batch
    size, the record count, the harness options and how many leading
    batches the latencies leave out."""
    rnd = random.Random(seed)
    if workload == "ingest_chunked":
        batch, skip = 500, WARMUP_BATCHES
        batches = skip + max(20, round(seconds * 3.5))
        transient = rnd.randrange(3, batches // 3)
        fatal = rnd.randrange(batches // 2, batches - 3)
        args = ["--transient-at", str(transient), "--fatal-at", str(fatal), "--decode-probe", "1"]
    else:
        batch, skip = 1_000_000, 1
        batches = max(2, round(seconds / 3))
        args = []
    if sabotage == "drop_batch":
        args += ["--drop-at", str(batches // 4)]
    if sabotage == "sink_error":
        args += ["--error-at", "0"]
    return batch, batches * batch, args, skip


def catalog_plan(seed):
    with open(GOLDEN) as f:
        golden = json.load(f)
    names = sorted(golden["queries"])
    random.Random(seed).shuffle(names)
    return names, golden


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def ingest_metrics(rec, launch, trace, skip):
    """Metrics of an ingest record. Latencies and per-batch layer means
    leave out the first `skip` batches. A run that committed no batch (its
    failures are in the record) has no metrics."""
    bs = rec.get("batches", [])
    if not bs:
        return {}, {}, {}, None
    commits = [b["start_ms"] + b["duration_ms"]["triggerExecution"] for b in bs]
    first, rest = bs[0], bs[skip:] or bs[1:]
    lat = [b["duration_ms"]["triggerExecution"] for b in rest]
    work_s = (max(commits) - commits[0]) / 1000.0
    records = rec["records"]
    e2e = {
        "setup_s": commits[0] / 1000.0 - launch,
        "work_s": work_s,
        "unit_p50_ms": statistics.median(lat) if lat else float(first["duration_ms"]["triggerExecution"]),
        "retained_heap_mb": rec["retained_heap_mb"],
    }
    extra = {"ingest_rps": (records - first["rows"]) / work_s if work_s > 0 else 0.0,
             "batch_latency_p50_ms": e2e["unit_p50_ms"], "batches": len(bs)}
    tail = bl.tail_percentile(lat) if lat else None
    if tail and tail[0] > 50:
        extra[f"batch_latency_p{tail[0]:g}_ms"] = tail[1]
    replay = next((b for b in bs if b["incarnation"] == 2), None)
    if replay is not None:
        extra["recovery_s"] = (replay["start_ms"] + replay["duration_ms"]["triggerExecution"]
                               - rec["restart_ms"]) / 1000.0
    window = (commits[0], max(commits))
    if not trace:
        return e2e, extra, {}, window

    def phase(name):
        return mean([b["duration_ms"].get(name, 0) for b in rest])

    state = [b["state"] for b in rest if b.get("state")]
    layers = {
        "sources.rows": sum(b["rows"] for b in bs),
        "sources.read_s": rec.get("probe_read_s", 0.0),
        "sources.latest_offset_ms": phase("latestOffset"),
        "sources.get_batch_ms": phase("getBatch"),
        "decode.s": rec.get("probe_read_decode_s", 0.0) - rec.get("probe_read_s", 0.0),
        "decode.null_ids": rec.get("probe_null_ids", 0) / max(1, rec.get("probe_rows", 1)),
        "state.commit_ms": mean([s["commit_ms"] for s in state]),
        "state.all_updates_ms": mean([s["all_updates_ms"] for s in state]),
        "state.rows_total": state[-1]["rows_total"] if state else 0,
        "state.rows_updated": mean([s["rows_updated"] for s in state]),
        "state.memory_bytes": state[-1]["memory_bytes"] if state else 0,
        "microbatch.planning_ms": phase("queryPlanning"),
        "microbatch.add_batch_ms": phase("addBatch"),
        "checkpoint.wal_ms": phase("walCommit"),
        "checkpoint.commit_ms": phase("commitOffsets"),
        "microbatch.trigger_ms": phase("triggerExecution"),
        "microbatch.gap_ms": mean([b["duration_ms"]["triggerExecution"]
                                   - sum(b["duration_ms"].get(n, 0) for n in BATCH_PHASES) for b in rest]),
        "microbatch.count": len(bs),
        "sink.busy_ms": rec["sink_busy_ms"] / len(bs),
        "sink.retries": rec["sink_retries"],
        "sink.failures": rec["sink_failures"],
        "recovery.restart_s": extra.get("recovery_s", 0.0),
        "recovery.replayed_rows": replay["rows"] if replay else 0,
        "recovery.replay_batch_ms": replay["duration_ms"]["triggerExecution"] if replay else 0,
    }
    return e2e, extra, layers, window


def catalog_metrics(rec, launch, golden, trace, sabotage):
    qs = rec.get("queries", [])
    ok = [q for q in qs if q.get("ok")]
    cold = [q for q in ok if q["pass"] == 1]
    warm = [q for q in ok if q["pass"] == 2]
    e2e = {
        "setup_s": rec["ready_ms"] / 1000.0 - launch,
        "work_s": sum(q["wall_ms"] for q in cold) / 1000.0,
        "unit_p50_ms": statistics.median([q["wall_ms"] for q in warm]) if warm else 0.0,
        "retained_heap_mb": rec["retained_heap_mb"],
    }
    extra = {"catalog_cold_s": e2e["work_s"], "catalog_warm_s": sum(q["wall_ms"] for q in warm) / 1000.0,
             "queries": len(golden["queries"])}
    # fingerprints against the golden record
    gq = dict(golden["queries"])
    if sabotage == "bad_fingerprint":
        victim = sorted(gq)[0]
        gq[victim] = dict(gq[victim], rows=gq[victim]["rows"] + 1)
    checks = []
    for q in qs:
        g = gq.get(q["name"])
        if not q.get("ok") or g is None:
            continue
        good = q["rows"] == g["rows"] and (g.get("hash") is None or q["hash"] == g["hash"])
        checks.append({"name": f"fingerprint:{q['name']}:pass{q['pass']}", "ok": good,
                       "detail": f"rows {q['rows']} hash {q['hash']}, golden rows {g['rows']} hash {g.get('hash')}"})
    if not trace:
        return e2e, extra, {}, checks
    layers = {
        "catalog.build_s": sum(q["build_ms"] for q in ok) / 1000.0,
        "catalog.analysis_s": sum(q["analysis_ms"] for q in ok) / 1000.0,
        "catalog.optimization_s": sum(q["optimization_ms"] for q in ok) / 1000.0,
        "catalog.physical_s": sum(q["physical_ms"] for q in ok) / 1000.0,
        "catalog.exec_s": sum(q["exec_ms"] for q in ok) / 1000.0,
        "catalog.scratch_mb": sum(q["scratch_bytes"] for q in ok) / MB,
        "catalog.fixture_mb": sum(q["fixture_bytes"] for q in ok) / MB,
        "catalog.fixture_builds": sum(q["fixture_builds"] for q in ok),
        "catalog.codegen_compiles": sum(q["codegen_compiles"] for q in ok),
        "catalog.codegen_ms": sum(q["codegen_ms"] for q in ok),
    }
    for m in MODULES:
        for p, name in ((1, "cold"), (2, "warm")):
            layers[f"operators.{m}.{name}_s"] = sum(
                q["wall_ms"] for q in ok if q["module"] == m and q["pass"] == p) / 1000.0
    return e2e, extra, layers, checks


def job_layers(rec, spans, windows):
    """Spark job counters, and driver gap = windows' wall minus the union of
    job spans inside them."""
    c = rec.get("counters", {})
    jobs = [(s["start"], s["end"]) for s in spans if s["kind"] == "job"]
    gap_ms = 0
    for w0, w1 in windows:
        inside = [(max(a, w0), min(b, w1)) for a, b in jobs if b > w0 and a < w1]
        gap_ms += (w1 - w0) - bl.union_ms(inside)
    return {
        "jobs": c.get("jobs", 0), "stages": c.get("stages", 0), "tasks": c.get("tasks", 0),
        "task_run_s": c.get("task_run_ms", 0) / 1000.0, "task_cpu_s": c.get("task_cpu_ns", 0) / 1e9,
        "gc_s": c.get("gc_ms", 0) / 1000.0,
        "shuffle_read_mb": c.get("shuffle_read_bytes", 0) / MB,
        "shuffle_write_mb": c.get("shuffle_write_bytes", 0) / MB,
        "spill_mb": c.get("spill_bytes", 0) / MB, "input_mb": c.get("input_bytes", 0) / MB,
        "driver_gap_s": gap_ms / 1000.0,
    }


def accounting(workload, rec, spans):
    """How well the layer split accounts for each unit's wall: catalog
    queries by their build, plan and exec spans; micro-batches by their
    named phases, which miss where they overlap (sum above the wall) or
    where the gap is large (sum below it)."""
    if workload == "catalog_batch":
        cov = bl.coverage(spans, "query", {"build", "plan", "exec"})
        return {"what": "build+plan+exec vs query span", "units": len(cov),
                "worst_miss": max((abs(1 - c) for c in cov), default=1.0)}
    misses = []
    for b in rec.get("batches", []):
        trig = b["duration_ms"]["triggerExecution"]
        phases = sum(b["duration_ms"].get(n, 0) for n in BATCH_PHASES)
        misses.append(abs(trig - phases) / trig if trig else 1.0)
    return {"what": "named micro-batch phases vs triggerExecution", "units": len(misses),
            "worst_miss": max(misses, default=1.0)}


def git_commit():
    """HEAD of the repository this benchmark sits in, if it is one."""
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = p.stdout.split()
    if p.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def single_thread_baseline(classes, work, cpus):
    """The bulk pipeline (no faults, 2 x 500 000-record batches) at local[1]
    and at local[nproc]: records/s after the first batch on each."""
    out = {}
    for n, name in ((1, "baseline.local1_rps"), (cpus, "baseline.localN_rps")):
        w = os.path.join(work, f"local{n}")
        os.makedirs(w)
        rec, launch = run_jvm(classes, w, n, 0, ["--mode", "ingest", "--records", "1000000",
                                                 "--batch", "500000", "--shards", str(SHARDS)])
        if rec.get("failures") or not all(c["ok"] for c in rec.get("checks", [])):
            raise BenchError(f"local[{n}] baseline run failed its checks")
        out[name] = ingest_metrics(rec, launch, False, 1)[1]["ingest_rps"]
    return out


def tracing_overhead(records_dir, traced):
    """Traced work_s against the median of the latest ten correct untraced
    records of the same code that compare with it (same workload, nproc and
    size)."""
    base = []
    for f in glob.glob(os.path.join(records_dir, f"{traced['workload']}-*-trace0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        try:
            bl.compare(r, traced)
        except bl.IncomparableRecords:
            continue
        if r["correct"] and r["provenance"]["source_sha256"] == traced["provenance"]["source_sha256"]:
            base.append(r)
    base = sorted(base, key=lambda r: r["finished"])[-10:]
    if not base or "work_s" not in traced["end_to_end"]:
        return None, 0
    med = statistics.median(r["end_to_end"]["work_s"]["value"] for r in base)
    return traced["end_to_end"]["work_s"]["value"] / med - 1, len(base)


def run_workload(args):
    classes, stamp = build()
    cpus = nproc()
    bdir = build_dir()
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stat0 = bl.read_proc_stat()
    trace = args.trace
    extra_layers = {}
    try:
        if args.workload == "catalog_batch":
            names, golden = catalog_plan(args.seed)
            mode = ["--mode", "catalog", "--data", CATALOG_DATA, "--queries", ",".join(names)]
            if args.sabotage == "throw_entry":
                mode += ["--throw-entry", names[len(names) // 2]]
            rec, launch = run_jvm(classes, work, cpus, trace, mode)
            e2e, extra, layers, checks = catalog_metrics(rec, launch, golden, trace, args.sabotage)
            windows = [(s["start"], s["end"]) for s in rec.get("spans", []) if s["kind"] == "query"]
            attempted_units = len(rec.get("queries", []))
            size = {"queries": sorted(names)}
        else:
            batch, records, fault_args, skip = ingest_plan(args.workload, args.seed, args.seconds,
                                                           args.sabotage)
            probe = ["--decode-probe", "2"] if trace else []
            mode = ["--mode", "ingest", "--records", str(records), "--batch", str(batch),
                    "--shards", str(SHARDS)] + fault_args + probe
            size = {"records": records, "batch": batch}
            rec, launch = run_jvm(classes, work, cpus, trace, mode)
            e2e, extra, layers, window = ingest_metrics(rec, launch, trace, skip)
            windows = [window] if window else []
            checks = []
            attempted_units = len(rec.get("batches", []))
            if trace:
                extra_layers = single_thread_baseline(classes, work, cpus)
    finally:
        stat1 = bl.read_proc_stat()

    checks = rec.get("checks", []) + checks
    per_layer, spans, acc = {}, [], None
    if trace:
        spans = bl.assign_parents(rec.get("spans", []))
        per_layer = {k: 0 for k in PER_LAYER_UNITS}
        per_layer.update(layers)
        per_layer.update(job_layers(rec, spans, windows))
        per_layer.update(extra_layers)
        acc = accounting(args.workload, rec, spans)
        checks.append({"name": "accounting", "ok": acc["worst_miss"] <= 0.05,
                       "detail": f"{acc['what']}: worst miss {acc['worst_miss']:.4f} of the wall"})
    failures = rec.get("failures", [])
    failed = len(failures) + sum(1 for c in checks if not c["ok"])
    attempted = attempted_units + len(checks)
    correct = failed == 0 and attempted_units > 0
    extra["error_rate"] = failed / attempted if attempted else 1.0

    prov = {
        "seed": args.seed, "nproc": cpus, "xmx": XMX, "commit": git_commit(), "source_sha256": stamp,
        "jdk": rec.get("java_version"), "spark": rec.get("spark_version"),
        "cpu": bl.cpu_shares(stat0, stat1), "seconds": args.seconds, "size": size, "trace": trace,
    }
    record = {
        "workload": args.workload, "finished": time.time(), "correct": correct,
        "attempted": attempted, "failed": failed, "provenance": prov,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "context": extra, "per_layer": per_layer, "checks": checks, "failures": failures,
        "units": rec.get("queries") or rec.get("batches") or [],
    }
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        record["kept_work_dir"] = os.path.relpath(work, ROOT)
    if trace:
        record["accounting"] = acc
        record["self_ms_by_kind"] = bl.self_time_by_kind(spans)
        record["spans"] = spans
        record["tracing_overhead"], record["tracing_overhead_base"] = tracing_overhead(
            os.path.join(bdir, "records"), record)
    rdir = os.path.join(bdir, "records")
    os.makedirs(rdir, exist_ok=True)
    path = os.path.join(rdir, f"{args.workload}-{args.seed}-trace{trace}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f)
    report(record, path)
    metrics = ({k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in per_layer.items()} if trace
               else record["end_to_end"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return correct


def report(record, path):
    p = record["provenance"]
    cpu = p["cpu"]
    fmt = lambda x: "n/a" if x is None else f"{x:.3f}"  # noqa: E731
    print(f"workload {record['workload']}  seed {p['seed']}  nproc {p['nproc']}  -Xmx{p['xmx']}  "
          f"jdk {p['jdk']}  spark {p['spark']}  commit {p['commit'] or 'n/a'}  "
          f"steal {fmt(cpu['steal'])}  idle {fmt(cpu['idle'])}")
    for k, m in record["end_to_end"].items():
        print(f"  {k:<24} {m['value']:>14.4f} {m['unit']}")
    units = {"ingest_rps": "1/s", "catalog_cold_s": "s", "catalog_warm_s": "s", "recovery_s": "s",
             "error_rate": "ratio", "batches": "count", "queries": "count"}
    for k, v in record["context"].items():
        print(f"  {k:<24} {v:>14.4f} {units.get(k, 'ms')}")
    for c in record["checks"]:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['name']}: {c['detail']}")
    for f in record["failures"]:
        print(f"  FAILURE {f['where']}: {f['error_class']}: {f['message'][:300]}")
    if "tracing_overhead" in record:
        ov, n = record["tracing_overhead"], record["tracing_overhead_base"]
        print(f"  tracing overhead on work_s: " +
              ("n/a (no comparable untraced record)" if ov is None else
               f"{ov * 100:+.1f}% against the median of {n} untraced runs"))
    if "accounting" in record:
        a = record["accounting"]
        print(f"  accounting: {a['what']}, {a['units']} units, worst miss {a['worst_miss'] * 100:.2f}%")
    if "self_ms_by_kind" in record:
        print("  self time by span kind (ms): " +
              ", ".join(f"{k}={v}" for k, v in sorted(record["self_ms_by_kind"].items())))
    if "kept_work_dir" in record:
        print(f"  work dir with the JVM log kept: {record['kept_work_dir']}")
    print(f"  record: {os.path.relpath(path, ROOT)}")


def record_golden(args):
    """Run the catalog twice (two query orders) and keep a fingerprint for
    every query whose hash agrees across both runs and both passes; the
    others fall back to a rows-only check."""
    names = args.queries.split(",")
    classes, _ = build()
    recs = []
    for seed in (1, 2):
        work = os.path.join(build_dir(), "runs", f"golden-{seed}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        order = list(names)
        random.Random(seed).shuffle(order)
        rec, _ = run_jvm(classes, work, nproc(), 0, ["--mode", "catalog", "--data", CATALOG_DATA,
                                                       "--queries", ",".join(order)])
        shutil.rmtree(work, ignore_errors=True)
        if rec.get("failures"):
            raise BenchError(f"golden run failed: {rec['failures']}")
        recs.append(rec)
    queries = {}
    for n in names:
        runs = [q for r in recs for q in r["queries"] if q["name"] == n]
        rows = {q["rows"] for q in runs}
        hashes = {q["hash"] for q in runs}
        if len(rows) != 1:
            raise BenchError(f"{n}: row count differs between runs: {sorted(rows)}")
        queries[n] = {"rows": rows.pop(), "hash": hashes.pop() if len(hashes) == 1 else None}
    with open(GOLDEN, "w") as f:
        json.dump({"data": "sf0.01", "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(queries, indent=1, sort_keys=True))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sabotage", choices=("drop_batch", "sink_error", "throw_entry", "bad_fingerprint"))
    ap.add_argument("--record-golden", dest="queries", help="comma-separated catalog slice")
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args(argv)
    try:
        if args.compare:
            a, b = (json.load(open(p)) for p in args.compare)
            try:
                for k, v in bl.compare(a, b).items():
                    print(f"{k:<24} {v * 100:+.1f}%")
            except bl.IncomparableRecords as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            return 0
        if args.queries:
            record_golden(args)
            return 0
        if not args.workload:
            ap.error("--workload is required")
        return 0 if run_workload(args) else 1
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The engine's benchmark: build, run one workload, check every answer,
print the metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run also registers the
benchmark's listeners and the metrics are the per-layer ones, and the run's
spans and per-operation-type tables are written under perfbench/traces/.

    python3 perfbench/run.py --rebuild-oracle

recomputes the cached DuckDB answers of the serve and curate sets.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
TARGET = os.path.join(HERE, "target")
RUNS = os.path.join(HERE, ".run")
TRACES = os.path.join(HERE, "traces")
RUN_LIMIT_S = 170          # the whole run, build excluded
# A fixed heap: G1 then sizes its young generation within a heap that
# does not grow, so the resident set does not depend on when it grew.
JVM_HEAP = "2g"
WORKLOADS = ["serve", "ingest", "curate"]
INGEST_EMBED_SAMPLE = 40

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt unless the sources are
    unchanged since the last build. Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources not found under " + ENGINE_SRC)
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=%s -Xmx2g" % repos)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false",
                           "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=850)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log("build took %.1f s" % (time.time() - t0))
    return open(cp_file).read().strip()


# ---- one JVM run --------------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(classpath, run_dir, spec, deadline):
    """Start the harness JVM in the run's own working directory with its
    own temp dir, wait for it, and return its record. The JVM is killed
    with its process group if it outlives the deadline."""
    for d in ("work", "tmp", "cwd"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = [java_bin()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP,
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", spec_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"),
                                stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            tail(log_path)
            raise SystemExit("the JVM did not finish in time")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        tail(log_path)
        raise SystemExit("the JVM exited with %d" % proc.returncode)
    with open(os.path.join(spec["work"], "record.json")) as f:
        return json.load(f)


def tail(path, n=40):
    with open(path, errors="replace") as f:
        for line in f.readlines()[-n:]:
            sys.stderr.write(line)


# ---- checks -----------------------------------------------------------------

def check_answers(record, serve_pages):
    """Check every distinct answer of a serve or curate run against DuckDB.
    Returns the set of failed answer ids."""
    orc = oracle.Oracle(DATA)
    failed = set()
    for a in record["answers"]:
        key = a["key"]
        if key in serve_pages:
            sql, cache = oracle.listing_sql(record["web_pages_cte"], serve_pages[key]), False
        else:
            sql, cache = record["oracle_sql"][key], True
        engine = pd.read_parquet(a["dir"])
        why = checks.compare_strict(engine, orc.answer(sql, cache=cache))
        if why is not None:
            log("answer %d of %s failed its check: %s" % (a["id"], key, why))
            failed.add(a["id"])
    return failed


def check_ingest(record, model, seed):
    """Check each round's final corpus against the newest-wins model, and a
    seeded sample of its embeddings against DuckDB. Returns failed rounds."""
    failed = set()
    rng = random.Random("embed-sample-%d" % seed)
    for r in record["rounds"]:
        corpus = pd.read_parquet(r["corpus"])

        def embeds(c):
            idx = sorted(rng.sample(range(len(c)), min(INGEST_EMBED_SAMPLE, len(c))))
            return oracle.embedding_check(record["featurize_sql"], c.iloc[idx])
        problems = checks.check_corpus(corpus, model, embeds)
        if problems:
            log("ingest round %d failed its check: %s" % (r["round"], "; ".join(problems)))
            failed.add(r["round"])
    return failed


def verdict(ops, bad_answers=(), bad_rounds=()):
    """(correct, failed) of a run. An operation fails if it raised, if its
    answer failed its check, or if its round's corpus did; the run is
    correct only if no operation failed."""
    failed = sum(1 for o in ops if o["error"] is not None
                 or o["answer"] in bad_answers or o["round"] in bad_rounds)
    return failed == 0, failed


# ---- metrics ----------------------------------------------------------------

def end_to_end(workload, record, model):
    """The metrics a caller sees. Throughput counts requests (serve), pages
    committed to the corpus (ingest) or jobs (curate) per second; latency
    is a request's, a data trigger's or a job's."""
    lat = [o["latency_ms"] for o in record["ops"]]
    if workload == "ingest":
        drain_s = sum(r["drain_ms"] for r in record["rounds"]) / 1000.0
        throughput = model.committed_per_round * len(record["rounds"]) / drain_s
    else:
        throughput = len(lat) / record["timed_s"]
    m = {
        "setup_s": (record["setup_s"], "s"),
        "peak_rss_mb": (record["peak_rss_kb"] / 1024.0, "MB"),
        "throughput": (throughput, "ops/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def union_ms(spans, lo, hi):
    """Length of the union of (start, end) spans clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


STREAM_PHASES = [("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                 ("query_planning_ms", "queryPlanning"),
                 ("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
                 ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]


def per_layer(record):
    """Per-layer metrics of a traced run, each a mean per timed operation
    unless its unit says otherwise, plus the per-type table and the spans
    the trace file keeps."""
    ops = record["ops"]
    traced = record["trace"]["ops"]
    n = len(ops)
    rows = []
    for o in ops:
        c = traced.get(o["tag"], {})
        spans = [(s, e) for _, s, e in c.get("job_spans", [])]
        wall = o["end_ms"] - o["start_ms"]
        busy = union_ms(spans, o["start_ms"], o["end_ms"])
        rows.append({
            "type": o["kind"],
            "wall_ms": wall,
            "catalyst.analysis_ms": c.get("analysis_ms", 0),
            "catalyst.optimization_ms": c.get("optimization_ms", 0),
            "catalyst.planning_ms": c.get("planning_ms", 0),
            "ops.build_ms": o["build_end_ms"] - o["start_ms"],
            "ops.eager_jobs": sum(1 for s, _ in spans if s < o["build_end_ms"]),
            "exec.jobs": c.get("jobs", 0),
            "exec.stages": c.get("stages", 0),
            "exec.tasks": c.get("tasks", 0),
            "exec.job_ms": sum(e - s for s, e in spans),
            "exec.idle_gap_ms": wall - busy,
            "exec.task_run_ms": c.get("task_run_ms", 0),
            "exec.task_cpu_ms": c.get("task_cpu_ms", 0),
            "exec.input_bytes": c.get("input_bytes", 0),
            "exec.shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
            "exec.shuffle_read_bytes": c.get("shuffle_read_bytes", 0),
            "exec.shuffle_wait_ms": c.get("shuffle_wait_ms", 0),
            "exec.spill_bytes": c.get("spill_bytes", 0),
            "exec.result_rows": o["rows"],
            "materialize.pinned_rdds": o["pinned_rdds"],
            "materialize.pinned_mb": o["pinned_bytes"] / 2 ** 20,
            "exec.output_records": c.get("output_records", 0),
            "exec.output_bytes": c.get("output_bytes", 0),
        })
    mean = lambda k, rs: sum(r[k] for r in rs) / len(rs)  # noqa: E731
    keys = [k for k in rows[0] if k != "type"]
    by_type = {}
    for r in rows:
        by_type.setdefault(r["type"], []).append(r)
    per_type = {t: dict({"ops": len(rs)}, **{k: mean(k, rs) for k in keys})
                for t, rs in sorted(by_type.items())}
    totals = {k: sum(r[k] for r in rows) for k in keys}

    m = {"session.boot_ms": (record["boot_ms"], "ms"),
         "session.warmup_ms": (record["warmup_ms"], "ms")}
    units = {"_ms": "ms/op", "_bytes": "B/op", "_mb": "MB/op"}
    for k in keys:
        if k in ("wall_ms", "exec.output_records", "exec.output_bytes"):
            continue
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count/op")
        m[k] = (mean(k, rows), unit)
    m["exec.busy_ratio"] = (totals["exec.task_run_ms"] /
                            max(1, totals["wall_ms"] * record["cores"]), "ratio")

    # streaming: the listener's progress events of the timed rounds
    run_ids = {r["run_id"] for r in record["rounds"] if "run_id" in r}
    prog = [p for p in record["trace"]["progress"] if p["runId"] in run_ids]
    data = [p for p in prog if p["numInputRows"] > 0]
    for name, phase in STREAM_PHASES:
        vals = [p["durationMs"].get(phase, 0) for p in data]
        m["streaming." + name] = (sum(vals) / len(vals) if vals else 0.0, "ms/trigger")
    m["streaming.triggers"] = (len(prog) / max(1, len(run_ids)) if run_ids else 0.0,
                               "count/round")
    pages = sum(p["numInputRows"] for p in data)
    m["streaming.rows_written_per_page"] = (
        totals["exec.output_records"] / pages if pages else 0.0, "rows/page")
    m["streaming.bytes_written"] = (
        totals["exec.output_bytes"] / len(data) if data else 0.0, "B/trigger")

    m["jvm.jit_ms"] = (record["jit_timed_ms"] / n, "ms/op")
    m["jvm.gc_ms"] = (record["gc_timed_ms"] / n, "ms/op")
    m["jvm.gc_count"] = (record["gc_timed_count"] / n, "count/op")

    spans = []
    for o in ops:
        c = traced.get(o["tag"], {})
        spans.append({"span": o["tag"], "parent": None, "name": o["kind"],
                      "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        if o["build_end_ms"] > o["start_ms"]:
            spans.append({"span": o["tag"] + "/build", "parent": o["tag"],
                          "name": "ops.build", "start_ms": o["start_ms"],
                          "end_ms": o["build_end_ms"]})
        for job, s, e in c.get("job_spans", []):
            spans.append({"span": "%s/job%d" % (o["tag"], job), "parent": o["tag"],
                          "name": "exec.job", "start_ms": s, "end_ms": e})
    return ({k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            per_type, totals, spans)


# ---- main -------------------------------------------------------------------

def rebuild_oracle(classpath):
    """Recompute and cache the DuckDB answer of every serve and curate
    query; stale cache files are removed."""
    run_dir = os.path.join(RUNS, "oracle-%d" % os.getpid())
    try:
        record = run_jvm(classpath, run_dir, {"workload": "sql",
                         "work": os.path.join(run_dir, "work")}, time.time() + 120)
        names = gen.SERVE_QUERIES + gen.CURATE_JOBS
        orc = oracle.Oracle(DATA)
        keep = set()
        for name in names:
            sql = record["oracle_sql"][name]
            path = oracle.cache_path(sql, orc.digest)
            if os.path.exists(path):
                os.remove(path)
            t0 = time.time()
            orc.answer(sql)
            keep.add(path)
            log("%s: %.1f s" % (name, time.time() - t0))
        for f in oracle.cached_files():
            if f not in keep:
                os.remove(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rebuild-oracle", action="store_true")
    args = ap.parse_args()
    if not args.rebuild_oracle and not args.workload:
        ap.error("--workload is required")

    classpath = build()
    if args.rebuild_oracle:
        rebuild_oracle(classpath)
        return
    started = time.time()
    w = args.workload
    run_dir = os.path.join(RUNS, "%s-%d-%d" % (w, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spec = {"workload": w, "data": DATA, "work": os.path.join(run_dir, "work"),
                "seconds": args.seconds, "trace": bool(args.trace),
                "cores": cores()}
        model, pages = None, {}
        if w == "serve":
            spec["serve"] = {"round": gen.serve_round(args.seed),
                             "warmup": gen.serve_warmup()}
            pages = {r["key"]: r["listing"]
                     for r in spec["serve"]["round"] + spec["serve"]["warmup"]
                     if "listing" in r}
        elif w == "curate":
            spec["curate"] = {"jobs": gen.CURATE_JOBS}
        else:
            os.makedirs(os.path.join(run_dir, "inputs"))
            spec["ingest"], backfill, batches = gen.stage_ingest(
                args.seed, os.path.join(run_dir, "inputs"))
            model = checks.IngestModel(backfill, batches)
        record = run_jvm(classpath, run_dir, spec, started + RUN_LIMIT_S)

        ops = record["ops"]
        if w == "ingest":
            correct, failed = verdict(ops, bad_rounds=check_ingest(record, model, args.seed))
        else:
            correct, failed = verdict(ops, bad_answers=check_answers(record, pages))
        if args.trace:
            metrics, per_type, totals, spans = per_layer(record)
            os.makedirs(TRACES, exist_ok=True)
            run_id = "%s-seed%d-%d" % (w, args.seed, record["timed_start_ms"])
            with open(os.path.join(TRACES, run_id + ".json"), "w") as f:
                host = {k: record[k] for k in ("cores", "load_avg", "calib_s",
                                               "jit_warmup_ms", "jit_drain_ms",
                                               "setup_s")}
                json.dump({"run": run_id, "host": host, "metrics": metrics,
                           "per_type": per_type, "totals": totals, "spans": spans},
                          f, indent=1)
        else:
            metrics = end_to_end(w, record, model)
        log("%s: %d operations in %.1f s timed, %d failed; calib %.3f s, load %.2f, "
            "%d cores; JIT drain %d ms after warm-up" % (
                w, len(ops), record["timed_s"], failed, record["calib_s"],
                record["load_avg"], record["cores"], record["jit_drain_ms"]))
        print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

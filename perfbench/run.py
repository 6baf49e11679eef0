#!/usr/bin/env python3
"""Benchmark of the APRS collector's ingest and of the registered queries.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --refresh-twins ...   # recompute DuckDB twin rows

Workloads: ingest_backlog, ingest_live, analytics (see perfbench/README.md).
Builds the program and the JVM runner from source on first use (sbt, in
perfbench/jvm), makes the workload's inputs from --seed, runs one JVM,
checks its outputs against a computation made apart from the program, and
prints one JSON object as the last line of standard output.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import checks  # noqa: E402
import gen_packets  # noqa: E402
import gen_tables  # noqa: E402
import twins  # noqa: E402

CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "4g"
DATA_SEED = 42  # the analytics tables; --seed picks the value-compared queries

# ingest replays: timed lines and files, and the lines of the one warm-up
# file (large enough that the first timed batch runs warm) — see README
# "Inputs"
INGEST = {"ingest_backlog": dict(lines=600_000, files=3, warmup=50_000),
          "ingest_live": dict(lines=2_000 * 6, files=6, warmup=2_000)}
# analytics: the timed sample is sample.txt; this many of it are value-compared
VALUES_PER_RUN = 2

END_TO_END = {"setup_s": "s", "heap_retained_mb": "MB", "suite_s": "s", "op_p50_ms": "ms",
              "items_per_s": "1/s"}


T0 = time.time()


def log(*a):
    print(f"[perfbench {time.time() - T0:6.1f}s]", *a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build --

def _source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), JVM):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(JVM, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources with the runner (once per source tree)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources (src/main/scala) in this checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    classes = os.path.join(JVM, "target", "scala-2.13", "classes")
    digest = _source_hash()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("perfbench: building the program and the runner (sbt compile)")
    # offline resolution, as the repository's test command sets it up
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SBT_OPTS=(opts + " -Dsbt.server.autostart=false").strip())
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=JVM, stdout=out, stderr=subprocess.STDOUT, env=env,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        with open(os.path.join(WORK, "build.log")) as fh:
            log(fh.read()[-4000:])
        sys.exit(f"perfbench: build failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def java(classes, mode, args, work, timeout):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                               "-cp", f"{classes}:{spark_home}/jars/*",
                               "graft.perfbench.Runner", mode]
           + [str(x) for kv in args.items() for x in (f"--{kv[0]}", kv[1])])
    log(f"runner {mode} starts")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    log(f"runner {mode} exited ({rc})")
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            log(fh.read()[-4000:])
        sys.exit(f"perfbench: runner failed ({rc})")
    with open(res) as fh:
        return json.load(fh)


# -------------------------------------------------------------- reductions --

def med(values):
    return statistics.median(values) if values else 0.0


# -------------------------------------------------------------- analytics --

def analytics(a, classes, work):
    # the generator's own hash names the tables, so an edited generator
    # gets fresh tables and fresh cached twin answers
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(WORK, f"tables-sf0.1-{DATA_SEED}-{version}")
    if not os.path.exists(os.path.join(data, ".complete")):
        shutil.rmtree(data, ignore_errors=True)
        gen_tables.generate(data, DATA_SEED)
        open(os.path.join(data, ".complete"), "w").close()
    sample = os.path.join(HERE, "sample.txt")
    if a.queries:  # an ad-hoc list in place of the sample
        sample = os.path.join(work, "queries.txt")
        with open(sample, "w") as fh:
            fh.write("\n".join(a.queries.split(",")) + "\n")
    r = java(classes, "analytics", {
        "work": work, "data": data, "cores": CORES, "seconds": a.seconds,
        "trace": a.trace, "sample": sample, "values": VALUES_PER_RUN, "seed": a.seed,
        "session": a.session}, work, timeout=a.deadline - time.time())

    ops = r["ops"]
    failures = [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in ops if o["error"]]
    failures += [f"artifact {x['name']}: {x['error']}" for x in r["artifacts"] if x["error"]]
    rows = {}
    for o in ops:
        if not o["error"]:
            rows.setdefault(o["name"], []).append(o["rows"])
    twin_rows = twins.row_counts(data, r["oracle"], refresh=a.refresh_twins)
    bad_rows = checks.check_row_counts(rows, twin_rows)
    failures += bad_rows
    bad_names = {m.split(":", 1)[0] for m in bad_rows}
    for name, err in r["value_errors"].items():
        if err:
            failures.append(f"{name}: value dump failed: {err}")
            bad_names.add(name)
            continue
        msgs = twins.compare_values(data, name, r["oracle"].get(name),
                                    os.path.join(work, "values", name))
        failures += msgs
        if msgs:
            bad_names.add(name)
    failed = sum(1 for o in ops if o["error"] or o["name"] in bad_names)

    passes = sorted({o["pass"] for o in ops})
    per_pass = {p: [o for o in ops if o["pass"] == p] for p in passes}
    total = lambda o: o["build_s"] + o["plan_s"] + o["exec_s"]
    suite = med([sum(total(o) for o in per_pass[p]) for p in passes])
    per_query = {}
    for o in ops:
        per_query.setdefault(o["name"], []).append(total(o))
    qt = [med(v) * 1000 for v in per_query.values()]
    result_rows = sum(med(v) for v in rows.values())
    e2e = {"setup_s": r["setup_s"], "heap_retained_mb": r["heap_retained_mb"], "suite_s": suite,
           "op_p50_ms": med(qt), "items_per_s": result_rows / suite if suite else 0.0}

    layer = {"jvm.peak_rss_mb": r["peak_rss_mb"]}
    if a.trace:
        n = max(1, len(passes))
        c = r["counters"]
        layer.update({
            "registry.build_s": sum(o["build_s"] for o in ops) / n,
            "registry.builder_jobs": c.get("builder_jobs", 0.0) / n,
            "catalyst.plan_s": sum(o["plan_s"] for o in ops) / n,
            "exec.run_s": sum(o["exec_s"] for o in ops) / n})
        layer.update(exec_layer(c, n, r["timed_s"]))
        for o in ops:
            k = f"module.{o['module']}_s"
            layer[k] = layer.get(k, 0.0) + total(o) / n
        for x in r["artifacts"]:
            layer[f"artifact.{x['name']}_s"] = x["s"]
    return e2e, layer, len(ops), failed, failures, r


def exec_layer(c, n, timed_s):
    return {"exec.jobs": c.get("jobs", 0.0) / n, "exec.stages": c.get("stages", 0.0) / n,
            "exec.tasks": c.get("tasks", 0.0) / n,
            "exec.task_run_s": c.get("task_run_s", 0.0) / n,
            "exec.task_cpu_s": c.get("task_cpu_s", 0.0) / n,
            "exec.gc_s": c.get("gc_s", 0.0) / n,
            "exec.core_busy_ratio": c.get("task_run_s", 0.0) / (timed_s * CORES),
            "exec.shuffle_write_bytes": c.get("shuffle_write_bytes", 0.0) / n,
            "exec.shuffle_read_bytes": c.get("shuffle_read_bytes", 0.0) / n,
            "exec.spill_bytes": c.get("spill_bytes", 0.0) / n,
            "exec.input_bytes": c.get("input_bytes", 0.0) / n}


# ----------------------------------------------------------------- ingest --

DURATION_PARTS = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                  "latestOffset", "getBatch"]


def ingest(a, classes, work):
    cfg = INGEST[a.workload]
    replay = gen_packets.generate(a.seed, cfg["lines"])
    staging = os.path.join(work, "staging")
    gen_packets.write_files(replay, staging, cfg["files"])
    warm = gen_packets.generate(a.seed, cfg["warmup"], tag="W")
    gen_packets.write_files(warm, os.path.join(work, "warmup"), 1, prefix="warm")
    log(f"replays of {len(replay)} + {len(warm)} lines written")
    r = java(classes, "ingest", {
        "work": work, "staging": staging, "warmup": os.path.join(work, "warmup"),
        "cores": CORES, "seconds": a.seconds, "trace": a.trace},
        work, timeout=a.deadline - time.time())

    rounds, batches = r["rounds"], r["batches"]
    attempted = rounds * cfg["files"]
    failures = [f"collector query failed: {r['error']}"] if r["error"] else []
    failed = attempted - len(batches)
    sink = checks.Sink.read(r["sink"])
    want = pa.concat_tables([checks.expected_rows(replay)] * rounds + [checks.expected_rows(warm)])
    msgs = checks.check_sink(want, sink)
    if msgs:
        failures += msgs
        failed = attempted  # a wrong sink fails every batch that wrote into it

    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    e2e = {"setup_s": r["setup_s"], "heap_retained_mb": r["heap_retained_mb"],
           "suite_s": sum(trig) / 1000.0 / rounds, "op_p50_ms": med(trig),
           "items_per_s": rounds * len(replay) / r["commit_s"]}
    layer = {"jvm.peak_rss_mb": r["peak_rss_mb"]}
    if a.trace:
        warm_trig = [b["duration_ms"].get("triggerExecution", 0) for b in r["warmup"]]
        layer.update(exec_layer(r["counters"], rounds, r["timed_s"]))
        layer.update({
            "streaming.parse_s": r["parse"].get("parse_s", 0.0),
            "streaming.parsed_ratio": r["parse"].get("parsed_ratio", 0.0),
            "batch.first_ms": warm_trig[0] if warm_trig else 0.0,
            "batch.processed_rows_per_s": med([b["processed_rate"] for b in batches]),
            "sink.files_per_batch": len(sink.files) / max(1, len(batches) + len(warm_trig)),
            "sink.bytes_per_pkt": sink.bytes() / max(1, sink.rows.num_rows)})
        for part in DURATION_PARTS:
            layer[f"batch.{part}_ms"] = med([b["duration_ms"].get(part, 0) for b in batches])
    return e2e, layer, attempted, failed, failures, r


# ------------------------------------------------------------------- main --

WORKLOADS = {"ingest_backlog": ingest, "ingest_live": ingest, "analytics": analytics}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # --session and --queries serve the README's session and pricing
    # comparisons; a benchmark run sets neither
    p.add_argument("--session", choices=("bench", "default"), default="bench",
                   help="analytics session settings (default: the bench window's)")
    p.add_argument("--refresh-twins", action="store_true",
                   help="recompute the cached DuckDB twin row counts")
    p.add_argument("--queries", help="analytics: comma-separated names to time "
                   "in place of sample.txt (ad-hoc pricing; not a benchmark run)")
    a = p.parse_args()
    a.deadline = time.time() + 170
    classes = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        e2e, layer, attempted, failed, failures, raw = WORKLOADS[a.workload](a, classes, work)
        for f in failures:
            log("CHECK FAILED:", f)
        log(f"checks done: {attempted} operations, {failed} failed")
        if a.trace:
            names = per_layer_names()
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in names}
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
            with open(stem + ".layers.json", "w") as fh:
                json.dump({"end_to_end": e2e, "per_layer": layer,
                           "builder_work": raw.get("builder_work", [])},
                          fh, indent=1, sort_keys=True)
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload candy_year|ingest_stream \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run it from the root of a checkout of the repository. The first run
builds the engine and the harness from source with sbt (offline) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from `--seed` in this process,
starts one fresh JVM with Spark at `local[<cores>]`, runs the
workload's fixed work (`--seconds` is recorded, not used: every run
does the same work), checks every output against an independent
expectation, and prints one JSON line as the last line of standard
output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see perfbench/README.md); a traced `candy_year` run also runs a
seeded sample of the registered queries and checks each against DuckDB. The full record of the run, stamped
with the machine, the versions, the seed, the input sizes and the
reason for every failed operation, goes to
`.bench_build/records/<workload>-seed<N>-trace<T>.json`.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import candy_data  # noqa: E402
import stream_data  # noqa: E402
import tables_data  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# Input sizes per workload and scale. `full` is what the benchmark
# measures; `tiny` only proves the plumbing (the benchmark's own tests).
SIZES = {
    "candy_year": {"full": {"transactions": 60_000, "days": 365},
                   "tiny": {"transactions": 600, "days": 12}},
    "ingest_stream": {"full": {"corpus_docs": 500, "batches": 3, "batch_docs": 50},
                      "tiny": {"corpus_docs": 50, "batches": 3, "batch_docs": 10}},
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "warm_wall_s": "s", "batch_p50_s": "s",
    "heap_peak_mb": "MB", "ops_ok_ratio": "ratio",
}

CANDY_LAYERS = [
    ("io.read_s", "s"), ("io.read_files", "count"), ("io.read_rows", "count"),
    ("io.sink_s", "s"), ("io.sink_rows", "count"), ("io.sink_bytes", "bytes"),
    ("pipeline.normalize_enrich_s", "s"), ("pipeline.enriched_rows", "count"),
    ("pipeline.allocate_s", "s"), ("pipeline.allocate_lines", "count"),
    ("pipeline.allocate_cancelled", "count"),
    ("pipeline.allocate_shuffle_bytes", "bytes"),
    ("pipeline.allocate_spill_bytes", "bytes"),
    ("pipeline.reports_s", "s"), ("pipeline.reports_build_s", "s"),
    ("pipeline.reports_build_jobs", "count"),
    ("forecast.fit_s", "s"), ("forecast.points", "count"),
    ("candy.uncovered_s", "s"),
]
STREAM_LAYERS = [
    ("stream.index_build_s", "s"), ("stream.batch_pre_settle_s", "s"),
    ("stream.batch_post_settle_s", "s"), ("stream.settle_batch_s", "s"),
    ("stream.add_batch_ms", "ms"), ("stream.planning_ms", "ms"),
    ("stream.jobs_per_batch", "count"), ("stream.settles", "count"),
    ("stream.survivors", "count"), ("stream.bytes_written", "bytes"),
]
COMMON_LAYERS = [
    ("session.create_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.busy_ratio", "ratio"),
    ("trace.overhead_s", "s"),
]
# the query families of `SparkEntry.queries` (a name's prefix)
FAMILIES = ["q", "ev", "p", "dd", "sim", "tx", "ds", "mm", "fc", "dq"]
REGISTRY_LAYERS = [
    (f"registry.{f}.{m}", u) for f in FAMILIES
    for m, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                 ("build_jobs", "count"), ("shuffle_bytes", "bytes"))
] + [("registry.build_s", "s"), ("registry.plan_s", "s"), ("registry.exec_s", "s"),
     ("registry.build_jobs", "count"), ("registry.exec_jobs", "count"),
     ("registry.queries", "count")]
PER_LAYER = dict(CANDY_LAYERS + STREAM_LAYERS + REGISTRY_LAYERS + COMMON_LAYERS)
# queries per family in the sample a traced `candy_year` run makes
SAMPLE_PER_FAMILY = 2

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        with open(top, "rb") as f:
            h.update(top.encode() + f.read())
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in sorted(os.walk(tree)):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                with open(p, "rb") as f:
                    h.update(p.encode() + f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("project", "build.properties"),
                 os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} is missing next to perfbench/")
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]))
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt build failed with code {p.returncode}")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if not lines or "perfbench" not in lines[-1]:
        fail("could not read the classpath from sbt")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-G1UseAdaptiveIHOP",
           "-XX:InitiatingHeapOccupancyPercent=20"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true",
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM ended with {code}")


def cpu_probe_s():
    """Seconds a fixed single-threaded loop takes: a stamp of how fast
    the machine ran, to tell host drift from a change's effect."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    # a comma-separated query list instead of the seeded sample, and a
    # longer time limit: for listing which queries run correctly
    # (query_pool.py), not for measuring
    ap.add_argument("--queries", help=argparse.SUPPRESS)
    ap.add_argument("--deadline", type=float, default=DEADLINE_S, help=argparse.SUPPRESS)
    a = ap.parse_args()
    load_start = os.getloadavg()
    probe_start = cpu_probe_s()

    cp = build()
    t_start = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        measure(a, cp, run_dir, t_start, load_start, probe_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def query_sample(seed):
    """The seeded sample of registered queries a traced `candy_year` run
    makes: SAMPLE_PER_FAMILY queries of every family, drawn from the
    pool that runs correctly on the generated tables, in seeded order."""
    with open(os.path.join(HERE, "query_pool.json")) as f:
        pool = json.load(f)["pool"]
    rng = random.Random(seed)
    names = []
    for fam in FAMILIES:
        names += rng.sample(pool[fam], min(SAMPLE_PER_FAMILY, len(pool[fam])))
    rng.shuffle(names)
    return names


def measure(a, cp, run_dir, t_start, load_start, probe_start):
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    size = SIZES[a.workload][a.scale]
    t_gen = time.time()
    if a.workload == "candy_year":
        inputs = candy_data.generate(data, a.seed, size["transactions"], size["days"])
    else:
        inputs = stream_data.generate(data, a.seed, size["corpus_docs"],
                                      size["batches"], size["batch_docs"])
    extra = []
    queries = a.queries.split(",") if a.queries else \
        query_sample(a.seed) if a.trace and a.workload == "candy_year" else []
    if queries:
        tables = os.path.join(run_dir, "tables")
        inputs["query_tables"] = tables_data.generate(tables, a.seed)
        inputs["queries"] = queries
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.write("\n".join(queries) + "\n")
        extra = ["--queries", os.path.join(run_dir, "queries.txt"), "--tables", tables]
    gen_s = time.time() - t_gen

    result_file = os.path.join(run_dir, "result.json")
    spans_file = os.path.join(run_dir, "spans.json")
    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--result", result_file, "--spans", spans_file,
                 "--cpus", str(cores)] + extra,
            work, a.deadline - (time.time() - t_start))
    with open(result_file) as f:
        res = json.load(f)

    # correctness: every operation's output against the expectation
    failures = {}
    for op in res["ops"]:
        if op["error"]:
            failures[(op["unit"], op["name"])] = op["error"]
    if a.workload == "candy_year":
        expected = candy_data.replay(data)
        for op in res["ops"]:
            if not op["error"] and op["name"].startswith("run_"):
                errs = candy_data.check(os.path.join(work, f"out_{op['unit']}"),
                                        expected)
                if errs:
                    failures[(op["unit"], op["name"])] = "; ".join(errs)[:500]
    else:
        want = stream_data.expected(data)
        for u in sorted({op["unit"] for op in res["ops"]}):
            path = os.path.join(work, f"survivors_{u}.txt")
            got = []
            if os.path.exists(path):
                with open(path) as f:
                    got = [int(x) for x in f.read().split()]
            if got != want:
                why = (f"survivor set differs: {len(set(want) - set(got))} missing, "
                       f"{len(set(got) - set(want))} unexpected")
                for op in res["ops"]:
                    if op["unit"] == u:
                        failures.setdefault((u, op["name"]), why)
    query_ops = [op for op in res["ops"] if op["name"].startswith("query_")]
    if query_ops:
        qdir = os.path.join(work, "queries")
        with open(os.path.join(qdir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        ran = [op["name"][len("query_"):] for op in query_ops if not op["error"]]
        for name, why in tables_data.check(tables, qdir, ran, oracle).items():
            failures[(query_ops[0]["unit"], f"query_{name}")] = why
    attempted = len(res["ops"])
    failed = len(failures)

    units = res["units"]
    ops_s = [op["seconds"] for op in res["ops"] if not op["name"].startswith("query_")]
    if a.workload == "candy_year":
        # the second, identical pipeline run in the same JVM; its "batch"
        # is a whole warm pipeline run
        warm = units[1]["wall_s"]
        batch = warm
    else:
        # the stream after its first batch, which pays query start-up
        warm = units[0]["wall_s"] - ops_s[0]
        batch = median(ops_s)
    values = {
        "setup_s": res["setup_s"],
        "wall_s": units[0]["wall_s"],
        "warm_wall_s": warm,
        "batch_p50_s": batch,
        "heap_peak_mb": res["heap_peak_mb"],
        "ops_ok_ratio": (attempted - failed) / attempted if attempted else 0.0,
    }
    if a.trace:
        # a layer the workload does not use reads 0
        metrics = {k: {"value": res["layers"].get(k) or 0.0, "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale, "inputs": inputs,
        "input_generation_s": gen_s,
        "machine": {"nproc": cores, "loadavg_start": load_start,
                    "loadavg_end": os.getloadavg(),
                    "cpu_probe_s_start": probe_start, "cpu_probe_s_end": cpu_probe_s()},
        "env": res["env"], "end_to_end": values, "layers": res["layers"],
        "facts": res["facts"], "session_create_s": res["session_create_s"],
        "gc_count": res["gc_count"], "units": units,
        "ops": res["ops"],
        "failures": [{"unit": u, "op": n, "reason": r}
                     for (u, n), r in sorted(failures.items())],
    }
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.exists(spans_file):
        shutil.copy(spans_file, os.path.join(
            records, f"{a.workload}-seed{a.seed}-spans.json"))
    for (u, n), r in sorted(failures.items()):
        log(f"failed: unit {u} {n}: {r}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

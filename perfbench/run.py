"""Benchmark of graft's paper pipeline, in two workloads: ``write`` (ESCO
ingest and the corpus curation funnel) and ``read`` (semantic search with
profile expansion, then the analysis catalog, over one 1x warehouse).

Run from the root of a checkout:

    python3 perfbench/run.py --workload <write|read|heavy> \
        --seed N --seconds S --trace <0|1>

It builds the engine and the driver from source (sbt, once per source
state), generates the workload's inputs from the seed (``gen.py``), runs
the driver (``src/Main.scala``) in one JVM, checks the outputs, and prints
one JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``
-- the end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics.  A traced run also leaves a span file under
``.bench_build/perfbench/work/``.  The exit code is 0 only when every
output check passed.

BENCHMARK.json lists ``write`` and ``read``.  ``heavy`` runs the two
catalog verbs ``read`` leaves out, on demand: ``topBetweenness``, which
alone takes a fifth of a read run, and ``skillCommunitiesLouvain``, which
misses its deadline on the 1x warehouse every time.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Per-op deadlines in seconds, by op (the kind up to its first dot): a
# failed op, or one past its deadline, counts as failed and is charged
# its deadline.
DEADLINES = {
    "default": 60,
    "ingest": 60,
    "curate": 60,
    "search": 10,
    "profile": 20,
    "louvain": 30,
}


def deadline(kind):
    return DEADLINES.get(kind.split(".")[0], DEADLINES["default"])


# Workload sizes. The read workload reads one 1x warehouse generated from
# a fixed seed (built once per checkout and engine source); the run's seed
# draws the search session's op mix and the shortest-path case.
ESCO_INGEST_SCALE = 1.0
ESCO_READ_SCALE = 1.0
READ_WAREHOUSE_SEED = 0
CORPUS_DOCS = 10000
CHECK_PER_TYPE = 25
JVM_TIMEOUT_S = 170

# The metrics. End-to-end metrics are measured on every workload; a
# per-layer metric is measured on the workloads named beside it and reads 0
# on the others, where its layer does no such work.
END_TO_END = {
    "setup_s": "s",
    "op_p50_gmean_ms": "ms",
    "ops_per_s": "1/s",
}
EVERY = ("write", "read")
VERBS = ("top_essential_skills", "skill_cooccurrence",
         "occupation_cooccurrence", "transferable_skills", "skill_depths",
         "isco_depths", "shortest_path", "pagerank", "triangles")
PER_LAYER = {
    "session.start_s": ("s", EVERY),
    "session.warm_s": ("s", EVERY),
    "sources.build_s": ("s", ("write",)),
    "sources.save_s": ("s", ("write",)),
    "sources.jobs": ("count", ("write",)),
    "sources.shuffle_write_mb": ("MB", ("write",)),
    "sources.csv_read_ratio": ("ratio", ("write",)),
    "sources.stored_bytes_per_input_byte": ("ratio", ("write",)),
    "sources.load_s": ("s", ("read",)),
    "vector.persist_index_s": ("s", ("write",)),
    "vector.search_p50_ms": ("ms", ("read",)),
    "vector.search_p90_ms": ("ms", ("read",)),
    "vector.search_plan_ms": ("ms", ("read",)),
    "vector.search_exec_ms": ("ms", ("read",)),
    "vector.jobs_per_query": ("count", ("read",)),
    "vector.tasks_per_query": ("count", ("read",)),
    "vector.rows_read_per_hit": ("ratio", ("read",)),
    "functions.hash_embed_ns_per_row": ("ns", ("write", "read")),
    "functions.cosine_ns_per_row": ("ns", ("write", "read")),
    "enrich.translate_s": ("s", ("write",)),
    "curation.build_s": ("s", ("write",)),
    "curation.write_s": ("s", ("write",)),
    "curation.jobs": ("count", ("write",)),
    "curation.shuffle_write_mb": ("MB", ("write",)),
    "curation.spill_mb": ("MB", ("write",)),
    "curation.max_task_s": ("s", ("write",)),
    "profile.search_p50_ms": ("ms", ("read",)),
    "profile.search_p90_ms": ("ms", ("read",)),
    "profile.plan_ms": ("ms", ("read",)),
    "profile.exec_ms": ("ms", ("read",)),
    "profile.jobs_per_query": ("count", ("read",)),
    "profile.shuffle_mb_per_query": ("MB", ("read",)),
    "profile.edge_rows_read_per_anchor": ("ratio", ("read",)),
    "spark.gc_frac": ("ratio", EVERY),
    "spark.task_cpu_frac": ("ratio", EVERY),
    "spark.peak_rss_mb": ("MB", EVERY),
    "trace.overhead_frac": ("ratio", EVERY),
}
for _v in VERBS:
    PER_LAYER["analytics.%s_s" % _v] = ("s", ("read",))
    PER_LAYER["analytics.%s_build_s" % _v] = ("s", ("read",))
    PER_LAYER["analytics.%s_jobs" % _v] = ("count", ("read",))

# Heap and collector of the driver JVM (local mode: it is the executor too).
JAVA_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files.extend(os.path.join(d, f) for f in sorted(fs))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile engine + driver unless the source state ``digest`` is
    already built; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    log("building engine and driver (sbt)")
    t0 = time.time()
    sbt_home = os.path.join(BUILD, "sbt")  # sbt's own state stays in the checkout
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.forcestart=false",
                    "-Dsbt.global.base=" + os.path.join(sbt_home, "global"),
                    "-Dsbt.boot.directory=" + os.path.join(sbt_home, "boot"),
                    "-Dsbt.ivy.home=" + os.path.join(sbt_home, "ivy2"),
                    "writeClasspath"],
                   cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                   check=True, timeout=840)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log("built in %.0f s" % (time.time() - t0))
    with open(cp_file) as c:
        return c.read()


def prune_inputs(keep=8):
    """Keep the generated inputs of the few most recent seeds, and the
    read workloads' warehouse, only."""
    root = os.path.join(BUILD, "data")
    fixed = esco_dir(READ_WAREHOUSE_SEED, ESCO_READ_SCALE)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)
                   if os.path.join(root, d) != fixed),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def gen_digest():
    """Generated inputs are kept per seed and version of ``gen.py``."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def esco_dir(seed, scale):
    return os.path.join(BUILD, "data", "esco-s%s-seed%d-%s" % (scale, seed, gen_digest()))


def esco_inputs(seed, scale):
    out = esco_dir(seed, scale)
    if not os.path.exists(os.path.join(out, "expected.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gen_esco(tmp, seed, scale)
        os.rename(tmp, out)
    os.utime(out)
    with open(os.path.join(out, "expected.json")) as f:
        return out, json.load(f)


def corpus_inputs(seed, docs):
    out = os.path.join(BUILD, "data", "corpus-d%d-seed%d-%s" % (docs, seed, gen_digest()))
    if not os.path.exists(os.path.join(out, "expected.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gen_corpus(tmp, seed, docs)
        os.rename(tmp, out)
    os.utime(out)
    with open(os.path.join(out, "expected.json")) as f:
        return out, json.load(f)


def read_warehouse(classpath, data, work, digest):
    """The warehouse the read workload reads, built by the engine under
    test: rebuilt whenever the sources differ from the ones it was built
    with."""
    wh = os.path.join(data, "warehouse")
    ready = os.path.join(wh, "_READY")
    if os.path.exists(ready):
        with open(ready) as f:
            if f.read() == digest:
                return wh
    shutil.rmtree(wh, ignore_errors=True)
    log("building the read warehouse")
    run_driver(classpath, work, {"workload": "prepare", "seed": READ_WAREHOUSE_SEED,
                                 "seconds": 0, "trace": 0, "work": work,
                                 "deadlines": "default=0", "data": data,
                                 "warehouse": wh}, JVM_TIMEOUT_S)
    with open(ready, "w") as f:
        f.write(digest)
    return wh


def run_driver(classpath, work, opts, timeout):
    """One driver JVM; returns its result document."""
    result_file = os.path.join(work, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = (["java"] + JAVA_FLAGS + [
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "tmp")]
           + [a for p in JAVA_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--out", result_file])
    for k, v in opts.items():
        cmd += ["--" + k, str(v)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("driver exceeded %d s" % timeout)
    if not os.path.exists(result_file):
        raise RuntimeError("driver exited %d without a result" % proc.returncode)
    with open(result_file) as f:
        res = json.load(f)
    if "error" in res:
        raise RuntimeError("driver failed: " + res["error"])
    return res


def select_metrics(workload, trace, metrics):
    """The metrics a run prints: every end-to-end metric, or when traced
    every per-layer metric (0 for those not measured on this workload).
    Returns them and the names this workload should have measured but
    did not."""
    out, missing = {}, []
    if trace:
        for name, (unit, on) in PER_LAYER.items():
            if name in metrics:
                out[name] = {"value": metrics[name]["value"], "unit": unit}
            elif workload not in on:
                out[name] = {"value": 0.0, "unit": unit}
            else:
                missing.append(name)
    else:
        for name, unit in END_TO_END.items():
            if name in metrics:
                out[name] = {"value": metrics[name]["value"], "unit": unit}
            else:
                missing.append(name)
    return out, missing


def compare(name, got, want, checks):
    ok = got == want
    checks.append({"name": name, "ok": ok,
                   "detail": "" if ok else "got %r want %r" % (
                       str(got)[:300], str(want)[:300])})


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True,
                    choices=EVERY + ("heavy",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(ENGINE_SRC):
        log("no engine sources at %s: run from the root of a graft checkout"
            % os.path.relpath(ENGINE_SRC, os.getcwd()))
        return 2
    digest = source_digest()
    classpath = build(digest)
    t_start = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    opts = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": work,
            "deadlines": ",".join("%s=%s" % kv for kv in DEADLINES.items())}
    t_prepare = time.time()
    if a.workload == "write":
        data, expected = esco_inputs(a.seed, ESCO_INGEST_SCALE)
        opts["csv_bytes"] = expected["csv_bytes"]
        corpus, expected_corpus = corpus_inputs(a.seed, CORPUS_DOCS)
        opts["corpus"] = os.path.join(corpus, "docs.jsonl")
    else:
        data, expected = esco_inputs(READ_WAREHOUSE_SEED, ESCO_READ_SCALE)
        opts["warehouse"] = read_warehouse(classpath, data, work, digest)
        path = gen.gen_path(data, a.seed)
        opts["path_from"] = path["from"]
        opts["path_to"] = path["to"]
    if a.workload == "read":
        opts["queries"] = os.path.join(work, "queries.tsv")
        gen.gen_queries(data, opts["queries"], a.seed)
        opts["check_per_type"] = CHECK_PER_TYPE
    opts["data"] = data
    prepare_s = time.time() - t_prepare
    prune_inputs()

    res = run_driver(classpath, work, opts,
                     JVM_TIMEOUT_S - (time.time() - t_start))
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    checks = list(res["checks"])
    obs = res["observed"]
    if a.workload == "write":
        compare("ingest.table_counts", obs.get("counts"), expected["counts"], checks)
        compare("curate.exact_duplicates", obs.get("exact_duplicate_ids"),
                sorted(expected_corpus["exact_duplicate_ids"]), checks)
    elif a.workload == "read":
        for k in ("top_essential_skills", "skill_depths", "isco_depths"):
            compare("analytics." + k, obs.get(k), expected[k], checks)
        compare("analytics.shortest_path", obs.get("shortest_path_length"),
                path["length"], checks)

    metrics = {k: dict(v) for k, v in res["metrics"].items()}
    samples = res["samples"]
    if a.trace:
        metrics.update(stats.overhead(samples, res["trace_samples"]))
        metrics.update(stats.kind_metrics(
            samples, {"search": "vector.search", "profile": "profile.search"}))
    else:
        metrics.update(stats.op_metrics(
            samples, res["kinds"], deadline, res["window_s"],
            res["attempted"] - res["failed"]))
    out, missing = select_metrics(a.workload, a.trace, metrics)
    if missing:
        checks.append({"name": "metrics.present", "ok": False,
                       "detail": "not measured: " + ", ".join(missing)})
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        log("CHECK FAILED %s: %s" % (c["name"], c["detail"]))
    diag = dict(res.get("diagnostics", {}))
    diag["prepare_s"] = prepare_s
    log("diagnostics " + json.dumps(diag, default=str)[:2000])
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({"correct": not failed_checks, "attempted": attempted,
                      "failed": int(res["failed"]), "metrics": out}))
    return 0 if not failed_checks else 1


if __name__ == "__main__":
    sys.exit(main())

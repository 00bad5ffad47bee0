#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

  python3 perfbench/run.py --workload query_mix|llm_curation \
      --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the JVM program in
perfbench/ with sbt (cached by a source hash), generates the seeded inputs
(cached per seed), runs the workload in one JVM for about S seconds, checks
every output against DuckDB or the generator's ground truth, prints a
report and, as the last stdout line, one JSON object:

  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes goes under .bench_work/ in the checkout. The
exit code is non-zero on any failed op or output mismatch.
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
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 160  # the JVM, counted after the build

# workload -> (generator kind, input tables counted as the stated input size)
INPUTS = {
    "query_mix": ("tables", None),
    "llm_curation": ("corpus", ["documents", "embeddings"]),
}
# sink outputs written by builder pipelines (the `builder` layer)
BUILDER_SINKS = {"llm_curation": ["curate"]}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("rows_per_s", "rows/s")]
STEPS = ["lang_filter", "quality_gate", "pii_scrub", "chunk_dedup",
         "dedup_near", "emb_near_dup"]
KERNELS = ["graft_shingles", "graft_shingle_hashes", "graft_lsh_bands",
           "graft_dot", "graft_nfc", "graft_jw", "graft_dl"]
SELF_LAYERS = ["op", "engine", "queries", "exec", "builder", "ops", "functions",
               "streaming"]
PER_LAYER = (
    [("engine.load_s", "s"), ("engine.scan_mb", "MB"),
     ("engine.scan_rows", "count"), ("engine.persisted_rdds", "count"),
     ("queries.build_s", "s"), ("queries.build_jobs", "count"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
     ("plans.planning_s", "s"), ("plans.actions", "count"),
     ("plans.rule_s.DotRewrite", "s"), ("plans.rule_s.LevPrefilter", "s"),
     ("plans.exchanges", "count"),
     ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.queue_s", "s"), ("exec.busy_frac", "ratio"),
     ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
     ("exec.spill_mb", "MB")]
    + [(f"ops.{s}.{m}", u) for s in STEPS for m, u in (("s", "s"), ("keep_frac", "ratio"))]
    + [(f"functions.{k}.rows_per_s", "rows/s") for k in KERNELS]
    + [("builder.parse_s", "s"), ("builder.run_s", "s"), ("builder.sink_s", "s"),
       ("builder.files_written", "count"), ("builder.written_mb", "MB"),
       ("streaming.batches", "count"), ("streaming.input_rows", "count"),
       ("streaming.add_batch_s", "s"), ("streaming.wal_commit_s", "s"),
       ("streaming.query_planning_s", "s"), ("streaming.state_rows", "count"),
       ("streaming.state_mb", "MB"), ("streaming.state_commit_s", "s")]
    + [(f"self_s.{l}", "s") for l in SELF_LAYERS]
    + [("trace.overhead_frac", "ratio")])

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(fs)]
    for p in paths:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + the JVM program once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "build", f"classpath-{stamp[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building with sbt (first run in this checkout)")
    tmp = os.path.join(WORK, "build", "tmp")
    shutil.rmtree(os.path.dirname(cp_file), ignore_errors=True)
    os.makedirs(tmp)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- run

def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file: the JVM would write it under /tmp
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed ({rc})")


# ---------------------------------------------------------------- checks

def parquet_glob(path):
    return f"{path}/**/*.parquet" if os.path.isdir(path) else path


def duck(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{parquet_glob(os.path.join(data_dir, t + '.parquet'))}')")
    return con


def sink_sql(out):
    return f"SELECT * FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"


def check_query_mix(data_dir, checks, run_dir):
    """Reuse the repo's DuckDB oracle compare on the Spark result dumps."""
    verify = os.path.join(run_dir, "verify")
    oracle = {c["op"]: c["sql"] for c in checks if c["mode"] == "oracle"}
    with open(os.path.join(verify, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    names = sorted(c["op"] for c in checks)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        data_dir, verify] + names,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    passed = {l.split()[1] for l in p.stdout.splitlines() if l.startswith("PASS ")}
    bad = {}
    for l in p.stdout.splitlines():
        if l.startswith("FAIL "):
            name, _, why = l[5:].partition(": ")
            bad[name] = why
    for n in names:
        if n not in passed and n not in bad:
            bad[n] = "not checked by tools/oracle_check.py"
    return bad


def check_rows(con, a_sql, b_sql):
    import oracle_check
    acols, arows = oracle_check.fetch(con, a_sql)
    bcols, brows = oracle_check.fetch(con, b_sql)
    if acols != bcols:
        return f"schema: spark={acols} oracle={bcols}"
    if len(arows) != len(brows):
        return f"rowcount: spark={len(arows)} oracle={len(brows)}"
    arows, brows = sorted(arows), sorted(brows)
    for i, (x, y) in enumerate(zip(arows, brows)):
        if x != y:
            return f"row {i}: spark={x} oracle={y}"
    return None


def check_llm(data_dir, checks):
    with open(os.path.join(data_dir, "truth.json")) as f:
        truth = json.load(f)
    con = duck(data_dir, INPUTS["llm_curation"][1])
    bad = {}
    for c in checks:
        try:
            if c["mode"] == "anchors":
                # every emitted hit carries its bucket's anchor so far; the
                # smallest per document is the batch query's anchor
                why = check_rows(con, f"""SELECT doc_id, min(anchor) AS anchor,
                    CAST(CASE WHEN min(anchor) < doc_id THEN 1 ELSE 0 END AS INT) AS is_dup
                    FROM ({sink_sql(c['output'])}) GROUP BY doc_id""", c["sql"])
                if why:
                    bad[c["op"]] = why
            elif c["mode"] == "truth_docs":
                got = {r[0] for r in con.execute(f"SELECT doc_id FROM ({sink_sql(c['output'])})").fetchall()}
                want = set(truth["survivors"])
                if got != want:
                    bad[c["op"]] = (f"{len(want - got)} planted uniques dropped "
                                    f"(e.g. {sorted(want - got)[:5]}), {len(got - want)} planted "
                                    f"duplicates/filtered kept (e.g. {sorted(got - want)[:5]})")
            else:
                got = {tuple(r) for r in con.execute(
                    f"SELECT id_a, id_b FROM ({sink_sql(c['output'])})").fetchall()}
                want = {tuple(p) for p in truth["vec_pairs"]}
                if got != want:
                    bad[c["op"]] = (f"{len(want - got)} planted pairs missed "
                                    f"(e.g. {sorted(want - got)[:3]}), {len(got - want)} unplanted "
                                    f"pairs found (e.g. {sorted(got - want)[:3]})")
        except Exception as e:
            bad[c["op"]] = f"check error: {e}"
    return bad


# ---------------------------------------------------------------- metrics

def p90(xs):
    xs = sorted(xs)
    return xs[max(0, -(-9 * len(xs) // 10) - 1)]


def dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py"))):
        fail("run from a graft checkout: src/, build.sbt and tools/ are missing")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run is active in this checkout", 3)

    cp = build()
    start = time.monotonic()
    kind, tables = INPUTS[a.workload]
    t_gen = time.monotonic()
    data_dir = gen.generate(kind, a.seed, WORK)
    log(f"inputs {data_dir} ready in {time.monotonic() - t_gen:.1f} s")
    with open(os.path.join(data_dir, "manifest.json")) as f:
        manifest = json.load(f)
    tables = tables or sorted(manifest["rows"])
    in_rows = sum(manifest["rows"][t] for t in tables)
    in_bytes = sum(manifest["bytes"][t] for t in tables)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_json = os.path.join(run_dir, "result.json")
    import oracle_check
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_jvm(cp, ["--workload", a.workload, "--data", data_dir, "--work", run_dir,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--cpus", str(cpus), "--out", out_json,
                 "--approx", ",".join(sorted(oracle_check.TOLERANCE))],
            run_dir, start + RUN_TIMEOUT_S)
    with open(out_json) as f:
        res = json.load(f)

    # correctness, outside every timed region
    checks = res["checks"]
    if a.workload == "query_mix":
        bad = check_query_mix(data_dir, checks, run_dir)
    else:
        bad = check_llm(data_dir, checks)

    untraced = [p for p in res["passes"] if not p["traced"] and not p["warmup"]]
    ops = [o for p in res["passes"] for o in p["ops"]]
    errors = {o["name"]: o["error"] for o in ops if o["error"]}
    failed = sum(1 for o in ops if o["error"] or o["name"] in bad)
    per_op = {}
    for p in untraced:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["s"])
    # each op's latency is its median over the measured passes
    lat = [statistics.median(v) for v in per_op.values()]
    wall = statistics.median(p["wall_s"] for p in untraced)
    written = {n: dir_stats(os.path.join(run_dir, "sinks", n))
               for n in sorted(os.listdir(os.path.join(run_dir, "sinks")))} \
        if os.path.isdir(os.path.join(run_dir, "sinks")) else {}
    e2e = {
        "setup_s": statistics.median(res["setups_s"]),
        "wall_s": wall,
        "op_p50_s": statistics.median(lat),
        "rows_per_s": in_rows / wall,
    }
    report = dict(e2e)
    report["op_p90_s"] = p90(lat)
    report["write_amp"] = sum(b for _, b in written.values()) / in_bytes
    report["cached_mb"] = statistics.median(p["cached_mb"] for p in untraced)
    report["failed_frac"] = failed / len(ops)
    units = dict(END_TO_END, op_p90_s="s", write_amp="ratio", cached_mb="MB",
                 failed_frac="ratio")

    print(f"workload {a.workload}  seed {a.seed}  measured passes {len(untraced)} "
          f"(+1 warm-up)  ops {len(lat)} x {len(untraced)}  "
          f"input {in_rows} rows / {in_bytes / 1e6:.1f} MB")
    for k, v in report.items():
        print(f"  {k:<12} {v:14.6g} {units[k]}")
    for name in sorted(set(errors) | set(bad)):
        print(f"  FAILED {name}: {errors.get(name) or bad[name]}")

    if a.trace:
        layers = res["layers"]
        n = len(layers)
        m = {k: sum(l.get(k, 0.0) for l in layers) / n for k, _ in PER_LAYER}
        for k, _ in PER_LAYER:
            if k.startswith(("ops.", "functions.")):
                m[k] = layers[0].get(k, 0.0)
        files = [written[s] for s in BUILDER_SINKS.get(a.workload, []) if s in written]
        m["builder.files_written"] = sum(f for f, _ in files)
        m["builder.written_mb"] = sum(b for _, b in files) / 1e6
        # each traced pass against the untraced pass after it: the JVM only
        # warms up over a run, so pass order biases this towards overstating
        # the listeners' cost, never towards hiding it
        walls = [p["wall_s"] for p in res["passes"]]
        m["trace.overhead_frac"] = statistics.median(
            walls[i] / walls[i + 1] - 1
            for i, p in enumerate(res["passes"]) if p["traced"])
        print(f"traced passes {n}; per-layer metrics per traced pass:")
        for k, u in PER_LAYER:
            print(f"  {k:<34} {m[k]:14.6g} {u}")
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    correct = not bad and not errors
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

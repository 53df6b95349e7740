#!/usr/bin/env python3
"""Layered benchmark of the post-GWAS engine.

    python3 perfbench/run.py --workload {chain,query_mix,scale} --seed N \
        --seconds S --trace {0,1}

Run from the root of the repository. Builds the engine together with the
benchmark's JVM code (perfbench/build.sbt) when the sources changed, writes the
workload's seeded inputs under perfbench/.work/, runs one JVM (one client,
closed loop, local[N] with N <= 4 cores), checks the outputs and prints one
JSON line last: end-to-end metrics with --trace 0, per-layer metrics from the
benchmark's own spans and Spark listeners with --trace 1. The effective
configuration is printed on the line before it.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165

# workload -> (base scale of the seeded tables, clone factor)
SIZES = {"chain": (0.002, 1), "query_mix": (0.001, 1), "scale": (0.01, 3)}
# workload -> nominal warm pass time (s) on 4 cores; a run times
# max(1, ceil(seconds / nominal)) passes, a count that does not depend on
# how fast this particular run goes
NOMINAL_PASS_S = {"chain": 12.0, "query_mix": 7.5, "scale": 25.0}

STEPS = ("window_based_clumping", "ld_annotation", "susie_credible_sets",
         "colocalisation", "l2g_feature_matrix", "l2g_train", "l2g_score")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    trees = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        files += sorted(glob.glob(os.path.join(t, "**", "*.scala"),
                                  recursive=True))
    return files


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": cp}, fh)
    return cp


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload JVM timed out; log in {log}")
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM exited with {p.returncode}")


# ---------------------------------------------------------------- checks

def oracle_diff(con, out_dir, sql):
    """None when the engine's output equals the DuckDB oracle's as an
    unordered multiset of rows (columns matched by name), else how they
    differ."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {sql.strip().rstrip(';')}")
    if not files:
        n = con.execute("SELECT count(*) FROM want").fetchone()[0]
        return None if n == 0 else f"engine wrote no rows, oracle has {n}"
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet({files!r})")
    cols = [sorted(d[0] for d in con.execute(f"SELECT * FROM {v} LIMIT 0").description)
            for v in ("got", "want")]
    if cols[0] != cols[1]:
        return f"columns {cols[0]} != {cols[1]}"
    q = ", ".join('"' + c.replace('"', '""') + '"' for c in cols[0])
    extra, missing, n_got, n_want = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {q} FROM got EXCEPT ALL SELECT {q} FROM want)),"
        f" (SELECT count(*) FROM (SELECT {q} FROM want EXCEPT ALL SELECT {q} FROM got)),"
        " (SELECT count(*) FROM got), (SELECT count(*) FROM want)").fetchone()
    if extra or missing:
        return (f"{extra} of {n_got} engine rows not in the oracle, "
                f"{missing} of {n_want} oracle rows missing")
    return None


def check_queries(rec, data_dir):
    """Oracle and row-count checks of a query workload; returns the list
    of failed checks."""
    import duckdb
    failures = []
    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = (f"read_parquet('{path}/*.parquet')" if os.path.isdir(path)
               else f"read_parquet('{path}')")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    warm_rows = {o["name"]: o["rows"] for o in rec["warmup_ops"]}
    for o in rec["warmup_ops"]:
        if o["error"]:
            failures.append(f"{o['name']}: warm-up failed: {o['error']}")
    for p in rec["passes"]:
        for o in p["ops"]:
            if not o["error"] and o["rows"] != warm_rows.get(o["name"]):
                o["error"] = (f"noop consumed {o['rows']} rows, the query "
                              f"has {warm_rows.get(o['name'])}")
    for name, path in sorted(rec["outputs"].items()):
        sql = rec["oracles"].get(name)
        if sql is None:
            if warm_rows.get(name, 0) <= 0:
                failures.append(f"{name}: no rows")
            continue
        try:
            d = oracle_diff(con, path, sql)
        except Exception as e:  # noqa: BLE001
            d = f"{type(e).__name__}: {str(e)[:200]}"
        if d:
            failures.append(f"{name}: oracle mismatch: {d}")
    return failures


def parquet_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def check_chain(rec):
    """The chain's sanity rules, on the last timed pass's outputs."""
    import pyarrow.parquet as pq
    import pyarrow.compute as pc
    work = rec["outputs"]["chain"]
    failures = []
    n_scores = parquet_rows(os.path.join(work, "l2g_scores"))
    n_matrix = parquet_rows(os.path.join(work, "l2g_matrix"))
    if n_scores == 0 or n_scores != n_matrix:
        failures.append(f"score rows {n_scores} != matrix rows {n_matrix}")
    else:
        t = pq.read_table(os.path.join(work, "l2g_scores"),
                          columns=["geneId", "score"])
        near = pc.starts_with(t["geneId"], "gn_")
        m_near = pc.mean(pc.filter(t["score"], near)).as_py()
        m_far = pc.mean(pc.filter(t["score"], pc.invert(near))).as_py()
        if not (m_near is not None and m_far is not None and m_near > m_far):
            failures.append(f"near-gene mean score {m_near} !> far {m_far}")
    for o in rec["passes"][-1]["ops"]:
        if o["kind"] == "step" and not o["error"] and o["rows"] <= 0:
            failures.append(f"{o['name']}: wrote no rows")
    return failures


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 3e-14:
            break
    return h


def ibeta(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
           + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted mean of
    all order statistics, far less jumpy on a few dozen samples than one
    order statistic."""
    xs = sorted(xs)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    w = [ibeta(a, b, i / n) for i in range(n + 1)]
    return sum((w[i + 1] - w[i]) * x for i, x in enumerate(xs))


def end_to_end(rec, attempted, failed):
    passes = rec["passes"]
    by_op = {}
    for p in passes:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o["s"])
    lat = [median(v) for v in by_op.values()]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "ok_rate": (attempted - failed) / attempted,
    }


def dir_files(path):
    return sum(len([f for f in fs if not f.startswith((".", "_"))])
               for _, _, fs in os.walk(path))


def pass_layers(p, cores):
    """Per-layer metrics of one traced pass."""
    spans_by_id = {s["id"]: s for s in p["spans"]}
    ex = {f: 0.0 for f in ("tasks", "tasks_failed", "run_s", "cpu_s", "gc_s",
                           "shuffle_write_b", "shuffle_read_b", "fetch_wait_s",
                           "spill_b", "records_read", "records_written",
                           "bytes_written", "scheduler_delay_s", "stages",
                           "stages_retried")}
    for v in p["exec"].values():
        for f in ex:
            ex[f] += v.get(f, 0.0)
    root = next(s for s in p["spans"] if s["kind"] == "pass")
    jobs = [(j["start"], j["end"]) for j in p["jobs"]
            if j["span"] in spans_by_id]
    exec_s = spans.covered(root["start"], root["end"], jobs) / 1e3
    phase_s = {ph: 0.0 for ph in ("analysis", "optimization", "planning")}
    for ph in p["phases"]:
        if ph["phase"] in phase_s and root["start"] <= ph["start"] <= root["end"]:
            phase_s[ph["phase"]] += (ph["end"] - ph["start"]) / 1e3
    by_kind = {}
    for s in p["spans"]:
        by_kind.setdefault(s["kind"], []).append(s)
    dur = lambda kind: sum(s["end"] - s["start"] for s in by_kind.get(kind, [])) / 1e3  # noqa: E731
    build_ids = {s["id"] for s in by_kind.get("build", [])}
    ops = p["ops"]
    rows_out = sum(o["rows"] for o in ops)
    m = {
        "chain.glue_s": dur("glue"),
        "queries.build_s": dur("build"),
        "queries.build_jobs": sum(1 for j in p["jobs"] if j["span"] in build_ids),
        "cache.mem_mb": max([o["cache_mem_mb"] for o in ops] or [0.0]),
        "cache.disk_mb": max([o["cache_disk_mb"] for o in ops] or [0.0]),
        "cache.residual_mb": max([o["cache_residual_mb"] for o in ops] or [0.0]),
        "sql.analysis_s": phase_s["analysis"],
        "sql.optimizer_s": phase_s["optimization"],
        "sql.planning_s": phase_s["planning"],
        "codegen.compiles": p["codegen_compiles"],
        "codegen.compile_s": p["codegen_s"],
        "exec.s": exec_s,
        "exec.jobs": len(jobs),
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.executor_cpu_s": ex["cpu_s"],
        "exec.busy_frac": ex["run_s"] / (exec_s * cores) if exec_s else 0.0,
        "exec.gc_s": ex["gc_s"],
        "exec.shuffle_write_mb": ex["shuffle_write_b"] / 1e6,
        "exec.shuffle_read_mb": ex["shuffle_read_b"] / 1e6,
        "exec.fetch_wait_s": ex["fetch_wait_s"],
        "exec.scheduler_delay_s": ex["scheduler_delay_s"],
        "exec.spill_mb": ex["spill_b"] / 1e6,
        "exec.rows_examined_per_row_out":
            ex["records_read"] / rows_out if rows_out else 0.0,
        "exec.tasks_failed": ex["tasks_failed"],
        "exec.stages_retried": ex["stages_retried"],
        "write.mb": ex["bytes_written"] / 1e6,
        "write.bytes_per_row": (ex["bytes_written"] / ex["records_written"]
                                if ex["records_written"] else 0.0),
        "jvm.gc_s": p["jvm_gc_s"],
        "jvm.jit_s": p["jvm_jit_s"],
        "traced.wall_s": p["wall_s"],
    }
    for step in STEPS:
        o = [o for o in ops if o["kind"] == "step" and o["name"] == step]
        m[f"steps.{step}.s"] = o[0]["s"] if o else 0.0
        m[f"steps.{step}.rows_out"] = o[0]["rows"] if o else 0
    for layer, v in spans.layer_self_seconds(p).items():
        m[f"self.{layer}_s"] = v
    return m


def per_layer(rec, workload, cores):
    per_pass = [pass_layers(p, cores) for p in rec["passes"]]
    m = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    m["write.files"] = 0
    m["finemap.loci_in"] = m["finemap.credsets_out"] = 0
    m["finemap.credsets_per_locus"] = 0.0
    if workload == "chain":
        import pyarrow.parquet as pq
        work = rec["outputs"]["chain"]
        m["write.files"] = dir_files(work)
        loci = pq.read_table(os.path.join(work, "finemap_loci"),
                             columns=["locusId"])["locusId"]
        m["finemap.loci_in"] = len(set(loci.to_pylist()))
        m["finemap.credsets_out"] = parquet_rows(os.path.join(work, "susie_credsets"))
        if m["finemap.loci_in"]:
            m["finemap.credsets_per_locus"] = (m["finemap.credsets_out"]
                                               / m["finemap.loci_in"])
    return m


def spec():
    """Metric names and units, as BENCHMARK.json declares them."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"{path} not found")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    declared = spec()
    cp = build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    scale, clone = SIZES[a.workload]
    gen.write(data, a.seed, scale)
    out = os.path.join(work, "record.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--passes", str(max(1, math.ceil(a.seconds / NOMINAL_PASS_S[a.workload]))),
                 "--trace", str(a.trace),
                 "--cores", str(CORES), "--clone", str(clone),
                 "--data", data, "--work", work, "--out", out], work)
    with open(out) as fh:
        rec = json.load(fh)

    if a.workload == "chain":
        failures = check_chain(rec)
    else:
        checked = os.path.join(work, "scaled") if a.workload == "scale" else data
        failures = check_queries(rec, checked)
    ops = [o for p in rec["passes"] for o in p["ops"]]
    op_failures = [f"{o['name']}: {o['error']}" for o in ops if o["error"]]
    attempted = len(ops) + len(rec["outputs"])
    failed = len(op_failures) + len(failures)
    for f in (op_failures + failures)[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    if a.trace:
        values, names = per_layer(rec, a.workload, CORES), declared["per_layer"]
    else:
        values, names = end_to_end(rec, attempted, failed), declared["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in names}
    cfg = dict(rec["config"], passes=len(rec["passes"]), timed_ops=len(ops),
               base_scale=scale)
    print(json.dumps({"config": cfg}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

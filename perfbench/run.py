#!/usr/bin/env python3
"""Benchmark of the ETL/ELT engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the harness (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from --seed into a
temporary directory under .perfbench/, runs the workload's closed loop on one
client thread against a local[nproc] Spark session for about --seconds
seconds, checks every output, deletes the temporary directory and prints one
JSON object as its last line. --trace 0 reports the end-to-end metrics;
--trace 1 runs the loop untraced and traced, half the time each, and reports
the per-layer metrics (spans go to .perfbench/traces/).

Workloads: etl_elt_dag, store_lifecycle, query_mix (see perfbench/METRICS.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
JAR = os.path.join(HERE, "target", "perfbench.jar")
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("etl_elt_dag", "store_lifecycle", "query_mix")
SETUP_REPS = 3
WINE_ROWS = 100_000
STORE_ROWS = 300_000
STORE_CYCLES = 6
QUERY_SF = 0.05
# RunConfig seed of the DAG runs: selects the ML candidate subset
# (WinePipelines.chooseCandidates), fixed so every input seed trains the
# same models; 104 picks linear_poly2 alone (an ML day then costs about
# 1.5 report days; the subset of the default seed, with a GBT, costs 5)
ML_CONFIG_SEED = 104
# median CPU seconds of one calibration sample (Main.scala's Calibration:
# the kernel on 4 threads) on the quiet 4-cpu machine the benchmark was
# written on; the gated CPU times are put at this speed
CALIB_REF_S = 0.25
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar", "java.management/sun.management"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Package engine + harness into target/perfbench.jar, then record a
    class-data-sharing archive of the classes a short training run loads
    (each workload's warm-up on small inputs), so that every later run
    starts its JVM from the archive."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building engine + harness (sbt package)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    log("recording the class-data-sharing archive")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    tmp = os.path.join(STATE, f"train-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        plan = {"workload": "train", "seed": 0, "cpus": cpus(), "setup_reps": 1}
        for w in WORKLOADS:
            plan.update(inputs(w, 0, tmp, small=True))
        with open(os.path.join(tmp, "plan.json"), "w") as f:
            json.dump(plan, f)
        run_jvm("train", tmp, 0, 0, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest)


# --------------------------------------------------------------------------
# inputs

def cpus():
    return len(os.sched_getaffinity(0))


def inputs(workload, seed, tmp, small=False):
    """Write the workload's inputs into `tmp`; returns its part of the plan.
    `small` makes the tiny inputs of the training run."""
    if workload == "etl_elt_dag":
        return {"wine": gen.wine(seed, 5_000 if small else WINE_ROWS,
                                 os.path.join(tmp, "wine.csv")),
                "ml_config_seed": ML_CONFIG_SEED}
    if workload == "store_lifecycle":
        rows = 20_000 if small else STORE_ROWS
        ops = gen.lifecycle(seed, rows, 1 if small else STORE_CYCLES, tmp)
        return {"store": {"ops": ops, "cycle_len": len(gen.CYCLE), "rows": rows}}
    os.makedirs(os.path.join(tmp, "tables"))
    gen.tables(seed, 0.01 if small else QUERY_SF, os.path.join(tmp, "tables"))
    return {"query": query_sample(seed)}


def make_inputs(workload, seed, tmp):
    """Write the workload's inputs and plan.json; returns the plan."""
    plan = {"workload": workload, "seed": seed, "cpus": cpus(),
            "setup_reps": SETUP_REPS}
    plan.update(inputs(workload, seed, tmp))
    with open(os.path.join(tmp, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan


def query_sample(seed):
    """The query sample and its seeded run order. The pool (queries up to
    `max_cost_s`, with an oracle up to `max_oracle_s`) is sorted by
    measured cost and `sample_size` queries are taken at evenly spaced cost
    quantiles; the two dedup-cluster queries with the unexplained tail are
    always in. The sample is the same for every seed (a seeded choice of
    queries made the figures of different seeds incomparable); the seed
    sets the tables' contents and the order the queries run in."""
    import random
    with open(os.path.join(HERE, "query_pool.json")) as f:
        pool = json.load(f)
    qs = pool["queries"]
    order = sorted((n for n, q in qs.items()
                    if n not in pool["always"] and q["cost_s"] <= pool["max_cost_s"]
                    and (q["oracle_s"] or 0) <= pool["max_oracle_s"]),
                   key=lambda n: (qs[n]["cost_s"], n))
    k = pool["sample_size"]
    sample = list(pool["always"]) + [order[int((i + 0.5) * len(order) / k)]
                                     for i in range(k)]
    random.Random(seed).shuffle(sample)
    return {"sample": sample,
            "family": {n: q["family"] for n, q in qs.items()}}


# --------------------------------------------------------------------------
# metrics

def tail(xs):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, n); with fewer than 11 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    k = n - 11                     # 10 samples above index k
    return s[k], round(100.0 * (k + 1) / n, 1), n


def timing(xs):
    if not xs:
        return None
    v, pct, n = tail(xs)
    return {"p50": statistics.median(xs), "tail": v, "tail_pct": pct, "n": n}


def speed_factor(res):
    """The run's CPU times are multiplied by this to put them at the
    reference machine speed: `CALIB_REF_S` over the median calibration
    sample of the run (see `Calibration` in Main.scala)."""
    return CALIB_REF_S / statistics.median(res["calib_s"])


def end_to_end(res):
    """The gated metrics. Times are CPU seconds of the JVM's application
    threads, which other tenants of a shared machine do not inflate the way
    they inflate wall time, and which leave out the JIT compiler's
    background work, put at the reference machine speed by the run's
    calibration; wall-clock, whole-process and unscaled CPU figures go to
    the detail line. `setup_s` is the median of the repeated program
    set-up. `op_cpu_s` is a geometric mean: a workload's ops differ in cost
    by 10x, and the median of a dozen such values jumps between neighbours
    from run to run."""
    ops = res["ops"]
    f = speed_factor(res)
    cpu = [o["cpu_s"] * f for o in ops]
    return {
        "setup_s": (statistics.median(res["setup_rep_cpu_s"]) * f, "s"),
        "op_cpu_s": (statistics.geometric_mean(cpu), "s"),
        "ops_per_cpu_s": (len(ops) / sum(cpu), "1/s"),
        "peak_heap_mb": (res["heap_mb"], "MB"),
    }


def workload_detail(workload, res):
    """The workload's own end-to-end figures, each with its sample count."""
    ops = res["ops"]
    by = lambda pred: [o["s"] for o in ops if pred(o["kind"])]
    wall = {"ops_per_s": len(ops) / sum(o["s"] for o in ops),
            "op_s": timing(by(lambda k: True)),
            "cpu_s": timing([o["cpu_s"] for o in ops]),
            "proc_cpu_s": timing([o["proc_cpu_s"] for o in ops])}
    if workload == "etl_elt_dag":
        return dict(wall, dag_report_run_s=timing(by(lambda k: k.startswith("report"))),
                    dag_ml_run_s=timing(by(lambda k: k.startswith("ml"))))
    if workload == "store_lifecycle":
        writes = set(gen.WRITES)
        return dict(wall, commit_s=timing(by(lambda k: k in writes)),
                    read_s=timing(by(lambda k: k not in writes)),
                    space_amp=res["facts"].get("space_amp"))
    return dict(wall, query_s=timing(by(lambda k: True)))


# --------------------------------------------------------------------------
# oracle comparison (the rules of scripts/check.py)

def norm(v):
    import math
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def oracle_check(tmp):
    import duckdb
    out = os.path.join(tmp, "query_out")
    tables = os.path.join(tmp, "tables")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    errors = []
    for d in sorted(glob.glob(os.path.join(out, "*/"))):
        name = os.path.basename(d.rstrip("/"))
        shape = con.sql(f"DESCRIBE SELECT * FROM '{d}/*.parquet'").fetchall()
        bad = [(c, t) for c, t, *_ in shape
               if "[]" in t or "STRUCT" in t or "MAP" in t or "DECIMAL" in t]
        if bad:
            errors.append(f"{name}: unhashable output columns {bad}")
            continue
        if name not in oracle:
            continue
        got = con.sql(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
        exp = con.sql(oracle[name]).fetchdf()
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            errors.append(f"{name}: columns {gc} vs oracle {ec}")
        elif len(got) != len(exp):
            errors.append(f"{name}: rows {len(got)} vs oracle {len(exp)}")
        else:
            g = sorted(tuple(norm(v) for v in r) for r in got[gc].itertuples(index=False))
            e = sorted(tuple(norm(v) for v in r) for r in exp[ec].itertuples(index=False))
            if g != e:
                errors.append(f"{name}: values differ from the oracle, first "
                              f"{[(a, b) for a, b in zip(g, e) if a != b][:2]}")
    con.close()
    return errors


# --------------------------------------------------------------------------

def run_jvm(workload, tmp, seconds, trace, extra=()):
    work = os.path.join(tmp, "work")
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    out = os.path.join(tmp, "result.json")
    cds = list(extra) or ([f"-XX:SharedArchiveFile={ARCHIVE}"]
                          if os.path.exists(ARCHIVE) else [])
    cmd = (["java"] + cds +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # compiler threads that end would take their CPU time out of
           # the internal threads' total (Main.appCpuNs)
           ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={jtmp}",
            f"-Dderby.system.home={work}",
            "-cp", f"{JAR}:{SPARK_JARS}/*", "perfbench.Main",
            workload, tmp, str(seconds), str(trace), out])
    with open(os.path.join(tmp, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the harness did not finish within 150 s")
    if not os.path.exists(out):
        sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-4000:])
        fail(f"the harness exited with {proc.returncode} and wrote no result")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from the root of a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    os.makedirs(STATE, exist_ok=True)
    build()
    tmp = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        t0 = time.perf_counter()
        plan = make_inputs(a.workload, a.seed, tmp)
        gen_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        res = run_jvm(a.workload, tmp, a.seconds, a.trace)
        jvm_s = time.perf_counter() - t1
        # failures outside the ops (warm-up, harness, oracle) count as
        # failed ops too
        errors = list(res["failures"])
        if not res.get("ops"):
            fail("the harness ran no op: " + "; ".join(errors)[:2000])
        t2 = time.perf_counter()
        if a.workload == "query_mix" and os.path.isdir(os.path.join(tmp, "query_out")):
            errors += [f"oracle: {e}" for e in oracle_check(tmp)]
        check_s = time.perf_counter() - t2
        attempted = len(res["ops"])
        op_errors = [f"{o['kind']}: {e}" for o in res["ops"] for e in o["errors"]]
        failed = min(attempted, sum(1 for o in res["ops"] if o["errors"]) + len(errors))
        errors += op_errors
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "failed_frac": failed / attempted,
                  "setup": {"gen_s": gen_s, "session_s": res["session_s"],
                            "setup_rep_s": res["setup_rep_s"],
                            "setup_rep_cpu_s": res["setup_rep_cpu_s"],
                            "warmup_s": res["warmup_s"]},
                  "wall": {"jvm_s": jvm_s, "oracle_s": check_s},
                  "workload_metrics": workload_detail(a.workload, res),
                  "ops": [[o["kind"], round(o["s"], 4), round(o["cpu_s"], 4),
                           round(o["proc_cpu_s"], 4)] for o in res["ops"]],
                  "calibration": {"median_s": statistics.median(res["calib_s"]),
                                  "speed_factor": speed_factor(res),
                                  "samples_s": res["calib_s"]},
                  "facts": res.get("facts", {}),
                  "leaked_rdds": res.get("leaked_rdds"),
                  "errors": errors[:20]}
        if a.workload == "query_mix":
            detail["sample"] = plan["query"]["sample"]
        if a.trace:
            # every declared per-layer metric; a layer this workload
            # bypasses reports 0
            got = res.get("layers", {})
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                                       "unit": m["unit"]}
                           for m in json.load(f)["per_layer"]}
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(tmp, "spans.json"), os.path.join(
                STATE, "traces", f"{a.workload}-seed{a.seed}.json"))
            detail["self_s_by_layer"] = res.get("self_s_by_layer")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res).items()}
        for e in errors[:20]:
            log(f"check failed: {e}")
        print(json.dumps(detail))
        print(json.dumps({"correct": not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

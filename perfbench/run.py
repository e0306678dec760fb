#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck            # every workload, tiny inputs
    python3 perfbench/run.py --record-fingerprints  # rewrite fingerprints.json

Run from the repository root. The first run builds the program and the
harness from source into .bench_build/ (sbt, offline); later runs reuse the
build while no source file changed. Each run generates its inputs from the
seed, starts one JVM that runs the workload from a single client thread on
a local session with one core per CPU, checks the outputs, and prints one
JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see README.md). The full result of every run, with input
row counts, fingerprints and errors, is kept under .bench_build/artifacts/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
WORKLOADS = ["workflow_dyadic", "pipelines_scaled", "lakehouse_sf0.1", "operators_sf0.1"]
GENERATED = {"workflow_dyadic", "pipelines_scaled"}
RUN_LIMIT_S = 180.0  # a run (after the build) must end inside 180 s
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SETUP_REPS = 3  # set-up repetitions per run; the median is reported


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    for base in SOURCES + [os.path.join(HERE, "build.sbt")]:
        if os.path.isfile(base):
            st = os.stat(base)
            h.update(f"{base}:{st.st_size}:{st.st_mtime_ns}".encode())
            continue
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                h.update(f"{d}/{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] program sources not found under src/main/scala; "
                         "run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, main_class, args, work, limit, extra=()):
    """Run one harness JVM with every file it writes kept under work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx4g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           *extra,
           "-cp", cp, main_class, *map(str, args)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{main_class} {args[0]}: JVM exceeded {limit:.0f} s and was stopped")
        return -1


# ---- correctness ----------------------------------------------------------

def _norm(v):
    import decimal
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def oracle_failures(result, data, out_dir):
    """Compare each catalog op's first-pass output with its DuckDB oracle,
    as the catalog's oracle gate does: columns by name, values exactly, rows
    in written order (both sides are totally ordered)."""
    import duckdb
    import pyarrow.dataset as ds
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    fails = []
    ops = sorted({o["op"] for o in result["ops"]})
    for op in ops:
        sql = result["oracle_sql"].get(op)
        if sql is None:
            fails.append(f"{op}: no oracle")
            continue
        try:
            got = ds.dataset(os.path.join(out_dir, op)).to_table()
        except Exception as e:  # no output written: the op failed upstream
            fails.append(f"{op}: no output ({str(e)[:80]})")
            continue
        want = con.execute(sql).fetch_arrow_table()
        gc, wc = sorted(got.column_names), sorted(want.column_names)
        if gc != wc:
            fails.append(f"{op}: columns {gc} != oracle {wc}")
            continue
        g = [tuple(_norm(got.column(c)[i].as_py()) for c in gc) for i in range(got.num_rows)]
        w = [tuple(_norm(want.column(c)[i].as_py()) for c in wc) for i in range(want.num_rows)]
        if g != w:
            fails.append(f"{op}: {len(g)} rows differ from oracle's {len(w)}")
    return fails


def fingerprint_failures(result, size):
    path = os.path.join(HERE, "fingerprints.json")
    recorded = json.load(open(path)) if os.path.isfile(path) else {}
    want = recorded.get(result["workload"], {}).get(size, {}).get(str(result["variant"]))
    if want is None:
        return [f"no recorded fingerprints for variant {result['variant']}"]
    got = result["fingerprints"]
    return [f"{op}: fingerprint {got.get(op)} != recorded {fp}"
            for op, fp in sorted(want.items()) if got.get(op) != fp]


# ---- one run --------------------------------------------------------------

def run(workload, seed, seconds, trace, size="full", reps=SETUP_REPS):
    t_start = time.time()
    cp = build()
    t_built = time.time()
    name = f"{workload}-{size}-seed{seed}-trace{trace}"
    work = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, gen_s, tables = work, 0.0, {}
        if workload not in GENERATED:
            sys.path.insert(0, HERE)
            import tables as gen
            data = os.path.join(work, "data")
            t0 = time.time()
            tables = gen.generate(data, seed, sf=0.1 if size == "full" else 0.01)
            gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        limit = RUN_LIMIT_S - (time.time() - t_built) - 8.0
        # passes must end 10 s before the JVM's limit, leaving time to stop
        stop_by_ms = int((time.time() + limit - 10.0) * 1000)
        rc = run_jvm(cp, "perfbench.Main",
                     [workload, seed, seconds, trace, work, data, size, reps, stop_by_ms, out], work, limit,
                     # traced runs keep long call sites, so that each job can be
                     # attributed to the program file that issued it
                     extra=["-Dspark.callstack.depth=200"] if trace else [])
        if rc != 0 or not os.path.isfile(out):
            raise SystemExit(f"[perfbench] {workload}: run failed (exit {rc})")
        result = json.load(open(out))
        if workload in GENERATED:
            fails = fingerprint_failures(result, size)
        else:
            fails = oracle_failures(result, data, os.path.join(work, "out"))
        for f in fails:
            log(f"{workload}: CHECK FAILED {f}")
        for e in result["errors"]:
            log(f"{workload}: {e}")
        attempted = int(result["attempted"])
        failed = min(attempted, int(result["failed"]) + len(fails))
        e2e = result["end_to_end"]
        e2e["setup_s"]["value"] += gen_s
        layer = result["per_layer"]
        layer["error_rate"]["value"] = failed / attempted
        result.update(check_failures=fails, failed=failed, input_generation_s=gen_s,
                      build_s=t_built - t_start)
        if tables:
            result["input_rows"] = tables
        art = os.path.join(BUILD, "artifacts")
        os.makedirs(art, exist_ok=True)
        with open(os.path.join(art, f"{name}.json"), "w") as f:
            json.dump(result, f, indent=1)
        if os.path.isfile(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", os.path.join(art, f"{name}.spans.jsonl"))
        return result, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                        "metrics": layer if trace else e2e}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_times_table(result):
    m = result["per_layer"]
    rows = [(k[5:-2], m[k]["value"]) for k in m if k.startswith("self.")]
    total = sum(v for _, v in rows) or 1.0
    return "\n".join(f"  {l:10s} {v:9.3f} s  {100 * v / total:5.1f}%" for l, v in rows)


def selfcheck():
    ok = True
    for w in WORKLOADS:
        result, line = run(w, seed=1, seconds=0, trace=1, size="tiny", reps=1)
        print(f"{w}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']} metrics={len(line['metrics'])}")
        print(self_times_table(result))
        ok = ok and line["correct"]
    return 0 if ok else 1


def record_fingerprints():
    """Record the output fingerprints of every seed variant of the
    generated-input workloads, at both sizes, into fingerprints.json."""
    cp = build()
    table = {}
    for w in sorted(GENERATED):
        for size in ["tiny", "full"]:
            work = os.path.join(BUILD, "runs", f"record-{w}-{size}-{os.getpid()}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            out = os.path.join(work, "fingerprints.json")
            try:
                if run_jvm(cp, "perfbench.Record", [w, size, work, out], work, 3600) != 0:
                    raise SystemExit(f"[perfbench] recording {w} {size} failed")
                table.setdefault(w, {})[size] = json.load(open(out))
            finally:
                shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    if a.record_fingerprints:
        return record_fingerprints()
    if not a.workload:
        ap.error("--workload is required")
    # a traced run reports no set-up time, so it sets up once
    _, line = run(a.workload, a.seed, a.seconds, a.trace, reps=1 if a.trace else SETUP_REPS)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

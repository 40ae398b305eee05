#!/usr/bin/env python3
"""Lakehouse benchmark runner.

Usage, from the root of a checkout:

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (scalac, against the jars
the program's build names), generates the workload's inputs from the
seed, runs the workload in one JVM on local[N] for the given seconds,
checks every observed result against answers computed by the
generator or by the DuckDB oracle, and prints every metric by name and
unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the full per-layer table and the spans are written to
lakebench/out/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
OUT_DIR = os.path.join(HERE, "out")
WORK_ROOT = os.path.join(HERE, "work")

WORKLOADS = ("medallion_etl", "operator_mix")
# operator_mix: one or more registered operators per family of the
# north star's training-data pipelines.
QUERIES = {
    "graph": ["q207_kcore"],
    "ann": ["q26_knn_cosine_brute"],
    "dedup": ["q36_neardup_components"],
    "text": ["q59_tfidf_topterms"],
    "mv": ["q254_mv_ivm_rewrite"],
    "streaming": ["q158_streaming_sessionize"],
    "relational": ["q01_daily_kpis", "q61_window_funcs"],
}
JVM_MEMORY = "3g"
# Spark runs on local[CORES], shuffle partitions = CORES. Two of the box's
# four cores leave the JIT compiler, the garbage collector and the
# driver's own threads room, which makes runs steadier on a shared box.
CORES = 2
DEADLINE_S = 150
CHECK_MARGIN_S = 20
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _scala_files(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
                  if f.endswith(".scala"))


def _toolchain():
    """The Scala version and jar directory of the program's own build
    (its `scalaVersion` and `unmanagedBase`): the program compiles
    against those jars and nothing else."""
    with open(os.path.join(REPO, "build.sbt")) as f:
        sbt = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not version or not jars:
        raise BenchError("build.sbt names no scalaVersion or unmanagedBase")
    return version.group(1), jars.group(1)


def _source_stamp(sources):
    h = hashlib.sha256()
    for p in [os.path.join(REPO, "build.sbt")] + sources:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program's sources and the benchmark's together with
    scalac, against the jars of the program's build; returns the runtime
    classpath. Everything it writes stays under .build/. Reuses the last
    build while the sources match."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isfile(os.path.join(REPO, "build.sbt")):
        raise BenchError(f"program sources not found at {os.path.relpath(PROGRAM_SRC, REPO)}")
    version, jars = _toolchain()
    sources = _scala_files(PROGRAM_SRC) + _scala_files(os.path.join(HERE, "src"))
    classes = os.path.join(BUILD_DIR, f"classes-{_source_stamp(sources)}")
    classpath = f"{classes}:{jars}/*"
    if os.path.isdir(classes):
        return classpath
    log("compiling the program and the benchmark with scalac")
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old))
    partial, tmp = classes + ".partial", os.path.join(BUILD_DIR, "tmp")
    os.makedirs(partial)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = ":".join(f"{jars}/scala-{part}-{version}.jar"
                        for part in ("compiler", "library", "reflect"))
    try:
        proc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
             "-classpath", f"{jars}/*", "-d", partial, f"@{args_file}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    except subprocess.TimeoutExpired:
        raise BenchError("scalac did not finish in time")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        os.remove(args_file)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(partial)
        raise BenchError("scalac failed")
    os.replace(partial, classes)
    return classpath


# ----------------------------------------------------------------- inputs

def prepare(workload, seed, work):
    """Generates the workload's inputs under work/input. Also generates
    them again with the same seed, and once with another seed where the
    input depends on it, to check that the generator is deterministic.
    Returns (spec fields, expected answers, deterministic, user bytes)."""
    def generate(s, d):
        if workload == "medallion_etl":
            return inputs.medallion(s, d), inputs.digest(d)
        return inputs.operator_tables(d), inputs.digest(d)

    gen, fingerprint = generate(seed, f"{work}/input")
    deterministic = generate(seed, f"{work}/check-same")[1] == fingerprint
    if workload != "operator_mix":
        deterministic &= generate(seed + 1, f"{work}/check-other")[1] != fingerprint
    for d in ("check-same", "check-other"):
        shutil.rmtree(f"{work}/{d}", ignore_errors=True)
    if workload == "medallion_etl":
        user_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(f"{work}/input") for f in fs)
        return {"raw": gen["raw"], "batches": gen["batches"]}, gen["expected"], deterministic, user_bytes
    names = [q for qs in QUERIES.values() for q in qs]
    return {"data": gen["dir"], "queries": names}, None, deterministic, 0


# -------------------------------------------------------------------- jvm

def run_jvm(cp, spec, work, deadline):
    spec_path, result_path = f"{work}/spec.json", f"{work}/result.json"
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_MEMORY}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "lakebench.Main", spec_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(f"{work}/jvm.log", "w") as logf:
        # setup_s runs from here to a built and warmed session
        with open(spec_path, "w") as f:
            json.dump(dict(spec, launched_ms=int(time.time() * 1000)), f)
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError("workload did not finish in time")
    if code != 0 or not os.path.exists(result_path):
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        raise BenchError(f"workload JVM exited with {code}")
    with open(result_path) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def check_medallion(result, expected):
    """Marks each call wrong whose observed values differ from the
    generator's answers."""
    want = {
        ("etl", "bronze"): {"rows": expected["bronze_rows"]},
        ("etl", "silver"): {"rows": expected["silver_rows_initial"]},
        ("io", "read_silver"): {"rows": expected["silver_rows"],
                                "revenue_cents": expected["silver_revenue_cents"],
                                "passengers": expected["silver_passengers"]},
        ("io", "read_gold"): {"days": expected["gold_days"], "trips": expected["gold_trips"]},
    }
    for c in result["calls"]:
        exp = want.get((c["layer"], c["op"]), {})
        wrong = [k for k, v in exp.items() if c.get(k) != v]
        if c["op"] == "read_gold" and c["ok"]:
            # Gold rounds each day's revenue to cents
            if abs(c["revenue_cents"] - expected["gold_revenue_cents"]) > expected["gold_days"]:
                wrong.append("revenue_cents")
        if c["op"] == "merge_new" and c["ok"] and c["rows_written"] != inputs.BATCH_NEW_ROWS:
            wrong.append("rows_written")
        if wrong and c["ok"]:
            c["wrong"] = wrong


def oracle_answers(data_dir, sqls, oracle):
    """Column names, row count and canonical hash of DuckDB's answer to
    each query's oracle SQL. The answers depend only on the tables and
    the SQL, so they are computed once per checkout and kept in the
    build directory under a key of both."""
    import duckdb
    key = hashlib.sha256(json.dumps([inputs.digest(data_dir), sqls, duckdb.__version__],
                                    sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(BUILD_DIR, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in os.listdir(data_dir):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{t}')")
    answers = {}
    for name, sql in sqls.items():
        df = con.execute(sql).df()
        cols = list(df.columns)
        rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
        answers[name] = {"cols": sorted(cols), "rows": len(rows), "hash": oracle.frame_hash(cols, rows)}
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(answers, f)
    os.replace(path + ".tmp", path)
    return answers


def check_operators(result, data_dir):
    """Hashes each query's full result and DuckDB's answer to the
    query's oracle SQL with the canonical hash of tools/compare_oracle.py;
    every timed count must equal the checked result's row count."""
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(REPO, "tools", "compare_oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    import pyarrow.parquet as pq
    answers = oracle_answers(data_dir, result["extra"]["oracle_sql"], oracle)
    verdict = {}
    for name in sorted({c["op"] for c in result["calls"]}):
        out = f"{result['extra']['results']}/{name}"
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet")) \
            if os.path.isdir(out) else []
        if not files:
            verdict[name] = (False, None, "no result written")
            continue
        sdf = pq.read_table(f"{out}/{files[0]}").to_pandas(date_as_object=False)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.itertuples(index=False, name=None)]
        if name not in answers:
            verdict[name] = (False, len(s_rows), "no oracle SQL")
            continue
        want = answers[name]
        same = (sorted(s_cols) == want["cols"] and len(s_rows) == want["rows"] and
                oracle.frame_hash(s_cols, s_rows) == want["hash"])
        verdict[name] = (same, len(s_rows), "" if same else "hash mismatch")
    for c in result["calls"]:
        ok, rows, why = verdict[c["op"]]
        if c["ok"] and not ok:
            c["wrong"] = [why]
        elif c["ok"] and c.get("rows", rows) != rows:
            c["wrong"] = ["rows"]
    return {k: {"ok": v[0], "rows": v[1]} for k, v in verdict.items()}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(label, value) of the highest percentile with at least ten
    samples beyond it, or None."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(xs, n=100)[p - 1]
    return None


def walk_tables(roots):
    """Bytes and stale ._latest.crc files under the table roots."""
    size = stale = 0
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                p = os.path.join(d, f)
                size += os.path.getsize(p)
                if f == "._latest.crc":
                    latest = os.path.join(d, "_latest")
                    if os.path.exists(latest) and os.path.getmtime(p) < os.path.getmtime(latest):
                        stale += 1
    return size, stale


def measured(result):
    """Calls of the passes after the warm-up pass."""
    return [c for c in result["calls"] if c["pass"] >= 1]


def end_to_end(result, storage):
    """The metrics of BENCHMARK.json, and the rest of the end-to-end
    table for the workloads it applies to."""
    calls = measured(result)
    walls = [p["wall_s"] for p in result["passes"] if p["pass"] >= 1]
    reads = [c["ms"] for c in calls if c["kind"] == "read"]
    commits = [c["ms"] for c in calls if c["kind"] == "commit"]
    m = {"wall_s": (median(walls), "s"),
         "setup_s": (result["setup_s"], "s")}
    info = {"passes": (len(walls), "count"),
            "warmup_s": (result["passes"][0]["wall_s"], "s"),
            "reads": (len(reads), "count"), "read_ms_p50": (median(reads), "ms"),
            "commits": (len(commits), "count")}
    if commits:
        info["commit_ms_p50"] = (median(commits), "ms")
        t = tail(commits)
        if t:
            info[f"commit_ms_{t[0]}"] = (t[1], "ms")
    t = tail(reads)
    if t:
        info[f"read_ms_{t[0]}"] = (t[1], "ms")
    if storage.get("live_rows"):
        info["stored_bytes_per_live_row"] = (storage["bytes"] / storage["live_rows"], "B/row")
    failed = sum(1 for c in result["calls"] if not c["ok"] or c.get("wrong"))
    info["failed_ratio"] = (failed / max(1, len(result["calls"])), "1")
    return m, info


def per_layer(workload, result, cores, storage):
    """The per-layer metrics of BENCHMARK.json, and the layer table of
    the layers this workload calls."""
    traced = [p for p in result["passes"] if p["traced"]]
    calls = [c for c in measured(result) if c["traced"]]
    n_pass = max(1, len(traced))

    def per_pass(key):
        return median([p["counters"].get(key, 0) for p in traced])

    m = {}
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("task_ms", "ms"), ("scheduler_delay_ms", "ms"), ("planning_ms", "ms"),
                      ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                      ("spill_bytes", "B")):
        m[f"spark.{key}"] = (per_pass(key), unit)
    m["spark.driver_share"] = (median([
        1 - p["counters"].get("task_ms", 0) / (p["wall_s"] * 1000 * cores) for p in traced]), "1")
    m["io.bytes_written"] = (per_pass("fs_bytes_written"), "B")
    m["io.bytes_read"] = (per_pass("fs_bytes_read"), "B")
    m["io.success_markers"] = (median([p["success_markers"] for p in traced]), "count")
    # wall_s of the traced passes: set against wall_s of an untraced
    # run of the same seed, the difference is what tracing costs
    m["trace.wall_s"] = (median([p["wall_s"] for p in traced]), "s")

    # on file: the _latest pointer is written without a checksum, so
    # this reads 0 until the pointer write changes; report only
    layers = {"io.stale_crc": (storage["stale"], "count")}

    def ms_per_pass(pred):
        return sum(c["ms"] for c in calls if pred(c)) / n_pass

    def total(pred, key):
        return sum(c["counters"].get(key, 0) for c in calls if pred(c))

    def op_is(*ops):
        return lambda c: c["op"] in ops

    def layer_is(layer):
        return lambda c: c["layer"] == layer

    if workload == "medallion_etl":
        layers["etl.bronze_ms"] = (ms_per_pass(op_is("bronze")), "ms")
        layers["etl.silver_ms"] = (ms_per_pass(op_is("silver")), "ms")
        layers["etl.gold_ms"] = (ms_per_pass(op_is("gold", "gold_refresh")), "ms")
        silver = [c for c in calls if c["op"] == "silver" and c["ok"]]
        if silver:
            layers["etl.silver_rows_ratio"] = (silver[0]["rows"] / silver[0]["rows_in"], "1")
        layers["dq.jobs"] = (per_pass("dq_jobs"), "count")
        layers["dq.task_ms"] = (per_pass("dq_task_ms"), "ms")
        layers["incremental.merge_ms"] = (ms_per_pass(op_is("merge_new", "merge_late")), "ms")
        layers["incremental.watermark_ms"] = (ms_per_pass(op_is("watermark")), "ms")
        merges = [c for c in calls if c["op"] in ("merge_new", "merge_late") and c["ok"]]
        source_rows = (inputs.BATCH_NEW_ROWS + inputs.BATCH_CORRECTIONS) * inputs.BATCHES
        if merges:
            layers["incremental.rows_written_per_source_row"] = (
                sum(c["rows_written"] for c in merges) / len(traced) / source_rows, "1")
        layers["io.read_ms"] = (median([c["ms"] for c in calls
                                        if c["op"] in ("read_silver", "read_gold")]), "ms")
        commit = [c for c in calls if c["kind"] == "commit"]
        if commit:
            layers["io.jobs_per_commit"] = (total(lambda c: c["kind"] == "commit", "jobs") / len(commit), "count")
            layers["io.bytes_written_per_commit"] = (total(lambda c: c["kind"] == "commit", "fs_bytes_written") / len(commit), "B")
            written = total(lambda c: c["kind"] == "commit", "fs_bytes_written")
            user = storage["user_bytes"] * len(traced)
            if user:
                layers["io.bytes_written_per_user_byte"] = (written / user, "1")
        reads = [c for c in calls if c["kind"] == "read"]
        if reads:
            layers["io.files_scanned_per_read"] = (total(lambda c: c["kind"] == "read", "files_scanned") / len(reads), "count")
        layers["maintenance.compact_ms"] = (ms_per_pass(op_is("compact")), "ms")
        layers["maintenance.vacuum_ms"] = (ms_per_pass(op_is("vacuum")), "ms")
        layers["maintenance.bytes_rewritten"] = (total(op_is("compact"), "fs_bytes_written") / n_pass, "B")
        comp = [c for c in calls if c["op"] == "compact" and c["ok"] and c["files_before"]]
        if comp:
            layers["maintenance.files_after_over_before"] = (
                median([c["files_after"] / c["files_before"] for c in comp]), "1")
    if workload == "operator_mix":
        for fam, names in QUERIES.items():
            pred = op_is(*names)
            layers[f"queries.{fam}_ms"] = (ms_per_pass(pred), "ms")
            layers[f"queries.{fam}_jobs"] = (total(pred, "jobs") / n_pass, "count")
            layers[f"queries.{fam}_task_ms"] = (total(pred, "task_ms") / n_pass, "ms")
    # time in calls into each layer, as a share of traced wall time
    wall_ms = sum(p["wall_s"] for p in traced) * 1000
    for layer in sorted({c["layer"] for c in calls}):
        layers[f"share.{layer}"] = (ms_per_pass(layer_is(layer)) * n_pass / wall_ms if wall_ms else 0, "1")
    return m, layers


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    deadline = time.time() + DEADLINE_S
    cores = min(CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fields, expected, deterministic, user_bytes = prepare(args.workload, args.seed, work)
        # passes end early enough to leave the checks time before the deadline
        spec = dict(fields, workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=bool(args.trace), cores=cores, work=work,
                    deadline_ms=int((deadline - CHECK_MARGIN_S) * 1000))
        result = run_jvm(cp, spec, work, deadline)
        checks = {"deterministic_inputs": deterministic}
        storage = {"user_bytes": user_bytes}
        if args.workload == "medallion_etl":
            check_medallion(result, expected)
            last = max(p["pass"] for p in result["passes"])
            roots = [f"{work}/lake-{last}"]
            live = [c for c in result["calls"] if c["pass"] == last]
            by_op = {c["op"]: c for c in live}
            storage["live_rows"] = sum(by_op.get(op, {}).get(k, 0) for op, k in (
                ("bronze", "rows"), ("read_silver", "rows"), ("gold_refresh", "daily"),
                ("gold_refresh", "zone")))
        else:
            checks["oracle"] = check_operators(result, fields["data"])
            roots = [f"{work}/tmp"]
        storage["bytes"], storage["stale"] = walk_tables(roots)
        if args.trace:
            metrics, table = per_layer(args.workload, result, cores, storage)
        else:
            metrics, table = end_to_end(result, storage)
        failed = sum(1 for c in result["calls"] if not c["ok"] or c.get("wrong"))
        attempted = len(result["calls"])
        correct = deterministic and failed == 0
        os.makedirs(OUT_DIR, exist_ok=True)
        out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump({"metrics": metrics, "table": table, "checks": checks,
                       "failures": [c for c in result["calls"] if not c["ok"] or c.get("wrong")],
                       "calls": result["calls"], "spans": result["spans"], "setup_s": result["setup_s"],
                       "passes": result["passes"]}, f, indent=1)
        for name, (value, unit) in list(metrics.items()) + list(table.items()):
            print(f"{args.workload} {name} = {value:.6g} {unit}")
        print(f"{args.workload} checks: deterministic_inputs={deterministic} "
              f"failed={failed}/{attempted}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)

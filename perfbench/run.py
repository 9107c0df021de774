#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload wire_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and
the harness with sbt (`perfbench/build.sbt` depends on the program's
own build) and caches the classpath under `.bench_build/` with a
hash of the sources; later runs start the JVM directly, and a run
whose sources hash differently builds again.

Workloads: wire_fanout, standing_absorb, catalog_scan (see
perfbench/README.md). With `--trace 0` the
result carries the end-to-end metrics, with `--trace 1` the per-layer
metrics. Every run checks the program's outputs; a failed check sets
"correct" to false, counts in "failed", and makes the exit code 1.
Each run appends a stamped record to `.bench_build/records/` (or to
`--record`), which `perfbench/compare.py` reads.

Extra flags: `--size tiny` (smoke-test inputs), `--inject
drop_frame|perturb_digest` (a deliberate defect the checks must
catch), `--save-digests` (store this run's catalog digests as the
expected ones for its seed).
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected_digests.json")
ARCHIVE = os.path.join(BUILD, "classes.jsa")

WORKLOADS = ["wire_fanout", "standing_absorb", "catalog_scan"]
CATALOG_SF = {"full": 0.01, "tiny": 0.001}
JVM_TIMEOUT_S = 160

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("throughput_per_s", "1/s"),
              ("peak_mem_mb", "MB")]
HEAP = "3g"
PER_LAYER = [
    ("sources.read_amplification", "ratio"), ("sources.latest_offset_ms", "ms"),
    ("sources.get_batch_ms", "ms"), ("sources.backlog_frames_p90", "count"),
    ("sources.generator_late_ms_max", "ms"),
    ("ingest.triggers", "count"), ("ingest.query_planning_ms", "ms"),
    ("ingest.rows_out_per_frame_read", "ratio"),
    ("sinks.add_batch_ms", "ms"), ("sinks.wal_commit_ms", "ms"),
    ("sinks.parquet.files_written", "count"), ("sinks.json.files_written", "count"),
    ("sinks.parquet.bytes_per_frame", "B"), ("sinks.json.bytes_per_frame", "B"),
    ("streaming.absorb_ms_p50", "ms"), ("streaming.jobs_per_batch", "count"),
    ("streaming.tasks_per_batch", "count"), ("streaming.frames_per_batch_p50", "count"),
    ("streaming.rows_written_per_event", "ratio"),
    ("streaming.partitions_read_per_batch", "count"),
    ("streaming.read_plan_ms", "ms"), ("streaming.read_exec_ms", "ms"),
    ("streaming.live_versions", "count"), ("streaming.artifact_bytes_per_event", "B"),
    ("queries.build_ms", "ms"), ("queries.jobs", "count"), ("queries.stages", "count"),
    ("queries.tasks", "count"), ("queries.driver_gap_ms", "ms"),
    ("queries.analysis_ms", "ms"), ("queries.optimization_ms", "ms"),
    ("queries.planning_ms", "ms"), ("queries.executor_run_ms", "ms"),
    ("queries.executor_cpu_ms", "ms"), ("queries.gc_ms", "ms"),
    ("queries.input_bytes", "B"), ("queries.shuffle_read_bytes", "B"),
    ("queries.shuffle_write_bytes", "B"), ("queries.spill_bytes", "B"),
    ("queries.side_builds", "count"), ("queries.side_build_ms", "ms"),
    ("sources.self_ms_per_s", "ms/s"), ("ingest.self_ms_per_s", "ms/s"),
    ("sinks.self_ms_per_s", "ms/s"), ("streaming.self_ms_per_s", "ms/s"),
    ("queries.self_ms_per_s", "ms/s"), ("trace.overhead_pct", "%"),
]

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads: the program and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Build once per source hash; return the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not here; run from the repository root")
    key = source_hash()
    # one build at a time: every run uses the jars and the class-data
    # archive of the last build, so a cached classpath is good only for
    # the sources that build was made from
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            built_key, _, cp = f.read().strip().partition(" ")
        if built_key == key:
            return cp, key
        os.remove(cp_file)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=880)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (see {log})")
    cp = jar_dirs(lines[-1])
    train_archive(cp)
    with open(cp_file, "w") as f:
        f.write(f"{key} {cp}")
    return cp, key


def jvm_cmd(cp, work, *flags):
    return ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", *flags, f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "perfbench.Main"]


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar: the
    JVM's class-data archive takes classes from jars only."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(cp):
    """Record the classes the workloads load in a class-data archive,
    from one JVM that runs every workload at tiny size. Runs map it in
    and skip loading and verifying those classes again: a Spark
    session starts in ~3 s instead of ~6.5 s on four cores. Without
    the archive (if this fails) runs still work, only slower to set
    up; the run record says which."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    import tables
    tables.generate(data, CATALOG_SF["tiny"], 1)
    cmd = jvm_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + [
        "--workload", ",".join(WORKLOADS), "--seed", "1", "--seconds", "1", "--trace", "0",
        "--size", "tiny", "--inject", "none", "--nproc", str(nproc()), "--work", work,
        "--data", data, "--t0_ms", f"{time.time() * 1000.0:.3f}",
        "--out", os.path.join(work, "result.json")]
    try:
        with open(os.path.join(BUILD, "train.log"), "w") as lf:
            subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=400)
    except subprocess.TimeoutExpired:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return ""


def canon(v):
    """One engine-neutral text form per value, for result digests."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return "null" if v is None else str(v)


def digest(con, sql):
    """Digest of a result: columns sorted by name, rows in result order."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256(",".join(names[i] for i in order).encode())
    rows = 0
    for row in cur.fetchall():
        h.update(("\x1e" + "\x1f".join(canon(row[i]) for i in order)).encode())
        rows += 1
    return f"{h.hexdigest()[:20]}:{rows}"


def check_catalog(out, args, data_dir):
    """Each row's result equals the DuckDB oracle where the row has one,
    and the stored digest where one is stored for this seed."""
    import duckdb
    checks, digests = [], {}
    detail = out["detail"]
    rows, res_dir = detail.get("rows", []), detail.get("results_dir")
    if not rows or not res_dir:
        return checks, digests
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    stored = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as f:
            stored = json.load(f).get(args.workload, {}).get(f"{args.size}:{args.seed}", {})
    # oracle digests depend only on the generated data (size, seed)
    cache_file = os.path.join(BUILD, "oracle-cache", f"{args.workload}-{args.size}-{args.seed}.json")
    cache = {}
    if os.path.isfile(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    for row in rows:
        try:
            got = digest(con, f"SELECT * FROM read_parquet('{res_dir}/{row}/*.parquet')")
        except Exception as e:  # no result: the JVM already failed the row
            got = f"missing: {str(e)[:100]}"
        if args.inject == "perturb_digest" and row == rows[0]:
            got = "0" + got[1:] if got[0] != "0" else "1" + got[1:]
        digests[row] = got
        sql = detail.get("oracle", {}).get(row)
        if sql:
            if row not in cache:
                try:
                    cache[row] = digest(con, sql)
                except Exception as e:
                    cache[row] = f"oracle error: {str(e)[:200]}"
            checks.append({"name": f"{row} equals the DuckDB oracle", "ok": cache[row] == got,
                           "detail": f"oracle {cache[row]} spark {got}"})
        if row in stored:
            checks.append({"name": f"{row} equals the stored digest", "ok": stored[row] == got,
                           "detail": f"stored {stored[row]} spark {got}"})
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return checks, digests


def save_digests(args, digests):
    data = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as f:
            data = json.load(f)
    data.setdefault(args.workload, {})[f"{args.size}:{args.seed}"] = digests
    with open(EXPECTED, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject", choices=["none", "drop_frame", "perturb_digest"], default="none")
    ap.add_argument("--record", help="append the run record here")
    ap.add_argument("--save-digests", action="store_true")
    args = ap.parse_args()

    cp, key = classpath()
    load_start = loadavg()
    n = nproc()
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0_ms = time.time() * 1000.0
    catalog = args.workload.startswith("catalog")
    data_dir = os.path.join(work, "data")
    params = {"size": args.size, "seconds": args.seconds}
    try:
        if catalog:
            import tables
            os.makedirs(data_dir)
            params["sf"] = CATALOG_SF[args.size]
            params["table_rows"] = tables.generate(data_dir, CATALOG_SF[args.size], args.seed)
        # set-up time spent before the JVM starts (table generation)
        params["jvm_launch_s"] = time.time() - t0_ms / 1000.0
        out_file = os.path.join(work, "result.json")
        archive = os.path.isfile(ARCHIVE)
        params["class_archive"] = archive
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if archive else []
        cmd = [*jvm_cmd(cp, work, *flags),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size, "--inject", args.inject, "--nproc", str(n),
               "--work", work, "--data", data_dir, "--t0_ms", f"{t0_ms:.3f}",
               "--out", out_file]
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                # the whole run, checks included, must end within 180 s of its set-up start
                proc.wait(timeout=max(10.0, JVM_TIMEOUT_S - (time.time() - t0_ms / 1000.0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.isfile(out_file):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"the benchmark JVM exited with {proc.returncode}")
        with open(out_file) as f:
            out = json.load(f)
        checks = list(out["checks"])
        digests = {}
        if catalog:
            extra, digests = check_catalog(out, args, data_dir)
            checks += extra
        failed = out["failed"] + sum(1 for c in checks[len(out["checks"]):] if not c["ok"])
        attempted = max(1, out["attempted"])
        lat = out["latency_ms"]
        values = {
            "setup_s": out["setup_s"],
            "latency_p50_ms": statistics.median(lat) if lat else 0.0,
            "throughput_per_s": out["throughput_per_s"],
            "peak_mem_mb": out["peak_mem_mb"],
        }
        layers = out["layers"]
        chosen = END_TO_END if args.trace == 0 else PER_LAYER
        src = values if args.trace == 0 else layers
        metrics = {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in chosen}
        correct = all(c["ok"] for c in checks)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "params": params, "source_hash": key, "commit": os.environ.get("GIT_COMMIT", key),
            "nproc": n, "heap": HEAP, "heap_max_mb": out.get("heap_max_mb"),
            "peak_rss_mb": out.get("peak_rss_mb"), "timed_gcs": out.get("timed_gcs"),
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "correct": correct, "attempted": attempted, "failed": failed,
            "ops_failed_ratio": failed / attempted,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END},
            "per_layer": {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
            if args.trace else {},
            "latency_samples": len(lat), "detail": out["detail"],
            "checks_failed": [c for c in checks if not c["ok"]], "checks_run": len(checks),
            "digests": digests,
            "run_wall_s": time.time() - t0_ms / 1000.0,
        }
        if args.trace and out.get("spans_file"):
            spans = os.path.join(BUILD, "spans", f"{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(out["spans_file"], spans)
            record["spans"] = os.path.relpath(spans, ROOT)
            record["span_count"] = out.get("span_count", 0)
        rec_path = args.record or os.path.join(BUILD, "records", f"{args.workload}.jsonl")
        os.makedirs(os.path.dirname(os.path.abspath(rec_path)), exist_ok=True)
        with open(rec_path, "a") as f:
            f.write(json.dumps(record) + "\n")
        if args.save_digests and correct and digests:
            save_digests(args, digests)
        for c in checks:
            if not c["ok"]:
                print(f"CHECK FAILED: {c['name']}: {c['detail']}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())

#!/usr/bin/env python3
"""Repository benchmark: one workload, one seeded run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest [--seed <n>]

Run from the root of a checkout. The first run builds the library sources
together with the benchmark (perfbench/build.sbt, about a minute); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM (perfbench.Main) that generates the workload's inputs from the seed,
sets up, measures for the given seconds of operation time and checks its
own outputs; this script then checks the outputs that have a DuckDB oracle
and prints, as the last line of stdout,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). A wrong output prints the line with
"correct": false and exits 1. See perfbench/README.md.
"""
import argparse
import datetime
import decimal
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
WORK = os.path.join(HERE, ".work")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-stamp.txt")
BUILD_CP = os.path.join(HERE, "target", "perfbench-classpath.txt")
# class-data archive of the JVM's startup classes (Spark's included): it
# roughly halves JVM + Spark session start, which every run pays
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
HEAP = "2g"
RUN_LIMIT_S = 175.0
# per-layer prefixes every workload reports; the rest belong to one workload
COMMON_LAYERS = {"spark", "jvm", "trace", "self", "setup", "env", "cache"}
BUILD_LIMIT_S = 880.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build compiles or is configured by."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.abspath(__file__)]
    for f in roots + files:
        if not os.path.exists(f):
            fail(f"missing {os.path.relpath(f, ROOT)} (run from a full checkout)")
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles and packages with sbt when the sources changed since the
    last build, trains the class-data archive, and returns the runtime
    classpath (jars only, which the archive requires)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(BUILD_STAMP) and os.path.exists(BUILD_CP):
        with open(BUILD_STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(BUILD_CP) as fc:
                    return fc.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    jar_dir = os.path.join(HERE, "target", "scala-2.13", "perfbench")
    cp = [ln.strip() for ln in p.stdout.splitlines() if ln.strip().startswith(jar_dir)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    with open(BUILD_CP, "w") as fh:
        fh.write(cp[-1])
    train_archive(cp[-1])
    with open(BUILD_STAMP, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def train_archive(classpath):
    """Dumps the classes a generator self-test loads into CDS_ARCHIVE. A
    failed training only leaves the runs without the archive."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = CDS_ARCHIVE + ".tmp"
    try:
        run_jvm(classpath, ["--selftest", "1", "--seed", "1", "--out", os.path.join(work, "out.json")],
                work, time.monotonic() + 300, [f"-XX:ArchiveClassesAtExit={tmp}"])
        os.replace(tmp, CDS_ARCHIVE)
    except SystemExit:
        print("perfbench: class-data archive not built; runs start without it", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, args, work, deadline, jvm_opts=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=256m"] + jvm_opts + [
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", work] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its time limit", 4)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}", 4)


# ---------------------------------------------------------------------------
# DuckDB oracle check
# ---------------------------------------------------------------------------

def canon(v):
    """A comparable form of a value from either engine."""
    if isinstance(v, dict):
        if len(v) == 1:
            (k, x), = v.items()
            if k == "dec":
                return decimal.Decimal(x)
            if k in ("ts", "date", "bin"):
                return (k, x)
            if k == "map":
                return ("map", [canon(e) for e in x])
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def canon_duck(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return ("ts", (d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return ("date", (v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray)):
        return ("bin", v.hex())
    if isinstance(v, dict):
        return [canon_duck(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon_duck(x) for x in v]
    return v


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    num = (int, float, decimal.Decimal)
    if isinstance(a, num) and isinstance(b, num):
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            return fa == fb or (math.isnan(fa) and math.isnan(fb))
        return a == b
    if isinstance(a, str) and isinstance(b, float):
        return a == str(b) or (math.isnan(b) and a == "NaN")
    return a == b


def oracle_check(result):
    """Runs each dumped query's SQL in DuckDB over the same generated tables
    and compares it with the rows Spark returned. Returns failures."""
    dumps = result["oracle"]["dumps"]
    if not dumps:
        return []
    import duckdb
    con = duckdb.connect()
    tables = result["oracle"]["tables"]
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tables}/{name}/*.parquet')")
    failures = []
    for q, path in sorted(dumps.items()):
        with open(path) as fh:
            spark = json.load(fh)
        try:
            cur = con.execute(spark["sql"])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append((q, f"oracle error: {e}"))
            continue
        if spark["rows"] and sorted(cols) != sorted(spark["columns"]):
            failures.append((q, f"columns {sorted(spark['columns'])} vs {sorted(cols)}"))
            continue
        if len(rows) != len(spark["rows"]):
            failures.append((q, f"{len(spark['rows'])} rows vs {len(rows)}"))
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        sorder = sorted(range(len(spark["columns"])), key=lambda i: spark["columns"][i])
        for n, (sr, dr) in enumerate(zip(spark["rows"], rows)):
            a = [canon(sr[i]) for i in sorder]
            b = [canon_duck(dr[i]) for i in order]
            if not same(a, b):
                failures.append((q, f"row {n}: spark {a} vs duckdb {b}"))
                break
    return failures


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that every generator gives identical bytes for one seed")
    a = ap.parse_args()
    t0 = time.monotonic()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    if a.selftest:
        work = os.path.join(WORK, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "selftest.json")
        run_jvm(classpath, ["--selftest", "1", "--seed", str(a.seed), "--out", out], work, deadline)
        with open(out) as fh:
            res = json.load(fh)
        print(json.dumps(res, sort_keys=True))
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
        ok = all(r["same_seed_identical"] and r["other_seed_differs"] for r in res.values())
        sys.exit(0 if ok else 1)

    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", repr(a.seconds), "--trace", str(a.trace), "--out", out],
            work, deadline)
    with open(out) as fh:
        res = json.load(fh)

    failures = oracle_check(res)
    failed = res["failed"]
    for q, why in failures:
        failed += res["kinds"].get(q, res["attempted"])
        res["errors"].append(f"{q}: {why}")
    failed = min(failed, res["attempted"])
    for d in ("inputs", "tmp", "spark-local", "warehouse", "oracle"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    own = set(res["layer_prefixes"]) | COMMON_LAYERS
    for m in listed:
        v = got.get(m["name"])
        if v is None and a.trace and m["name"].split(".")[0] not in own:
            v = 0.0  # a layer this workload does not exercise
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite in the run's output", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    env = res["env"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} ops={res['attempted']} "
          f"kinds={json.dumps(res['kinds'], sort_keys=True)} setup_reps_s={res['setup_reps_s']} "
          f"nproc={env['nproc']} spark_cores={env['spark_cores']} java={env['java']} "
          f"heap_mb={env['max_heap_mb']} loadavg={env['loadavg_open']:.2f}->{env['loadavg_close']:.2f} "
          f"dispatch_ms={env['dispatch_ms_open']:.2f}->{env['dispatch_ms_close']:.2f} "
          f"host_ms={res['layers']['env.host_ms']:.3f} raw={json.dumps(res['raw_e2e'], sort_keys=True)} "
          f"wall_s={time.monotonic() - t0:.1f}")
    for e in res["errors"]:
        print(f"perfbench error: {e}")
    correct = failed == 0 and not res["errors"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

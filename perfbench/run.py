"""Benchmark of the dedup jobs, run from the root of a checkout:

    python3 perfbench/run.py --workload febrl_uniform --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark's own Scala code from the checkout's sources
(sbt, offline), generates the workload's inputs from the seed, runs the
workload in one JVM on ``local[N]`` with N the usable cpus, checks every
output, and prints two lines: a record with host facts and every measured
value, then the result object (with ``--trace 0`` the end-to-end metrics
of BENCHMARK.json, with ``--trace 1`` its per-layer metrics). Exits 1 when
an output check fails, 2 when the program cannot be built or run or a
metric was not measured.

Everything it writes stays under ``.bench_work/`` and ``perfbench/target``.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes: one job takes about 7 s (skewed) to 8 s (uniform) on 4 cores,
# so a run of two set-ups (the first with a cold JVM) and a job stays under a
# minute; traced runs, which also time the dedup queries, stay under two.
# Each input file draws from its own seed derived from --seed.
FEBRL_SEEDS = {"labeled": 1, "heldout": 2, "train": 3, "skewed": 4,
               "warm_labeled": 5, "warm_heldout": 6, "warm": 7}
UNIFORM_RECORDS = 600
SKEWED_RECORDS = 700
SKEW_ZIPF = 2.0
QUERY_CUSTOMERS = 1500
QUERY_DOCUMENTS = 500
# The query tables come in QUERY_VARIANTS variants (seed modulo the count):
# the DuckDB oracle for q191 alone takes about half a minute per variant on
# 4 cores, so its results are recorded once per variant in ORACLE_FILE by
# record_oracle.py instead of being recomputed in every run.
QUERY_VARIANTS = 8
ORACLE_FILE = os.path.join(HERE, "query_oracle.json")
JVM_DEADLINE_S = 170
# The heap is fixed: with an adaptively sized one, job times fell into two
# modes about 30% apart depending on how far G1 had grown the heap.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars directory at " + jars)
    return jars


def sources_digest():
    """sha256 over the program's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars, digest):
    """Compiles with sbt unless the classes are from these sources."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.sources")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ, SPARK_JARS_DIR=jars, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def make_inputs(workload, seed, data, trace):
    """Inputs from the seed; every file gets its own derived seed."""
    os.makedirs(data, exist_ok=True)

    def febrl(name, records, zipf, first_id=0):
        gen.write_febrl(os.path.join(data, name + ".csv"), seed * 100 + FEBRL_SEEDS[name],
                        records, zipf, first_id)

    if workload == "febrl_uniform":
        febrl("labeled", UNIFORM_RECORDS, 0.0)
        febrl("heldout", UNIFORM_RECORDS // 3, 0.0, first_id=1000000)
        febrl("warm_labeled", 120, 0.0)
        febrl("warm_heldout", 60, 0.0, first_id=1000000)
    else:
        febrl("skewed", SKEWED_RECORDS, SKEW_ZIPF)
        febrl("train", 400, 0.0, first_id=1000000)
        febrl("warm", 120, SKEW_ZIPF, first_id=2000000)
    if trace:
        write_query_tables(os.path.join(data, "tables"), seed % QUERY_VARIANTS)


def write_query_tables(data, variant):
    gen.write_tables(data, variant, QUERY_CUSTOMERS, QUERY_DOCUMENTS)


def canon(rows):
    out = [tuple(x.isoformat() if hasattr(x, "isoformat") else x for x in r) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def result_digest(rel):
    """(rows, sha256) of a DuckDB relation: column names and types, then the
    rows with columns by name and rows sorted, exact values."""
    cols = sorted(zip(rel.columns, map(str, rel.types)))
    rows = canon(rel.select(", ".join(f'"{c}"' for c, _ in cols)).fetchall())
    return [len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()]


def sql_digest(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def duckdb_tables(data):
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def query_checks(data, out, variant):
    """Each query result against its DuckDB oracle SQL over the same tables,
    exact as the repo's parity gate: column names and types, row count and
    every value. The oracle's digest comes from ORACLE_FILE when it was
    recorded from the same SQL on this table variant, else from DuckDB now.
    Returns [(name, failure or None)] and {name: [rows, sha256]}."""
    con = duckdb_tables(data)
    recorded = {}
    if os.path.exists(ORACLE_FILE):
        saved = json.load(open(ORACLE_FILE))
        if saved["tables"] == [QUERY_CUSTOMERS, QUERY_DOCUMENTS]:
            recorded = saved["variants"].get(str(variant), {})
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    checks, seen = [], {}
    for name, sql in sorted(oracles.items()):
        try:
            got = result_digest(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'"))
            rec = recorded.get(name)
            want = rec["result"] if rec and rec["sql_sha256"] == sql_digest(sql) \
                else result_digest(con.sql(sql))
            seen[name] = got
            checks.append((name, None if got == want else
                           f"{got[0]} rows (sha256 {got[1]}), oracle {want[0]} rows (sha256 {want[1]})"))
        except Exception as ex:  # a broken result fails like a mismatch
            checks.append((name, f"{type(ex).__name__}: {ex}"))
    return checks, seen


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def meminfo_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_sha():
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
    except OSError:
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def main():
    p = argparse.ArgumentParser(description="dedup jobs benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload " + a.workload)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found under src/main/scala in " + ROOT)
    load_start = loadavg()
    jars = spark_jars()
    digest = sources_digest()
    classes = build(jars, digest)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    make_inputs(a.workload, a.seed, data, a.trace)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(ROOT, ".bench_work", f"trace-{a.workload}-seed{a.seed}.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
           "--workload", a.workload, "--data", data, "--work", work,
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--result", result_file, "--trace-file", trace_file])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run did not finish within {JVM_DEADLINE_S} s")
    if not os.path.exists(result_file):
        fail(f"the run ended (exit {proc.returncode}) without a result")
    res = json.load(open(result_file))

    checks = [(c["name"], c["message"]) for c in res["checks"]]
    query_results = {}
    if os.path.exists(os.path.join(work, "check", "oracle_sql.json")):
        qc, query_results = query_checks(os.path.join(data, "tables"), os.path.join(work, "check"),
                                         a.seed % QUERY_VARIANTS)
        checks += qc
    failed_checks = [(n, m) for n, m in checks if m]
    for n, m in failed_checks:
        print(f"perfbench: check failed: {n}: {m}", file=sys.stderr)
    # operations: whole jobs run, plus output checks made
    attempted = res["jobs"] + len(checks)
    failed = len(failed_checks)

    names, values = (spec["per_layer"], res["layer"]) if a.trace else (spec["end_to_end"], res["e2e"])
    missing = [m["name"] for m in names if not finite(values.get(m["name"]))]
    if missing:
        fail("not measured: " + ", ".join(missing))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    host = {
        "cpus": cpus, "mem_total_kb": meminfo_kb(), "spark": res["spark_version"],
        "jdk": res["jdk"], "git_sha": git_sha(), "source_sha256": digest,
        "loadavg_start": load_start, "loadavg_end": loadavg()}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host, "end_to_end": res["e2e"], "detail": res["detail"],
        "failed_ops_frac": failed / float(attempted), "query_results": query_results,
        "checks": {n: (m or "ok") for n, m in checks}}
    if a.trace:
        with open(trace_file) as fh:
            trace = json.load(fh)
        trace["host"] = host
        trace["record"] = record
        with open(trace_file, "w") as fh:
            json.dump(trace, fh)
        record["trace_file"] = os.path.relpath(trace_file, ROOT)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

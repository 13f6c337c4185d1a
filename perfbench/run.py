#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its result line.

    python3 perfbench/run.py --workload rag_query --seed 7 --seconds 10 --trace 0

Run it from the root of a source tree. The first run builds the engine
and the benchmark from that tree's sources with sbt (into
``.bench_build/``); later runs reuse the build while the sources are
unchanged. Each run then generates its inputs from the seed, runs the
workload in a fresh JVM at ``local[<cores>]``, checks its outputs and
prints, as the last line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones. The line before it is the run's
environment block (cores, JDK, heap, load average, source hash). The
full record of the run, with every check, is kept under
``.bench_build/results/``. Exit status is 0 only when every check
passed.

``--perturb 1`` corrupts the exact top-5 results before they are
checked (rag_query), to show that a wrong result fails the run.

A traced run of ``table_read`` also compares each relational query's
result with its DuckDB oracle, the way ``tools/compare.py`` does; that
needs the ``duckdb`` Python package.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("rag_query", "table_read")
# per-layer metrics (by name prefix) each workload measures; the others
# do not apply to it and read 0
LAYERS_BOTH = ("catalyst.", "scheduler.", "exec.", "trace.", "latency_", "spark.",
               "setup_cold_s", "warmup_s", "op_cpu_ms")
LAYERS = {
    "rag_query": LAYERS_BOTH + ("embed.", "index.", "text.", "ingest.", "pipeline.curate.",
                                "pipeline.index_write_s", "ops.kernel."),
    "table_read": LAYERS_BOTH + ("pipeline.self_s", "pipeline.commit_s", "pipeline.write_amp",
                                 "pipeline.lookup_files_read_ratio",
                                 "pipeline.stored_bytes_per_live_byte", "plans.", "streaming.",
                                 "cdc.", "sql_suite."),
}
# relational families run by a traced table_read, as SqlFamilies.scala names them
SQL_FAMILIES = ("scan_agg", "joins", "windows", "asof", "range", "sketches", "set_ops")
# run budget: the first run of a checkout also builds
RUN_LIMIT_S, BUILD_LIMIT_S = 175, 880

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    "-Xms3g", "-Xmx3g", "-Xss4m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dfile.encoding=UTF-8",
    "-Dsun.jnu.encoding=UTF-8",
    "-Djava.awt.headless=true",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("cannot find Spark's jars: set SPARK_HOME")
    return jars


def build(root, out_dir, deadline):
    """Compile the engine and the benchmark; returns the classpath."""
    digest = source_hash(root)
    cp_file = os.path.join(out_dir, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), digest, False
    print("perfbench: building engine and benchmark (first run)", file=sys.stderr)
    log = os.path.join(out_dir, "build.log")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.sparkJars={spark_jars()}",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(p)
            fail(f"build timed out, see {log}")
    lines = [ln for ln in out.splitlines() if "scala-2.13" in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        with open(log, "a") as lf:
            lf.write(out)
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, digest, True


def stop(p):
    """Stop a child started in its own session, and everything it started."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def make_inputs(workload, seed, d):
    import gen
    if workload == "rag_query":
        sections = gen.docx_corpus(f"{d}/docx", seed, n_docs=40, sections_per_doc=8,
                                   paras_per_section=3)
        qs = gen.questions(sections, n=1000, seed=seed + 1)
        with open(f"{d}/questions.txt", "w") as f:
            f.write("\n".join(qs) + "\n")
    else:
        # the change batch is applied by a traced run only
        n_docs, size = 1000, 50
        gen.documents(f"{d}/documents.parquet", seed, n_docs)
        live, inserted = gen.deltas(f"{d}/deltas", seed + 1, n_docs, 1, size)
        with open(f"{d}/deltas.properties", "w") as f:
            f.write(f"docs={n_docs}\nbatch_rows={size}\n"
                    f"live_after={','.join(map(str, live))}\n")
        with open(f"{d}/probes.txt", "w") as f:
            f.write("\n".join(inserted[0]) + "\n")
        with open(f"{d}/deltas.txt", "w") as f:
            f.write("b000.json\n")
        gen.sql_tables(f"{d}/sql", seed + 2)
        with open(f"{d}/sql_order.txt", "w") as f:
            f.write("\n".join(gen.shuffled(SQL_FAMILIES, seed + 3)) + "\n")


def sql_checks(tables, out):
    """Each relational result written by the workload against its DuckDB
    oracle over the same tables: row count, column names and the hash of
    the value matrix, as ``tools/compare.py`` computes them."""
    try:
        import duckdb
    except ImportError:
        return [{"name": "sql_suite.oracle", "ok": False,
                 "detail": "the duckdb Python package is not installed"}]
    if not os.path.isdir(out):
        return [{"name": "sql_suite.oracle", "ok": False,
                 "detail": "no relational results were written"}]
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").fetchall()
            got_cols = [c[0] for c in con.description]
            exp = con.execute(sql).fetchall()
            exp_cols = [c[0] for c in con.description]
        except duckdb.Error as e:
            checks.append({"name": f"sql_suite.{name}_oracle", "ok": False, "detail": str(e)})
            continue
        cols_ok = sorted(got_cols) == sorted(exp_cols)
        values_ok = cols_ok and frame_sig(got_cols, got) == frame_sig(exp_cols, exp)
        ok = len(got) == len(exp) and values_ok
        checks.append({"name": f"sql_suite.{name}_oracle", "ok": ok, "detail": "" if ok else
                       f"{len(got)} rows (oracle {len(exp)}), same columns {cols_ok}, "
                       f"same values {values_ok}"})
    return checks


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted(tuple(_canon(r[i]) for i in order) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from the root of a source tree")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json at the root of the tree")
    with open(spec_path) as f:
        spec = json.load(f)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp, digest, built = build(root, out_dir, start + BUILD_LIMIT_S)
    deadline = (start + BUILD_LIMIT_S) if built else (start + RUN_LIMIT_S)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    inputs = os.path.join(out_dir, "inputs", tag)
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(out_dir, "results")
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
    for d in (inputs, os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    make_inputs(a.workload, a.seed, inputs)

    result_file = os.path.join(results, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        f"-Dperfbench.perturb={a.perturb}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--inputs", inputs, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_file]
    env = dict(os.environ, LC_ALL="C.UTF-8")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, start_new_session=True)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(p)
        shutil.rmtree(work, ignore_errors=True)
        fail("workload timed out")
    finally:
        if p.poll() is None:
            stop(p)
    if p.returncode != 0 or not os.path.exists(result_file):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload process exited with {p.returncode}")
    with open(result_file) as f:
        res = json.load(f)
    if a.trace and a.workload == "table_read":
        res["checks"] += sql_checks(os.path.join(inputs, "sql"), os.path.join(work, "sql"))
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not a.trace or m["name"].startswith(LAYERS[a.workload]):
                missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = (bool(res["correct"]) and not missing
               and all(c["ok"] for c in res["checks"]))
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    if missing:
        print(f"perfbench: metrics not measured: {', '.join(missing)}", file=sys.stderr)
    if res.get("error"):
        print(f"perfbench: workload error: {res['error']}", file=sys.stderr)
    env_block = dict(res["env"], source_sha1=digest, workload=a.workload, seed=a.seed,
                     trace=a.trace, samples=res["samples"], timed_s=res["timed_s"])
    res["env"] = env_block
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"env": env_block}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

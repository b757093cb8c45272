#!/usr/bin/env python3
"""graft's benchmark: one named workload per invocation.

    python3 graftbench/run.py --workload scene|batch|analytics \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) and records the classpath under
graftbench/.build; later runs reuse it while no source has changed. Each run
works in a temporary directory under graftbench/.work that it removes at
the end. The last line of standard output is the result, one JSON object:
{"correct", "attempted", "failed", "metrics"}. S is accepted but does not
set the run's length: each workload makes a fixed number of steady
operations, so that every run attempts the same work. See
graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("scene", "batch", "analytics")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compiles with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"graftbench: no engine sources here ({need} missing)")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    log("building engine and benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx2g -Xss16m")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def run_jvm(classpath, args, work):
    """Runs one benchmark process; returns its result object, or None."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["graftbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"benchmark process exceeded {JVM_TIMEOUT_S} s")
        return None
    for line in reversed(out.splitlines()):
        if line.startswith("GRAFTBENCH "):
            return json.loads(line[len("GRAFTBENCH "):])
    log(f"benchmark process ended with code {proc.returncode} and no result")
    return None


def oracle_checks(work, tables):
    """Compares each query's rows with DuckDB's result of its oracle SQL the
    way tools/check_correctness.py does, with that tool's own comparison:
    columns sorted by name, rows sorted by value, cells compared exactly."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon, cell_eq
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
    checks = []
    for name in sorted(oracle):
        d = os.path.join(work, "results", name)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
            gc, gr = canon(got.fetchall(), [c[0] for c in got.description])
            exp = con.execute(oracle[name])
            ec, er = canon(exp.fetchall(), [c[0] for c in exp.description])
        except Exception as e:  # a missing result or an oracle error
            checks.append({"name": f"oracle.{name}", "ok": False, "detail": str(e)[:200]})
            continue
        detail = f"{len(gr)} rows"
        ok = gc == ec and len(gr) == len(er)
        if not ok:
            detail = f"columns {gc} vs {ec}, rows {len(gr)} vs {len(er)}"
        else:
            for i, (a, b) in enumerate(zip(gr, er)):
                bad = [c for c, x, y in zip(gc, a, b) if not cell_eq(x, y)]
                if bad:
                    ok, detail = False, f"row {i} column {bad[0]}"
                    break
        checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = ensure_built()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace), "--work", work]
        if a.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            args += ["--trace-file",
                     os.path.join(HERE, "out", f"trace-{a.workload}-seed{a.seed}.json")]
        tables = os.path.join(work, "tables")
        if a.workload == "analytics":
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                            tables, str(a.seed)], check=True)
            args += ["--tables", tables]
        res = run_jvm(classpath, args, work)
        if res is None:
            return 1
        checks = res["checks"]
        if a.workload == "analytics":
            checks += oracle_checks(work, tables)
        for c in checks:
            log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
        log("operation seconds: " + ", ".join(f"{t:.2f}" for t in res["op_s"]))
        print(json.dumps({
            "correct": all(c["ok"] for c in checks),
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": res["metrics"]}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

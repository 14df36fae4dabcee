#!/usr/bin/env python3
"""Layered benchmark of the bronze ingest path and the LLM curation pass.

    python3 perfbench/run.py --workload backfill|stream|curation \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and
the harness from the checkout's sources (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged. One JVM runs the
workload and reports; this script then checks the curation results
against their DuckDB oracles and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before
it stamps the run configuration. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
BUILD_CMD = ["sbt", "-batch", "compile", "Compile / copyResources"]
# what spark-submit would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of the build recipe and every file the build reads."""
    h = hashlib.sha256(" ".join(BUILD_CMD).encode())
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                         stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    print("perfbench: building library and harness (sbt compile)",
          file=sys.stderr)
    shutil.rmtree(os.path.join(HERE, "target"), ignore_errors=True)
    code, out = run_group(BUILD_CMD, HERE, BUILD_TIMEOUT_S,
                          stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out[-4000:] if out else "")
        fail("build failed" if code is not None else "build timed out")
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(main, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 installation")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xmx{HEAP}", *opens, "-cp", cp, main, *args]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def corpus_digest(con):
    """Digest of the corpus rows (parquet bytes differ run to run)."""
    parts = [con.execute(f"SELECT md5(string_agg(CAST(t AS VARCHAR), '|' "
                         f"ORDER BY {key})) FROM {name} t").fetchone()[0]
             for name, key in (("documents", "doc_id"), ("embeddings", "vec_id"))]
    return hashlib.sha256("".join(parts).encode()).hexdigest()


def oracle_check(oracle_file):
    """Each curation result must equal its oracle SQL's DuckDB answer on
    the same corpus: same column names, same rows, exact values. The
    corpus is fixed, so each answer is computed once per checkout and
    kept under .work/oracle-cache, keyed by corpus bytes and SQL."""
    import duckdb
    with open(oracle_file) as f:
        spec = json.load(f)
    cache = os.path.join(WORK, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['corpus']}/{t}.parquet/*.parquet')")
    corpus = corpus_digest(con)
    problems = []
    for q, sql in sorted(spec["oracle_sql"].items()):
        if sql is None:
            problems.append(f"{q}: no oracle SQL")
            continue
        key = hashlib.sha256((corpus + sql).encode()).hexdigest()
        cached = os.path.join(cache, key + ".parquet")
        if not os.path.exists(cached):
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
            con.execute(f"COPY want TO '{cached}.tmp' (FORMAT parquet)")
            os.replace(cached + ".tmp", cached)
        con.execute("CREATE OR REPLACE TEMP TABLE want AS SELECT * FROM "
                    f"read_parquet('{cached}')")
        con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                    f"read_parquet('{spec['results']}/{q}/*.parquet')")
        wc = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
        gc = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
        if sorted(wc) != sorted(gc):
            problems.append(f"{q}: columns {sorted(gc)} != oracle {sorted(wc)}")
            continue
        cols = ", ".join(f'"{c}"' for c in sorted(wc))
        n_w = con.execute("SELECT count(*) FROM want").fetchone()[0]
        n_g = con.execute("SELECT count(*) FROM got").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                            f"EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want "
                              f"EXCEPT ALL SELECT {cols} FROM got)").fetchone()[0]
        if n_w != n_g or extra or missing:
            problems.append(f"{q}: {n_g} rows vs oracle {n_w}, "
                            f"{extra} unexpected, {missing} missing")
        elif n_w == 0:
            problems.append(f"{q}: empty result")
    con.close()
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["backfill", "stream", "curation"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None
                           or a.seconds is None or a.seconds <= 0):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala: "
             "run from the root of a checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    digest = source_digest()
    build(digest)
    if a.selftest:
        code, out = run_group(java_cmd("perfbench.SelfTest", []), ROOT, 120)
        sys.stdout.write(out or "")
        sys.exit(0 if code == 0 else 1)

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(run_dir, "jvm.log")
    try:
        t0 = time.monotonic()
        with open(log, "w") as err:
            code, out = run_group(
                java_cmd("perfbench.Main", [
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", run_dir]),
                ROOT, RUN_TIMEOUT_S - 10, stderr=err)
        lines = [ln for ln in (out or "").splitlines()
                 if ln.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not lines:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload run failed (exit {code})")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        info = res["info"]
        correct = bool(res["correct"])
        if a.workload == "curation":
            o0 = time.monotonic()
            problems = oracle_check(info["oracle"])
            info["oracle_failures"] = problems
            info["oracle_s"] = time.monotonic() - o0
            correct = correct and not problems
        if a.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"), os.path.join(
                WORK, "traces", f"{a.workload}-seed{a.seed}.json"))

        declared = bench["per_layer"] if a.trace else bench["end_to_end"]
        metrics = {}
        for m in declared:
            v = res["metrics"].get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                sys.stderr.write(json.dumps(info)[:4000] + "\n")
                fail(f"metric {m['name']} missing or not a number: {v!r}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        extra = set(res["metrics"]) - {m["name"] for m in declared}
        if extra:
            fail(f"undeclared metrics {sorted(extra)}")

        config = dict(res["config"])
        config.update({"git_sha": git_sha(), "source_digest": digest,
                       "heap": HEAP, "wall_s": time.monotonic() - t0})
        print(json.dumps({"config": config, "info": info}, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

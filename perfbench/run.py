#!/usr/bin/env python3
"""graft benchmark: one seeded workload per call, from the repository root.

    python3 perfbench/run.py --workload query --seed 7 --seconds 10 --trace 0

Builds graft and the benchmark from source with sbt on first use, runs
the workload in one JVM, checks the program's outputs and prints one JSON
result as the last line of stdout.  See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("query", "maintain")
# one run, build excluded, ends well inside the 180 s a run may take
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the repository build's forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to the benchmark")
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors or lines[-40:]) + "\n")
        fail("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def jvm_heap():
    """Half of MemTotal, clamped to 2..8 GiB (as the test command does)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def check_bm25(checks):
    """Each WAND answer set must equal Bm25SqlPath's DuckDB twin row for
    row: (query_id, rank, doc_id, score)."""
    import duckdb
    problems = []
    for c in checks:
        con = duckdb.connect()
        for view, d in c["tables"].items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(d, '*.parquet')}')")
        want = [(int(q), int(r), int(d), float(s))
                for q, r, d, s in con.execute(c["sql"]).fetchall()]
        got = [(int(q), int(r), int(d), float(s)) for q, r, d, s in c["hits"]]
        if got != want:
            diff = next((p for p in zip(got, want) if p[0] != p[1]), None)
            problems.append(f"{c['what']}: WAND != Bm25SqlPath oracle "
                            f"({len(got)} vs {len(want)} rows, first diff {diff})")
        con.close()
    return problems


def check_pipeline(work):
    """Compare each pipeline op's output with its DuckDB oracle twin, as
    tools/check_oracle.py does: columns sorted by name, rows by value."""
    import duckdb
    import pandas as pd
    base = os.path.join(work, "pipeline")
    with open(os.path.join(base, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        glob = os.path.join(base, "corpus", f"{table}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{glob}')")
    problems = []

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    for name, sql in oracle.items():
        out = os.path.join(base, "out", name)
        try:
            got = norm(con.execute(sql).fetchdf())
            exp = norm(pd.read_parquet(out))
        except Exception as e:  # a missing output or a failing oracle
            problems.append(f"{name}: {e}")
            continue
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) \
                or not got.equals(exp):
            problems.append(f"{name}: output differs from its DuckDB oracle "
                            f"({len(exp)} vs {len(got)} rows)")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = ["java", f"-Xmx{jvm_heap()}", f"-Djava.io.tmpdir={work}/tmp"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        # the JVM's output is diagnostics; stdout carries only the result
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("run exceeded its time limit")
        if rc != 0:
            fail(f"benchmark JVM exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        problems = list(res["problems"]) + check_bm25(res["bm25_checks"])
        if a.trace:
            problems += check_pipeline(work)
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    print(f"[perfbench] ops: {json.dumps(res['ops'])}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()

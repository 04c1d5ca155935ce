#!/usr/bin/env python3
"""Benchmark of the pin pipeline and the dedup catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pin_batch --seed 1 --seconds 15 --trace 0

Workloads: pin_batch (PipelineMain.main on a generated landed volume),
pin_stream (StreamMain's three queries under an open-loop file generator)
and dedup_catalog (five composed dedup/curation catalog queries into a
noop sink). The first run compiles the program and the harness with sbt
into .bench_build/ and target/; later runs reuse the build while the
sources are unchanged.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the run also writes its spans
to .bench_build/work/<workload>/spans.json. --tiny 1 shrinks every size
for the self-check (test_selfcheck.py). Exits non-zero when an output
check fails or the program cannot be built.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# Spark 4 on JDK 17 needs these outside spark-submit (the root build's
# javaOptions carry the same list).
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
    """Every file the build reads, for the rebuild fingerprint."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files]
    return sorted(p for p in out if os.path.isfile(p))


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("run from the root of a checkout of the program (no build.sbt/src here)")
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(cp_file) as f:
                cached = json.load(f)
            if cached["stamp"] == stamp:
                return cached["classpath"]
        except (OSError, ValueError, KeyError):
            pass
        env = dict(os.environ, COURSIER_MODE="offline")
        # sbt's own state goes inside the checkout too
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                "-Dsbt.log.noformat=true", "-Xmx2g", "-XX:-UsePerfData",
                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            p = subprocess.run(
                ["sbt", "--batch", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                stdin=subprocess.DEVNULL, text=True, timeout=700)
            lf.write(p.stdout)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
        if p.returncode != 0 or not lines:
            fail(f"sbt build failed (exit {p.returncode}); see {log}")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            json.dump({"stamp": stamp, "classpath": classpath,
                       "build_s": time.time() - t0}, f)
        return classpath


def run_jvm(classpath, args, work, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-Xmx3g", "-XX:+ExplicitGCInvokesConcurrent", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main"] + args
    log = os.path.join(BUILD, f"{os.path.basename(work)}.log")
    with open(log, "w") as lf:
        # own process group, so a timeout stops the JVM and anything it forked
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out after {timeout:.0f} s; see {log}", 3)
    line = next((ln for ln in reversed(out.splitlines()) if ln.startswith("PERFBENCH ")), None)
    if p.returncode != 0 or line is None:
        fail(f"harness exited {p.returncode} without a result; see {log}", 3)
    return json.loads(line[len("PERFBENCH "):])


# ---- DuckDB oracle compare (the catalog's correctness gate, in miniature)

def canon(v):
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(df):
    """Columns lower-cased and sorted by name, rows sorted, values hashed."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    h = hashlib.sha256()
    for r in sorted("\x01".join(canon(v) for v in row)
                    for row in df.itertuples(index=False, name=None)):
        h.update(r.encode("utf-8"))
        h.update(b"\x02")
    return [list(df.columns), len(df), h.hexdigest()]


ORACLE_FILE = os.path.join(HERE, "dedup_oracle.json")


def oracle_checks(work, key, record):
    """Hash each dumped catalog result and compare it with the DuckDB
    oracle's hash for the same corpus, as recorded in dedup_oracle.json.
    With record set, run the oracle SQL now (minutes) and store its hash."""
    import duckdb
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    try:
        with open(ORACLE_FILE) as f:
            recorded = json.load(f)
    except OSError:
        recorded = {}
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    docs = os.path.join(work, "sf", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    checks = {}
    for name, sql in sorted(oracles.items()):
        check = f"dedup_catalog.{name.split('_')[0]}"
        got = frame_hash(con.sql(
            f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df())
        if record:
            want = frame_hash(con.sql(sql).df())
            if got == want:
                recorded.setdefault(key, {})[name] = want
        else:
            want = recorded.get(key, {}).get(name)
        checks[check] = want is not None and got == want
    if record:
        with open(ORACLE_FILE, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    return checks


def declared(trace):
    """Metric names and units BENCHMARK.json declares for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pin_batch", "pin_stream", "dedup_catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0,
                    help="dedup_catalog: run the DuckDB oracle and record its hashes")
    a = ap.parse_args()
    t0 = time.time()
    classpath = build()
    # a build may take minutes; the harness budget counts from here
    t0 = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    res = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--tiny", str(a.tiny), "--work", work],
                  work, timeout=170)
    checks = dict(res["checks"])
    if a.workload == "dedup_catalog":
        corpus = f"{'tiny' if a.tiny else 'full'}-{a.seed % 3}"
        checks.update(oracle_checks(work, corpus, a.record))
    bad_checks = sorted(k for k, ok in checks.items() if not ok)
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad_checks)
    metrics = res["layer"] if a.trace else res["e2e"]
    want = declared(a.trace)
    if want is not None and {k: m["unit"] for k, m in metrics.items()} != want:
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(want)}", 4)
    correct = not bad_checks and res["failed"] == 0
    print(json.dumps({"diagnostic": {
        "run": res["run"], "host_probe_s": res["host_probe_s"], "peak_rss_mb": res["peak_rss_mb"],
        "fail_share": failed / max(1, attempted), "checks": checks,
        "failed_checks": bad_checks, "notes": res["notes"],
        "harness_wall_s": res["wall_s"], "total_wall_s": time.time() - t0,
        "spans": os.path.join(work, "spans.json") if a.trace else None}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repository benchmark: builds the library with the harness under
perfbench/, runs one workload in one JVM, checks its outputs and prints one
JSON result line last on stdout.

Usage, from the repository root:

    python3 perfbench/run.py --workload pdf_extract --seed 1 --seconds 10 --trace 0

Workloads, metrics and their meaning are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = "perfbench"
# Library sources the harness compiles against (checked before building).
LIBRARY = os.path.join("src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
# Matches the root build's JDK 17 module opens for in-process Spark.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("pdf_extract", "crawl_warehouse", "dedup_minhash")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an unchanged checkout reuses
    the compiled classes instead of starting sbt again."""
    h = hashlib.sha256()
    roots = [os.path.join("src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs a child process to completion; on timeout kills its whole
    process group and waits for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL)
    text = out.decode(errors="replace")
    if code != 0:
        sys.stderr.write(text[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in text.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def oracle_check(oracle):
    """Compares Spark's x25 pairs and x16 groups with the repository's own
    DuckDB oracle SQL over the same generated documents. Returns the
    number of docs whose pairs or group disagree."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{oracle['documents']}/*.parquet')")
    want_pairs = set(con.execute(oracle["x25_sql"]).fetchall())
    got_pairs = set(con.execute(
        f"SELECT a, b, CAST(inter AS BIGINT), CAST(un AS BIGINT) FROM read_parquet('{oracle['pairs']}/*.parquet')"
    ).fetchall())
    bad = set()
    for a, b, _, _ in want_pairs ^ got_pairs:
        bad.update((a, b))
    want_groups = dict(con.execute(oracle["x16_sql"]).fetchall())
    got_groups = dict(con.execute(
        f"SELECT doc_id, dup_group FROM read_parquet('{oracle['groups']}/*.parquet')").fetchall())
    for d in set(want_groups) | set(got_groups):
        if want_groups.get(d) != got_groups.get(d):
            bad.add(d)
    con.close()
    return len(bad), len(want_pairs), len(want_groups)


def main():
    # A terminated run still stops its children (see run_child).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(LIBRARY) or not os.path.isdir(os.path.join(BENCH, "src")):
        log(f"run from the repository root: {LIBRARY} or {BENCH}/src not found")
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    result_file = os.path.join(WORK, "result.json")
    try:
        # A fixed heap size: no heap resizing during the measurement.
        cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.abspath(WORK)}/tmp",
               f"-Dlog4j2.configurationFile={os.path.abspath(BENCH)}/log4j2.properties"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", WORK, "--out", result_file,
                "--spans", os.path.join(OUT, f"spans-{args.workload}.tsv")]
        code, _ = run_child(cmd, RUN_TIMEOUT_S, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if code != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM failed with exit code {code}")
            return 1
        with open(result_file) as f:
            res = json.load(f)

        correct, attempted, failed = res["correct"], res["attempted"], res["failed"]
        metrics = res["metrics"]
        if res["oracle"]:
            bad_docs, n_pairs, n_groups = oracle_check(res["oracle"])
            log(f"oracle: {n_pairs} x25 pairs, {n_groups} x16 groups, {bad_docs} docs disagree")
            attempted += n_groups
            failed += bad_docs
            correct = correct and bad_docs == 0
            if "fail_ratio" in metrics:
                metrics["fail_ratio"]["value"] = failed / attempted
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    # Below four cores there is no 4x width pair; those two are left out.
    if res["nproc"] < 4:
        missing = [m for m in missing if m not in ("docs_per_s_1task", "scaling_eff")]
    if missing:
        log(f"metrics missing from the run: {missing}")
        return 1
    for line in res["log"].splitlines():
        print(f"# {line}")
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

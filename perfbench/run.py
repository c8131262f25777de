#!/usr/bin/env python3
"""graft end-to-end benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <serve_write|curate_crawl> \
      --seed <n> --seconds <s> --trace <0|1> [--docs <dir>]

Builds the library and the benchmark program from source (once per source
state; the build is cached under .bench_build/), runs one workload in one
JVM, checks the curation outputs against the DuckDB oracle, and prints
the result as the last line of standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A self-describing run record
(seed, source digest, cores, heap, load, corpus fingerprint, workload
metrics, tracing overhead) is written to .bench_build/records/, and the
traced run's spans to the run's work directory.

--docs <dir> serves a documents.parquet table from <dir> instead of the
seeded corpus (used by perfbench/smoke.py).
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_write", "curate_crawl")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group with output to `log_path`;
    kill the whole group on timeout. Returns the exit code (None on
    timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_digest():
    """sha1 over every file the build reads, so an edit rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha1()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile the library and the benchmark; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == digest and all(
                os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                + opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or opts) + f" -Djava.io.tmpdir={tmp}"
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     HERE, env, BUILD_TIMEOUT_S, log)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        tail = "\n".join(lines[-30:])
        die(f"build failed (exit {rc}); see {log}\n{tail}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def heap_mb():
    """Driver heap: a quarter of RAM, between 2 and 3 GB. It is fixed
    (initial = max) so heap resizing adds no noise to peak RSS."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2048, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def oracle_check(check_dir):
    """Compare each curation stage's output with the DuckDB oracle SQL
    over the same documents table. Returns [(query, ok, detail)]."""
    import duckdb
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(check_dir, "tables.json")) as f:
        tables = json.load(f)
    out = []
    for name, sql in sorted(oracle.items()):
        con = duckdb.connect()
        try:
            docs = os.path.join(tables[name], "documents.parquet")
            con.sql(f"CREATE VIEW documents AS FROM '{docs}/*.parquet'")
            got = con.sql(f"FROM '{os.path.join(check_dir, name)}/*.parquet'").df()
            exp = con.sql(sql).df()
            got = got.reindex(sorted(got.columns), axis=1)
            exp = exp.reindex(sorted(exp.columns), axis=1)
            if list(got.columns) != list(exp.columns):
                out.append((name, False, f"columns {list(got.columns)} vs {list(exp.columns)}"))
                continue
            if len(got) != len(exp):
                out.append((name, False, f"rows {len(got)} vs oracle {len(exp)}"))
                continue
            cols = list(got.columns)
            g = got.sort_values(cols).reset_index(drop=True)
            e = exp.sort_values(cols).reset_index(drop=True)
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            out.append((name, True, f"{len(got)} rows"))
        except Exception as ex:  # a mismatch or an oracle error both fail
            out.append((name, False, str(ex).splitlines()[-1] if str(ex) else repr(ex)))
        finally:
            con.close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", default=None)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the graft sources (build.sbt, src/main/scala/graft) are not here; "
            "run from a full checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    cp = build(digest)

    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    local = os.path.join(BUILD, "spark-local")
    os.makedirs(local, exist_ok=True)
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={local}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out]
           + (["--docs", os.path.abspath(a.docs)] if a.docs else []))
    t0 = time.time()
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch here
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    rc = run_bounded(cmd, ROOT, env, JVM_TIMEOUT_S, os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {rc}); see {work}/jvm.log", 3)
    with open(out) as f:
        res = json.load(f)
    rec = res["record"]
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])

    if "check_dir" in rec:  # outside the timed region
        for name, ok, detail in oracle_check(rec["check_dir"]):
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"oracle {name}: {detail}")
            rec.setdefault("oracle", {})[name] = detail if ok else "FAIL: " + detail

    want = spec["per_layer" if a.trace else "end_to_end"]
    got = res["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        # tracing overhead: this run's traced window minus its untraced
        # window with the same single client
        ref, e2e = rec.get("untraced_reference", {}), res["end_to_end"]
        for m in ("ops_per_s", "latency_ms", "fresh_s"):
            if m in ref and m in e2e:
                got[f"trace.overhead.{m}"] = {
                    "value": e2e[m]["value"] - ref[m],
                    "unit": e2e[m]["unit"]}
    metrics = {}
    for m in want:
        v = got.get(m["name"])
        if v is None and a.trace:
            # a layer this workload does not call did no work here
            v = {"value": 0, "unit": m["unit"]}
            rec.setdefault("not_exercised", []).append(m["name"])
        if v is None or v["value"] is None:
            failed += 1
            attempted += 1
            failures.append(f"metric {m['name']} missing")
            continue
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}

    rec["source_digest"] = digest
    try:
        rec["commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       capture_output=True, text=True,
                                       timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rec["commit"] = None
    rec["wall_s"] = round(time.time() - t0, 3)
    rec["end_to_end"] = res["end_to_end"]
    rec["failures"] = failures
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}")
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <pipelines|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run builds the engine and the harness
from source (`perfbench/build.py`), generates the workload's inputs from
the seed (`perfbench/gen.py`, and in the harness for the CSR drop zone),
drives
the engine from one JVM (`perfbench/scala/Main.scala`), checks the outputs
(the harness checks pipeline outputs and scenario cones; this script
checks `query_mix` results against their DuckDB oracles) and removes
everything it created, in the build dir and in `/tmp`.

stdout: a `perfbench-record {...}` line with provenance, sample counts and
every raw value, then, as the last line, the result object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of `BENCHMARK.json` (medians of the
run's samples); with `--trace 1` they are its per-layer metrics. A failed
check makes `correct` false and the exit code 1.

Every run works under its own `<build dir>/runs/<workload>-<seed>-*` root,
and its dataset dirs carry the run's nonce in their basenames, so staged
frames (which the engine keys on that basename, most of them under
`/tmp/graft_*`) are never shared with another run. At the end the run
removes the `/tmp/graft_*` entries it created, found by diffing the listings
taken before and after and matching the nonce, and records any others in
`tmp_left_behind`.
"""
import argparse
import glob
import json
import os
import secrets
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import gen  # noqa: E402

# Input sizes, fixed per workload (the seed changes content, never size).
CSR_INDIVIDUALS = 10_000
CORPUS_DOCS, CORPUS_DELTA = 400, 20
QUERY_MIX_SF = 0.01
RUN_LIMIT_S = 170  # the whole run, build included, ends well inside 180 s

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB (the engine's test-suite rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration):
        return 2


def graft_tmp_entries():
    return set(glob.glob("/tmp/graft_*"))


def cpu_ticks():
    """(busy, steal) clock ticks of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def provenance(stamp):
    p = {"source_sha1": stamp, "nproc": len(os.sched_getaffinity(0)), "heap_gb": heap_gb()}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = lambda *a: subprocess.run(["git", "-C", ROOT, *a], capture_output=True, text=True).stdout.strip()
        p["git_sha"] = git("rev-parse", "HEAD")
        p["git_dirty"] = bool(git("status", "--porcelain", "--untracked-files=no"))
    else:
        p["git_sha"], p["git_dirty"] = None, None
    return p


def summary(values):
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (left out below 11 samples)."""
    v = sorted(values)
    n = len(v)
    out = {"median": statistics.median(v), "n": n, "min": v[0], "max": v[-1]}
    if n >= 11:
        p = 100.0 * (n - 10) / n
        out[f"p{int(p)}"] = v[int(p / 100.0 * n) - 1]
    return out


def oracle_checks(run_root, data):
    """query_mix: cold and incremental results equal their DuckDB oracles
    (rows compared with tools/check.py's normalisation), and warm results
    equal the incremental ones, computed over the same documents.
    Returns (attempted, failures)."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import rows_of

    out = os.path.join(run_root, "qm", "out")
    oracle = json.load(open(os.path.join(run_root, "qm", "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET TimeZone='UTC'")

    def views(documents):
        for t in TABLES:
            p = documents if t == "documents" else f"{data}/tables/{t}.parquet"
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def spark_rows(pass_, q):
        d = os.path.join(out, pass_, q)
        return rows_of(pq.read_table(d)) if glob.glob(f"{d}/*.parquet") else None

    def same(a, b):
        return a is not None and b is not None and a[0] == b[0] and \
            sorted(map(repr, a[1])) == sorted(map(repr, b[1]))

    queries = sorted(os.listdir(os.path.join(out, "warm"))) if os.path.isdir(os.path.join(out, "warm")) else []
    attempted, failures = 0, []
    incremental = {q: spark_rows("incremental", q) for q in queries}
    for q in queries:
        attempted += 1
        if not same(spark_rows("warm", q), incremental[q]):
            failures.append(f"{q}: warm result differs from the incremental one")
    for pass_, docs in (("cold", f"{data}/tables/documents.parquet"),
                        ("incremental", f"{data}/variant/documents.parquet")):
        views(docs)
        for q in queries:
            if q not in oracle:
                continue
            attempted += 1
            try:
                duck = rows_of(con.execute(oracle[q]).fetch_arrow_table())
            except Exception as e:  # noqa: BLE001 - an oracle error is a failed check
                failures.append(f"{q}: oracle error {e}")
                continue
            got = incremental[q] if pass_ == "incremental" else spark_rows(pass_, q)
            if not same(duck, got):
                failures.append(f"{q}: {pass_} result differs from its oracle")
    return attempted, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipelines", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classes = build.build()
    stamp = open(os.path.join(build.build_dir(), "classes.stamp")).read()

    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    data = os.path.join(run_root, "data")
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(run_root, d))
    nonce = f"{os.getpid()}x{secrets.token_hex(4)}"
    tmp_before = graft_tmp_entries()
    # a terminated run still stops its JVM and removes what it created
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    rec = None
    extra_attempted, extra_failures = 0, []
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            **provenance(stamp)}
    try:
        t_gen = time.time()
        if a.workload == "pipelines":
            info["input_docs"] = gen.corpus(data, a.seed, CORPUS_DOCS, CORPUS_DELTA)
            info["delta_docs"] = CORPUS_DELTA
        elif a.workload == "query_mix":
            info["input_rows"] = gen.tables(data, a.seed, QUERY_MIX_SF)
            info["sf"] = QUERY_MIX_SF
        info["generate_s"] = time.time() - t_gen

        out_json = os.path.join(run_root, "record.json")
        log = os.path.join(run_root, "jvm.log")
        cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_root}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", build.classpath(classes), "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", run_root, "--data", data, "--out", out_json,
                "--individuals", str(CSR_INDIVIDUALS), "--nonce", nonce, "--launched-ms", str(int(time.time() * 1000))]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                   SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
        t_jvm, cpu0 = time.time(), cpu_ticks()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - started), 10))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = "timeout"
        info["jvm_s"] = time.time() - t_jvm
        # the share of the machine's CPU time the hypervisor gave to other
        # guests while the JVM ran: a load figure for comparing runs
        busy, steal = (b - a for a, b in zip(cpu0, cpu_ticks()))
        info["steal_share"] = steal / max(busy + steal, 1)
        with open(log, errors="replace") as lf:  # the harness's own progress lines
            sys.stderr.writelines(l for l in lf if l.startswith("[perfbench]"))
        if code != 0 or not os.path.exists(out_json):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
        rec = json.load(open(out_json))
        if a.workload == "query_mix":
            extra_attempted, extra_failures = oracle_checks(run_root, data)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        created = graft_tmp_entries() - tmp_before
        for p in created:
            if f"pbq_{nonce}_" in os.path.basename(p):
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        info["tmp_left_behind"] = sorted(p for p in graft_tmp_entries() - tmp_before)

    samples, layer = rec["samples"], rec["layer"]
    failures = rec["failures"] + extra_failures
    attempted = rec["attempted"] + extra_attempted
    for f in extra_failures:
        sys.stderr.write(f"[perfbench] FAILED {f}\n")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        for m in ("cold_s", "warm_s", "noop_s", "incremental_s"):
            # the harness charges tracing time per metric; report it per sample
            if samples.get(m):
                layer[f"overhead.{m}"] = layer.get(f"overhead.{m}", 0.0) / len(samples[m])
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layer.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in names if not samples.get(n)]
        if missing:
            raise SystemExit(f"perfbench: no samples for {missing}")
        metrics = {n: {"value": statistics.median(samples[n]), "unit": units[n]} for n in names}
    record = {"info": {**info, **rec["info"]}, "samples": samples,
              "summary": {k: summary(v) for k, v in samples.items()},
              "layer": layer, "failures": failures}
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

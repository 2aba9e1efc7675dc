#!/usr/bin/env python3
"""Crawl-engine benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program (src/main/scala)
and the benchmark (perfbench/scala) with the Scala compiler shipped in the
Spark jars, runs one workload in a plain `java -cp` JVM at local[nproc],
checks every output (the JVM checks crawls against CrawlSimulator; this
script checks ops_corpus leaves against their DuckDB oracles) and prints
two JSON lines: a report with the workload's named metrics, host probes
and samples, then the result line.

Everything it writes goes under $CARGO_TARGET_DIR (default .bench_build)
in the checkout.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ("round_bulk", "drain_open", "crawl_polite_store", "ops_corpus")

# end-to-end metric -> the sample series it is the median of, per workload
END_TO_END = {
    "round_bulk": {"op_latency_s": "round_s", "throughput_per_s": "round_urls_per_s"},
    "drain_open": {"op_latency_s": "drain_s", "throughput_per_s": "drain_urls_per_s"},
    "crawl_polite_store": {"op_latency_s": "polite_crawl_s",
                           "throughput_per_s": "polite_fetches_per_s"},
    "ops_corpus": {"op_latency_s": "ops_geomean_s", "throughput_per_s": "ops_leaves_per_s"},
}
E2E_UNITS = {"setup_s": "s", "op_latency_s": "s", "throughput_per_s": "1/s"}

# the workloads' own metric names: (sample series, unit, better)
NAMED = {
    "round_bulk": {"round_urls_per_s": ("round_urls_per_s", "urls/s", "higher"),
                   "round_s": ("round_s", "s", "lower")},
    "drain_open": {"drain_s": ("drain_s", "s", "lower")},
    "crawl_polite_store": {"polite_crawl_s": ("polite_crawl_s", "s", "lower"),
                           "resume_round_s": ("resume_round_s", "s", "lower")},
    "ops_corpus": {"ops_total_s": ("ops_total_s", "s", "lower"),
                   "ops_geomean_s": ("ops_geomean_s", "s", "lower")},
}

LEAVES = ("dedup_minhash_lsh", "search_batch_stats", "dedup_simhash")

# per-layer metric -> (unit, better); every traced run prints all of them
PER_LAYER = {
    "frontier.schedule_s": ("s", "lower"),
    "frontier.scheduled_rows": ("count", "higher"),
    "frontier.deferred_rows": ("count", "lower"),
    "frontier.plan_build_s": ("s", "lower"),
    "frontier.fetch_extract_s": ("s", "lower"),
    "frontier.next_frontier_s": ("s", "lower"),
    "frontier.checkpoint_s": ("s", "lower"),
    "frontier.rounds": ("count", "lower"),
    "frontier.scaling_eff_1to4": ("ratio", "higher"),
    "seen.notseen_s": ("s", "lower"),
    "seen.candidates": ("count", "lower"),
    "seen.survivors": ("count", "lower"),
    "seen.bloom_negative_ratio": ("ratio", "higher"),
    "seen.bloom_fp_ratio": ("ratio", "lower"),
    "seen.bloom_build_s": ("s", "lower"),
    "seen.keys": ("count", "lower"),
    "extract.us_per_page": ("us", "lower"),
    "extract.mb_per_s": ("MB/s", "higher"),
    "html.parse_us_per_page": ("us", "lower"),
    "outlinks.us_per_page": ("us", "lower"),
    "url.canonicalize_ns": ("ns", "lower"),
    "url.sha256_ns": ("ns", "lower"),
    "store.commit_s": ("s", "lower"),
    "store.commit_mb": ("MB", "lower"),
    "store.latest_s": ("s", "lower"),
    "store.resume_read_s": ("s", "lower"),
    "store.seen_parts": ("count", "lower"),
    "driver.jobs": ("count", "lower"),
    "driver.jobs_per_round": ("count", "lower"),
    "driver.stages": ("count", "lower"),
    "driver.task_s": ("s", "lower"),
    "driver.stage_wall_s": ("s", "lower"),
    "driver.gap_s": ("s", "lower"),
    "driver.shuffle_read_mb": ("MB", "lower"),
    "driver.shuffle_write_mb": ("MB", "lower"),
    "driver.spill_mb": ("MB", "lower"),
    "driver.gc_s": ("s", "lower"),
    "driver.peak_storage_mb": ("MB", "lower"),
    "driver.stage_skew": ("ratio", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.accounted_ratio": ("ratio", "higher"),
}
PER_LAYER.update({f"ops.{leaf}_s": ("s", "lower") for leaf in LEAVES})

RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """$SPARK_HOME/jars, else the unmanagedBase jar directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root, sub):
    found = sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))
    if not found:
        fail(f"no Scala sources under {sub}")
    return found


def build(root, out, jars):
    """Compile the program and the benchmark unless the sources are unchanged."""
    main_src = sources(root, "src/main/scala")
    bench_src = sources(root, "perfbench/scala")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(out, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return 0.0
    started = time.time()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jar_cp = os.path.join(jars, "*")
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp,
              "scala.tools.nsc.Main", "-nowarn"]
    deadline = time.time() + BUILD_LIMIT_S
    for dest, cp, files in (("classes", jar_cp, main_src),
                            ("bench-classes", os.path.join(out, "classes") + os.pathsep + jar_cp,
                             bench_src)):
        os.makedirs(os.path.join(out, dest))
        r = subprocess.run(scalac + ["-d", os.path.join(out, dest), "-classpath", cp] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=max(deadline - time.time(), 1))
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return time.time() - started


def heap():
    """Driver heap from MemTotal: half of it, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(args, out, jars, work, ncores, deadline):
    cp = os.pathsep.join([os.path.join(out, "classes"), os.path.join(out, "bench-classes"),
                          os.path.join(jars, "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(ncores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the benchmark JVM ran out of time")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        fail(f"the benchmark JVM exited with {proc.returncode}:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def canon_value(v):
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon_value(x)) for k, x in sorted(v.items()))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def sort_key(v):
    if isinstance(v, float):
        return ("f", round(v, 6))
    if isinstance(v, tuple):
        return ("t", tuple(sort_key(x) for x in v))
    return ("v", repr(v))


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def canon_rows(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon_value(r[i]) for i in order) for r in cursor.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=lambda r: tuple(sort_key(x) for x in r))


def check_leaves(work):
    """Each leaf's rows against its DuckDB oracle; returns {leaf: problem}."""
    import duckdb
    with open(os.path.join(work, "oracles.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": "2",
                                 "temp_directory": os.path.join(work, "duckdb-tmp")})
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{work}/corpus/documents.parquet/*.parquet')")
    problems = {}
    for leaf, sql in sorted(oracles.items()):
        try:
            ocols, orows = canon_rows(con.execute(sql))
            scols, srows = canon_rows(con.execute(
                f"SELECT * FROM read_parquet('{work}/leaf-out/{leaf}/*.parquet')"))
        except Exception as e:  # a broken oracle or output is a failed check
            problems[leaf] = f"oracle error: {e}"
            continue
        if ocols != scols:
            problems[leaf] = f"columns {scols} != oracle {ocols}"
        elif len(orows) != len(srows) or not all(
                same_value(a, b) for a, b in zip(orows, srows)):
            problems[leaf] = f"{len(srows)} rows differ from the oracle's {len(orows)}"
    return problems


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a checkout: src/main/scala is missing")
    jars = spark_jars(root)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    built_s = build(root, out, jars)
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ncores = cores()
    try:
        res = run_jvm(args, out, jars, work, ncores, started + built_s + RUN_LIMIT_S)
        samples = res["samples"]
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if args.workload == "ops_corpus":
            bad = check_leaves(work)
            if bad:
                calls = res["report"]["leaf_calls"]
                failed += sum(calls.get(k, 1) for k in bad)
                failures += [f"leaf {k}: {v}" for k, v in sorted(bad.items())]
                for k in END_TO_END["ops_corpus"].values():
                    samples[k] = []
    finally:
        for spans in sorted(glob.glob(os.path.join(work, "spans*.jsonl"))):
            os.makedirs(os.path.join(out, "spans"), exist_ok=True)
            part = os.path.basename(spans)[len("spans"):]
            shutil.copy(spans, os.path.join(out, "spans", f"{args.workload}-{args.seed}{part}"))
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0
    stats = {}
    for name, xs in samples.items():
        if xs:
            q1, q3 = quartiles(xs)
            stats[name] = {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}
    named = {name: dict(stats[series], unit=unit, better=better)
             for name, (series, unit, better) in NAMED[args.workload].items() if series in stats}
    named["setup_s"] = dict(stats.get("setup_s", {}), unit="s", better="lower")
    named["error_rate"] = {"value": failed / max(attempted, 1), "unit": "ratio",
                           "better": "lower"}
    print(json.dumps({"report": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": ncores, "heap": heap(), "metrics": named,
        "series": stats, "samples": samples, "failures": failures, "jvm": res["report"]}}))

    if args.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k) or 0.0), "unit": u}
                   for k, (u, _) in PER_LAYER.items()}
    else:
        series = dict(END_TO_END[args.workload], setup_s="setup_s")
        metrics = {k: {"value": stats[s]["median"], "unit": E2E_UNITS[k]}
                   for k, s in series.items() if s in stats}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

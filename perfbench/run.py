#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload dashboard|adhoc \
        --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first run builds the engine and
the harness with sbt (perfbench/build.sbt, which depends on the root
build unchanged); later runs reuse the build while the sources are
unchanged. The corpus is the sf0.1 test corpus, or $SPARK_GRAFT_SF_DIR.

The last line of standard output is one JSON object:
    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Run artifacts go to perfbench/out/<workload>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD_STAMP = os.path.join(HERE, "target", "bench-build.json")
# the sf0.1 test corpus, where the engine's own Bench reads it by default
DEFAULT_DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
WORKLOADS = ("dashboard", "adhoc")
EXPECTED = os.path.join(HERE, "expected", "curation.json")
DEADLINE_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(stamp):
    """The harness classpath, building first when the sources changed."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            built = json.load(f)
        if built.get("stamp") == stamp:
            return built["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """From forty samples, the sample with k = max(n // 5, 10) samples
    above it: at least ten above it, and the p80 from fifty samples.
    Below forty, where no percentile has ten samples above it, the upper
    quartile (inclusive method)."""
    s = sorted(xs)
    if len(s) < 2:
        return s[0] if s else float("nan")
    if len(s) < 40:
        return statistics.quantiles(s, n=4, method="inclusive")[2]
    return s[len(s) - 1 - max(len(s) // 5, 10)]


def run_jvm(args, cp, data, out_dir, refs, started):
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx4g", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out_dir, "--refs", refs])
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out_dir, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the engine run did not finish in time", 4)
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the engine run exited with {rc}", 4)
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def read(path):
    with open(path, "rb") as f:
        return f.read()


def run_checks(res, data, out_dir, workload):
    """All checks of one run; returns the list of problems."""
    sql = json.loads(read(os.path.join(out_dir, "oracle_sql.json")))
    con = checks.connect(data)
    cache = os.path.join(OUT, "twin_cache", hashlib.sha256(
        (os.path.realpath(data) + sql["metric_events"]).encode()).hexdigest()[:16])
    problems = []
    entries = res["responses"]
    for e in entries:
        if any(s != 200 for s in e["status"]):
            continue
        if e["twin"]["shape"] != "none":
            t = e["twin"]
            if e["kind"] == "range":
                start, end, step = e["start"], e["end"], e["step"]
            else:
                start = end = res["t_corpus_s"]
                step = 1
            q = checks.twin_sql(sql["metric_events"], t["shape"], t["metric"],
                                t["k"], t["window_s"], t["q"], start, end, step)
            rows = checks.cached_rows(con, q, cache)
            problems += checks.check_twins(e, read(e["file"]), rows, res["t_corpus_s"])
    if workload == "adhoc":
        for c in res["range_instant"]:
            problems += checks.check_range_instant(
                c["key"], read(c["range_file"]), c["t"], read(c["file"]))
    else:
        unc = {u["key"]: u["file"] for u in res["uncached"]}
        for e in entries:
            if all(s == 200 for s in e["status"]):
                problems += checks.check_identity(e, read(unc[e["key"]]))
    if res["curation"]:
        with open(EXPECTED) as f:
            expected = json.load(f)
    for c in res["curation"]:
        got = con.execute(f"SELECT * FROM '{c['dir']}/*.parquet'")
        problems += checks.check_curation(c["query"], [d[0] for d in got.description],
                                          got.fetchall(), expected[c["query"]])
    rows = con.execute(
        f"SELECT name, label_k, ts_ms, value FROM '{res['view_dir']}/*.parquet'"
    ).fetchall()
    problems += checks.check_durability(rows, int(res["sent_samples"]),
                                        res["sent_digest"])
    return problems


def end_to_end(res):
    reqs = [r for r in res["requests"] if r["status"] == 200]
    ranges = [r["lat_s"] for r in reqs if r["kind"] == "range"]
    instants = [r["lat_s"] for r in reqs if r["kind"] == "instant"]
    writes = [w for w, s in zip(res["write_lat_ms"], res["write_status"]) if s == 204]
    lags = [x for x in res["ingest_lag_s"] if x is not None]
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "query_range_p50_s": (median(ranges), "s"),
        "query_range_tail_s": (tail(ranges), "s"),
        "query_p50_s": (median(instants), "s"),
        "requests_per_s": (len(reqs) / res["window_s"], "1/s"),
        "write_p50_ms": (median(writes), "ms"),
        "write_tail_ms": (tail(writes), "ms"),
        "ingest_lag_p50_s": (median(lags), "s"),
        "ingest_lag_tail_s": (tail(lags), "s"),
        "curation_s": (res["curation_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(res):
    hits = res["cache_range_hits"] + res["cache_instant_hits"]
    looks = hits + res["cache_range_misses"] + res["cache_instant_misses"]
    m = {k: (v["value"], v["unit"]) for k, v in res["trace"].items()}
    m.update({
        "cache.range_hits": (res["cache_range_hits"], "count"),
        "cache.range_misses": (res["cache_range_misses"], "count"),
        "cache.instant_hits": (res["cache_instant_hits"], "count"),
        "cache.instant_misses": (res["cache_instant_misses"], "count"),
        "cache.lookups": (looks, "count"),
        "cache.hit_ratio": (hits / looks if looks else 0.0, "ratio"),
        "events.adapter_build_s": (median(res["events_build_s"]), "s"),
        "jvm.gc_s": (res["gc_s"], "s"),
        "writer.late_ms": (median(res["write_late_ms"]), "ms"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources here: run from the root of a source tree")
    data = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_DATA)
    if not os.path.isfile(os.path.join(data, "events.parquet")):
        fail(f"no corpus at {data}")
    stamp = source_stamp()
    cp = classpath(stamp)
    # uncached reference answers, kept per engine sources and corpus
    refs = os.path.join(OUT, "ref_cache", hashlib.sha256(
        (stamp + os.path.realpath(data)).encode()).hexdigest()[:16])
    started = time.time()
    out_dir = os.path.join(OUT, args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res = run_jvm(args, cp, data, out_dir, refs, started)
    problems = run_checks(res, data, out_dir, args.workload)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    # the window's requests and posts, the warm-up's, and the curation
    # batch's queries
    attempted = (len(res["requests"]) + len(res["write_status"])
                 + len(res["warm_status"]) + res["curation_batch"])
    failed = (sum(1 for r in res["requests"] if r["status"] != 200)
              + sum(1 for s in res["write_status"] if s != 204)
              + sum(1 for s in res["warm_status"] if s not in (200, 204)))
    metrics = per_layer(res) if args.trace else end_to_end(res)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: full-materialization calls, split by layer.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload riptable_kernels --seed 1 \
        --seconds 20 --trace 0

One client issues calls in a closed loop. A call builds a query's
DataFrame with `SparkEntry.queries(name)(spark, dir)` and materializes
every row and column with `write.format("noop")`. Each pass runs every
query of the workload twice, in an order permuted by `--seed`: a first
call after every public engine cache was cleared, then an immediate
repeat call. A run makes one pass per `pass_s` seconds of `--seconds`
(the workload's pass time on 4 CPUs), and at least `passes`.

`setup_s` runs from the JVM's launch to the first timed call: session
start, the warm-up pass, and the oracle check of every warm-up output
against DuckDB. The last line of stdout is one JSON object: end-to-end
metrics with `--trace 0`, per-layer metrics from a separate traced pass
with `--trace 1`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.environ.get("GRAFT_BENCH_DATA",
                      os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))

# Each workload stresses different layers; see README.md for the reasons
# and the metric each layer should move. A run makes a fixed number of
# timed passes for a given --seconds: one per `pass_s` seconds (a pass's
# wall time on 4 CPUs), and at least `passes`, which fixes the tail
# percentile.
WORKLOADS = {
    "riptable_kernels": {"passes": 3, "pass_s": 6.0, "queries": [
        "q7_gb_quantiles", "q101_rankdata", "q104_cumprod", "q10_rolling",
        "q15_asof_backward"]},
    "llm_pipeline": {"passes": 6, "pass_s": 6.0, "queries": [
        "q225_bpe_merges", "q256_bloom_decontam", "q278_pagerank"]},
    "tpch_star": {"passes": 3, "pass_s": 7.0, "queries": [
        "q87_tpch_q5", "q159_tpch_q7", "q160_tpch_q8", "q161_tpch_q9",
        "q156_tpch_q2"]},
}
JVM_HEAP = "4g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Harness:
    """The JVM side (perfbench/src/Harness.scala), driven over stdin."""

    def __init__(self, classpath, work):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse"]
        for o in JDK_OPENS:
            cmd += ["--add-opens", o + "=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Harness", DATA]
        self.stderr = open(os.path.join(work, "spark.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.stderr,
                                     text=True)

    def send(self, *words):
        self.proc.stdin.write(" ".join(str(w) for w in words) + "\n")
        self.proc.stdin.flush()
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"harness exited during {words[0]}")
            if line.startswith("@@"):
                reply = line[2:].strip()
                if reply.startswith("error"):
                    raise RuntimeError(f"harness {words[0]}: {reply}")
                return reply

    def close(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
        except Exception:
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.stderr.close()


def read_records(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def load_reference(work, harness, queries):
    """Oracle digests for `queries`: the committed ones whose oracle SQL
    is unchanged, others computed now with DuckDB."""
    import oracle
    sql_file = os.path.join(work, "oracle_sql.jsonl")
    harness.send("oracles", sql_file, ",".join(queries))
    sqls = {r["q"]: r["sql"] for r in read_records(sql_file)}
    with open(os.path.join(HERE, "reference.json")) as fh:
        committed = json.load(fh)["queries"]
    refs, con = {}, None
    for q in queries:
        ref = committed.get(q)
        if not sqls.get(q):
            raise RuntimeError(f"{q} has no oracle SQL")
        if ref is None or ref["sql_sha256"] != oracle.sql_sha(sqls[q]):
            con = con or oracle.connect(DATA)
            log(f"oracle SQL of {q} changed; running DuckDB")
            ref = oracle.oracle_digest(con, sqls[q])
        refs[q] = ref
    return refs


def check_outputs(out_dir, queries, refs, warm_failed):
    """Names of the queries whose warm-up output differs from the oracle."""
    import oracle
    con = oracle.connect(DATA)
    bad = []
    for q in queries:
        if q in warm_failed:
            bad.append(q)
            continue
        try:
            got = oracle.output_digest(con, os.path.join(out_dir, q))
        except Exception as e:  # unreadable output counts as a mismatch
            log(f"{q}: cannot read output: {e}")
            bad.append(q)
            continue
        if got != {"digest": refs[q]["digest"], "rows": refs[q]["rows"]}:
            log(f"{q}: output differs from oracle "
                f"(rows {got['rows']} vs {refs[q]['rows']})")
            bad.append(q)
    return bad


def setup(harness, work, queries):
    """Set-up: session start, a warm-up pass, oracle check of every
    warm-up output. Returns the queries that failed the check."""
    t0 = time.time()
    harness.send("session", len(os.sched_getaffinity(0)))
    refs = load_reference(work, harness, queries)
    t1 = time.time()
    out_dir = os.path.join(work, "warm")
    shutil.rmtree(out_dir, ignore_errors=True)
    reply = harness.send("warm", out_dir, ",".join(queries))
    warm_failed = set(x for x in reply[len("ok"):].strip().split(",") if x)
    t2 = time.time()
    bad = check_outputs(out_dir, queries, refs, warm_failed)
    log(f"set-up: session {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s, "
        f"check {time.time() - t2:.2f} s")
    return bad


def call_latency(r):
    return (r["t3"] - r["t0"]) / 1e9


def end_to_end(setup_s, calls, passes, n_queries, min_passes):
    first = [call_latency(r) for r in calls if r["role"] == "first"]
    repeat = [call_latency(r) for r in calls if r["role"] == "repeat"]
    # the tail is fixed per workload: the highest percentile with at
    # least 10 samples beyond it in the fewest calls a run can make
    tail = stats.tail_percentile(min_passes * n_queries)
    log(f"{len(passes)} passes, {len(first)} first and {len(repeat)} "
        f"repeat calls, tail p{tail}")
    metric = lambda v, unit: {"value": v, "unit": unit}
    return {
        "setup_s": metric(setup_s, "s"),
        "sweep_s": metric(stats.median([(p["t1"] - p["t0"]) / 1e9 for p in passes]), "s"),
        "first_p50_s": metric(stats.median(first), "s"),
        "first_tail_s": metric(stats.percentile(first, tail), "s"),
        "repeat_p50_s": metric(stats.median(repeat), "s"),
        "repeat_tail_s": metric(stats.percentile(repeat, tail), "s"),
        "cpu_s": metric(stats.median([p["cpu_ns"] / 1e9 for p in passes]), "s"),
    }


def main():
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]
    queries, min_passes = workload["queries"], workload["passes"]
    if not os.path.isdir(DATA):
        raise SystemExit(f"perfbench: test data not found at {DATA}")
    classpath = build.build()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    start = time.time()  # set-up is timed from the JVM launch, not the build
    harness = Harness(classpath, work)
    try:
        mismatched = setup(harness, work, queries)
        setup_s = time.time() - start

        records = os.path.join(work, "calls.jsonl")
        n_passes = max(min_passes, int(args.seconds / workload["pass_s"]))
        for n in range(1, n_passes + 1):
            harness.send("pass", 0, records, n,
                         ",".join(stats.pass_order(queries, args.seed, n)))
        if args.trace:
            n = n_passes + 1
            traced = os.path.join(work, "traced.jsonl")
            harness.send("pass", 1, traced, n,
                         ",".join(stats.pass_order(queries, args.seed, n)))
            counted = os.path.join(work, "count.jsonl")
            harness.send("count", counted, ",".join(queries))
    finally:
        harness.close()

    rows = read_records(records)
    calls = [r for r in rows if r["kind"] == "call"]
    passes = [r for r in rows if r["kind"] == "pass"]
    failed_calls = sum(1 for r in calls if not r["ok"])
    for r in calls:
        if not r["ok"]:
            log(f"{r['q']} {r['role']} call failed: {r['err'][:300]}")
    attempted = len(calls) + len(queries)
    failed = failed_calls + len(mismatched)
    if args.trace:
        traced_rows, count_rows = read_records(traced), read_records(counted)
        extra = [r for r in traced_rows if r["kind"] == "call"] + count_rows
        attempted += len(extra)
        failed += sum(1 for r in extra if not r["ok"])
        metrics = layers.layer_metrics(traced_rows, count_rows, passes,
                                       os.path.join(WORK, "trace", args.workload))
    else:
        metrics = end_to_end(setup_s, calls, passes, len(queries), min_passes)
    if mismatched:
        log("oracle mismatch: " + ",".join(sorted(mismatched)))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

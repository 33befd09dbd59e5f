#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one seed.

  python3 perfbench/run.py --workload dashboard|suite|ingest --seed N \
      --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, into perfbench/target). Each run generates its
inputs from the seed, starts one JVM (perfbench.Main) that sets up and then
measures (dashboard and suite: whole rounds until S seconds have passed;
ingest: a fixed list of warm batches, whatever S says), checks every output
apart from the engine (check.py)
and prints one JSON line: correct, attempted, failed and the metrics, the
end-to-end ones untraced, the per-layer ones with --trace 1.

--size tiny is for the self-test (selftest.py); --keep keeps the run's work
dir under perfbench/target/work. The suite workload runs by hand only; see
README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # a run leaves nothing beside the sources
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

QUERIES = [
    # CPU- and shuffle-heavy queries the engine's open items target
    "dd_prefix_filter_join", "cp_diversity", "sim_ivf_quantized",
    "dd_cluster_stats", "dd_ngram_jaccard",
    # one per remaining operator family
    "a1_pricing_summary", "a15_approx_count_distinct", "j1_inner_equi_join",
    "w3_lag_partitioned", "s16_mor_delete_read", "ev_markov_transitions", "ev_watermark_late",
]

SIZES = {
    "full": {"models": 120, "days": 730, "per_method": 1, "sf": 0.01,
             "cold": 100, "fresh": 40, "warm": 2},
    "tiny": {"models": 24, "days": 120, "per_method": 1, "sf": 0.001,
             "cold": 40, "fresh": 8, "warm": 2},
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp.txt")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=840)
        lines = [l for l in p.stdout.splitlines() if ".jar" in l and "classes" in l]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1].strip()


def du(*paths):
    total = 0
    for base in paths:
        for d, _, files in os.walk(base):
            for f in files:
                p = os.path.join(d, f)
                if os.path.isfile(p) and not os.path.islink(p):
                    total += os.path.getsize(p)
    return total


def generate(workload, work, seed, size):
    import gen
    s = SIZES[size]
    if workload == "dashboard":
        users, dates = gen.lake(f"{work}/lake", seed, s["models"], s["days"])
        reqs = gen.requests(seed, users, dates, s["per_method"])
        gen.write_requests(f"{work}/requests.tsv", reqs)
        with open(f"{work}/requests.json", "w") as f:
            json.dump(reqs, f)
        return reqs
    if workload == "suite":
        gen.sf_tables(f"{work}/sf", seed, s["sf"])
        with open(f"{work}/queries.txt", "w") as f:
            f.write("\n".join(QUERIES) + "\n")
        return QUERIES
    gen.ingest_batches(f"{work}/batches", seed, s["cold"], s["warm"], s["fresh"])
    return None


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))]


def end_to_end(workload, work, res, setup_s):
    """The eight end-to-end metrics. Each is defined on every workload; on
    its home workload it is the quantity its name says (see README)."""
    ops = [o for o in res["ops"] if o["ok"]]
    lat = [o["end_ms"] - o["start_ms"] for o in ops] or [float("nan")]
    wall = (res["timed_end_ms"] - res["timed_start_ms"]) / 1000
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append((o["end_ms"] - o["start_ms"]) / 1000)
    if workload == "ingest":
        # a batch's latency ends when its rows are queryable; docs/s runs
        # to the end of the last batch, maintenance included
        lat = [o["extra"]["queryable_ms"] for o in ops] or lat
        first = min(o["start_ms"] for o in ops)
        last = max(o["end_ms"] for o in ops)
        records = sum(o["extra"].get("arrived", 0) for o in ops) / ((last - first) / 1000)
        stored = res["extra"]["stored_bytes"]
    elif workload == "dashboard":
        records = sum(o["extra"].get("rows", 0) for o in ops) / wall
        stored = du(f"{work}/lake")
    else:
        import pyarrow.parquet as pq
        rows = {}
        for q in set(o["kind"] for o in ops):
            d = f"{work}/out/{q}"
            rows[q] = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                          for f in os.listdir(d) if f.endswith(".parquet"))
        records = sum(rows[o["kind"]] for o in ops) / wall
        stored = du(f"{work}/sf", f"{work}/tmp", f"{work}/warehouse")
    m = {
        "setup_s": (setup_s, "s"),
        "dashboard_rps": (len(ops) / wall, "req/s"),
        "dashboard_p50_ms": (statistics.median(lat), "ms"),
        "dashboard_p95_ms": (pct(lat, 0.95), "ms"),
        "suite_s": (sum(statistics.median(v) for v in kinds.values()), "s"),
        "ingest_batch_p50_s": (statistics.median(lat) / 1000, "s"),
        "ingest_docs_per_s": (records, "docs/s"),
        "ingest_stored_mb": (stored / 1e6, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


PER_LAYER = [
    ("domain.build_ms", "ms"), ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("plan.nested_loop_joins", "count"), ("sched.jobs", "count"),
    ("sched.stages", "count"), ("sched.tasks", "count"), ("sched.queue_ms", "ms"),
    ("core.scan_bytes", "bytes"), ("core.scan_rows", "count"), ("core.scan_files", "count"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.post_shuffle_tasks", "count"), ("exchange.skew", "ratio"),
    ("operators.run_ms", "ms"), ("operators.cpu_ms", "ms"), ("operators.spill_bytes", "bytes"),
    ("operators.peak_mem_bytes", "bytes"), ("eager.jobs", "count"), ("eager.ms", "ms"),
    ("driver.result_bytes", "bytes"), ("streaming.batches", "count"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.state_rows", "count"), ("ingest.accept_ms", "ms"), ("ingest.merge_ms", "ms"),
    ("ingest.minhash_ms", "ms"), ("ingest.bm25_ms", "ms"), ("ingest.lsh_ms", "ms"),
    ("ingest.ivf_ms", "ms"), ("ingest.chunk_ms", "ms"), ("ingest.sketch_ms", "ms"),
    ("ingest.quality_ms", "ms"), ("ingest.maintain_ms", "ms"),
    ("commit.bytes_written", "bytes"), ("commit.write_amp", "ratio"),
    ("ingest.accepted_docs", "count"), ("ingest.accept_ratio", "ratio"),
    ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.wall_ms", "ms"), ("trace.uncovered_ms", "ms"), ("trace.job_self_ms", "ms"),
    ("trace.stage_ms", "ms"),
]


def per_layer(work):
    """Every per-layer metric: its mean over the run's timed operations
    (trace.json holds each operation's own values)."""
    ops = json.load(open(f"{work}/trace.json"))["ops"]
    out = {}
    for name, unit in PER_LAYER:
        vals = [o["metrics"][name] for o in ops if o["metrics"].get(name) is not None]
        out[name] = {"value": sum(vals) / len(vals) if vals else 0.0, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "suite", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--keep", action="store_true", help="keep the work dir")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "tools", "selfcheck.py"))):
        fail("run this from a checkout of the engine: its sources are missing")
    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "target", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t0 = time.time()
        inputs = generate(a.workload, work, a.seed, a.size)
        gen_s = time.time() - t0
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *JVM_OPENS, "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main", a.workload, work, str(a.seconds), str(a.trace),
               str(cores)]
        launch = time.time()
        with open(f"{work}/jvm.log", "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                p.wait(timeout=165)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("the benchmark JVM did not finish in time")
        print(f"[perfbench] generated in {gen_s:.1f} s, JVM ran {time.time() - launch:.1f} s",
              file=sys.stderr)
        if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
            fail(f"the benchmark JVM failed (exit {p.returncode})")
        res = json.load(open(f"{work}/result.json"))
        setup_s = gen_s + (res["main_epoch_ms"] / 1000 - launch) + res["timed_start_ms"] / 1000
        import check
        if a.workload == "dashboard":
            problems = check.check_dashboard(work, inputs)
        elif a.workload == "suite":
            problems = check.check_suite(work, inputs)
        else:
            problems = check.check_ingest(work)
        if res["setup_ms"].get("warmup_failed", 0):
            problems.append(f"{int(res['setup_ms']['warmup_failed'])} set-up operation(s) failed")
        for o in res["ops"]:
            if not o["ok"]:
                print(f"[perfbench] failed {o['kind']} {o['id']}: {o['error']}", file=sys.stderr)
        for msg in problems[:20]:
            print(f"[perfbench] check: {msg}", file=sys.stderr)
        metrics = per_layer(work) if a.trace else end_to_end(a.workload, work, res, setup_s)
        if a.trace:
            shutil.copy(f"{work}/trace.json",
                        os.path.join(HERE, "target", f"trace-{a.workload}-{a.seed}.json"))
        print(json.dumps({"correct": not problems, "attempted": len(res["ops"]),
                          "failed": sum(1 for o in res["ops"] if not o["ok"]),
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 12 --trace 0

The first run builds the repository and the harness with sbt (offline)
into the checkout; later runs reuse the build while the sources are
unchanged. The harness JVM (graftbench.Bench) generates the seeded
inputs, sets up, measures and checks each operation against its
reference; this script then checks the outputs that have a DuckDB
oracle in graft's registry, turns the JVM's record into metrics and
prints one JSON object as the last line of standard output.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run (and writes spans and per-layer figures
to .bench_build/perfbench/trace_<workload>.json). `--selfcheck` runs the
generator and digest self-checks instead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("meds_etl", "dedup_curation", "meds_queries")
END_TO_END = {"setup_s": "s", "run_s": "s", "query_p50_s": "s", "query_p90_s": "s", "peak_rss_gb": "GB"}
MEDS_QUERIES = (
    "q_agg_code_metadata", "q_agg_merge", "q_agg_all_codes", "q_filter_measurements",
    "q_filter_patients_meas", "q_filter_patients_events", "q_add_age", "q_time_of_day",
    "q_time_derived_stage", "q_meds_pipeline", "q_pipeline_config", "q_occlude_outliers",
    "q_winsorize", "q_normalize", "q_fit_vocab", "q_fit_vocab_scalable",
    "q_reorder_measurements", "q_tokenize_schema", "q_tokenize_seqs", "q_tensorize")
CONFIG_STAGES = ("filter_patients", "add_time_derived_measurements", "fit_outlier_detection",
                 "occlude_outliers", "fit_normalization", "fit_vocabulary_indices", "normalization")
PLAN_KINDS = ("Sort", "Window", "HashAggregate", "ObjectHashAggregate", "Exchange",
              "BroadcastExchange", "Generate", "Write")
KERNELS = ("word_tokens", "shingle_hashes", "minhash_mins", "ordered_pairs", "bounded_collect")
PER_LAYER = (
    [("meds.build_s", "s")]
    + [(f"meds.stage_s.{s}", "s") for s in CONFIG_STAGES]
    + [(f"meds.rows_out.{s}", "count") for s in CONFIG_STAGES]
    + [(f"operators.{q}.s", "s") for q in MEDS_QUERIES]
    + [(f"dedup.step_s.{s}", "s") for s in
       ("jaccard", "components", "keep_best", "minhash_sigs", "minhash_pairs", "containment")]
    + [("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
       ("dedup.pair_yield", "ratio"), ("dedup.max_bucket", "count"), ("dedup.cc_jobs", "count")]
    + [(f"functions.{k}.{m}", u) for k in KERNELS
       for m, u in (("ns_per_row", "ns"), ("alloc_bytes_per_row", "bytes"))]
    + [("io.read_bytes", "bytes"), ("io.write_bytes", "bytes"), ("io.write_s", "s")]
    + [("engine.plan_s", "s"), ("engine.jobs", "count"), ("engine.stages", "count"),
       ("engine.tasks", "count"), ("engine.driver_gap_s", "s"), ("engine.task_s", "s"),
       ("engine.cpu_s", "s"), ("engine.cpu_util", "ratio"), ("engine.gc_s", "s"),
       ("engine.shuffle_write_bytes", "bytes"), ("engine.shuffle_read_bytes", "bytes"),
       ("engine.spill_bytes", "bytes"), ("engine.peak_task_mem_bytes", "bytes"),
       ("engine.task_skew", "ratio")]
    + [(f"plan.{k}.{m}", u) for k in PLAN_KINDS for m, u in (("s", "s"), ("rows", "count"))]
    + [(f"plan.top{r}.s", "s") for r in (1, 2, 3)]
    + [("trace.overhead.run_s", "ratio"), ("trace.overhead.query_p50_s", "ratio"),
       ("failed_frac", "ratio")]
)
# Spark on JDK 17 outside spark-submit needs these (as in the repo's build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of host memory, between 2 and 4 GiB: the benchmark JVM
    must neither starve nor take the host (build.sbt's fallback is 48 GiB)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(4096, kb // 4096))


# ------------------------------------------------------------------ build

def source_stamp(root):
    # the cached classpath holds absolute paths, so the checkout's place counts
    h = hashlib.sha256(root.encode())
    files = [os.path.join(root, f) for f in ("build.sbt", "project/build.properties")]
    files += [os.path.join(HERE, f) for f in ("build.sbt", "project/build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the harness; return the runtime classpath."""
    stamp, cp_file, stamp_file = source_stamp(root), f"{work}/classpath.txt", f"{work}/build.stamp"
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    t = time.time()
    with open(f"{work}/build.log", "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                           timeout=700)
    with open(f"{work}/build.log", "a") as lf:
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.exit(f"build failed (exit {p.returncode}); see {work}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f}s")
    return cp


# ------------------------------------------------------------------- JVM

def run_jvm(cp, root, work, args_list, logfile, limit_s):
    """Run the harness JVM; return (exit code, peak RSS in GB)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    heap = heap_mb()
    # a fixed heap with a fixed young generation: the heap does not resize,
    # so peak RSS follows what the run keeps live, not GC sizing decisions
    cmd = [java, f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m", *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Bench", "--root", root,
           "--work", work, "--cores", str(cores()), *args_list]
    with open(logfile, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)

    def stop(*_):
        proc.kill()
        os.waitpid(proc.pid, 0)
        sys.exit("interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    deadline = time.time() + limit_s
    while True:
        pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, ru.ru_maxrss / 1024 ** 2
        if time.time() > deadline:
            proc.kill()
            _, status, ru = os.wait4(proc.pid, 0)
            proc.returncode = -9
            return -9, ru.ru_maxrss / 1024 ** 2
        time.sleep(0.05)


# ---------------------------------------------------------------- oracle

def frame_digest(df):
    """Row count plus an order-independent hash over normalised values,
    so a Spark output and a DuckDB oracle result digest alike: numbers
    as float64, nested values as JSON, anything else as text."""
    import numpy as np
    import pandas as pd

    def nested(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        if isinstance(v, (list, tuple, np.ndarray)):
            return [nested(x) for x in v]
        if isinstance(v, dict):
            return {k: nested(x) for k, x in v.items()}
        if isinstance(v, (np.integer, int, np.floating, float, np.bool_, bool)):
            return float(v)
        return str(v)

    cols = sorted(df.columns)
    norm = pd.DataFrame(index=range(len(df)))
    for c in cols:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            norm[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            norm[c] = s.astype("int64").astype("float64")
        else:
            norm[c] = s.map(lambda v: json.dumps(nested(v)))
    h = int(pd.util.hash_pandas_object(norm, index=False).sum()) % (1 << 64) if len(df) else 0
    return f"{len(df)}:{h:016x}:{','.join(cols)}"


def oracle_checks(res, work):
    """Check each registry output the harness wrote against the DuckDB
    oracle SQL over the same generated input tables."""
    checks = res.get("oracle_checks", [])
    if not checks:
        return []
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    in_dir = f"{work}/input/{res['workload']}"
    for name in sorted(os.listdir(in_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{in_dir}/{name}/*.parquet'")
    out = []
    for c in checks:
        t = time.time()
        try:
            spark = frame_digest(pd.read_parquet(c["path"]))
            duck = frame_digest(con.sql(c["sql"]).df())
            out.append({"query": c["query"], "ok": spark == duck, "spark": spark, "oracle": duck,
                        "s": round(time.time() - t, 3)})
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            out.append({"query": c["query"], "ok": False, "error": repr(e)[:500]})
    return out


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(res, rss_gb):
    # a query is one materialised result: one registry query on
    # meds_queries, one of the three outputs of a dedup_curation operation
    per_query = {}
    for q in res["queries"]:
        if not q["traced"]:
            per_query.setdefault(q["query"], []).append(q["s"])
    medians = sorted(median(xs) for xs in per_query.values())
    if res["workload"] == "meds_queries":
        # one pass of every query
        run_s = sum(medians)
    else:
        run_s = median([o["s"] for o in res["ops"] if not o["traced"]])
    # each query weighs once, however many times the run repeated it
    vals = {"setup_s": res["setup_s"], "run_s": run_s, "query_p50_s": median(medians),
            "query_p90_s": p90(medians), "peak_rss_gb": rss_gb}
    return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt") and os.path.isdir(f"{root}/src/main/scala/graft")):
        sys.exit("perfbench: run from the root of a graft checkout (build.sbt and src/ not found)")
    if not a.selfcheck and not a.workload:
        sys.exit("perfbench: --workload is required")
    base = f"{root}/.bench_build/perfbench"
    os.makedirs(base, exist_ok=True)
    cp = build(root, base)
    built = time.time()
    name = "selfcheck" if a.selfcheck else a.workload
    work = f"{base}/{name}"
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(work)
    out_json = f"{work}/jvm_result.json"
    jvm_args = ["--workload", a.workload or "none", "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out_json, "--selfcheck", "1" if a.selfcheck else "0"]
    # the run proper must end within RUN_LIMIT_S of the build finishing
    limit = RUN_LIMIT_S - (time.time() - built) if not a.selfcheck else 900
    rc, rss_gb = run_jvm(cp, root, work, jvm_args, f"{work}/jvm.log", max(30, limit))
    if rc != 0 or not os.path.exists(out_json):
        sys.exit(f"perfbench: harness JVM failed (exit {rc}); see {work}/jvm.log")
    res = json.load(open(out_json))

    if a.selfcheck:
        sc = res["selfcheck"]
        import pandas as pd
        df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", None, "z"]})
        sc["python_digest_order_independent"] = \
            frame_digest(df) == frame_digest(df.iloc[::-1].reset_index(drop=True))
        # the metric lists here and in BENCHMARK.json must agree
        with open(f"{root}/BENCHMARK.json") as f:
            bj = json.load(f)
        sc["benchmark_json_matches"] = (
            [(m["name"], m["unit"]) for m in bj["end_to_end"]] == list(END_TO_END.items())
            and [(m["name"], m["unit"]) for m in bj["per_layer"]] == PER_LAYER
            and {w["name"] for w in bj["workloads"]} <= set(WORKLOADS))
        ok = all(v is True for r in sc.values() if isinstance(r, dict)
                 for k, v in r.items() if isinstance(v, bool)) and \
            sc["python_digest_order_independent"] and sc["benchmark_json_matches"]
        print(json.dumps(sc, indent=1))
        sys.exit(0 if ok else 1)

    checks = oracle_checks(res, work)
    bad = {c["query"] for c in checks if not c["ok"]}
    # an operation fails with every registry output it produced that the
    # oracle rejects (the dedup sequence produces three of them)
    produced = {"dedup_curation": {"q_dedup_survivors", "q_dedup_minhash", "q_containment"}}
    failed_ops = sum(1 for o in res["ops"]
                     if o["op"] in bad or produced.get(o["op"], set()) & bad)
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + failed_ops)
    correct = failed == 0 and not bad

    record = {k: res[k] for k in ("workload", "seed", "trace", "seconds", "host", "canary",
                                  "input_digest", "input_props", "setup_s", "setup_reps_s", "warm_up_s",
                                  "phase_s", "failures")}
    record.update(heap_mb=heap_mb(), peak_rss_gb=rss_gb, oracle_checks=checks,
                  wall_s=round(time.time() - started, 2), n_ops=len(res["ops"]))
    with open(f"{base}/run_{a.workload}.json", "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        layer = res["per_layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        with open(f"{base}/trace_{a.workload}.json", "w") as f:
            json.dump({"run": record, "per_layer": metrics,
                       "plan_kinds_by_time": res["plan_kinds_by_time"],
                       "ops": res["ops"], "spans": res["spans"]}, f, indent=1)
    else:
        metrics = end_to_end(res, rss_gb)
    print(json.dumps({"run_record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

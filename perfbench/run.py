#!/usr/bin/env python3
"""The irstats2spark product benchmark (see README.md in this directory).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine from
source together with the benchmark program (an sbt project in this
directory); later runs reuse the build while the sources are unchanged.
Inputs are generated from --seed, the engine runs in one JVM on
local[<cpus>], outputs are checked against DuckDB after the timed
region, and the last stdout line is the result object. With --trace 1
the run also records spans and listener counts and reports the
per-layer metrics. `python3 perfbench/run.py --selftest` checks the
counters against known truths on tiny inputs.
"""
import argparse
import hashlib
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RESOURCES = os.path.join(ENGINE_SRC, "resources", "graft")

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# the self-test also runs etl_backfill and serve_dashboard, on tiny inputs
WORKLOADS = ["nightly_dashboard", "curate_corpus"]

# The gated end-to-end metrics are generic; per workload they read:
#   op_ms_p50    the workload's main operation
#   side_ms_mean its second operation (mean: the dashboard's misses mix
#                fast counters and tables with slower set and graph views,
#                and their median sits at the edge between the two)
#   work_per_s   its throughput
#   hit_us_p50   its cache-hit path
E2E_SAMPLES = {
    "nightly_dashboard": ("refresh_ms", "miss_ms", "requests_per_s", "hit_us"),
    "curate_corpus": ("curate_ms", "stream_ms", "docs_per_s", "cached_hit_us"),
}

# Input sizes per workload; `tiny` is the self-test.
SIZES = {
    "nightly_dashboard": dict(days=14, lines_per_day=3000, staged=3,
                              events_per_day=3000),
    "curate_corpus": dict(sources=8, docs_per_source=60),
}
TINY = dict(days=3, lines_per_day=300, staged=3, events_per_day=300, sources=6,
            docs_per_source=30)
ITEMS = 2000
# The dashboard mix is a fixed number of requests per run second, about
# what the engine serves on a 4-core host, so every run and every commit
# serves the same requests (a time-bound loop would serve more of the
# trace on a faster run, and the trace's later requests hit more often).
REQUESTS_PER_S = 4
STREAM_FILES = 8
MAX_FILES_PER_TRIGGER = 4
HEAP = "3g"
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt (offline) and return the runtime
    classpath; cached by a digest of every source file."""
    digest = sources_digest()
    cp_file = os.path.join(STATE, "classpath-%s.txt" % digest[:16])
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    # one build is cached at a time: the classes dir holds the last one
    for f in os.listdir(STATE):
        if f.startswith("classpath-"):
            os.remove(os.path.join(STATE, f))
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Djava.io.tmpdir=" +
                       os.path.join(STATE, "tmp")).strip()
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    log("building engine and benchmark (sbt compile)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log("built in %.0f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def generate(workload, seed, work, seconds, tiny):
    """Write the workload's inputs and params.json into `work`."""
    size = dict(SIZES.get(workload, {}), **(TINY if tiny else {}))
    days = size.get("days", 0)
    nightly = workload == "nightly_dashboard"
    staged = size.get("staged", 0) if nightly else 0
    params = dict(history_days=days, start=gen.START.isoformat(), requests=[],
                  max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    if workload == "curate_corpus":
        gen.write_corpus(seed, work, size["sources"], size["docs_per_source"],
                         STREAM_FILES)
    if workload in ("serve_dashboard", "nightly_dashboard"):
        gen.write_facts(seed, work, days, size["events_per_day"], ITEMS)
        gen.write_metadata(seed, work, ITEMS)
        params["requests"] = gen.request_mix(
            seed, mix_size(seconds), ITEMS, days + (1 if nightly else 0))
    if workload in ("etl_backfill", "nightly_dashboard"):
        counts = gen.write_logs(seed, work, days, size["lines_per_day"],
                                ITEMS, staged)
        with open(os.path.join(work, "line_counts.tsv"), "w") as f:
            for d, n in sorted(counts.items()):
                f.write("%s\t%d\n" % (d, n))
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)


def mix_size(seconds):
    return max(1, round(REQUESTS_PER_S * seconds))


def run_jvm(cp, workload, work, seconds, trace, budget_s):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work",
            work, "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpus())]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: engine run failed (%s)" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def mean(xs):
    return statistics.mean(xs) if xs else float("nan")


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else median(xs)


def end_to_end(workload, res):
    s = res["samples"]
    op, side, work, hit = E2E_SAMPLES[workload]
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_ms_p50": (median(s.get(op, [])), "ms"),
        "side_ms_mean": (mean(s.get(side, [])), "ms"),
        "work_per_s": (median(s.get(work, [])), "1/s"),
        "hit_us_p50": (median(s.get(hit, [])), "us"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def bench_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def report(workload, res, e2e):
    """Human-readable lines before the result object: environment, the
    product metrics by their own names, and the traced breakdown."""
    s = res["samples"]
    c = res["counts"]
    env = dict(res["env"], cpus=res["env"].get("cpus"),
               host=socket.gethostname())
    print("env: " + json.dumps(env, sort_keys=True))
    def med(k, scale=1.0):
        return median(s[k]) * scale if s.get(k) else None
    named = {
        "refresh_s": med("refresh_ms", 1e-3),
        "etl_records_per_s": med("records_per_s"),
        "warm_ms_p50": med("warm_ms"),
        "fact_bytes_per_record": c.get("fact_bytes_per_record"),
        "miss_ms_p50": med("miss_ms"),
        "miss_ms_p90": p90(s["miss_ms"]) if s.get("miss_ms") else None,
        "miss_ms_mean": mean(s["miss_ms"]) if s.get("miss_ms") else None,
        "misses": len(s.get("miss_ms", [])) or None,
        "hit_us_p50": med("hit_us"),
        "hits": len(s.get("hit_us", [])) or None,
        "page_ms_p50": med("page_ms"),
        "requests_per_s": med("requests_per_s"),
        "cold_request_ms": med("cold_request_ms"),
        "cold_refresh_s": med("cold_ms", 1e-3),
        "curate_s": med("curate_ms", 1e-3),
        "stream_curate_s": med("stream_ms", 1e-3),
        "docs_per_s": med("docs_per_s"),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    named = {k: v for k, v in named.items() if v is not None}
    named["failed_frac"] = res["failed"] / max(1, res["attempted"])
    for k, v in sorted(named.items()):
        print("metric %-24s %s" % (k, v))
    for k, (v, u) in e2e.items():
        print("e2e    %-24s %.6g %s" % (k, v, u))
    if res["breakdown"]:
        print("top layers by self time: " + ", ".join(
            "%s %.3fs" % (k, v) for k, v in res["breakdown"][:6]))
    if "trace.overhead_ratio" in res["layers"]:
        print("tracing overhead: %.1f%% (the decomposed step against a plain "
              "call in the same JVM)"
              % (100 * res["layers"]["trace.overhead_ratio"]))


def run_once(workload, seed, seconds, trace, tiny=False):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found under %s"
                         % os.path.relpath(ENGINE_SRC))
    cp = build()
    # the JVM's time limit counts from here: a build is not charged to it
    t_start = time.time()
    work = os.path.join(STATE, "work-%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.time()
        generate(workload, seed, work, seconds, tiny)
        log("inputs generated in %.1f s" % (time.time() - t_gen))
        t_jvm = time.time()
        budget = max(30, JVM_TIMEOUT_S - (time.time() - t_start))
        res = run_jvm(cp, workload, work, seconds, trace, budget)
        log("engine JVM ran %.1f s" % (time.time() - t_jvm))
        t_check = time.time()
        errors = []
        if workload in ("etl_backfill", "nightly_dashboard"):
            errors += check.check_etl(work, RESOURCES)
        if workload in ("serve_dashboard", "nightly_dashboard"):
            errors += check.check_serve(work)
        if workload == "curate_corpus":
            errors += check.check_curate(work)
        log("checks took %.1f s" % (time.time() - t_check))
        if trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(STATE, "spans-%s.jsonl" % workload))
        return res, errors, work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(workload, res, errors, trace):
    for e in errors:
        log("CHECK FAILED: " + e)
    e2e = end_to_end(workload, res)
    report(workload, res, e2e)
    if trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in bench_metrics("per_layer")}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench_metrics("end_to_end")}
    record = {"workload": workload, "env": res["env"], "metrics": metrics,
              "time": time.time()}
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return {"correct": not errors and res["failed"] == 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": metrics}


def selftest(seed):
    """Counters against known truths on tiny inputs (traced runs)."""
    failures = []

    def expect(name, got, want):
        ok = abs(got - want) < 1e-9
        print("selftest %-32s got %-12s want %-12s %s"
              % (name, got, want, "ok" if ok else "FAIL"))
        if not ok:
            failures.append(name)

    res, errors, _ = run_once("etl_backfill", seed, 1, 1, tiny=True)
    L = res["layers"]
    expect("ingest.records_read", L["ingest.records_read"],
           res["counts"]["lines_ingested"])
    expect("ingest.window_ratio", L["ingest.window_ratio"], 1.0)
    expect("store.partitions_touched", L["store.partitions_touched"],
           TINY["days"] * 7)
    failures += errors
    res, errors, _ = run_once("serve_dashboard", seed, 8, 1, tiny=True)
    served = int(res["counts"]["requests"])
    mix = gen.request_mix(seed, mix_size(8), ITEMS, TINY["days"])
    expect("requests served", served, len(mix))
    seen, repeats = set(), 0
    for r in mix:
        if "page" in r:
            continue
        k = json.dumps(r, sort_keys=True)
        repeats += k in seen
        seen.add(k)
    # every repeated key of the mix is a hit
    expect("api.cache_hits", res["layers"]["api.cache_hits"], repeats)
    failures += errors
    res, errors, _ = run_once("curate_corpus", seed, 1, 1, tiny=True)
    expect("streaming.batches", res["layers"]["streaming.batches"],
           -(-STREAM_FILES // MAX_FILES_PER_TRIGGER))
    failures += errors
    print("selftest: %s" % ("ok" if not failures else "FAILED %s" % failures))
    return 0 if not failures else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest(a.seed)
    if a.workload is None:
        ap.error("--workload is required")
    res, errors, _ = run_once(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result_line(a.workload, res, errors, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached per seed outside
the timed and set-up phases), runs the harness in one JVM (local[nproc],
shuffle partitions = nproc, one closed-loop client thread) and checks every
output. With --trace 0 the last stdout line carries the end-to-end metrics,
with --trace 1 the per-layer metrics of one traced pass. The line before it
holds every sample the metrics were computed from.

Workloads, metrics and bounds are declared in BENCHMARK.json at the repo
root; everything the runs leave behind goes to .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# analytics_small: driver-bound scan, store lifecycle and streaming rows
# over sf0.1-sized tables. corpus_serve: probes and ingests against BM25 /
# IVF / MaxSim indexes over generated graft stores (its operations are the
# harness's own).
WORKLOADS = {
    "analytics_small": {"data": "base", "queries": [
        "q_scan_pushdown", "q_store_merge", "s_stateful"]},
    "corpus_serve": {"data": "corpus", "queries": []},
}
SETUPS = 3
# Time metrics read as seconds on a host where one calibration run
# (Workload.calibrate) takes this long; see host_factor.
CALIB_REF_S = 0.25
JVM_TIMEOUT_S = 160
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, q):
    """Quantile q of xs by statistics.quantiles' exclusive method."""
    if len(xs) == 1:
        return xs[0]
    cuts = statistics.quantiles(xs, n=100)
    return cuts[min(98, max(0, round(q * 100) - 1))]


def run_jvm(classes, wl, args, data, tiny, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    cmd += [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--tiny", tiny, "--work", work, "--out", out,
            "--cpus", str(cpus()), "--setups", str(SETUPS if not args.trace else 1),
            "--queries", ",".join(wl["queries"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited with {p.returncode} (log: {os.path.join(work, 'jvm.log')})")
    with open(out) as f:
        return json.load(f)


def dumped_rows(d):
    try:
        return sum(pq.read_metadata(os.path.join(d, f)).num_rows
                   for f in os.listdir(d) if f.endswith(".parquet"))
    except OSError:
        return None


def output_checks(wl, res, data, seed):
    """{check name: ok} over the harness's own checks, the oracle compare and
    the row count each analytics query must repeat on every timed pass."""
    checks = dict(res["checks"])
    if wl["queries"]:
        cache = os.path.join(BUILD, "oracle", f"{wl['data']}-{seed}")
        for name, (ok, detail) in oracle.check(data, cache, res["results_dir"],
                                               res["oracle_sql"]).items():
            checks[f"oracle:{name}"] = ok
            if not ok:
                res["errors"].append(f"oracle {name}: {detail}")
        for name in wl["queries"]:
            seen = {o["rows"] for o in res["ops"] if o["name"] == name and o["ok"]}
            checks[f"rows_stable:{name}"] = (
                len(seen) == 1 and dumped_rows(os.path.join(res["results_dir"], name)) in seen)
    return checks


def host_factor(res):
    """CALIB_REF_S over the run's median calibration: a time multiplied by it
    reads as seconds on a host where the calibration takes CALIB_REF_S."""
    return CALIB_REF_S / statistics.median(res["calib_s"])


def op_gmean_ms(res):
    """Geometric mean over the workload's operations (a query; corpus_serve:
    a probe kind or the ingest) of each one's median latency. A plain p50
    over the pooled samples jumps from one operation's latency to another's
    between runs, as a pass holds only a few; this stays put and still
    moves when any operation gets slower."""
    by = {}
    for o in res["ops"]:
        if o["ok"]:
            by.setdefault(o["name"], []).append(o["seconds"] * 1e3)
    return statistics.geometric_mean(statistics.median(v) for v in by.values())


def end_to_end(res):
    f = host_factor(res)
    return {
        "setup_s": ((res["jvm_boot_s"] + statistics.median(res["setup_cycles_s"])) * f, "s"),
        "pass_s": (statistics.median(res["passes_s"]) * f, "s"),
        "op_gmean_ms": (op_gmean_ms(res) * f, "ms"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }


def serving(res):
    """corpus_serve's serving figures, printed with the samples: probe
    latency quantiles, time until an ingest is searchable, the three index
    builds (host-adjusted like the end-to-end times), recall and
    amplification."""
    f = host_factor(res)
    lat = [o["seconds"] * 1e3 * f for o in res["ops"] if o["kind"] == "probe" and o["ok"]]
    return {"probe_p50_ms": statistics.median(lat), "probe_p90_ms": quantile(lat, 0.9),
            "ingest_p50_s": statistics.median(res["ingest_s"]) * f,
            "build_s": sum(res["build_s"].values()) * f,
            **{k: res[k] for k in ("recall_at_5", "write_amp", "space_amp")}}


def per_layer(res):
    m = dict(res["layers"])
    m["host.calib_s"] = statistics.median(res["calib_s"])
    # computed by the untimed checks after the traced pass; 0 off corpus_serve
    m["index.recall_at_5"] = res.get("recall_at_5", 0.0)
    m["store.write_amp"] = res.get("write_amp", 0.0)
    m["store.space_amp"] = res.get("space_amp", 0.0)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}
    missing = set(units) - set(m)
    if missing:
        fail(f"traced run lacks per-layer metrics {sorted(missing)}")
    return {k: (m[k], units[k]) for k in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))
    data_root = os.path.join(BUILD, "data")
    data = gen.ensure(wl["data"], args.seed, data_root)
    tiny = gen.ensure("tiny", args.seed, data_root)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    gen.prune(os.path.dirname(work), "", 5)
    os.makedirs(work)

    res = run_jvm(classes, wl, args, data, tiny, work)
    checks = output_checks(wl, res, data, args.seed)
    metrics = per_layer(res) if args.trace else end_to_end(res)

    ops_failed = sum(1 for o in res["ops"] if not o["ok"])
    checks_failed = sum(1 for ok in checks.values() if not ok)
    attempted = len(res["ops"]) + len(checks)
    failed = ops_failed + checks_failed
    samples = {k: res.get(k) for k in (
        "jvm_boot_s", "setup_cycles_s", "warm_s", "phase_s", "passes_s", "calib_s", "gc_s",
        "heap_live_mb", "build_s", "ingest_s", "compact_s", "recall_at_5",
        "recall_ann_at_5", "recall_maxsim_at_5", "write_amp", "space_amp")
        if k in res}
    if wl["data"] == "corpus":
        samples["serving"] = serving(res)
    samples["ops"] = [[o["pass"], o["name"], round(o["seconds"], 6), o["rows"], o["ok"]]
                      for o in res["ops"]]
    samples["fail_frac"] = failed / attempted
    samples["failed_checks"] = sorted(k for k, ok in checks.items() if not ok)
    samples["errors"] = res["errors"][:20]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "samples": samples}))
    print(json.dumps({
        "correct": failed == 0 and not res["errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

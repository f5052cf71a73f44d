#!/usr/bin/env python3
"""The benchmark's one command: runs one workload against the engine built
from this checkout, checks every query's output against its DuckDB oracle,
prints every metric by name and unit, and ends with one JSON line.

  python3 perfbench/run.py --workload etl_graph --seed 1 --seconds 10 --trace 0

Run it from anywhere inside a checkout of the repository. The first run
builds the engine and the benchmark's JVM side with sbt (offline) and
generates the workload's input tables; later runs reuse both until a
source or build file changes. Everything
it writes goes under .bench_build/perfbench/ in the checkout, including
one JSON record per run in records/.

Load model: a closed loop with one client. One fresh JVM per run runs the
workload's queries one after another at local[<cores>], the way
graft.Bench does; --seed permutes the query order of every pass.

Exit status: 0 when every query ran and matched its oracle; 1 when any
failed or mismatched (the JSON line then says correct=false); 2 when the
checkout cannot be built or run.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
# A fixed heap and young generation, so that the resident set follows the
# program's live data rather than the collector's adaptive sizing.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]

# Every workload reads the same generated tables, at its own scale factor.
DATA_SEED = 1


class Unrunnable(Exception):
    """The checkout cannot build or run the benchmark (exit status 2)."""


def load_config():
    """(workloads.json, BENCHMARK.json): the workloads' queries and scale
    factors, and the names and units of the metrics to report."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise Unrunnable(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return workloads, json.load(f)


def units(bench, key):
    """name -> unit of BENCHMARK.json's end_to_end or per_layer metrics."""
    return {m["name"]: m["unit"] for m in bench[key]}


def cores():
    return len(os.sched_getaffinity(0))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    """mtime of the newest file the build reads: both build definitions and
    both source trees."""
    newest = 0.0
    for base in (ROOT, HERE):
        for top in ("build.sbt", "project", "src"):
            path = os.path.join(base, top)
            if os.path.isfile(path):
                newest = max(newest, os.path.getmtime(path))
            for d, dirs, files in os.walk(path):
                dirs[:] = [x for x in dirs if x != "target"]
                for f in files:
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Builds the engine and perfbench/ with sbt when a source or build file
    is newer than the last build. Returns (classpath, jvm options) for
    launching perfbench.Main."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft",
                                           "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Unrunnable(f"no {need} at {ROOT}: not a checkout of the engine")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not os.path.exists(launch) or newest_source() > os.path.getmtime(launch):
        if shutil.which("sbt") is None or shutil.which("java") is None:
            raise Unrunnable("sbt and java are needed to build")
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building (sbt, offline)")
        t0 = time.time()
        with open(os.path.join(WORK, "build.log"), "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                raise Unrunnable("build timed out") from None
        if rc != 0 or not os.path.exists(launch):
            raise Unrunnable(f"build failed; see {WORK}/build.log")
        log(f"built in {time.time() - t0:.0f} s")
    cp, opts = [], []
    with open(launch) as f:
        for line in f:
            kind, _, value = line.rstrip("\n").partition(" ")
            (cp if kind == "cp" else opts).append(value)
    return cp, opts


def dataset(sf, seed):
    """Generates the tables once; returns (dir, {file: sha256}).
    Generation time is not part of any metric."""
    d = os.path.join(WORK, "data", f"sf{sf:g}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen_data.generate(tmp, sf, seed)
        os.rename(tmp, d)
        with open(manifest, "w") as f:
            json.dump({"sf": sf, "seed": seed}, f)
        log(f"generated {d} in {time.time() - t0:.1f} s")
    hashes = {f"{t}.parquet": gen_data.file_sha256(
        os.path.join(d, f"{t}.parquet")) for t in gen_data.TABLES}
    return d, hashes


def run_jvm(classpath, options, run_dir, deadline, **kv):
    """Runs perfbench.Main with key=value arguments; its output goes to
    run_dir/main.log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + options + JVM_MEMORY +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-cp", ":".join(classpath), "perfbench.Main"] +
           [f"{k}={v}" for k, v in kv.items()])
    log_path = os.path.join(run_dir, "main.log")
    with open(log_path, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(1.0, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the benchmark JVM ran out of time; see "
                               f"{log_path}") from None
    if rc != 0:
        raise RuntimeError(f"the benchmark JVM exited {rc}; see {log_path}")


def read_json(path):
    with open(path) as f:
        return json.load(f)


def run(args, workloads, bench):
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    spec = workloads.get(args.workload)
    if spec is None:
        raise Unrunnable(f"unknown workload {args.workload!r}; have "
                         f"{', '.join(sorted(workloads))}")
    classpath, options = build()
    sf = args.sf if args.sf is not None else spec["sf"]
    data_dir, input_hashes = dataset(sf, DATA_SEED)
    # the build and data generation are one-time costs outside the run budget
    deadline = max(deadline, time.time() + 150)

    run_dir = os.path.join(WORK, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n = cores()
    out = os.path.join(run_dir, "main")
    queries = spec["queries"]
    run_jvm(classpath, options, run_dir, deadline, out=out, data=data_dir,
            cpus=n, queries=",".join(queries), seed=args.seed,
            seconds=args.seconds, trace=args.trace)
    res = read_json(os.path.join(out, "result.json"))

    # correctness, outside every timed pass
    sqls = read_json(os.path.join(out, "oracle_sql.json"))
    orc = oracle.Oracle(data_dir, input_hashes,
                        os.path.join(WORK, "oracle-cache"))
    failures = list(res["failures"])
    digests = {}
    try:
        for q in res["dumped"]:
            err, d = oracle.check(os.path.join(out, "results", q),
                                  sqls.get(q), orc)
            digests[q] = d
            if err is not None:
                failures.append({"query": q, "pass": "oracle", "error": err})
    finally:
        orc.close()
    attempted = res["attempted"]
    failed = len(failures)

    warm = [s for _, s in res["warm_samples"]]
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": stats.median(res["pass_totals"]),
        "cold_pass_s": res["cold_pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = res["layers"]
    e2e_units = units(bench, "end_to_end")
    layer_units = units(bench, "per_layer")
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in e2e_units.items()}

    per_query = {}
    for q, s in res["warm_samples"]:
        per_query.setdefault(q, []).append(s)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "started_utc": datetime.datetime.fromtimestamp(
            started, datetime.timezone.utc).isoformat(),
        "wall_s": time.time() - started,
        "nproc": n,
        "calibration": res["calibration"],
        "inputs": input_hashes,
        "queries": queries,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "failures": failures,
        "end_to_end": e2e,
        "warm_samples": len(warm),
        "query_p50_s": stats.percentile(warm, 0.5),
        "query_tail": stats.tail(warm),
        "warm_passes": len(res["pass_totals"]),
        "measured_s": res["measured_s"],
        "warmup_pass_s": res["warmup_pass_s"],
        "phase_ends_s": res["phases"],
        "setup": res["setup"],
        "pass_totals": res["pass_totals"],
        "cold_samples": dict((q, s) for q, s in res["cold_samples"]),
        "warm_sample_list": res["warm_samples"],
        "query_medians": {q: stats.median(v) for q, v in per_query.items()},
        "query_max": {q: max(v) for q, v in per_query.items()},
        "layers": layers,
        "output_digests": digests,
    }
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stamp = datetime.datetime.fromtimestamp(
        started, datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    path = os.path.join(records,
                        f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.copyfile(path, os.path.join(WORK, "last_record.json"))
    if args.trace:
        shutil.copyfile(os.path.join(out, "spans.jsonl"), path[:-5] + ".spans.jsonl")
    shutil.rmtree(os.path.join(out, "results"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    print(f"workload {args.workload}: {len(queries)} queries, seed {args.seed}, "
          f"sf {sf:g}, {n} cores; {len(res['pass_totals'])} warm passes, "
          f"{len(warm)} warm samples; calibration " +
          " ".join(f"{k}={v:.3f}s" for k, v in res["calibration"].items()))
    for k, u in e2e_units.items():
        print(f"{k} = {e2e[k]:.6g} {u}")
    tail = stats.tail(warm)
    print(f"warm query executions: p50 {stats.percentile(warm, 0.5):.6g} s" +
          (f", p{100 * tail[0]:.0f} {tail[1]:.6g} s" if tail else "") +
          f" ({len(warm)} samples)")
    print(f"failed_frac = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} executions)")
    for k, u in layer_units.items():
        if k in layers:
            print(f"{k} = {layers[k]:.6g} {u}")
    for fl in failures:
        print(f"FAILED {fl['query']} ({fl['pass']}): {fl['error']}")
    print(f"record: {path}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    args = ap.parse_args(argv)
    try:
        return run(args, *load_config())
    except Unrunnable as e:
        log(str(e))
        return 2
    except RuntimeError as e:
        log(str(e))
        return 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 etlbench/run.py --workload etl_sf01 --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds the program from source (once per
source state), generates the workload's inputs from the seed (once per seed),
runs the harness JVM (set-up, one verification repetition, warm and timed
passes),
checks every query's verification output against the DuckDB oracle and
prints one JSON object as the last stdout line. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics of traced
passes plus the tracing overhead against untraced passes in the same JVM.
Everything it writes goes under `.etlbench/` in the current directory.
Workloads, query lists, pass counts and the metric-to-layer map are in
workloads.json. The pass counts are fixed; `--seconds` is accepted for the
benchmark command line and not used.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.abspath(".etlbench")
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 170


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_mem():
    """SPARK_DRIVER_MEM, else half of MemTotal clamped to 2..8 GiB (the
    repository's test-run formula)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def data_key(name, w, scale):
    """Names the inputs of a workload: a new generator or table set gets new
    input and oracle caches."""
    h = hashlib.sha256(open(gen.__file__, "rb").read())
    h.update(json.dumps([w["family"], w["scale"], w["factor"], w["tables"]]).encode())
    return f"{name}-{scale}-{h.hexdigest()[:8]}"


def inputs(key, w, seed, scale):
    """Generated input directory and its table stats, cached per seed."""
    sf = SPEC["scales"][scale][w["scale"]]
    d = os.path.join(WORK, "data", key, f"seed{seed}")
    stats_path = os.path.join(d, "stats.json")
    if not os.path.exists(stats_path):
        shutil.rmtree(d, ignore_errors=True)
        stats = gen.generate(d, seed, sf, w["factor"], w["tables"])
        with open(stats_path, "w") as f:
            json.dump(stats, f)
    return d, json.load(open(stats_path))


def run_jvm(classes, cfg, run_dir, deadline):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}/derby",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
            "etlbench.Harness", cfg_path]
    env = dict(os.environ, GRAFT_SCRATCH=cfg["scratch_dir"] + "/sink",
               SPARK_LOCAL_DIRS=cfg["scratch_dir"] + "/spark-local",
               SPARK_GRAFT_CPUS=str(cfg["cpus"]))
    budget = deadline - time.time()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         env=env, cwd=run_dir, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, budget))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        raise SystemExit("etlbench: harness JVM ran past the run deadline")
    with open(os.path.join(WORK, "reports", "harness.log"), "w") as f:
        f.write(out)
    if p.returncode != 0 or not os.path.exists(cfg["out"]):
        sys.stderr.write(out[-3000:])
        raise SystemExit(f"etlbench: harness JVM failed (exit {p.returncode})")
    return json.load(open(cfg["out"]))


def harness(classes, w, data_dir, args, traced, deadline):
    """Runs the harness in a fresh run directory; returns its result."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "data_dir": data_dir, "queries": w["queries"],
        "warm_passes": w["warm_passes"], "passes": w["passes"],
        "trace": traced, "verify_dir": os.path.join(run_dir, "verify"),
        "scratch_dir": os.path.join(run_dir, "scratch"), "cpus": cpus(),
        "out": os.path.join(run_dir, "result.json"),
        "trace_out": os.path.join(WORK, "reports", f"spans-{args.workload}-seed{args.seed}.json"),
    }
    os.makedirs(os.path.dirname(cfg["trace_out"]), exist_ok=True)
    return run_dir, run_jvm(classes, cfg, run_dir, deadline)


def verify(res, run_dir, data_dir, cache_dir, perturb):
    """Oracle compare of every query's verification output; returns
    {query: "class: message"} for each failed query."""
    failed = {}
    for f in res["failures"]:
        failed.setdefault(f["query"], f"{f['class']} ({f['phase']}): {f['message']}")
    orc = oracle.Oracle(data_dir, cache_dir, cpus(), os.path.join(run_dir, "tmp"))
    try:
        for q in res["query_s"]:
            if q in failed:
                continue
            try:
                got = pq.read_table(os.path.join(run_dir, "verify", q))
                if q == perturb:
                    col = got.column(0).to_pylist()
                    col[0] = None if col[0] is not None else col[-1]
                    got = got.set_column(0, got.field(0), pa.array(col, got.schema.field(0).type))
                sql = res["oracle_sql"].get(q)
                if sql is None:
                    diff = None if got.num_rows > 0 else "no oracle and no rows"
                else:
                    diff = oracle.compare(got, orc.answer(sql))
                if diff:
                    failed[q] = f"OracleMismatch: {diff}"
            except Exception as e:  # noqa: BLE001 - recorded as the query's failure
                failed[q] = f"{type(e).__name__}: {e}"
    finally:
        orc.close()
    return failed


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(res, stats):
    return {
        "batch_s": res["batch_s"],
        "query_geomean_s": geomean(res["query_s"].values()),
        "setup_s": res["setup_s"],
        "live_heap_mb": res["live_heap_mb"],
        "cached_mb": res["cached_mb"],
        "write_amp": res["written_bytes"] / sum(t["bytes"] for t in stats.values()),
    }


def per_layer(res, failed, n_queries, watch):
    m = {k: v for k, v in res.items() if "." in k and isinstance(v, (int, float))}
    m["assets.built"] = res["assets_built_warm"]
    m["assets.build_s"] = sum(res["warm"].values())
    scans = res["mem_scans"]
    m["assets.hit_ratio"] = scans / (scans + res["assets_built_timed"]) \
        if scans + res["assets_built_timed"] > 0 else 1.0
    m["sink.files"] = res["sink_files"]
    m["jvm.gc_s"] = res["gc_s"]
    m["host.cpu_canary_s"] = res["cpu_canary_s"]
    m["host.io_canary_s"] = res["io_canary_s"]
    for k, v in res["kernels_ns_row"].items():
        m[f"kernel.{k}_ns_row"] = v
    for i, q in enumerate(watch, 1):
        m[f"q.watch{i}_s"] = res["query_s"][q]
    m["trace.build_plan_share"] = m.pop("span.build_plan_s") / res["trace.batch_s"]
    m["trace.build_plan_self_share"] = (m["self.build_s"] + m["self.plan_s"]) / res["trace.batch_s"]
    m["check.fail_ratio"] = len(failed) / n_queries
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SPEC["scales"]), default="full",
                    help="'smoke' runs on sf0.001-derived inputs")
    ap.add_argument("--perturb", metavar="QUERY",
                    help="alter one cell of QUERY's output before the compare (self-test)")
    args = ap.parse_args()
    t_start = time.time()
    w = SPEC["workloads"][args.workload]
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))

    classes = build.build()
    deadline = time.time() + DEADLINE_S
    key = data_key(args.workload, w, args.scale)
    data_dir, stats = inputs(key, w, args.seed, args.scale)
    run_dir, res = harness(classes, w, data_dir, args, bool(args.trace), deadline)
    cache = os.path.join(WORK, "oracle", key, f"seed{args.seed}")
    failed = verify(res, run_dir, data_dir, cache, args.perturb)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = per_layer(res, failed, len(w["queries"]), w["watch"])
        declared = bench["per_layer"]
    else:
        metrics = end_to_end(res, stats)
        declared = bench["end_to_end"]
    report = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "inputs": stats, "passes": res["passes"], "timed_s": res["timed_s"],
        "session_s": res["session_s"], "warm_s": res["warm"], "cpu_canary_s": res["cpu_canary_s"],
        "query_median_s": res["query_s"], "query_reps_s": res["query_reps_s"],
        "verify_s": res["verify_s"],
        "written_mb_per_pass": res["written_bytes"] / 2**20,
        "fail_ratio": len(failed) / len(w["queries"]),
        "failures": failed, "run_s": time.time() - t_start,
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"report-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(dict(report, metrics=metrics), f, indent=1)
    print(json.dumps(report))
    for name, why in failed.items():
        print(f"FAIL {name}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(w["queries"]),
        "failed": len(failed),
        "metrics": {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]}
                    for d in declared},
    }))


if __name__ == "__main__":
    main()

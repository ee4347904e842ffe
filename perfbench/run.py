#!/usr/bin/env python3
"""Benchmark of the graft engine, end to end and by layer.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the engine from source on first use (perfbench/build.py), makes the
workload's input tables from the seed (perfbench/gen_data.py), runs the
workload in one JVM on a `local[nproc]` session, checks every output
(perfbench/checks.py) and prints one JSON line: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a run with
the Spark listener attached. The full record of the run, including the
check results, the host load and the spans of a traced run, is written to
`.bench_build/perfbench/runs/<workload>/result.json`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402

# sf scales the generated tables (sf0.01: 60,000 lineitem rows).
WORKLOADS = {
    "adhoc_sql": {"sf": 0.01},
    "iterative": {"sf": 0.01},
    "stream_ingest": {"events_per_file": 2000, "files_per_s": 0.5},
}
MB = 1 << 20
JVM_TIMEOUT_S = 150
# set-up-only JVMs per run besides the measuring one; setup_s is the
# median of all of them
SETUP_JVMS = 1


def pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def run_jvm(a, work, data, out, cpus, setup_only=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(work, "setup.log" if setup_only else "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(log, "w") as fh:
        cmd = build.java_cmd(tmp) + [
            f"-XX:SharedArchiveFile={build.CDS}", "-cp", build.classpath(),
            "graft.perfbench.Main", "--workload", a.workload, "--data", data,
            "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--cpus", str(cpus),
            "--setup-only", str(int(setup_only))]
        lst = os.path.join(HERE, "queries", f"{a.workload}.txt")
        if os.path.exists(lst):
            cmd += ["--queries", lst]
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        try:
            r = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                               env=env, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code}); log: {log}")
    with open(os.path.join(out, "measure.json")) as fh:
        return json.load(fh)


def setup_samples(a, work, data, cpus):
    """setup_s of SETUP_JVMS fresh JVMs that only set up, each from its
    launch to the end of the workload's set-up work."""
    out = []
    for i in range(SETUP_JVMS):
        d = os.path.join(work, f"setup{i}")
        out.append(run_jvm(a, work, data, d, cpus, setup_only=True)["setup_s"])
        shutil.rmtree(d, ignore_errors=True)
    return out


def layer_sums(m, timed):
    """Scheduler totals of the timed job groups, per layer ('' = none)."""
    out = {}
    for row in m.get("layers", []):
        if timed(row["group"]):
            acc = out.setdefault(row["layer"], {})
            for k, v in row.items():
                if k not in ("group", "layer"):
                    acc[k] = acc.get(k, 0) + v
    return out


def batch_metrics(a, m, chk, setup_s):
    timed = m["queries"]
    ok = [q for q in timed if q["ok"]]
    lat = [q["construct_s"] + q["plan_s"] + q["exec_s"] for q in ok]
    n_list = len(m["oracles"])
    if m["passes"]:
        walls = [p["wall_s"] for p in m["passes"]]
        wall = statistics.median(walls)
        scale = 1.0 / len(m["passes"])
    else:  # closed loop: one list cycle, each query at its median latency
        by_name = {}
        for q, t in zip(ok, lat):
            by_name.setdefault(q["name"], []).append(t)
        wall = sum(statistics.median(ts) for ts in by_name.values())
        scale = n_list / max(1, len(ok))
    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        "wall_s": (wall, "s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
        "ops_per_s": (len(ok) / m["window_s"], "1/s"),
        "storage_peak_mb": (m["storage_peak_b"] / MB, "MB"),
    }
    failed = sum(not q["ok"] for q in timed + m["check_queries"])
    failed += sum(c["status"] != "pass" for c in chk.values())
    attempted = len(timed) + len(m["check_queries"]) + len(chk)
    layers = None
    if a.trace:
        ls = layer_sums(m, lambda g: g.startswith("t:"))
        ex, co = ls.get("exec", {}), ls.get("construct", {})
        if m["passes"]:
            builds, bscale = [b for q in timed for b in q["builds"].values()], scale
        else:  # adhoc_sql builds its facts in set-up
            builds, bscale = list(m["prefill_builds"].values()), 1.0
        layers = {
            "operators.construct_s": sum(q["construct_s"] for q in timed) * scale,
            "operators.construct_jobs": co.get("jobs", 0) * scale,
            "operators.construct_task_s": co.get("task_s", 0) * scale,
            "plans.plan_s": sum(q["plan_s"] for q in timed) * scale,
            "exec.exec_s": sum(q["exec_s"] for q in timed) * scale,
            **exec_layer(ex, scale),
            "sources.input_mb": sum(l.get("input_b", 0) for l in ls.values()) / MB * scale,
            "sources.input_rows": sum(l.get("input_rows", 0) for l in ls.values()) * scale,
            "sources.cache_builds": len(builds) * bscale,
            "sources.cache_build_s": sum(builds) * bscale,
            "traced.wall_s": wall,
        }
    return e2e, layers, attempted, failed


def exec_layer(ex, scale):
    return {
        "exec.jobs": ex.get("jobs", 0) * scale,
        "exec.stages": ex.get("stages", 0) * scale,
        "exec.single_task_stages": ex.get("single_task_stages", 0) * scale,
        "exec.tasks": ex.get("tasks", 0) * scale,
        "exec.sched_overhead_s": ex.get("sched_overhead_s", 0) * scale,
        "exec.task_s": ex.get("task_s", 0) * scale,
        "exec.shuffle_write_mb": ex.get("shuffle_write_b", 0) / MB * scale,
        "exec.shuffle_read_mb": ex.get("shuffle_read_b", 0) / MB * scale,
        "exec.spill_mb": ex.get("spill_b", 0) / MB * scale,
        "exec.gc_s": ex.get("gc_s", 0) * scale,
        "exec.task_failures": ex.get("task_failures", 0) * scale,
    }


def stream_metrics(a, m, chk, events_per_file, setup_s):
    sinks = m["sinks"]
    landed = {l["file"]: l for l in m["landings"]}
    ends = {}  # (query, batch) -> end of the micro-batch, epoch ms
    for p in m["progress"]:
        ends[(p["query"], p["batch"])] = p["start_ms"] + p["durations_ms"]["triggerExecution"]
    lat, missing = [], 0
    last_commit = 0.0
    for q in ("counts", "upsert"):
        fb = checks.file_batches(sinks[f"{q}_ckpt"])
        for f, l in landed.items():
            end = ends.get((q, fb.get(f)))
            if end is None:
                missing += 1
                continue
            lat.append((end - l["scheduled_ms"]) / 1e3)
            last_commit = max(last_commit, end)
    first = min(l["scheduled_ms"] for l in landed.values())
    events = len(landed) * events_per_file
    prog = [p for p in m["progress"] if p["rows"] > 0]
    dur = lambda p, k: p["durations_ms"].get(k, 0) / 1e3  # noqa: E731
    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        # the engine time the window's files cost: every micro-batch of
        # both queries
        "wall_s": (sum(dur(p, "triggerExecution") for p in prog), "s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
        "ops_per_s": (events / ((last_commit - first) / 1e3), "1/s"),
        "storage_peak_mb": (m["storage_peak_b"] / MB, "MB"),
    }
    attempted = 2 * len(landed) + len(chk)
    failed = missing + sum(c["status"] != "pass" for c in chk.values())
    layers = None
    if a.trace:
        groups = set(m["stream_groups"])
        ls = layer_sums(m, lambda g: g in groups)
        last = {p["query"]: p for p in m["progress"]}
        layers = {
            "operators.construct_s": 0.0,
            "operators.construct_jobs": 0,
            "operators.construct_task_s": 0.0,
            "plans.plan_s": sum(dur(p, "queryPlanning") for p in prog),
            "exec.exec_s": sum(dur(p, "triggerExecution") for p in prog),
            **exec_layer(ls.get("", {}), 1.0),
            "sources.input_mb": ls.get("", {}).get("input_b", 0) / MB,
            "sources.input_rows": ls.get("", {}).get("input_rows", 0),
            "sources.cache_builds": 0,
            "sources.cache_build_s": 0.0,
            "streaming.batches": len(prog),
            "streaming.batch_p50_s": pct([dur(p, "triggerExecution") for p in prog], 50),
            "streaming.add_batch_s": sum(dur(p, "addBatch") for p in prog),
            "streaming.commit_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                                      for p in prog),
            "streaming.sink_s": sum(c["sink_s"] for c in m["sink_calls"]),
            "streaming.state_rows": sum(p["state_rows"] for p in last.values()),
            "streaming.state_mb": sum(p["state_b"] for p in last.values()) / MB,
            "streaming.generator_late_s": max(l["late_s"] for l in landed.values()),
            "traced.wall_s": e2e["wall_s"][0],
        }
    return e2e, layers, attempted, failed


STREAM_ONLY = ["streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
               "streaming.commit_s", "streaming.sink_s", "streaming.state_rows",
               "streaming.state_mb", "streaming.generator_late_s"]
UNITS = {"_s": "s", "_mb": "MB"}


def unit(name):
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    spec = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    build.ensure()

    work = os.path.join(build.OUT, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    stream = a.workload == "stream_ingest"
    if stream:
        files = max(2, round(a.seconds * spec["files_per_s"]))
        n = files * spec["events_per_file"]
        gen_data.write(data, a.seed, n / 1_000_000)
        gen_data.split_events(data, files, spec["events_per_file"])
    else:
        gen_data.write(data, a.seed, spec["sf"])

    setup_s = setup_samples(a, work, data, cpus)
    m = run_jvm(a, work, data, out, cpus)
    setup_s.append(m["setup_s"])
    load_after = os.getloadavg()
    if stream:
        chk = checks.stream(data, m)
        e2e, layers, attempted, failed = stream_metrics(
            a, m, chk, spec["events_per_file"], setup_s)
    else:
        chk = checks.batch(data, out, m)
        if m["passes"]:  # every cold pass must build the same shared caches
            per_pass = {}
            for q in m["check_queries"] + m["queries"]:
                per_pass.setdefault(q["pass"], set()).update(
                    k.split("|")[0] for k in q["builds"])
            same = len({frozenset(s) for s in per_pass.values()}) == 1
            chk["cache_builds_equal_per_pass"] = {
                "status": "pass" if same else "fail",
                "detail": {str(k): sorted(v) for k, v in per_pass.items()}}
        e2e, layers, attempted, failed = batch_metrics(a, m, chk, setup_s)
    if layers is not None:
        for k in STREAM_ONLY:
            layers.setdefault(k, 0)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "master": m["master"], "cpus": cpus,
        "shuffle_partitions": m["shuffle_partitions"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "setup_samples_s": setup_s, "warmup_s": m["warmup_s"],
        "window_s": m["window_s"], "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "checks": chk, "metrics": metrics,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "measure": {k: v for k, v in m.items() if k != "oracles"},
    }
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for sub in ("data", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

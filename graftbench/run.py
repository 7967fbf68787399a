#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
harness (graftbench/build.py). Each run starts a fresh JVM at
local[<cores>] that sets the workload up, measures it for --seconds,
and checks its output against an independent computation. --trace 1
adds a traced pass (per-layer metrics, span dump, tracing overhead)
and a local[1] pass for spark.core_scaling. The last line of standard
output is {"correct", "attempted", "failed", "metrics"}; the lines
before it carry the gate notes, the workload's own metric names and,
traced, every per-layer figure (see README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
import build  # noqa: E402

WORKLOADS = ("cdc_merge_mor", "cdc_snapshot_runner", "search_serve_cdc", "curate_batch")
RUN_DEADLINE_S = 170  # both JVMs of a run, from the end of the build
# per-layer metric families each workload exercises; the others read 0
OWN_LAYERS = {
    "cdc_merge_mor": ("streaming.", "catalog."),
    "cdc_snapshot_runner": ("streaming.", "sources."),
    "search_serve_cdc": ("index.",),
    "curate_batch": (),
}
# kept row count and output hash of curate_batch, per (scale, seed)
PINS = os.path.join(HERE, "pins.json")


def run_jvm(root, cp, workload, seed, seconds, trace, ncores, scale, work, deadline):
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:SharedArchiveFile=" + os.path.join(root, build.ARCHIVE)] + build.jvm_flags(tmp)
           + ["-cp", cp, "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(ncores), "--scale", scale,
              "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"graftbench: {workload} JVM timed out; log: {log_path}")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"graftbench: {workload} JVM failed (exit {proc.returncode}); log: {log_path}")
    with open(out) as fh:
        return json.load(fh)


def e2e(res, p):
    """The end-to-end metrics of one pass."""
    return {
        # CPU time, not wall: other tenants' load stretches the wall time
        # of set-up by half or more, its CPU time by a few percent
        "setup_s": res["setup_cpu_s"],
        "latency_p50_ms": p["latency_p50_ms"],
        "latency_p90_ms": p["latency_p90_ms"],
        "throughput_per_s": p["throughput_per_s"],
        "write_amp": p["write_amp"],
        "cpu_ms_per_op": p["cpu_ms_per_op"],
        "jobs_per_op": p["jobs_per_op"],
        "peak_heap_mb": p["peak_heap_mb"],
        "live_heap_mb": p["live_heap_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "smoke"), default="default")
    a = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build(root)
    build_s = time.time() - start
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    ncores = build.cores()
    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        deadline = start + build_s + RUN_DEADLINE_S
        res = run_jvm(root, cp, a.workload, a.seed, a.seconds, a.trace, ncores, a.scale,
                      os.path.join(work, "main"), deadline)
        plain = res["untraced"]
        passes = [plain]
        metrics = e2e(res, plain)
        named = dict(plain["named"])
        layers = {}
        if a.trace:
            traced = res["traced"]
            passes.append(traced)
            # spark.core_scaling: the same workload at local[1], half as long
            one = run_jvm(root, cp, a.workload, a.seed, a.seconds / 2, 0, 1, a.scale,
                          os.path.join(work, "local1"), deadline)
            passes.append(one["untraced"])
            layers = dict(res["layers"])
            layers["spark.core_scaling"] = (one["untraced"]["latency_p50_ms"]
                                            / max(plain["latency_p50_ms"], 1e-9))
            tm = e2e(res, traced)
            for k in ("latency_p50_ms", "throughput_per_s", "cpu_ms_per_op", "jobs_per_op"):
                layers[f"trace.overhead.{k}"] = tm[k] - metrics[k]
            traces = os.path.join(root, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            dump = shutil.copy(res["trace_file"], traces)
            print(f"graftbench: trace spans in {os.path.relpath(dump, root)}")
        correct = all(p["gate_ok"] for p in passes)
        if a.workload == "curate_batch":
            with open(PINS) as fh:
                pin = json.load(fh).get(f"{a.scale}/{a.seed}")
            if pin is not None:
                for p in passes:
                    got = {k: p["gate"][k] for k in pin}
                    if got != pin:
                        print(f"graftbench: curate output differs from the pin: {got} != {pin}")
                        correct = False
        attempted = sum(p["attempted"] for p in passes)
        failed = sum(p["failed"] for p in passes)
        if not correct:
            failed = attempted  # a failed gate fails every operation of the run
        for i, p in enumerate(passes):
            print(f"graftbench: gate[{i}] ok={p['gate_ok']} " + json.dumps(p["gate"], sort_keys=True))
        named["ops_failed_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
        named["setup_s"] = {"value": metrics["setup_s"], "unit": "s"}
        named["setup_wall_s"] = {"value": res["session_s"] + res["setup_s"], "unit": "s"}
        named["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}  # VmHWM at exit
        for k, unit in (("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"), ("throughput_per_s", "1/s"),
                        ("cpu_ms_per_op", "ms"), ("jobs_per_op", "count"), ("write_amp", "ratio"),
                        ("peak_heap_mb", "MB"), ("live_heap_mb", "MB")):
            named[k] = {"value": metrics[k], "unit": unit}
        named["cpu_steal_frac"] = {"value": plain["cpu_steal_frac"], "unit": "ratio"}
        named["ops"] = {"value": plain["ops"], "unit": "count"}
        print(f"graftbench: {a.workload} seed={a.seed} cores={ncores} build_s={build_s:.1f} "
              + " ".join(f"{k}={res[k]:.1f}" for k in ("session_s", "setup_s", "setup_cpu_s", "measure_s", "gate_s"))
              + f" run_s={time.time() - start:.1f}")
        print("graftbench: named " + json.dumps(named, sort_keys=True))
        print("graftbench: end_to_end " + json.dumps(
            {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}))
        if a.trace:
            print("graftbench: layers " + json.dumps(layers, sort_keys=True))
        wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
        source = layers if a.trace else metrics
        if a.trace:
            for n in wanted:
                if n not in layers and not n.startswith(OWN_LAYERS[a.workload] + ("spark.", "self_ms.", "trace.")):
                    layers[n] = 0.0  # a layer this workload does not exercise
        missing = [n for n in wanted if n not in source or source[n] is None]
        if missing:
            raise SystemExit(f"graftbench: metrics not produced: {missing}")
        out = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
               "metrics": {n: {"value": float(source[n]), "unit": units[n]} for n in wanted}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

"""graft benchmark: one command, every metric, every output checked.

    python3 perfbench/run.py --workload pairs|stream \
        --seed <n> --seconds <s> --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
and the harness (sbt) under `.bench_build/` (or `$CARGO_TARGET_DIR`).
The inputs are the parquet tables in perfbench/data/.

With `--trace 0` the last stdout line reports the end-to-end metrics;
with `--trace 1` the run attaches Spark's listeners, records spans, and
reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import metrics  # noqa: E402

END_TO_END = {"wall_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "setup_s": "s", "retained_heap_mb": "MB"}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 165  # the engine run; with the checks, the command must end within 180 s


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha1()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile engine and harness once per source state; return the classpath."""
    sources = [p for pat in ("src/main/**/*", "build.sbt", "project/*.properties",
                             "perfbench/harness/build.sbt",
                             "perfbench/harness/project/*.properties",
                             "perfbench/harness/src/**/*")
               for p in glob.glob(os.path.join(root, pat), recursive=True) if os.path.isfile(p)]
    key = tree_hash(sources)
    cp_file = os.path.join(out, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building engine and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's scratch files (server socket, compiler temp, no JVM perf data
    # in /tmp) stay in the checkout
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as lf:
        r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench", "harness"), env=env,
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def canary_ms():
    """A fixed CPU loop; its time says how contended the box was."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1e3


def fingerprint():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_mb": mem.get("MemTotal"),
            "mem_available_mb": mem.get("MemAvailable"), "loadavg": load,
            "canary_ms": round(canary_ms(), 1)}


def run_jvm(cp, conf, run_dir, heap, cpus, deadline):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(conf, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"]
           + JVM_OPENS + ["-cp", cp, "perfbench.Main", cfg_path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(run_dir, "jvm.out"), "w") as o, \
            open(os.path.join(run_dir, "jvm.err"), "w") as e:
        # its own process group: a timeout stops the engine and the
        # generator it started
        p = subprocess.Popen(cmd, stdout=o, stderr=e, env=env, cwd=run_dir,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("engine run did not finish in time")
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.err")) as e:
            sys.stderr.write(e.read()[-3000:])
        fail(f"engine run exited with {p.returncode}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def run_batch(args, spec, common, cp, out, run_dir, deadline):
    data = os.path.join(BENCH, spec["data"])
    queries = list(spec["queries"])
    random.Random(args.seed).shuffle(queries)
    cpus = len(os.sched_getaffinity(0))
    conf = {"kind": "batch", "workload": args.workload, "run_id": os.path.basename(run_dir),
            "data_dir": data, "out_dir": run_dir, "queries": queries,
            "warm_order": spec["queries"],
            "tables": spec["tables"], "seconds": args.seconds, "trace": bool(args.trace),
            "cpus": cpus, "setups": common["setups"], "min_passes": spec["min_passes"],
            "serial_queries": spec["serial_queries"]}
    raw = run_jvm(cp, conf, run_dir, spec["heap"], cpus, deadline)
    verdict = check.check_batch(raw, data, os.path.join(run_dir, "results"),
                                os.path.join(out, "oracle"))
    e2e, info = metrics.batch_end_to_end(raw, verdict)
    layers = (metrics.batch_layers(raw, os.path.join(run_dir, "spans.jsonl"), e2e)
              if args.trace else None)
    return raw, e2e, info, layers


def run_stream(args, spec, common, cp, out, run_dir, deadline):
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)  # one core for the generator
    gen_cfg = {k: spec[k] for k in ("late_share", "late_horizon_s", "burst_events",
                                    "burst_gap_ms", "lead_s", "ack_timeout_s")}
    # the rate steps share the measured time equally
    step_s = args.seconds / len(spec["rates"])
    gen_cfg.update(seed=args.seed, replay=os.path.join(BENCH, spec["events"]),
                   segments=[[name, rate, step_s] for name, rate in spec["rates"]],
                   events_out=os.path.join(run_dir, "events.parquet"),
                   summary_out=os.path.join(run_dir, "generator.json"))
    gen_path = os.path.join(run_dir, "generator_config.json")
    with open(gen_path, "w") as f:
        json.dump(gen_cfg, f)
    conf = {"kind": "stream", "workload": args.workload, "run_id": os.path.basename(run_dir),
            "out_dir": run_dir, "trace": bool(args.trace), "cpus": cpus,
            "setups": common["setups"], "generator_timeout_s": 120,
            "generator": [sys.executable, os.path.join(BENCH, "streamgen.py"),
                          "--config", gen_path]}
    raw = run_jvm(cp, conf, run_dir, spec["heap"], cpus, deadline)
    if raw["generator_exit"] != 0 or not os.path.exists(gen_cfg["summary_out"]):
        with open(os.path.join(run_dir, "generator.err")) as e:
            sys.stderr.write(e.read()[-3000:])
        fail("generator failed")
    with open(gen_cfg["summary_out"]) as f:
        gen = json.load(f)
    verdict = check.check_stream(gen_cfg["events_out"], raw["sink_dir"])
    events = pq.read_table(gen_cfg["events_out"]).to_pandas()
    sink = metrics.stream_frames(raw, gen, pq.read_table(raw["sink_dir"]).to_pandas())
    e2e, info = metrics.stream_end_to_end(raw, gen, sink, verdict)
    info.update(check=verdict, generator=gen, query_error=raw.get("query_error"))
    layers = None
    if args.trace:
        progress = metrics.load_progress(os.path.join(run_dir, "progress.jsonl"))
        layers = metrics.stream_layers(raw, gen, events, sink, progress,
                                       os.path.join(run_dir, "spans.jsonl"), spec)
        layers["trace.wall_s"] = e2e["wall_s"]
    return raw, e2e, info, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (results, spans, logs)")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run me from the root of a graft checkout (build.sbt and src/ not found)")
    with open(os.path.join(BENCH, "workloads.json")) as f:
        common = json.load(f)
    if args.workload not in ("pairs", "stream"):
        fail(f"unknown workload {args.workload!r}")
    spec = common[args.workload]

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    fp_start = fingerprint()
    run_dir = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = time.time() + RUN_LIMIT_S
    runner = run_stream if spec["kind"] == "stream" else run_batch
    raw, e2e, info, layers = runner(args, spec, common, cp, out, run_dir, deadline)
    fp_end = fingerprint()

    log(f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cores={fp_start['cores']} engine_cores={raw['cpus']}")
    log(f"fingerprint start {fp_start}")
    log(f"fingerprint end   {fp_end}")
    for k, unit in END_TO_END.items():
        log(f"{k:>16} = {e2e[k]:.4f} {unit}")
    for k, v in info.items():
        log(f"{k}: {json.dumps(v, default=str)[:600]}")
    attempted, failed = int(info["attempted"]), int(info["failed"])
    log(f"failed_frac = {failed / max(attempted, 1):.6f} ({failed} of {attempted})")
    if layers is not None:
        for k, v in layers.items():
            log(f"{k:>34} = {v:.4f}")
        report = {"workload": args.workload, "seed": args.seed, "fingerprint_start": fp_start,
                  "fingerprint_end": fp_end, "end_to_end": e2e, "per_layer": layers,
                  "info": info}
        with open(os.path.join(out, f"last-trace-{args.workload}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        if os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(out, f"last-spans-{args.workload}.jsonl"))
        out_metrics = {k: {"value": float(v), "unit": metrics.layer_unit(k)}
                       for k, v in layers.items()}
    else:
        out_metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()

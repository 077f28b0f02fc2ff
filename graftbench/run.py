#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, run from the repository root.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

It builds the repository's sources with the harness (graftbench/build.py),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM through the shipping session `graft.core.GraftSession` on
local[<cpus available>], checks every output, and prints as its last stdout
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it records the environment.
Exit status: 0 when every check passed, 1 on any mismatch, 2 when the run
could not be made (no sources, build failure, crash, timeout).
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

# Payload files for the consumer workloads hold `frags_per_file` fragments of
# `frame_bytes` media bytes each; 5% of files re-send the previous file's last
# fragment (a reconnect replay), producer time advances 200 ms per fragment,
# and the store keeps the newest 8 one-minute buckets, so retention evicts
# during every run.
PAYLOAD = dict(replay_share=0.05, spacing_ms=200, keep_newest=8, bucket_ms=60000)
MEDIA = ["mm_source", "mm_elements", "mm_split_stream", "mm_roundtrip", "mm_nal_census",
         "mm_hevc_gop_census", "mm_codec_dispatch", "mm_keyframe_index", "mm_frame_sample",
         "mkv_to_mp4_transmux", "mp4_to_mkv_transmux", "asof_custom_plan", "asof_next_marker",
         "frame_ring_state", "resume_from_token", "lag_monitor"]
WORKLOADS = {
    # backfill of ~1.3 MB payload files: a chunk of 30 (under the 32 files
    # above which the source lists with a Spark job) always waits behind the
    # batch in flight; 10 warm-up batches, as the JIT keeps speeding up
    # the batches for about 15 of them
    "consumer_drain": dict(PAYLOAD, frags_per_file=40, frame_bytes=32768, rate=0,
                           chunk_files=30, warmup_files=10, warmup_batches=10,
                           late_limit_ms=0),
    # open loop at 10 files/s (~3.2 MB/s): a batch stays under the 32 files
    # above which the source lists with a Spark job, even if it takes 3 s;
    # 10 warm-up batches, as the JIT keeps speeding up the per-trigger code
    # for tens of batches; a file written >500 ms after its due time fails
    "consumer_live": dict(PAYLOAD, frags_per_file=10, frame_bytes=32768, rate=10,
                          chunk_files=0, warmup_files=10, warmup_batches=10,
                          late_limit_ms=500),
    # tables at 8x the sf0.001 testdata row counts, which keeps a run near a
    # minute: tasks (kernels, scan, as-of) are then about half of a pass,
    # against ~15% at 0.5x; the rest is per-query overhead
    "media_batch": dict(queries=MEDIA, scale=8),
}
# tiny sizes for the smoke test (graftbench/smoke.py)
SMOKE = {"consumer_drain": dict(chunk_files=10, warmup_files=5, warmup_batches=2),
         "consumer_live": dict(rate=5, warmup_batches=2),
         "media_batch": dict(scale=0.2)}
XMX = "3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        # a checkout without git metadata: identify the sources instead
        return "src-sha256:" + build.digest(root, build.sources(root) + build.resources(root))


def run_jvm(cmd, cwd, env, log_path, limit_s):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def parity(root, data_dir, run_dir, limit_s):
    """Compares the warm-up results under `<run_dir>/out` with their
    `SparkEntry.oracleSql` twins in DuckDB through the repository's
    tools/parity.py; returns its failure lines."""
    try:
        p = subprocess.run([sys.executable, os.path.join(root, "tools", "parity.py"), data_dir,
                            os.path.join(run_dir, "out")], cwd=run_dir, capture_output=True,
                           text=True, timeout=limit_s)
    except subprocess.TimeoutExpired:
        fail("tools/parity.py timed out")
    fails = [line[len("FAIL "):] for line in p.stdout.splitlines() if line.startswith("FAIL ")]
    if p.returncode != 0 and not fails:
        fails = [f"tools/parity.py exited with {p.returncode}: {p.stderr[-500:]}"]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes (graftbench/smoke.py)")
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        classes = build.build(root)
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    built_s = time.time() - started

    # the run proper starts here: set-up time excludes a first-run build
    t0 = time.time()
    load_avg = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    w = dict(WORKLOADS[args.workload], **(SMOKE[args.workload] if args.smoke else {}))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(t0)}"
    run_dir = os.path.join(root, ".bench_build", "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jargs = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                 trace=args.trace, run_dir=run_dir, run_id=run_id, t0_ms=int(t0 * 1000))
    data_dir = os.path.join(run_dir, "data")
    if "queries" in w:
        import datagen
        datagen.generate(data_dir, args.seed, w.get("scale", 1.0))
        jargs.update(data_dir=data_dir, queries=",".join(w["queries"]))
    else:
        jargs.update(w)
    # fresh tmpdir per run: operators cache archives and indexes there
    # behind marker files, and their first-run cost belongs to set-up
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + JVM_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main"] + [f"{k}={v}" for k, v in jargs.items()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_IP="127.0.0.1")
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(run_dir, "jvm.log")
    code = run_jvm(cmd, run_dir, env, log, RUN_LIMIT_S - (time.time() - started))
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"JVM exited with {code}; log above")
    with open(result_path) as fh:
        r = json.load(fh)

    failures = list(r["failures"])
    failed = int(r["failed"])
    if "queries" in w:
        mismatches = parity(root, data_dir, run_dir, RUN_LIMIT_S - (time.time() - started))
        failures += mismatches
        failed += len(mismatches)
    section = "per_layer" if args.trace else "end_to_end"
    values = r["layers"] if args.trace else r["metrics"]
    metrics, not_measured = {}, []
    for m in spec[section]:
        v = values.get(m["name"])
        if v is None:
            not_measured.append(m["name"])
        if v is None and not args.trace:
            failures.append(f"end-to-end metric {m['name']} not measured")
            failed += 1
        # a per-layer metric of a layer this workload does not run reads 0
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    for f in failures:
        print(f"graftbench: FAILED {f}", file=sys.stderr)

    env_rec = dict(commit=commit(root), workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace, smoke=args.smoke, nproc=cpus,
                   spark_threads=cpus, xmx=XMX, load_avg_1m=load_avg, build_s=round(built_s, 3),
                   params={k: v for k, v in w.items() if k != "queries"},
                   queries=w.get("queries"), jvm=r["env"],
                   not_measured=not_measured)
    traces = os.path.join(root, ".bench_build", "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(traces, run_id + ".spans.jsonl"))
        env_rec["spans"] = os.path.relpath(os.path.join(traces, run_id + ".spans.jsonl"), root)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"env": env_rec}))
    attempted = max(1, int(r["attempted"]))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(attempted, failed), "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()

#!/bin/bash
# Counts code generation and JIT work in the timed window of one benchmark
# workload run.
#
#   tools/jitcount.sh <workload> <seed> [seconds]
#
# Run from the repository root. The workload runs traced
# (`graftbench/run.py --trace 1`), so its span file gives the timed window:
# from the start of the first timed pass (media_batch) or micro-batch
# (consumer workloads) to the end of the last. Every JVM the run starts
# records a JFR file, through JAVA_TOOL_OPTIONS; the script reads the
# benchmark JVM's and prints, for the window:
#   - the Janino classes defined (one GeneratedClass per Spark codegen
#     compile, plus its nested classes);
#   - C2 compile seconds per wall second (summed jdk.Compilation time);
#   - the CPU of compiler threads, Spark task threads, driver threads
#     (main, scheduler, listener bus, exchange and path-check pools) and
#     JVM service threads (JFR, code sweeper, ...), in cores and as a share
#     of the sampled thread CPU (jdk.ThreadCPULoad at a 1-s period, each
#     sample weighted by the time since the thread's previous sample or
#     start; GC threads are not sampled).
# It only reads graftbench/; the run writes under .bench_build/ as any
# benchmark run does, and the recordings go to a temporary directory.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <workload> <seed> [seconds]" >&2
  exit 2
fi
workload=$1 seed=$2 seconds=${3:-6}
cd "$(dirname "$0")/.."
rec=$(mktemp -d)
trap 'rm -rf "$rec"' EXIT

jfr_opts="-XX:StartFlightRecording=filename=$rec/,settings=profile"
jfr_opts+=",jdk.ClassDefine#enabled=true,jdk.ClassDefine#stackTrace=false"
jfr_opts+=",jdk.Compilation#threshold=0ms,jdk.ThreadCPULoad#period=1s"
out=$(JAVA_TOOL_OPTIONS="$jfr_opts" python3 graftbench/run.py --workload "$workload" \
  --seed "$seed" --seconds "$seconds" --trace 1) || {
  echo "jitcount: the benchmark run failed" >&2
  exit 1
}
env_line=$(printf '%s\n' "$out" | tail -n 2 | head -n 1)

# the benchmark JVM's recording: the one whose JVM ran graftbench.Main
recording=
for f in "$rec"/*.jfr; do
  if jfr print --events jdk.JVMInformation "$f" | grep -q 'graftbench\.Main'; then
    recording=$f
  fi
done
if [ -z "$recording" ]; then
  echo "jitcount: no recording of the benchmark JVM" >&2
  exit 1
fi
jfr print --json \
  --events jdk.ClassDefine,jdk.Compilation,jdk.ThreadCPULoad,jdk.ThreadStart,jdk.CPUInformation \
  "$recording" > "$rec/events.json"

python3 - "$rec/events.json" "$env_line" <<'EOF'
import json, sys
from datetime import datetime, timezone

def epoch_ns(ts):
    # "2026-10-18T01:39:12.885268028Z": datetime keeps microseconds only
    base, frac = ts.rstrip("Z").split(".")
    sec = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)
    return int(sec.timestamp()) * 10**9 + int(frac.ljust(9, "0")[:9])

def seconds(iso):  # "PT0.000363118S"
    return float(iso[2:-1]) if iso.startswith("PT") and iso.endswith("S") else 0.0

env = json.loads(sys.argv[2])["env"]
spans = {}
with open(env["spans"]) as fh:
    for line in fh:
        s = json.loads(line)
        unit = s["name"].split(".")[0]
        if unit in ("pass", "micro_batch"):
            spans.setdefault(unit, []).append((s["start_ns"], s["end_ns"]))
if not spans:
    sys.exit("jitcount: the span file has no timed pass or micro-batch")
unit, spans = next(iter(spans.items()))
lo, hi = min(a for a, _ in spans), max(b for _, b in spans)
wall = (hi - lo) / 1e9

JVM_SERVICE = ("JFR ", "Sweeper thread", "Signal Dispatcher", "Reference Handler", "Finalizer",
               "Common-Cleaner", "Notification Thread", "Service Thread", "Attach Listener")

def kind(name):
    if "CompilerThread" in name:
        return "compiler"
    if name.startswith("Executor task launch worker"):
        return "task"
    return "jvm" if name.startswith(JVM_SERVICE) else "driver"

events = json.load(open(sys.argv[1]))["recording"]["events"]
events.sort(key=lambda e: epoch_ns(e["values"]["startTime"]))
hw = next((e["values"]["hwThreads"] for e in events if e["type"] == "jdk.CPUInformation"), 1)
gen, nested, c2 = 0, 0, 0.0
cpu = {"compiler": 0.0, "task": 0.0, "driver": 0.0, "jvm": 0.0}
last = {}  # thread id -> time of its start or its previous load sample
for e in events:
    v = e["values"]
    t = epoch_ns(v["startTime"])
    if e["type"] == "jdk.ThreadStart" and v.get("thread"):
        last[v["thread"]["osThreadId"]] = t
        continue
    if e["type"] == "jdk.ThreadCPULoad":
        tid = v["eventThread"]["osThreadId"]
        # a load is a fraction of all hardware threads since the previous
        # sample; a thread seen first here gets one full 1-s period
        since = (t - last.get(tid, t - 10**9)) / 1e9
        last[tid] = t
        if lo <= t <= hi:
            name = v["eventThread"]["javaName"] or v["eventThread"]["osName"] or ""
            cpu[kind(name)] += (v["user"] + v["system"]) * hw * since
        continue
    if not lo <= t <= hi:
        continue
    if e["type"] == "jdk.ClassDefine":
        name = v["definedClass"]["name"]
        if name.startswith("org/apache/spark/sql/catalyst/expressions/GeneratedClass"):
            if "$" in name:
                nested += 1
            else:
                gen += 1
    elif e["type"] == "jdk.Compilation":
        if v.get("compiler") == "c2" or v.get("compileLevel") == 4:
            c2 += seconds(v["duration"])
total = sum(cpu.values()) or 1.0
print(f"{env['workload']} seed {env['seed']}: timed window {wall:.1f} s, "
      f"{len(spans)} {unit.replace('_', '-')}es")
print(f"janino classes defined   {gen} ({nested} nested)")
print(f"c2 compile s per wall s  {c2 / wall:.2f}")
print(f"{'threads':<10}{'cores':>7}{'share':>8}")
for k in ("compiler", "task", "driver", "jvm"):
    print(f"{k:<10}{cpu[k] / wall:>7.2f}{cpu[k] / total:>8.2f}")
EOF

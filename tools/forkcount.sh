#!/bin/bash
# Counts the processes the JVM spawns during one benchmark workload run.
#
#   tools/forkcount.sh <workload> <seed> [seconds]
#
# Run from the repository root. Shims for chmod, readlink, ls and stat go
# first on PATH; each logs the call, with the name of the process that made
# it, and then runs the real tool. The workload runs traced
# (`graftbench/run.py --trace 1`), so its span file gives the time range of
# every micro-batch in the timed windows. The script prints, per tool, the
# calls the JVM made over the whole run and per micro-batch inside the
# windows. It only reads graftbench/; the run writes under .bench_build/ as
# any benchmark run does.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <workload> <seed> [seconds]" >&2
  exit 2
fi
workload=$1 seed=$2 seconds=${3:-6}
cd "$(dirname "$0")/.."
shims=$(mktemp -d)
trap 'rm -rf "$shims"' EXIT
log=$shims/calls.log
: > "$log"
for tool in chmod readlink ls stat; do
  real=$(command -v "$tool")
  cat > "$shims/$tool" <<EOF
#!/bin/bash
read -r caller < /proc/\$PPID/comm || caller=unknown
echo "\${EPOCHREALTIME/./} $tool \$caller" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shims/$tool"
done

out=$(PATH="$shims:$PATH" python3 graftbench/run.py --workload "$workload" \
  --seed "$seed" --seconds "$seconds" --trace 1) || {
  echo "forkcount: the benchmark run failed" >&2
  exit 1
}

python3 - "$log" <<EOF
import json, sys
env = json.loads("""$(printf '%s' "$out" | tail -n 2 | head -n 1)""")["env"]
batches = []
if env.get("spans"):
    with open(env["spans"]) as fh:
        for line in fh:
            s = json.loads(line)
            if s["name"].startswith("micro_batch."):
                batches.append((s["start_ns"] // 1000, s["end_ns"] // 1000))
calls = {}
with open(sys.argv[1]) as fh:
    for line in fh:
        us, tool, caller = line.split()
        if caller == "java":
            calls.setdefault(tool, []).append(int(us))
n = max(1, len(batches))
print(f"{env['workload']} seed {env['seed']}: {len(batches)} traced micro-batches")
print(f"{'tool':<9}{'run total':>10}{'per batch':>11}")
for tool in ("chmod", "readlink", "ls", "stat"):
    ts = calls.get(tool, [])
    inside = sum(1 for t in ts if any(a <= t <= b for a, b in batches))
    print(f"{tool:<9}{len(ts):>10}{inside / n:>11.1f}")
EOF

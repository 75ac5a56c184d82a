#!/bin/bash
# North-rule evidence: the whole pipeline "runs via spark-submit ... at two
# cluster sizes (N and 4N)". Packages the library jar and submits
# `graft.Bench submit` (which sets NO master — parallelism comes from
# --master alone) at local[N] and local[4N], alternating submissions REPS
# times, then prints per-level bests + scaling efficiency.
#
# Usage: scripts/run_spark_submit.sh [nFiles] [reps] [N] (4N implied)
set -e
cd "$(dirname "$0")/.."
N_FILES=${1:-320000}
REPS=${2:-3}
N=${3:-2}
N4=$((N * 4))
sbt -batch package 1>&2
JAR=$(ls -t target/scala-2.13/*.jar | grep -v -- -tests | head -1)
echo "jar: $JAR" 1>&2

submit() { # $1 = cores
  /opt/spark/bin/spark-submit \
    --master "local[$1]" \
    --driver-memory "${SPARK_DRIVER_MEM:-40g}" \
    --conf spark.local.dir=/dev/shm/graft-spark-local \
    --class graft.Bench "$JAR" submit "$N_FILES" "${LEG_REPS:-2}" 2>/dev/null |
    grep '"metric":"spark_submit_leg"'
}

declare -A BEST
for rep in $(seq 1 "$REPS"); do
  for m in "$N" "$N4"; do
    line=$(submit "$m")
    echo "rep $rep local[$m]: $line" 1>&2
    fps=$(echo "$line" | python3 -c 'import sys,json; print(json.load(sys.stdin)["build_files_per_sec"])')
    cur=${BEST[$m]:-0}
    BEST[$m]=$(python3 -c "print(max($cur, $fps))")
  done
done

python3 - "$N" "$N4" "${BEST[$N]}" "${BEST[$N4]}" "$N_FILES" "$REPS" <<'EOF'
import sys, json
n, n4, b1, b4, nf, reps = int(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]), float(sys.argv[4]), int(sys.argv[5]), int(sys.argv[6])
print(json.dumps({
    "metric": "spark_submit_scaling", "n_files": nf, "reps": reps,
    "levels": [n, n4],
    "build_files_per_sec": {f"local{n}": b1, f"local{n4}": b4},
    "scaling_efficiency": round(b4 / b1 / 4.0, 3)}))
EOF

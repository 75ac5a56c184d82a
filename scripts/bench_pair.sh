#!/usr/bin/env bash
# Paired comparison of the repository benchmark: a parent revision against
# the working tree, over n seeds, alternating which side runs first.
#
#   scripts/bench_pair.sh <parent-rev> <workload> <n> [first-seed]
#
#   parent-rev  any git revision, e.g. HEAD~1 or a commit id
#   workload    a perfbench workload (build, serve_local, ...)
#   n           number of pairs (seeds first-seed .. first-seed+n-1)
#   first-seed  default 1001; use seeds not used while writing the change
#
# Run from anywhere inside the checkout. Both sides run from sibling
# temporary directories (removed on exit), so neither gains from where it
# sits: the parent is exported with `git archive`, the change is the working
# tree's tracked and untracked-but-not-ignored files, copied as they are now.
# Each side builds its own `.bench_build/` in its directory. Each run uses
# `perfbench/run.py --seconds <run_seconds of BENCHMARK.json>`. Output: each
# pair's end-to-end metrics (parent/change), then for every end-to-end
# metric each side's quartiles, the change's win count, the median change
# and a verdict. GAIN needs wins in at least nine tenths of the pairs and a
# median improvement larger than the parent's interquartile range; LOSS is
# the same rule the other way; anything else prints "-". Raw results are
# kept in the directory printed first.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,10p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
rev=$1 workload=$2 n=$3 seed0=${4:-1001}

root=$(git rev-parse --show-toplevel)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
parent=$(mktemp -d "${TMPDIR:-/tmp}/bench_pair_parent.XXXXXX")
change=$(mktemp -d "${TMPDIR:-/tmp}/bench_pair_change.XXXXXX")
out=$(mktemp -d "${TMPDIR:-/tmp}/bench_pair_out.XXXXXX")
trap 'rm -rf "$parent" "$change"' EXIT
git -C "$root" archive "$rev" | tar -x -C "$parent"
(cd "$root" && git ls-files -z -co --exclude-standard | tar --null --ignore-failed-read -T - -c) | tar -x -C "$change"
echo "results in $out (parent $(git -C "$root" rev-parse --short "$rev"), $workload, ${seconds}s runs)"

run() { # side dir seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 2>>"$out/$1.log" | tail -n 1) || true
  case $line in
    '{"correct"'*) echo "$line" >>"$out/$1.jsonl" ;;
    *) echo '{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}' >>"$out/$1.jsonl" ;;
  esac
}

for ((i = 0; i < n; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
  echo "pair $((i + 1))/$n seed $seed done"
done

python3 - "$out" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
out, bench_file = sys.argv[1:3]
bench = json.load(open(bench_file))
metrics = [m["name"] for m in bench["end_to_end"]]
higher = {m["name"] for m in bench["end_to_end"] if m["better"] == "higher"}
side = {s: [json.loads(l) for l in open(f"{out}/{s}.jsonl")] for s in ("parent", "change")}

def values(s, m):
    return [r["metrics"].get(m, {}).get("value") for r in side[s]]

def quartiles(xs):
    xs = sorted(x for x in xs if x is not None)
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

def fmt(x):
    return "-" if x is None else f"{x:.4g}"

for s in ("parent", "change"):
    rs = side[s]
    att = sum(r["attempted"] for r in rs)
    fail = sum(r["failed"] for r in rs)
    bad = sum(1 for r in rs if not r["correct"])
    print(f"{s}: {len(rs)} runs, {bad} not correct, failed {fail}/{att}")

print(f"{'pair':>4} " + " ".join(f"{m:>20}" for m in metrics))
for i in range(len(side["parent"])):
    cells = (f"{fmt(values('parent', m)[i])}/{fmt(values('change', m)[i])}" for m in metrics)
    print(f"{i + 1:>4} " + " ".join(f"{c:>20}" for c in cells))

print(f"{'metric':<12} {'parent q1/med/q3':>24} {'change q1/med/q3':>24} {'wins':>6} "
      f"{'median':>8}  verdict")
for m in metrics:
    pq, cq = quartiles(values("parent", m)), quartiles(values("change", m))
    sign = 1 if m in higher else -1  # > 0: the change is better
    pairs = [(p, c) for p, c in zip(values("parent", m), values("change", m))
             if p is not None and c is not None]
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    gain, iqr, t = sign * (cq[1] - pq[1]), pq[2] - pq[0], len(pairs)
    verdict = ("GAIN" if t and wins * 10 >= 9 * t and gain > iqr else
               "LOSS" if t and losses * 10 >= 9 * t and -gain > iqr else "-")
    print(f"{m:<12} {'/'.join(f'{x:.4g}' for x in pq):>24} "
          f"{'/'.join(f'{x:.4g}' for x in cq):>24} {wins:>3}/{t:<2} "
          f"{(cq[1] - pq[1]) / pq[1] * 100:>+7.1f}%  {verdict}")
EOF

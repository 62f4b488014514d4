#!/usr/bin/env bash
# Paired outside-benchmark runs of a parent revision against the working
# tree.
#
#   scripts/perf_pairs.sh <parent-rev> <workload> <seeds> [scratch-root]
#
# <seeds> is a list like "301-310" or "1,4,7". The parent revision and
# the working tree (tracked and untracked files, .gitignore honoured) are
# each `git archive`d into a fresh directory under [scratch-root]
# (default: a new directory under $TMPDIR). For every seed the two sides
# run `python3 perfbench/run.py --workload <workload> --seed <seed>
# --seconds 20 --trace 0` one after the other, the first side
# alternating from pair to pair. Each run's last stdout line (its JSON
# result) goes to <scratch-root>/pairs-<workload>.jsonl. At the end it
# prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, and the number of pairs the change won (ties count for
# neither side); then per side the runs whose every answer was correct
# and the operations attempted and failed; then, per statement template
# (the statement with its literals blanked), each side's operation count,
# median latency and slowest latency over all its runs, read from the
# runs' perfbench/.work/runs/*/spec.json and out.json, so a claim shows
# which statement classes moved and whether one operation stalled.
#
# It only reads perfbench/: both copies run their own perfbench/ as
# archived, and nothing is written inside the repository.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,25p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent_rev=$1
workload=$2
seed_spec=$3
root=${4:-$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")}

repo=$(git rev-parse --show-toplevel)
mkdir -p "$root"
parent_dir=$(mktemp -d "$root/parent.XXXXXX")
change_dir=$(mktemp -d "$root/change.XXXXXX")

# the working tree as a tree object, through a throwaway index, so the
# real index and the working tree stay untouched
index=$(mktemp)
trap 'rm -f "$index"' EXIT
cp "$repo/.git/index" "$index"
GIT_INDEX_FILE=$index git -C "$repo" add -A
tree=$(GIT_INDEX_FILE=$index git -C "$repo" write-tree)

git -C "$repo" archive "$parent_rev" | tar -x -C "$parent_dir"
git -C "$repo" archive "$tree" | tar -x -C "$change_dir"
echo "parent $(git -C "$repo" rev-parse --short "$parent_rev") -> $parent_dir" >&2
echo "change tree ${tree:0:12} -> $change_dir" >&2

seeds=$(python3 - "$seed_spec" <<'EOF'
import sys
out = []
for part in sys.argv[1].split(","):
    lo, _, hi = part.partition("-")
    out += range(int(lo), int(hi or lo) + 1)
print(" ".join(map(str, out)))
EOF
)

log="$root/pairs-$workload.jsonl"
: > "$log"
run() { # side dir seed pair
  local out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds 20 --trace 0 2>>"$root/$1.stderr" | tail -n 1)
  python3 -c 'import json,sys; r=json.loads(sys.argv[4]); r.update(side=sys.argv[1], seed=int(sys.argv[2]), pair=int(sys.argv[3])); print(json.dumps(r))' \
    "$1" "$3" "$4" "$out" >> "$log"
  echo "pair $4 seed $3 $1: $out" >&2
}

pair=0
for seed in $seeds; do
  if [ $((pair % 2)) -eq 0 ]; then
    run parent "$parent_dir" "$seed" "$pair"; run change "$change_dir" "$seed" "$pair"
  else
    run change "$change_dir" "$seed" "$pair"; run parent "$parent_dir" "$seed" "$pair"
  fi
  pair=$((pair + 1))
done

python3 - "$log" "$parent_dir/BENCHMARK.json" "$parent_dir" "$change_dir" <<'EOF'
import glob, json, os, re, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))
side = {s: {r["pair"]: r for r in runs if r["side"] == s} for s in ("parent", "change")}
pairs = sorted(set(side["parent"]) & set(side["change"]))

def quart(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]

print(f"{'metric':<16}{'parent median (q1-q3)':>30}{'change median (q1-q3)':>30}  won")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    got = {s: [side[s][p]["metrics"][name]["value"] for p in pairs] for s in side}
    won = sum((c < p) if lower else (c > p) for p, c in zip(got["parent"], got["change"]))
    cells = []
    for s in ("parent", "change"):
        q1, q3 = quart(got[s])
        cells.append(f"{statistics.median(got[s]):.4g} ({q1:.4g}-{q3:.4g})")
    print(f"{name:<16}{cells[0]:>30}{cells[1]:>30}  {won}/{len(pairs)}")
for s in ("parent", "change"):
    rs = [side[s][p] for p in pairs]
    print(f"{s}: {sum(r['correct'] for r in rs)}/{len(rs)} runs all correct, "
          f"{sum(r['attempted'] for r in rs)} operations, {sum(r['failed'] for r in rs)} failed")


def template(op):
    shape = re.sub(r"(?<![\w.])-?\d+(\.\d+)?\b", "?", re.sub(r"'[^']*'", "?", op["stmt"]))
    return (f"[{op['mode']}] " if op.get("mode") else "") + shape


lat = {}  # template -> side -> latencies of its ok operations
for s, d in (("parent", sys.argv[3]), ("change", sys.argv[4])):
    for run in glob.glob(os.path.join(d, "perfbench", ".work", "runs", "*")):
        try:
            spec = json.load(open(os.path.join(run, "spec.json")))
            out = json.load(open(os.path.join(run, "out.json")))
        except (OSError, ValueError):
            continue
        by_id = {op["id"]: op for op in spec["ops"]}
        for o in out["ops"]:
            if o.get("status") == "ok" and o.get("id") in by_id:
                lat.setdefault(template(by_id[o["id"]]), {}).setdefault(s, []).append(o["lat"])
if lat:
    print(f"\n{'template':<56}{'parent n median max':>24}{'change n median max':>24}")
    for t in sorted(lat):
        cells = []
        for s in ("parent", "change"):
            v = lat[t].get(s, [])
            cells.append(f"{len(v)} {statistics.median(v):.3f} {max(v):.3f}" if v else "-")
        label = t if len(t) <= 54 else t[:51] + "..."
        print(f"{label:<56}{cells[0]:>24}{cells[1]:>24}")
EOF

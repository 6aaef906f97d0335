#!/bin/bash
# Fresh-JVM sweep of graft.Bench: one JVM per (sample, corpus, query, arm)
# in fast mode (1 warm-up + 1 cold-cache timed run), merged into one JSON
# artifact. A one-JVM sweep measures JVM wear as much as the operator at
# 10x data (measured: ngram_containment_banded 154.8 s mid-sweep vs
# 40-54 s in a fresh JVM on the same data), so every measurement starts
# from a clean heap, code cache and cache manager. Each arm's classes are
# copied first, so a recompile during a long sweep cannot hand a
# half-written class file to a later JVM.
#
# Usage: tools/sweep.sh --out <json> [options] <corpusDir[:label]>...
#   --queries "q1 q2"  queries to run (default: the scale tier, i.e. every
#                      query but the quadratic oracle twins; the artifact
#                      lists the excluded ones under "skipped")
#   --samples N        fresh JVMs per (corpus, query, arm) (default 1)
#   --jitgate          repeat warm-ups until the JIT compile time across
#                      one settles under 3 s (max 4), for sf >= 10
#   --arm label=dir    compiled classes of one arm; give two for an A/B,
#                      run alternately for every (sample, corpus, query)
#                      (default: one arm "head", target/scala-2.13/classes)
#   --mem 8g           driver heap (default 8g)
# A corpus label defaults to the directory's base name.
#
# Examples:
#   tools/sweep.sh --out BENCH_sf1.json /tmp/scaledata/sf1
#   tools/sweep.sh --out zipf.json --jitgate --mem 48g \
#     --queries "ngram_jaccard_banded ngram_containment_shingles" \
#     /tmp/zipf/50k:50000 /tmp/zipf/150k:150000
#   tools/sweep.sh --out ab.json --samples 3 --jitgate \
#     --queries ngram_jaccard_banded --arm before=/tmp/old/classes \
#     --arm after=target/scala-2.13/classes /tmp/zipf/50k:50000
set -euo pipefail
ROOT=$(cd "$(dirname "$0")/.." && pwd)
OUT=""; QUERIES=""; SAMPLES=1; JITGATE=0; MEM=8g; ARMS=(); CORPORA=()
while [ $# -gt 0 ]; do
  case "$1" in
    --out) OUT=$(realpath -m "$2"); shift 2 ;;
    --queries) QUERIES="$2"; shift 2 ;;
    --samples) SAMPLES="$2"; shift 2 ;;
    --jitgate) JITGATE=1; shift ;;
    --arm) ARMS+=("$2"); shift 2 ;;
    --mem) MEM="$2"; shift 2 ;;
    -*) echo "sweep: unknown option $1" >&2; exit 2 ;;
    *) CORPORA+=("$1"); shift ;;
  esac
done
if [ -z "$OUT" ] || [ ${#CORPORA[@]} -eq 0 ]; then
  sed -n '/^# Usage:/,/^# A corpus label/p' "$0" >&2; exit 2
fi
[ ${#ARMS[@]} -gt 0 ] || ARMS=("head=$ROOT/target/scala-2.13/classes")
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
for arm in "${ARMS[@]}"; do
  cp -r "$(realpath "${arm#*=}")" "$TMP/classes_${arm%%=*}"
done
FIRST="$TMP/classes_${ARMS[0]%%=*}"
cd "$TMP"
bench() { # $1 = classes dir, then Bench args
  local cls="$1"; shift
  GRAFT_CLASSES="$cls" SPARK_GRAFT_BENCH_FAST=1 \
    SPARK_GRAFT_BENCH_JITGATE="$JITGATE" SPARK_DRIVER_MEM="$MEM" \
    "$ROOT/tools/runmain.sh" graft.Bench "$@"
}
list() { # $1 = tier ("" or "scale"); --list starts no session
  SPARK_GRAFT_BENCH_TIER="$1" bench "$FIRST" --list 2>/dev/null | tr ',' '\n' | sort
}
: > skipped.txt
if [ -z "$QUERIES" ]; then
  list "" > full.txt; list scale > scale.txt
  comm -23 full.txt scale.txt > skipped.txt
  QUERIES=$(cat scale.txt)
fi
: > parts.jsonl
for s in $(seq 1 "$SAMPLES"); do
  for spec in "${CORPORA[@]}"; do
    dir="${spec%%:*}"; label="${spec#*:}"
    [ "$label" != "$spec" ] || label=$(basename "$dir")
    for q in $QUERIES; do
      for arm in "${ARMS[@]}"; do
        name="${arm%%=*}"; log="out_${name}_${label}_${q}_$s"
        # a leftover record must not be re-counted when this run's
        # best-effort write fails (exit 0 does not imply a fresh file)
        rm -f BENCH_local.json
        if SPARK_GRAFT_SF_DIR="$dir" bench "$TMP/classes_$name" "$q" \
             > "$log" 2>&1 && [ -s BENCH_local.json ]; then
          rec=BENCH_local.json
        else
          rec=""
          echo "[sweep] $label $q $name sample $s FAILED" >&2
          tail -3 "$log" >&2 || true
        fi
        python3 - "$rec" "$q" "$dir" "$label" "$name" "$s" >> parts.jsonl <<'EOF'
import json, sys
rec, q, d, label, arm, s = sys.argv[1:]
b = json.load(open(rec)) if rec else {}
print(json.dumps({"corpus": label, "dir": d, "arm": arm, "sample": int(s),
                  "query": q, "seconds": b.get("queries", {}).get(q, -1),
                  "variance": b.get("variance", {}).get(q)}))
EOF
        echo "[sweep] $label $q $name sample $s done" >&2
      done
    done
  done
done
python3 - parts.jsonl "$OUT" "$MEM" "$JITGATE" skipped.txt <<'EOF'
import json, statistics, sys
parts, out, mem, jitgate, skipped = sys.argv[1:]
rows = {}
for line in open(parts):
    r = json.loads(line)
    row = rows.setdefault((r["corpus"], r["arm"]), {
        "corpus": r["corpus"], "dir": r["dir"], "arm": r["arm"],
        "samples": {}, "variance": {}})
    row["samples"].setdefault(r["query"], []).append(r["seconds"])
    if r["variance"]:
        row["variance"].setdefault(r["query"], []).append(r["variance"])
for row in rows.values():
    ok = {q: sorted(x for x in ss if x >= 0) for q, ss in row["samples"].items()}
    row["queries"] = {q: statistics.median(v) if v else -1 for q, v in ok.items()}
    row["spread_max_over_min"] = {q: round(v[-1] / v[0], 2)
                                  for q, v in ok.items() if len(v) > 1 and v[0] > 0}
    row["total"] = round(sum(v for v in row["queries"].values() if v >= 0), 3)
warmup = ("warm-ups until the JIT compile delta < 3 s (max 4)" if jitgate == "1"
          else "1 warm-up")
result = {
    "metric": "sweep", "unit": "sec", "driver_mem": mem,
    "protocol": "fresh JVM per (sample, corpus, query, arm), arms alternating, "
                f"frozen classes; fast mode: {warmup} + 1 cold-cache timed run",
    "skipped": [q.strip() for q in open(skipped) if q.strip()],
    "rows": list(rows.values())}
json.dump(result, open(out, "w"), indent=1)
for row in result["rows"]:
    print(f"[sweep] {row['corpus']} {row['arm']}: {len(row['queries'])} queries, "
          f"total {row['total']:.1f}s")
print("wrote", out, "skipped:", ",".join(result["skipped"]) or "none")
EOF

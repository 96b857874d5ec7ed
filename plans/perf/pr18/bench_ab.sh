#!/bin/sh
# Alternating bench.py pairs of two checkouts of the repository.
#
#   sh plans/perf/pr18/bench_ab.sh PARENT CHANGE OUTDIR PAIRS
#
# Runs `python bench.py` (sf0.1, local[<affinity cores>]) in each
# checkout, one run at a time: odd pairs parent first, even pairs change
# first. Appends one line per run to OUTDIR/bench_records.txt (pair,
# side, whole-process wall seconds, then bench.py's stdout JSON line) and
# keeps each run's stderr as OUTDIR/bench_<side>_<pair>.err. Both sides
# share OUTDIR/xdg as XDG_CACHE_HOME, so with a warm cache they map the
# same class-data archive.
set -eu
parent=$1 change=$2 out=$3 pairs=$4
export XDG_CACHE_HOME="$out/xdg"
mkdir -p "$XDG_CACHE_HOME"
one() {  # pair side dir
    t0=$(date +%s.%N)
    line=$(cd "$3" && python bench.py 2>"$out/bench_$2_$1.err" | tail -n 1) || true
    t1=$(date +%s.%N)
    wall=$(awk "BEGIN { printf \"%.2f\", $t1 - $t0 }")
    echo "pair=$1 side=$2 wall_s=$wall $line" >>"$out/bench_records.txt"
}
k=1
while [ "$k" -le "$pairs" ]; do
    if [ $((k % 2)) -eq 1 ]; then
        one "$k" parent "$parent"; one "$k" change "$change"
    else
        one "$k" change "$change"; one "$k" parent "$parent"
    fi
    k=$((k + 1))
done

#!/bin/sh
# Alternating perfbench A/B of two checkouts of the repository.
#
#   sh plans/perf/pr18/ab.sh PARENT CHANGE OUTDIR WORKLOAD FIRST_SEED PAIRS [WARMUPS]
#
# Runs `python3 perfbench/run.py --workload WORKLOAD --seed N --seconds 6
# --trace 0` in each checkout, one run at a time, and appends each run's
# stdout JSON line, prefixed with the workload, pair, side and the whole
# process's wall seconds, to OUTDIR/ab_WORKLOAD.txt. Pair k uses seed
# FIRST_SEED+k-1 on both sides; odd pairs run the parent first, even pairs
# the change first. Both sides share one XDG_CACHE_HOME (OUTDIR/xdg), so
# they map the same class-data archive. WARMUPS (default 0) change runs
# are made first and listed as `warmup=` lines; with an empty cache the
# first marks it and the second writes the archive.
set -eu
parent=$1 change=$2 out=$3 wl=$4 seed0=$5 pairs=$6 warmups=${7:-0}
export XDG_CACHE_HOME="$out/xdg"
mkdir -p "$XDG_CACHE_HOME"
one() {  # label side dir seed
    t0=$(date +%s.%N)
    line=$(cd "$3" && python3 perfbench/run.py --workload "$wl" --seed "$4" --seconds 6 \
        --trace 0 2>>"$out/ab_$wl.err" | tail -n 1) || true
    t1=$(date +%s.%N)
    wall=$(awk "BEGIN { printf \"%.2f\", $t1 - $t0 }")
    echo "$wl $1 side=$2 wall_s=$wall $line" >>"$out/ab_$wl.txt"
}
i=1
while [ "$i" -le "$warmups" ]; do
    one "warmup=$i" child "$change" $((900 + i))
    i=$((i + 1))
done
k=1
while [ "$k" -le "$pairs" ]; do
    seed=$((seed0 + k - 1))
    if [ $((k % 2)) -eq 1 ]; then
        one "pair=$k" parent "$parent" "$seed"; one "pair=$k" child "$change" "$seed"
    else
        one "pair=$k" child "$change" "$seed"; one "pair=$k" parent "$parent" "$seed"
    fi
    k=$((k + 1))
done

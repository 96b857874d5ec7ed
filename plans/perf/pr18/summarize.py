"""Summarize the A/B, split and traced records of this directory.

    python plans/perf/pr18/summarize.py DIR > DIR/summary.txt

Reads ``ab_<workload>.txt`` (lines from ``ab.sh``; ``warmup=`` lines are
left out), ``split_<workload>.txt`` / ``compiles_<workload>.txt`` (lines
from ``thread_split.py``) and ``traced_<workload>.txt`` (one
``--trace 1`` line per side), and prints per metric the parent's median
and quartiles, the change's median and quartiles, the pairs the change
won, and whether the median gain exceeds the parent's q1-q3 distance. Each
``ab_<workload>.err`` (the runs' stderr) adds the cold operation's wall
time (``first_op_s``) and the median wall time of the run's further
operations (``op_s``, untraced, stolen ones included). ``bench_records.txt``
(lines from ``bench_ab.sh``) adds bench.py's ``value`` and ``value_cpu``
per run and per side.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys

_AB = re.compile(r"^(\S+) pair=(\d+) side=(\S+) wall_s=(\S+) (\{.*\})\s*$")
_SIDE = re.compile(r"^(\S+) side=(\S+) (SPLIT )?(\{.*\})\s*$")


def _q(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _ab(path: str) -> None:
    runs: dict[tuple[str, int], dict] = {}
    bad: list[str] = []
    wl = None
    lines = open(path).read().splitlines()
    # run.py's stderr summary line of each run, in the order of the runs
    err = [ln for ln in open(path[:-4] + ".err") if ln.startswith("perfbench: ") and " ops=" in ln]
    if len(err) != len(lines):
        err = []
        bad.append(f"{len(lines)} runs but another count of stderr summary lines: "
                   "first_op_s and op_s left out")
    for i, line in enumerate(lines):
        m = _AB.match(line)
        if not m:
            if line.strip() and "warmup=" not in line:
                bad.append(line.strip()[:120])
            continue
        wl, pair, side = m.group(1), int(m.group(2)), m.group(3)
        runs[(side, pair)] = {"wall_s": float(m.group(4)), **json.loads(m.group(5))}
        if err:
            runs[(side, pair)]["first_op_s"] = float(re.search(r" first=([\d.]+)s", err[i])[1])
            ops = json.loads(re.search(r" ops=(\[[^]]*\])", err[i])[1])
            runs[(side, pair)]["op_s"] = statistics.median(ops) if ops else float("nan")
    pairs = sorted({p for _, p in runs if ("parent", p) in runs and ("child", p) in runs})
    extra = ("first_op_s", "op_s") if err else ()
    for metric in ("setup_s", "first_op_cpu_s", "out_bytes_per_in_byte", "wall_s") + extra:
        def val(side, p):
            r = runs[(side, p)]
            return r[metric] if metric in r else r["metrics"][metric]["value"]
        par = [val("parent", p) for p in pairs]
        chg = [val("child", p) for p in pairs]
        pq1, pmed, pq3 = _q(par)
        cq1, cmed, cq3 = _q(chg)
        won = sum(c < p for p, c in zip(par, chg))
        gain = pmed - cmed
        print(f"{wl} {metric}: parent median {pmed:.4g} (q1-q3 {pq1:.4g}-{pq3:.4g}), "
              f"change median {cmed:.4g} (q1-q3 {cq1:.4g}-{cq3:.4g}), change/parent "
              f"{cmed / pmed:.3f}, change lower in {won}/{len(pairs)} pairs, median gain "
              f"{gain:.4g} {'>' if gain > pq3 - pq1 else '<='} parent q1-q3 distance "
              f"{pq3 - pq1:.4g}")
    for side in ("parent", "child"):
        rs = [r for (s, _), r in runs.items() if s == side]
        print(f"{wl} {side}: {len(rs)} runs, {sum(r['attempted'] for r in rs)} operations "
              f"attempted, {sum(r['failed'] for r in rs)} failed, "
              f"all correct={all(r['correct'] for r in rs)}")
    for b in bad:
        print(f"{wl} unparsed line: {b}")


def _per_side(path: str, keys: tuple[str, ...] | None = None) -> None:
    """One line per run (a result line and its SPLIT line are one run),
    then each side's medians when it has more than one run."""
    runs: list[tuple[str, dict]] = []
    for line in open(path):
        m = _SIDE.match(line)
        if not m:
            continue
        d = json.loads(m.group(4))
        d = {k: v["value"] if isinstance(v, dict) and "value" in v else v
             for k, v in d.get("metrics", d).items()
             if keys is None or k in keys}
        if m.group(3) and runs and runs[-1][0] == m.group(2):
            runs[-1][1].update(d)
        else:
            runs.append((m.group(2), d))
    name = os.path.basename(path)[:-4]

    def fmt(d: dict) -> str:
        return ", ".join(f"{k}={round(v, 3) if isinstance(v, float) else v}" for k, v in d.items())

    for side, d in runs:
        print(f"{name} {side}: {fmt(d)}")
    for side in dict(runs):
        ds = [d for s, d in runs if s == side]
        if len(ds) > 1:
            med = {k: statistics.median(d[k] for d in ds) for k in ds[0]
                   if all(isinstance(d.get(k), (int, float)) for d in ds)}
            print(f"{name} {side} median of {len(ds)}: {fmt(med)}")


def _bench(path: str) -> None:
    """bench.py's ``value`` (wall s) and ``value_cpu`` per run, then each
    side's median and range and the pairs the change won."""
    runs: dict[tuple[str, int], dict] = {}
    for line in open(path):
        m = re.match(r"^pair=(\d+) side=(\S+) wall_s=(\S+) (\{.*\})\s*$", line)
        if not m:
            print(f"bench unparsed line: {line.strip()[:120]}")
            continue
        r = json.loads(m.group(4))
        runs[(m.group(2), int(m.group(1)))] = r
        print(f"bench pair={m.group(1)} side={m.group(2)}: value={r['value']}, "
              f"value_cpu={r.get('value_cpu')}, host.clean={r.get('host', {}).get('clean')}, "
              f"process wall_s={m.group(3)}")
    pairs = sorted({p for _, p in runs if ("parent", p) in runs and ("change", p) in runs})
    for key in ("value", "value_cpu"):
        par = [runs[("parent", p)][key] for p in pairs]
        chg = [runs[("change", p)][key] for p in pairs]
        if not pairs:
            continue
        won = sum(c < p for p, c in zip(par, chg))
        print(f"bench {key}: parent median {statistics.median(par):.4g} (range "
              f"{min(par):.4g}-{max(par):.4g}), change median {statistics.median(chg):.4g} "
              f"(range {min(chg):.4g}-{max(chg):.4g}), change lower in {won}/{len(pairs)} pairs")


def main() -> int:
    d = sys.argv[1]
    for p in sorted(glob.glob(os.path.join(d, "ab_*.txt"))):
        _ab(p)
    for p in sorted(glob.glob(os.path.join(d, "split_*.txt"))):
        _per_side(p)
    for p in sorted(glob.glob(os.path.join(d, "compiles_*.txt"))):
        _per_side(p, ("compiles_by_tier", "c1", "c2", "jvm_compiler_threads_end"))
    for p in sorted(glob.glob(os.path.join(d, "traced_*.txt"))):
        _per_side(p, ("jvm.first_op_jit_ms", "jvm.jit_ms", "op_s", "first_op_s", "tasks.cpu_s",
                      "op_cpu_s", "session.build_s"))
    if os.path.exists(os.path.join(d, "bench_records.txt")):
        _bench(os.path.join(d, "bench_records.txt"))
    return 0


if __name__ == "__main__":
    sys.exit(main())

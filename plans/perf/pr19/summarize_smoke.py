"""Per-op medians and ranges of the scale-smoke recordings in
scale_smoke/{parent,change}_N.json, and each change value outside the
parent's range.

    python plans/perf/pr19/summarize_smoke.py
"""
import glob
import json
import os
import statistics as st

here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scale_smoke")
runs = {
    side: [json.load(open(p))["ops"]
           for p in sorted(glob.glob(os.path.join(here, f"{side}_*.json")))]
    for side in ("parent", "change")
}
for op in runs["parent"][0]:
    for m in ("t_half", "t_full", "exp"):
        p = [r[op][m] for r in runs["parent"]]
        c = [r[op][m] for r in runs["change"]]
        out = [x for x in c if not min(p) <= x <= max(p)]
        med_in = min(p) <= st.median(c) <= max(p)
        print(f"{op:24s} {m:6s} parent median {st.median(p):.2f} "
              f"range {min(p):.2f}-{max(p):.2f} | change median "
              f"{st.median(c):.2f} range {min(c):.2f}-{max(c):.2f} | "
              f"change median in parent range: {med_in} | "
              f"change runs outside: {out}")

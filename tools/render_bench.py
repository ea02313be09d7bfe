#!/usr/bin/env python3
"""Render README's bench-record block from bench_full.json.

The committed artifact is the ONLY source of current performance
claims (VERDICT r13 #3: hand-transcribed README numbers drifted from
the artifact two rounds running — a retired 13.34 s headline and a
vanished corpus anchor were still cited as current). This script
rewrites the block between the bench:record markers in README.md from
the artifact, so the README can never cite a number the artifact does
not carry. Run after every bench run that changes bench_full.json;
`--check` exits 1 when the README block is out of date.

The reference constant comes from BASELINE.md's committed run log
(~7 s end-to-end ≈ 223K events/s at 1,563,309 rows).
"""
import json
import sys

BEGIN = ("<!-- bench:record:begin "
         "(generated by tools/render_bench.py from bench_full.json; "
         "do not hand-edit) -->")
END = "<!-- bench:record:end -->"
REF_E1_S = 7.0       # BASELINE.md: reference end-to-end wall, ~7 s


def render(b):
    L = [BEGIN, "",
         "**Committed record (`bench_full.json` at HEAD — this block is "
         "generated; the artifact is authoritative):**", "",
         "| Anchor | Median | vs reference |",
         "|---|---|---|"]
    a = b.get("anchor_median_s")
    if a is not None:
        amin = b.get("anchor_min_s", a)
        L.append(
            f"| E1 ETL 1x (1,563,309 rows) | {a:.2f} s (min {amin:.2f}) "
            f"| **{a / REF_E1_S:.2f}x / {amin / REF_E1_S:.2f}x** the ~7 s run |")
    extras = []
    if b.get("anchor_unstable"):
        extras.append("E1 window UNSTABLE (<3 clean reps)")
    if b.get("anchor_failed"):
        extras.append(f"E1 anchor FAILED: {b['anchor_failed']}")
    if b.get("failed"):
        extras.append("failed queries: " + ", ".join(
            f"`{k}` ({v})" for k, v in sorted(b["failed"].items())))
    if extras:
        L += ["", "; ".join(extras) + "."]
    L += ["", END]
    return "\n".join(L)


def main():
    check = "--check" in sys.argv
    with open("bench_full.json") as f:
        block = render(json.load(f))
    with open("README.md") as f:
        readme = f.read()
    try:
        pre, rest = readme.split(BEGIN, 1)
        _, post = rest.split(END, 1)
    except ValueError:
        sys.exit("README.md is missing the bench:record markers")
    updated = pre + block + post
    if check:
        if updated != readme:
            sys.exit("README bench block is out of date; "
                     "run tools/render_bench.py")
        print("README bench block matches bench_full.json")
        return
    if updated != readme:
        with open("README.md", "w") as f:
            f.write(updated)
        print("README bench block updated from bench_full.json")
    else:
        print("README bench block already current")


if __name__ == "__main__":
    main()

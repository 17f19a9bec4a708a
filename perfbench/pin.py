#!/usr/bin/env python3
"""Rewrite perfbench/pinned.json from the run records in perfbench/out/.

Usage, from the root of a checkout, after at least two runs of each
workload (one crawl run with the default seed 42):

    python3 perfbench/pin.py

Crawl: the per-epoch count digests of the seed-42 runs (every run must
agree).  Read side: the result digest of every entry; an entry whose
digest differs between runs is listed under "unstable" by name.
"""

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import HERE, OUT_DIR, write_json  # noqa: E402


def main():
    recs = []
    for p in sorted(glob.glob(os.path.join(OUT_DIR, "*.json"))):
        with open(p) as f:
            recs.append(json.load(f))
    pins = {}

    crawl = [r for r in recs if r["workload"] == "crawl_incremental" and r["seed"] == 42]
    epochs = {}
    for r in crawl:
        for k, v in r["info"].items():
            if k.startswith("crawl.counts."):
                ep = k.rsplit(".", 1)[1]
                if epochs.setdefault(ep, v) != v:
                    sys.exit(f"seed-42 crawl runs disagree on epoch {ep}")
    if epochs:
        pins["crawl_incremental"] = {"seed": 42, "epochs": epochs}

    seen = {}
    for r in recs:
        if r["workload"] != "readside":
            continue
        for k, v in r["info"].items():
            if k.startswith("readside.digest."):
                seen.setdefault(k.rsplit(".", 1)[1], set()).add(v)
    if seen:
        pins["readside"] = {
            "digests": {q: sorted(v)[0] for q, v in sorted(seen.items()) if len(v) == 1},
            "unstable": sorted(q for q, v in seen.items() if len(v) > 1)}
    write_json(os.path.join(HERE, "pinned.json"), pins)
    print(json.dumps({w: {k: len(v) for k, v in p.items() if isinstance(v, (dict, list))}
                      for w, p in pins.items()}))


if __name__ == "__main__":
    main()

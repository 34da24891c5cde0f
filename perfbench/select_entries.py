#!/usr/bin/env python3
"""Choose the registry_short entry list and its disjoint warm-up list.

    python3 perfbench/select_entries.py RECORD_TSV

RECORD_TSV is the output of
    python3 perfbench/run.py --workload record --sf 0.01 --names CANDIDATES
where CANDIDATES are the fmt_/rel_/fn_/text_ entries under 1 s in
bench_full.json (sf0.1). Entries that failed (for instance because they
read fixtures by an absolute path that a fresh checkout lacks) or that
staged files through graft.queries.Stage are dropped. From the rest a
fixed-seed sample is drawn per family, in proportion to the family's
share of the registry, and written with its recorded answer to
perfbench/expected/registry_short.tsv; a disjoint sample becomes the
warm-up list.
"""
import collections
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FAMILIES = ("fmt", "rel", "fn", "text")
TOTAL = 55
WARMUP = {"rel": 14, "text": 6, "fn": 3, "fmt": 7}


def main():
    registry = json.load(open(os.path.join(HERE, "..", "bench_full.json")))["queries"]
    share = collections.Counter(k.split("_")[0] for k in registry)
    usable = collections.defaultdict(list)
    for line in open(sys.argv[1]):
        name, answer, _ms, staged = (line.rstrip("\n").split("\t") + ["", "", ""])[:4]
        if answer != "ERROR" and staged == "-":
            usable[name.split("_")[0]].append((name, answer))
    rng = random.Random(20261017)
    weight = sum(share[f] for f in FAMILIES)
    want = {f: round(TOTAL * share[f] / weight) for f in FAMILIES}
    # a family short of its share (fmt: most entries read fixtures or
    # stage files) leaves its remainder to rel, the next largest
    short = sum(max(0, want[f] + WARMUP[f] - len(usable[f])) for f in FAMILIES)
    want = {f: min(want[f], len(usable[f]) - WARMUP[f]) for f in FAMILIES}
    want["rel"] += short
    chosen, warm = [], []
    for f in FAMILIES:
        pool = sorted(usable[f])
        rng.shuffle(pool)
        chosen += pool[:want[f]]
        warm += [n for n, _ in pool[want[f]:want[f] + WARMUP[f]]]
    with open(os.path.join(HERE, "expected", "registry_short.tsv"), "w") as out:
        out.write("# entry\trows:digest over Tables(sf=0.01, seed=42)\n")
        out.writelines(f"{n}\t{a}\n" for n, a in sorted(chosen))
    with open(os.path.join(HERE, "expected", "registry_warmup.txt"), "w") as out:
        out.write("# untimed warm-up entries, disjoint from registry_short.tsv\n")
        out.writelines(n + "\n" for n in sorted(warm))
    print({f: sum(1 for n, _ in chosen if n.startswith(f + "_")) for f in FAMILIES}, len(warm))


if __name__ == "__main__":
    main()

"""Compare the pin plans of two graft.Explain dumps operator by operator.

Usage: python3 compare_ops.py before.txt after.txt

For every query in both dumps it takes the executed plan of each
construction action `localCheckpoint` (a funnel's pin), reads its
top-level "Initial Plan" (skipping nested "Final Plan" blocks, the
executed plans of cached relations) and lists its operators. Pins are
matched in order. A query with no pin on the before side (a funnel that
did not pin) is compared through its query plan instead, which then
holds the whole funnel. Printed per query: the operator counts, a
unified diff when they differ, and the Union / Exchange counts.
"""
import re, sys, difflib


def sections(path):
    out, name = {}, None
    for line in open(path):
        m = re.match(r"=+ (\S+) =+", line)
        if m:
            name = m.group(1); out[name] = []; continue
        if name:
            out[name].append(line.rstrip("\n"))
    return out


def trees(lines, marker):
    """The physical plan tree printed after each line containing marker."""
    res = []
    for i, l in enumerate(lines):
        if marker not in l:
            continue
        j = next(k for k in range(i, len(lines)) if lines[k].startswith("== Physical Plan =="))
        t = []
        for l2 in lines[j + 1:]:
            if not l2.strip():
                break
            t.append(l2)
        res.append(t)
    return res


def initial(tree):
    k = next((i for i, l in enumerate(tree) if l.startswith("+- == Initial Plan ==")), None)
    return tree[k + 1:] if k is not None else tree


def ops(tree):
    # a Final Plan block closes at its own Initial Plan marker; nested
    # blocks (a cache read inside a cached plan) nest the same way
    res, depth = [], 0
    for l in tree:
        if "== Final Plan ==" in l: depth += 1; continue
        if "== Initial Plan ==" in l: depth -= 1; continue
        if depth > 0: continue
        m = re.search(r"([A-Za-z][A-Za-z ]*?)\s*\(\d+\)", l)
        if m: res.append(m.group(1).strip())
    return res


before, after = sections(sys.argv[1]), sections(sys.argv[2])
for q in before:
    if q not in after:
        continue
    pb = [ops(initial(t)) for t in trees(before[q], "construction action: localCheckpoint")]
    pa = [ops(initial(t)) for t in trees(after[q], "construction action: localCheckpoint")]
    if not pb:  # unpinned before: its query plan is the whole funnel
        pb = [ops(initial(t)) for t in trees(before[q], "[explain] query plan:")]
        print(f"{q}: no pin before; before query plan vs after pin")
    for n, (b, a) in enumerate(zip(pb, pa)):
        same = "same operators" if a == b else "DIFFER"
        print(f"{q} pin {n + 1}: before {len(b)} operators, after {len(a)}: {same}")
        if a != b:
            for d in difflib.unified_diff(b, a, lineterm="", n=1):
                print("   ", d)
        for kind in ("Union", "Exchange"):
            nb, na = sum(o == kind for o in b), sum(o == kind for o in a)
            print(f"    {kind}: before {nb}, after {na}")
    if len(pb) != len(pa):
        print(f"{q}: {len(pb)} pins before, {len(pa)} after")

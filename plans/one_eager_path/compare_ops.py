"""Compare the funnel operators of two graft.Explain dumps.

Usage: python3 compare_ops.py before.txt after.txt

before: graft.Explain at f79f3fb run with SPARK_GRAFT_EAGER_PAIRS=0
(the lazy funnel is the query plan itself); after: graft.Explain with
one eager path, where the funnel is the executed plan of the pin's
localCheckpoint action.
From the executed plan the top-level "Initial Plan" is taken, and any
nested "Final Plan" block (a cached relation's executed plan) is
skipped, so both sides list the planner's operators before AQE ran.
"""
import re, sys, difflib
def sections(path):
    out, name = {}, None
    for line in open(path):
        m = re.match(r"=+ (\S+) =+", line)
        if m: name = m.group(1); out[name] = []; continue
        if name: out[name].append(line.rstrip("\n"))
    return out
def tree_after(lines, pat):
    i = next(k for k, l in enumerate(lines) if pat in l)
    j = next(k for k in range(i, len(lines)) if lines[k].startswith("== Physical Plan =="))
    t = []
    for l in lines[j + 1:]:
        if not l.strip(): break
        t.append(l)
    return t
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
    b = ops(tree_after(before[q], "[explain]"))
    a = ops(initial(tree_after(after[q], "construction action: localCheckpoint")))
    tail = next((n for n in range(len(b) + 1) if b[n:] == a), None)
    print(f"{q}: before plan {len(b)} operators, pin action {len(a)} operators;",
          f"the pin action's operators equal the before plan below its top {tail} (query tail: {b[:tail]})"
          if tail is not None else "NOT a tail of the before plan")
    if tail is None:
        for d in difflib.unified_diff(b, a, lineterm="", n=1): print("   ", d)
    for kind in ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        nb, na = sum(kind in o for o in b), sum(kind in o for o in a)
        if nb or na: print(f"    {kind}: before {nb}, after {na}")

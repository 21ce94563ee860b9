"""Pure functions that turn the harness JVM's raw records into checks and metrics.

Kept free of I/O and Spark so the tests in `tests/` can exercise them.
"""
import math
import statistics
from collections import defaultdict, deque

# ------------------------------------------------------------ percentiles

MIN_TAIL = 10


def median(values):
    return statistics.median(values) if values else None


def tail_quantile(values, q, min_tail=MIN_TAIL):
    """The q-quantile (nearest rank) of `values`, or None when fewer than
    `min_tail` samples lie beyond it: a p90 needs at least 100 samples.
    """
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_tail:
        return None
    return sorted(values)[rank - 1]


# ------------------------------------------------------------ engine check

def adjacency(n, edges):
    adj = {v: [] for v in range(1, n + 1)}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    return adj


def bfs_levels(n, edges, start):
    """Hop distance from `start` for every reachable vertex."""
    adj = adjacency(n, edges)
    level = {start: 0}
    todo = deque([start])
    while todo:
        v = todo.popleft()
        for w in adj[v]:
            if w not in level:
                level[w] = level[v] + 1
                todo.append(w)
    return level


def dfs_leaves(n, edges, start):
    """The reference's DFS answer on a tree: degree-1 vertices other than
    the start, plus the start itself when it is the only vertex.
    """
    adj = adjacency(n, edges)
    if n == 1:
        return {start}
    return {v for v in adj if len(adj[v]) == 1 and v != start}


def parse_result(op, text):
    """Harness result text → comparable value: BFS rows are `vertex:level`,
    DFS rows are `vertex`, comma-separated.
    """
    rows = [r for r in text.split(",") if r]
    if op == "bfs":
        out = {}
        for r in rows:
            v, lvl = r.split(":")
            out[int(v)] = int(lvl)
        return out
    return {int(r) for r in rows}


def expected_result(op, n, edges, start):
    return bfs_levels(n, edges, start) if op == "bfs" else dfs_leaves(n, edges, start)


def acceptable_trees(read, writes, initial):
    """Trees a read may legally observe: the one in force when it started,
    and those of successful writes of its graph that overlapped it. Writes
    that finished before the read but overlapped the last of them may have
    committed in either order, so their trees count too.
    """
    done = [w for w in writes if w["end"] <= read["start"]]
    trees = []
    if done:
        last = max(done, key=lambda w: w["end"])
        trees += [w["tree"] for w in done if w["end"] > last["start"]]
    else:
        trees.append(initial)
    trees += [w["tree"] for w in writes
              if w["start"] < read["end"] and w["end"] > read["start"]]
    return trees


def check_engine(ops, initial_trees, n_of):
    """Mark each engine op ok/failed. `ops` are harness records with `req`
    (the generated request tuple) attached; `initial_trees` maps graph name
    to its seeded edges. Returns (wrong_results, errors, conflicts).
    """
    writes = defaultdict(list)
    for o in ops:
        if o["op"] in ("add", "modify") and not o["err"]:
            writes[o["name"]].append({"start": o["start"], "end": o["end"],
                                      "tree": o["req"][5]})
    wrong = errors = conflicts = 0
    for o in ops:
        if o["err"]:
            o["ok"] = False
            errors += 1
            if "PATH_ALREADY_EXISTS" in o["err"]:
                conflicts += 1
            continue
        if o["op"] in ("add", "modify"):
            o["ok"] = True
            continue
        got = parse_result(o["op"], o["result"])
        start = int(o["req"][3])
        n = n_of[o["name"]]
        o["ok"] = any(got == expected_result(o["op"], n, t, start)
                      for t in acceptable_trees(o, writes[o["name"]],
                                                initial_trees[o["name"]]))
        if not o["ok"]:
            wrong += 1
    return wrong, errors, conflicts


# ------------------------------------------------------------ twin check

def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return v


def same_rows(cols_a, rows_a, cols_b, rows_b):
    """Ordered-row equality after sorting columns by name, as the oracle
    gate compares: (equal, reason).
    """
    if sorted(cols_a) != sorted(cols_b):
        return False, f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    pa = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    pb = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    va = [tuple(canon(r[i]) for i in pa) for r in rows_a]
    vb = [tuple(canon(r[i]) for i in pb) for r in rows_b]
    if len(va) != len(vb):
        return False, f"{len(va)} rows vs {len(vb)}"
    for i, (x, y) in enumerate(zip(va, vb)):
        if x != y:
            return False, f"row {i}: {x} vs {y}"
    return True, ""


# ------------------------------------------------------------ spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id → its duration minus the part covered by its children.
    Children may overlap each other (micro-batches, concurrent work); each
    instant is subtracted once, and only within the parent's own interval.
    """
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                                for c in kids[s["id"]]
                                if c["end"] > s["start"] and c["start"] < s["end"]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def root_of(spans):
    """Span id → id of its outermost ancestor."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        r = sid
        while parent.get(r, 0):
            r = parent[r]
        out[sid] = r
    return out


def busy_stats(jobs, lo, hi):
    """(mean number of running jobs while at least one runs, time covered
    by at least one job) over the window [lo, hi].
    """
    events = []
    for s, e in jobs:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            events += [(s, 1), (e, -1)]
    events.sort()
    running = 0
    area = busy = 0.0
    last = None
    for t, d in events:
        if last is not None and running > 0:
            area += running * (t - last)
            busy += t - last
        running += d
        last = t
    return (area / busy if busy else 0.0), busy


def differing_counters(per_pass):
    """`per_pass`: {op name: [counter dict per pass]} → list of
    (op, counter, values) whose values are not identical on every pass.
    """
    out = []
    for name, passes in sorted(per_pass.items()):
        if len(passes) < 2:
            continue
        for k in sorted(passes[0]):
            vals = [p.get(k) for p in passes]
            if len(set(vals)) > 1:
                out.append((name, k, vals))
    return out


def steal_pct(samples, lo, hi):
    """Share of CPU time stolen by the hypervisor (the eighth counter of
    /proc/stat's cpu line) between epoch ms `lo` and `hi`, from
    (time, counters) samples; None without two samples in the window.
    """
    inside = [c for t, c in samples if lo <= t <= hi]
    if len(inside) < 2:
        return None
    d = [b - a for a, b in zip(inside[0], inside[-1])]
    return 100.0 * d[7] / sum(d) if sum(d) else None

"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same tables, trees, request lines and payloads.
"""
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import analyze

# ---------------------------------------------------------------- tables

# Row counts per unit of scale factor, as in the TPC-H-like test data the
# queries were written against (sf0.01 = 1,500 customers, 60,000 lineitems).
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, start, days, n):
    """Day-granular timestamps as numpy datetime64[us]."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed, out_dir, sf):
    """Write the eight input tables as `<out_dir>/<table>.parquet`."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    users = max(1, n["customer"] // 10)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cols = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n["customer"])]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
    }
    words = ["small", "red", "blue", "green", "large", "shiny", "matte", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "spring", "valve", "pipe", "nut"]
    types = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
    npart = n["part"]
    cols["part"] = {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{words[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array([types[i] for i in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    }
    nord = n["orders"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cols["orders"] = {
        "o_orderkey": pa.array(np.arange(nord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], nord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, nord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, nord)),
        "o_orderdate": pa.array(_ts_days(rng, "1995-01-01", 2404, nord)),
        "o_orderpriority": pa.array([prios[i] for i in rng.integers(0, 5, nord)]),
    }
    nli = n["lineitem"]
    qty = rng.integers(1, 51, nli).astype(np.float64)
    cols["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, nord, nli).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nli).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nli).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nli).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nli), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nli) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nli) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nli)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nli)]),
        "l_shipdate": pa.array(_ts_days(rng, "1995-01-02", 2498, nli)),
    }
    nev = n["events"]
    month_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, nev))
    etypes = ["view", "click", "purchase", "signup", "error"]
    cols["events"] = {
        "event_id": pa.array(np.arange(nev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, nev).astype(np.int64)),
        "event_type": pa.array([etypes[i] for i in rng.integers(0, 5, nev)]),
        "value": pa.array(_money(rng, 0.01, 490.0, nev)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, nev)]),
    }
    for t in TABLES:
        pq.write_table(pa.table(cols[t]), f"{out_dir}/{t}.parquet")
    return n


# ---------------------------------------------------------------- engine

GRAPHS = 32           # seeded graphs in the catalog
MIN_N, MAX_N = 2, 30  # tree sizes; MAX_N is the reference's N
WARM_READS = 6
ZIPF_S = 1.0          # skew of the graph choice
# The script is a sequence of blocks with one fixed op sequence: 80% reads
# (BFS and DFS alternating) and 20% writes (3 modifies, 1 add of a new
# graph name). A read costs Spark jobs in proportion to the BFS depth from
# its start vertex, so the reads take fixed depths too. Seeds vary the
# graph (Zipf), its trees and the start vertex (uniform among those of the
# depth), while every run sends the same work in the same order: with the
# kinds shuffled per seed, runs that began with a DFS measured up to 40%
# slower throughout than runs that began with a BFS.
BLOCK = ["bfs", "dfs", "bfs", "dfs", "modify", "bfs", "dfs", "bfs", "dfs", "modify",
         "bfs", "dfs", "bfs", "dfs", "add", "bfs", "dfs", "bfs", "dfs", "modify"]
READ_DEPTHS = [4, 5, 3, 6, 2, 5, 4, 7, 3, 6, 4, 5, 8, 4, 6, 5]
BLOCKS = 10           # more blocks than a run sends
FIRST_SEQ = 1001      # seeding uses 1..GRAPHS


def random_tree(rng, n):
    """A uniformly relabelled random recursive tree on vertices 1..n."""
    label = list(range(1, n + 1))
    rng.shuffle(label)
    return sorted(tuple(sorted((label[v], label[rng.randrange(v)])))
                  for v in range(1, n))


def matrix_text(n, edges):
    """Reference matrix text: `n`, then n rows of n 0/1 cells."""
    m = [[0] * n for _ in range(n)]
    for a, b in edges:
        m[a - 1][b - 1] = m[b - 1][a - 1] = 1
    return "\n".join([str(n)] + [" ".join(map(str, row)) for row in m])


class EngineInputs:
    """Trees, the warm-up requests and the request script of one seed.

    `trees` maps graph name → (n, edges) for the seeded catalog; each
    request is (seq, op, name, payload, n, edges) with `edges` the tree a
    write carries (None for reads, whose payload is the start vertex).
    """

    def __init__(self, seed):
        rng = random.Random(seed)
        self.trees = {}
        for g in range(1, GRAPHS + 1):
            n = rng.randint(MIN_N, MAX_N)
            self.trees[f"G{g}"] = (n, random_tree(rng, n))
        names = list(self.trees)
        weights = [1.0 / (k ** ZIPF_S) for k in range(1, GRAPHS + 1)]
        # warm-up, sent by the same two clients: reads of each kind on the
        # most requested graphs and two modifies that rewrite seeded trees,
        # so the script starts from seeded content
        self.warm = []
        for k in range(WARM_READS):
            name = names[k % 4]
            n = self.trees[name][0]
            self.warm.append((901 + k, 4 if k % 2 == 0 else 3, name, str(1 + k % n), n, None))
        for k, name in enumerate(names[:2]):
            n, e = self.trees[name]
            self.warm.append((951 + k, 2, name, matrix_text(n, e), n, e))
        self.script = []
        current = dict(self.trees)   # the tree each graph holds after the script so far
        for _ in range(BLOCKS):
            depths = iter(READ_DEPTHS)
            for kind in BLOCK:
                seq = FIRST_SEQ + len(self.script)
                if kind in ("bfs", "dfs"):
                    name, start = self._read_target(rng, names, weights, current, next(depths))
                    n = current[name][0]
                    self.script.append((seq, 4 if kind == "bfs" else 3, name, str(start), n, None))
                elif kind == "modify":
                    name = rng.choices(names, weights)[0]
                    n = current[name][0]
                    e = random_tree(rng, n)
                    current[name] = (n, e)
                    self.script.append((seq, 2, name, matrix_text(n, e), n, e))
                else:
                    m = rng.randint(MIN_N, MAX_N)
                    e = random_tree(rng, m)
                    self.script.append((seq, 1, f"A{seq}", matrix_text(m, e), m, e))

    @staticmethod
    def _read_target(rng, names, weights, current, depth):
        """A Zipf-drawn graph and a uniform start vertex whose BFS depth is
        `depth`, redrawing the graph while it has no such vertex.
        """
        while True:
            name = rng.choices(names, weights)[0]
            n, edges = current[name]
            starts = [v for v in range(1, n + 1)
                      if max(analyze.bfs_levels(n, edges, v).values()) == depth]
            if starts:
                return name, rng.choice(starts)

    def write(self, out_dir):
        def rows(reqs):
            return "".join(f"{s}\t{op}\t{name}\t{p.replace(chr(10), '|')}\n"
                           for s, op, name, p, _, _ in reqs)
        with open(f"{out_dir}/trees.tsv", "w") as f:
            for name, (n, e) in self.trees.items():
                f.write(f"{name}\t{matrix_text(n, e).replace(chr(10), '|')}\n")
        with open(f"{out_dir}/warm.tsv", "w") as f:
            f.write(rows(self.warm))
        size = len(BLOCK)
        for b in range(BLOCKS):
            with open(f"{out_dir}/block_{b:03d}.tsv", "w") as f:
                f.write(rows(self.script[b * size:(b + 1) * size]))

"""Seeded input generator for the feature-store benchmark.

Every input the engine sees comes from here: feature tables, appended
segments, write batches, spines and the operation list. The same
(workload, seed) pair always yields byte-identical inputs, so two
commits are measured on the same data and the DuckDB reference
(`reference.py`) can recompute every expected result from the files.

Data shape (all workloads):
  entity_id  BIGINT     Zipf-distributed over the workload's entity range
  timestamp  TIMESTAMP  whole seconds, biased to the recent end of the span
  f_cnt      BIGINT     uniform in [0, 2^20)
  f_amt      DOUBLE     k / 1024 with k uniform in [0, 2^20): every sum of
                        these values is exact, so checksums compare exactly
  f_cat      INT        uniform in [0, 64)

About 2% of rows reuse another row's (entity_id, timestamp) with other
feature values, so reads must apply the store's `_ingest_key` tie-break.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
# the generated history ends here (2025-06-30T00:00:00Z); span 180 days
T_END = 1751241600
SPAN = 180 * DAY

SCHEMA = pa.schema([
    ("entity_id", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("f_cnt", pa.int64()),
    ("f_amt", pa.float64()),
    ("f_cat", pa.int32()),
])
SPINE_SCHEMA = pa.schema([
    ("entity_id", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])

# Sizes per workload, fitted to runs of about 50 s on a 4-core host: the
# set-up (three registrations of every table, then the warm-up) stays
# around 20 s and each timed phase completes tens of operations. "ops"
# is the length of the operation list; read-only workloads cycle it.
SIZES = {
    "serve_pit": {
        "entities": 50_000,
        "tables": {"clicks": (150_000, [10_000] * 2),
                   "profile": (80_000, [5_000] * 2)},
        "get_entities": (1, 100), "recent_entities": (1, 20),
        "recent_k": 5, "spine_rows": 500, "ops": 200,
    },
    "train_asof": {
        "entities": 100_000, "zipf": 0.8,
        "tables": {"tx": (200_000, [15_000] * 2),
                   "prof": (100_000, []),
                   "bal": (80_000, [])},
        "hot_share": 0.05,
        "train_spine": 30_000, "view_spine": 15_000,
        "window_spine": 15_000, "window_seconds": DAY,
        "spine_sets": 1, "ops": 60,
    },
    "write_churn": {
        "entities": 4_000,
        "tables": {"wc": (40_000, [])},
        "max_versions": 4,
        "append_rows": 2_000, "upsert_rows": 1_000, "delete_keys": 300,
        "get_entities": (1, 50), "ops": 200,
    },
}


class Gen:
    def __init__(self, workload, seed, out_dir):
        self.cfg = SIZES[workload]
        self.rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
        self.out = out_dir
        n = self.cfg["entities"]
        # Zipf popularity over ranks (exponent 1.1 unless the workload
        # sets its own), mapped to ids by a permutation so the popular
        # ids are scattered over the key range
        ranks = np.arange(1, n + 1, dtype=np.float64)
        p = ranks ** -self.cfg.get("zipf", 1.1)
        self.pop = p / p.sum()
        self.ids = self.rng.permutation(n).astype(np.int64) * 7 + 1000
        self.hot = int(self.ids[0])

    # ---- rows -----------------------------------------------------------
    def entities(self, n):
        return self.ids[self.rng.choice(len(self.ids), size=n, p=self.pop)]

    def times(self, n, power=2.0):
        # u^power puts most timestamps near T_END (recent-biased)
        u = self.rng.random(n) ** power
        return (T_END - (u * SPAN).astype(np.int64)) * 1_000_000

    def rows(self, n, hot_share=0.0):
        ent = self.entities(n)
        if hot_share:
            ent[self.rng.random(n) < hot_share] = self.hot
        ts = self.times(n)
        dup = self.rng.random(n) < 0.02
        src = self.rng.integers(0, n, size=n)
        ent = np.where(dup, ent[src], ent)
        ts = np.where(dup, ts[src], ts)
        return {
            "entity_id": ent,
            "timestamp": ts,
            "f_cnt": self.rng.integers(0, 1 << 20, size=n, dtype=np.int64),
            "f_amt": self.rng.integers(0, 1 << 20, size=n) / 1024.0,
            "f_cat": self.rng.integers(0, 64, size=n).astype(np.int32),
        }

    def spine(self, n):
        ent = self.entities(n)
        # a few probes for entities that have no rows at all
        unknown = self.rng.random(n) < 0.02
        ent = np.where(unknown, ent + 3, ent)
        return {"entity_id": ent, "timestamp": self.times(n, power=1.5)}

    def write(self, rel, cols, schema=SCHEMA):
        path = os.path.join(self.out, rel)
        arrays = [pa.array(cols[f.name]).cast(f.type) if f.name != "timestamp"
                  else pa.array(cols["timestamp"], type=pa.int64()).cast(f.type)
                  for f in schema]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
        return rel

    def pick_ids(self, lo, hi):
        # log-uniform entity count in [lo, hi]; 5% unknown ids
        n = int(round(np.exp(self.rng.uniform(np.log(lo), np.log(hi)))))
        ids = np.unique(self.entities(n))
        unknown = self.rng.random(len(ids)) < 0.05
        return [int(x) for x in np.where(unknown, ids + 3, ids)]

    def as_of(self):
        return int(self.times(1, power=3.0)[0])

    # ---- workloads ------------------------------------------------------
    def tables(self, hot_share=0.0):
        ops = []
        for t, (base, appends) in self.cfg["tables"].items():
            rel = self.write(f"{t}_base.parquet", self.rows(base, hot_share))
            ops.append({"kind": "register", "table": t, "batch": rel})
            for i, n in enumerate(appends):
                rel = self.write(f"{t}_seg{i}.parquet", self.rows(n, hot_share))
                ops.append({"kind": "append", "table": t, "batch": rel})
        return ops

    def serve_pit(self):
        c = self.cfg
        setup = self.tables()
        names = list(c["tables"])
        pattern = ["get", "get", "recent", "get", "train",
                   "get", "get", "recent", "get", "train"]
        ops = []
        for i in range(c["ops"]):
            kind, t = pattern[i % len(pattern)], names[(i // 2) % len(names)]
            if kind == "get":
                ops.append({"kind": "get", "table": t, "out": "rows",
                            "ids": self.pick_ids(*c["get_entities"]),
                            "asof": self.as_of()})
            elif kind == "recent":
                ops.append({"kind": "recent", "table": t, "out": "rows",
                            "ids": self.pick_ids(*c["recent_entities"]),
                            "asof": self.as_of(), "k": c["recent_k"]})
            else:
                rel = self.write(f"spine{i}.parquet",
                                 self.spine(c["spine_rows"]), SPINE_SCHEMA)
                ops.append({"kind": "train", "table": t, "out": "rows",
                            "spine": rel})
        # six warm-up cycles: the Spark driver's JIT is still speeding
        # these small operations up after three
        return setup, ops[:60], ops[60:], True

    def train_asof(self):
        c = self.cfg
        setup = self.tables(hot_share=c["hot_share"])
        ops = []
        for s in range(c["spine_sets"]):
            a = self.write(f"train_spine{s}.parquet",
                           self.spine(c["train_spine"]), SPINE_SCHEMA)
            b = self.write(f"view_spine{s}.parquet",
                           self.spine(c["view_spine"]), SPINE_SCHEMA)
            w = self.write(f"window_spine{s}.parquet",
                           self.spine(c["window_spine"]), SPINE_SCHEMA)
            ops += [
                {"kind": "train", "table": "tx", "out": "sum", "spine": a},
                {"kind": "view", "tables": ["tx", "prof", "bal"],
                 "out": "sum", "spine": b},
                {"kind": "window", "table": "bal", "out": "sum", "spine": w,
                 "window": c["window_seconds"]},
            ]
        timed = [dict(ops[i % len(ops)]) for i in range(c["ops"])]
        # the warm-up runs every distinct operation three times: the
        # driver's JIT is still speeding up operations after two passes
        return setup, [dict(o) for o in ops * 3], timed, True

    def write_churn(self):
        """Writes and reads in equal shares. The generator tracks the
        (entity_id, timestamp) keys of the current table so upserts hit
        live keys and deletes always match; `reference.py` recomputes
        the full table state independently from the same files."""
        c = self.cfg
        setup = self.tables()
        base = self.cfg["tables"]["wc"][0]
        cols = self._read_keys("wc_base.parquet")
        # the append before each rewrite leaves two segments, so the
        # alternating compact has work to do
        pattern = ["append", "get", "upsert", "changes", "delete",
                   "get", "append", "version_asof", "rewrite", "get"]
        ops = []
        rewrites = 0
        for i in range(c["ops"]):
            kind = pattern[i % len(pattern)]
            if kind == "append":
                rows = self.rows(c["append_rows"])
                rel = self.write(f"b{i}.parquet", rows)
                ops.append({"kind": "append", "table": "wc", "batch": rel})
                cols = _concat_keys(cols, rows)
            elif kind == "upsert":
                rows = self.rows(c["upsert_rows"])
                # half of the batch replaces live keys
                half = c["upsert_rows"] // 2
                pick = self.rng.integers(0, len(cols[0]), size=half)
                rows["entity_id"][:half] = cols[0][pick]
                rows["timestamp"][:half] = cols[1][pick]
                rel = self.write(f"b{i}.parquet", rows)
                ops.append({"kind": "upsert", "table": "wc", "batch": rel})
                cols = _drop_keys(cols, rows["entity_id"], rows["timestamp"])
                cols = _concat_keys(cols, rows)
            elif kind == "delete":
                pick = self.rng.choice(len(cols[0]), size=c["delete_keys"],
                                       replace=False)
                keys = {"entity_id": cols[0][pick], "timestamp": cols[1][pick]}
                rel = self.write(f"k{i}.parquet", keys, SPINE_SCHEMA)
                ops.append({"kind": "delete", "table": "wc", "keys": rel})
                cols = _drop_keys(cols, keys["entity_id"], keys["timestamp"])
            elif kind == "rewrite":
                rewrites += 1
                if rewrites % 2:
                    ops.append({"kind": "compact", "table": "wc"})
                else:
                    rows = self.rows(base)
                    rel = self.write(f"b{i}.parquet", rows)
                    ops.append({"kind": "register", "table": "wc",
                                "batch": rel})
                    cols = (rows["entity_id"], rows["timestamp"])
            elif kind == "get":
                ops.append({"kind": "get", "table": "wc", "out": "rows",
                            "ids": self.pick_ids(*c["get_entities"]),
                            "asof": T_END * 1_000_000})
            elif kind == "changes":
                ops.append({"kind": "changes", "table": "wc", "out": "sum"})
            else:
                ops.append({"kind": "version_asof", "table": "wc",
                            "out": "sum",
                            "back": int(self.rng.integers(1, 3))})
        # three warm-up cycles, for the same reason as serve_pit's six
        return setup, ops[:3 * len(pattern)], ops[3 * len(pattern):], False

    def _read_keys(self, rel):
        t = pq.read_table(os.path.join(self.out, rel),
                          columns=["entity_id", "timestamp"])
        return (t.column(0).to_numpy(),
                t.column(1).cast(pa.int64()).to_numpy())


def _concat_keys(cols, rows):
    return (np.concatenate([cols[0], rows["entity_id"]]),
            np.concatenate([cols[1], rows["timestamp"]]))


def _drop_keys(cols, ent, ts):
    gone = set(zip(ent.tolist(), ts.tolist()))
    keep = np.fromiter(((e, t) not in gone
                        for e, t in zip(cols[0].tolist(), cols[1].tolist())),
                       dtype=bool, count=len(cols[0]))
    return cols[0][keep], cols[1][keep]


def generate(workload, seed, out_dir, inject=False):
    """Write the inputs of one run to `out_dir` and return the plan: a
    dict with the set-up, warm-up and timed operation lists. Every op
    gets a stable id; `cycle` says whether the timed list may repeat
    (read-only workloads) or is consumed once (write_churn)."""
    os.makedirs(out_dir, exist_ok=True)
    g = Gen(workload, seed, out_dir)
    setup, warm, timed, cycle = getattr(g, workload)()
    if inject:
        # fault injection for the benchmark's own test: one read that
        # throws (unknown table) and one whose payload the harness
        # corrupts, placed at the head of the timed list
        bad = dict(next(o for o in timed if o.get("out")))
        timed = [{"kind": "get", "table": "no_such_table", "out": "rows",
                  "ids": [1], "asof": T_END * 1_000_000},
                 dict(bad, corrupt=1)] + timed
    for phase, ops in (("setup", setup), ("warm", warm), ("timed", timed)):
        for i, op in enumerate(ops):
            op["id"] = f"{phase[0]}{i}"
    plan = {"workload": workload, "seed": seed, "cycle": cycle,
            "max_versions": g.cfg.get("max_versions", 10),
            "setup": setup, "warm": warm, "timed": timed}
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan

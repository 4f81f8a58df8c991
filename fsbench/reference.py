"""Independent reference for the feature-store benchmark.

Recomputes the expected result of every executed operation with DuckDB
from the generated input files, and compares it with the canonical
payload the harness printed. Nothing here reads the store or calls
Spark; the only engine detail it reproduces is the `_ingest_key`
tie-break, Spark's xxhash64 over the full row, implemented below in
numpy from the XXH64 definition.

Payloads (see Harness.scala):
  R|<sorted cols>|<row>;<row>...   every row, values as integers:
                                   timestamps in microseconds, doubles as
                                   round(x * 1024), NULL as N
  S|<sorted cols>|<grp>:<n>,(<nn>,<sum>,<bound>)*;...
                                   per column: non-null count, sum, and
                                   sum((entity_id % 997) * (v % 991)),
                                   timestamps as seconds past 1700000000
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_BASE = 1700000000

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v, seed):
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def _hash_int(v, seed):
    h = seed + _P5 + np.uint64(4)
    h = h ^ ((v & np.uint64(0xFFFFFFFF)) * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def ingest_key(table):
    """Spark's xxhash64(entity_id, timestamp, f_cnt, f_amt, f_cat), seed
    42, as a signed 64-bit integer per row of a pyarrow table."""
    def u64(name):
        a = table.column(name).combine_chunks()
        if name == "timestamp":
            a = a.cast("int64")
        return np.asarray(a.to_numpy()).view(np.uint64)

    with np.errstate(over="ignore"):
        h = np.full(table.num_rows, 42, dtype=np.uint64)
        h = _hash_long(u64("entity_id"), h)
        h = _hash_long(u64("timestamp"), h)
        h = _hash_long(u64("f_cnt"), h)
        amt = table.column("f_amt").combine_chunks().to_numpy()
        h = _hash_long(np.where(amt == 0.0, 0.0, amt).view(np.uint64), h)
        cat = table.column("f_cat").combine_chunks().to_numpy().astype(np.int64)
        h = _hash_int(cat.view(np.uint64), h)
    return h.view(np.int64)


def _kind(col):
    if col.endswith("timestamp"):
        return "ts"
    if col.endswith("f_amt") or col.startswith("amt_"):
        return "dbl"
    return "int"


def _row_view(col):
    k = _kind(col)
    q = f'"{col}"'
    if k == "ts":
        return f"epoch_us({q})"
    if k == "dbl":
        return f"CAST(round({q} * 1024) AS BIGINT)"
    return f"CAST({q} AS BIGINT)"


def _sum_view(col):
    k = _kind(col)
    q = f'"{col}"'
    if k == "ts":
        return f"(CAST(floor(epoch_us({q}) / 1000000) AS BIGINT) - {TS_BASE})"
    return _row_view(col)


def _fmt(v):
    return "N" if v is None else str(int(v))


class Reference:
    """A DuckDB database holding the generated inputs, with the running
    state of each table for workloads that write."""

    def __init__(self, run_dir, plan):
        self.dir = run_dir
        self.plan = plan
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone = 'UTC'")
        self.db.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
        self.versions = {}
        self.tables = set()
        self.cache = {}
        self._n = 0
        for op in plan["setup"]:
            self.apply(op, version=None)

    # ---- state -------------------------------------------------------------
    def _load(self, rel):
        """Register a batch file as a DuckDB table with its ingest key."""
        self._n += 1
        name = f"in{self._n}"
        t = pq.read_table(os.path.join(self.dir, rel))
        ik = ingest_key(t)
        t = t.append_column("ik", pa.array(ik))
        self.db.register(f"{name}_arrow", t)
        self.db.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")
        self.db.unregister(f"{name}_arrow")
        return name

    def _keys(self, rel):
        self._n += 1
        name = f"k{self._n}"
        self.db.execute(f"CREATE TABLE {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, rel)}')")
        return name

    def apply(self, op, version):
        t, k = op["table"], op["kind"]
        if k == "register":
            self.tables.add(t)
            b = self._load(op["batch"])
            self.db.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM {b}")
        elif k == "append":
            b = self._load(op["batch"])
            self.db.execute(f"INSERT INTO {t} SELECT * FROM {b}")
        elif k in ("upsert", "delete"):
            b = self._load(op["batch"]) if k == "upsert" else self._keys(op["keys"])
            self.db.execute(
                f"DELETE FROM {t} WHERE (entity_id, timestamp) IN "
                f"(SELECT (entity_id, timestamp) FROM {b})")
            if k == "upsert":
                self.db.execute(f"INSERT INTO {t} SELECT * FROM {b}")
        if version is not None:
            snap = f"{t}_v{version}"
            self.db.execute(f"CREATE OR REPLACE TABLE {snap} AS SELECT * FROM {t}")
            self.versions[(t, version)] = snap

    def plain_bytes(self):
        """Bytes of every table's live rows written once as plain
        (snappy) parquet, one file per table."""
        total = 0
        for name in sorted(self.tables):
            path = os.path.join(self.dir, f"plain_{name}.parquet")
            self.db.execute(
                f"COPY (SELECT entity_id, timestamp, f_cnt, f_amt, f_cat FROM {name}) "
                f"TO '{path}' (FORMAT parquet, COMPRESSION snappy)")
            total += os.path.getsize(path)
            os.remove(path)
        return total

    # ---- expected results ----------------------------------------------------
    def expected(self, op, version):
        key = None
        if self.plan["cycle"]:
            key = repr(sorted((k, v) for k, v in op.items()
                              if k not in ("id", "corrupt")))
            if key in self.cache:
                return self.cache[key]
        sql = self._sql(op, version)
        got = self._rows(sql) if op["out"] == "rows" else self._sums(sql)
        if key is not None:
            self.cache[key] = got
        return got

    def _dedup(self, t):
        # the as-of winner among equal (entity, ts) rows is the larger
        # ingest key; ASOF JOIN needs that resolved before it matches
        return (f"(SELECT * FROM {t} QUALIFY row_number() OVER "
                f"(PARTITION BY entity_id, timestamp ORDER BY ik DESC) = 1)")

    def _spine(self, rel):
        return f"read_parquet('{os.path.join(self.dir, rel)}')"

    def _sql(self, op, version):
        k = op["kind"]
        cols = "entity_id, timestamp, f_cnt, f_amt, f_cat"
        if k in ("get", "recent"):
            ids = ",".join(str(i) for i in op["ids"])
            asof = op["asof"]
            lim = op.get("k", 1)
            rank = ", rn AS recency_rank" if k == "recent" else ""
            return (f"SELECT {cols}{rank} FROM (SELECT *, row_number() OVER "
                    f"(PARTITION BY entity_id ORDER BY timestamp DESC, ik DESC) rn "
                    f"FROM {op['table']} WHERE entity_id IN ({ids}) AND "
                    f"timestamp <= to_timestamp({asof} // 1000000)) WHERE rn <= {lim}")
        if k == "train":
            return (f"SELECT f.entity_id, f.timestamp, f.f_cnt, f.f_amt, f.f_cat "
                    f"FROM {self._spine(op['spine'])} s ASOF JOIN "
                    f"{self._dedup(op['table'])} f ON s.entity_id = f.entity_id "
                    f"AND s.timestamp >= f.timestamp")
        if k == "view":
            sel, joins = ["s.entity_id", "s.timestamp"], []
            for i, t in enumerate(op["tables"]):
                a = f"f{i}"
                sel += [f"{a}.{c} AS {t}_{c}"
                        for c in ("timestamp", "f_cnt", "f_amt", "f_cat")]
                joins.append(f"ASOF LEFT JOIN {self._dedup(t)} {a} ON "
                             f"s.entity_id = {a}.entity_id AND "
                             f"s.timestamp >= {a}.timestamp")
            return (f"SELECT {', '.join(sel)} FROM {self._spine(op['spine'])} s "
                    + " ".join(joins))
        if k == "window":
            w = op["window"]
            return (f"SELECT s.entity_id, s.timestamp, count(f.entity_id) AS n_rows, "
                    f"sum(f.f_cnt) AS cnt_sum, max(f.f_amt) AS amt_max, "
                    f"min(f.f_amt) AS amt_min, count(f.f_cat) AS cat_count "
                    f"FROM (SELECT *, row_number() OVER () AS rid FROM "
                    f"{self._spine(op['spine'])}) s LEFT JOIN {op['table']} f "
                    f"ON f.entity_id = s.entity_id AND f.timestamp <= s.timestamp "
                    f"AND f.timestamp > s.timestamp - INTERVAL {w} SECOND "
                    f"GROUP BY s.rid, s.entity_id, s.timestamp")
        if k == "changes":
            new = self.versions[(op["table"], version)]
            old = self.versions[(op["table"], version - 1)]
            return (f"SELECT {cols}, 'insert' AS _change_type, {version} AS "
                    f"_commit_version FROM (SELECT {cols} FROM {new} EXCEPT ALL "
                    f"SELECT {cols} FROM {old}) UNION ALL SELECT {cols}, 'delete', "
                    f"{version} FROM (SELECT {cols} FROM {old} EXCEPT ALL "
                    f"SELECT {cols} FROM {new})")
        if k == "version_asof":
            return f"SELECT {cols} FROM {self.versions[(op['table'], version)]}"
        raise ValueError(f"no reference for operation kind {k!r}")

    def _rows(self, sql):
        cur = self.db.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        cols = sorted(d[0] for d in cur.description)
        view = ", ".join(_row_view(c) for c in cols)
        rows = self.db.execute(f"SELECT {view} FROM ({sql})").fetchall()
        body = sorted(",".join(_fmt(v) for v in r) for r in rows)
        return f"R|{','.join(cols)}|{';'.join(body)}"

    def _sums(self, sql):
        cur = self.db.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        names = [d[0] for d in cur.description]
        grouped = "_change_type" in names
        cols = sorted(c for c in names if c != "_change_type")
        ent = _sum_view("entity_id")
        aggs = ["count(*)"]
        for c in cols:
            v = _sum_view(c)
            aggs += [f"count({v})", f"sum({v})",
                     f"sum(({ent} % 997) * ({v} % 991))"]
        key = "_change_type" if grouped else "'*'"
        rows = self.db.execute(
            f"SELECT {key}, {', '.join(aggs)} FROM ({sql}) "
            + ("GROUP BY _change_type" if grouped else "")).fetchall()
        groups = sorted(f"{r[0]}:" + ",".join(_fmt(v) for v in r[1:]) for r in rows)
        return f"S|{','.join(cols)}|{';'.join(groups)}"

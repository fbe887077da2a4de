"""Seeded input generator for the benchmark.

Builds the ten testdata schemas (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) at a given scale factor,
then a chain of data generations: each generation applies sparse
INSERT/UPDATE/DELETE churn to a few tables of the previous one, taken in
turn.  Every generation is written to disk before the benchmark starts
timing, and its expected per-table INSERTED/DELETED/UPDATED counts are
recorded so the benchmark can check what the program reports.

Declared keys are unique, as a real primary key would be.  ``events`` has
no declared key, so the program diffs it on all columns; an update to an
``events`` row therefore shows as one DELETED row plus one INSERTED row.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Keys the program declares for these schemas (dbdiff_spark.catalog
# TESTDATA_KEYS); the generator keeps them unique.
KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": [],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SCHEMAS = list(KEYS)

# Column each table's updates rewrite, and how.
_UPDATE_COLUMN = {
    "region": "r_name",
    "nation": "n_name",
    "customer": "c_acctbal",
    "supplier": "s_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
    "lineitem": "l_quantity",
    "events": "value",
    "documents": "source",
    "embeddings": "label",
}

# The console and xlsx sinks print at most 10,000 rows per table; churn
# stays far below that so every changed row is visible to the checks.
MAX_CHANGED_ROWS = 400

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream index query plan cache page row column value data node "
    "graph edge vector token text model write read shard block lock"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["cold", "small", "large", "bright", "dark", "tiny", "heavy"]
_NOUN = ["widget", "bolt", "gear", "valve", "panel", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_US_PER_DAY = 86_400_000_000
_EPOCH_1992 = 694_224_000_000_000  # 1992-01-01 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in microseconds
_EMBED_DIM = 64


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, n_words))


def base_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    """The ten schemas at scale factor ``sf`` (sf 1 ~ 9 M source rows)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(5000 * (sf / 0.1) ** 0.5))
    n_vec = max(200, int(2000 * (sf / 0.1) ** 0.3))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    acct = _money(rng, n_supp, -999.99, 9999.99)
    nulls = rng.random(n_supp) < 0.02  # a few NULL balances: null-safe compare
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(acct, mask=nulls),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 900.0, 450_000.0),
        "o_orderdate": _ts(_EPOCH_1992 + rng.integers(0, 3650, n_ord) * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order: unique (order, line)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_number = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_line = len(l_order)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1992 + rng.integers(0, 3650, n_line) * _US_PER_DAY),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))),
        "user_id": rng.integers(0, max(20, n_evt // 50), n_evt),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": _money(rng, n_evt, 0.0, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.2:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_vec, _EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), _EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


@dataclass
class Expected:
    """Rows a diff against the previous generation reports for one table."""

    inserted: int = 0
    deleted: int = 0
    updated: int = 0


@dataclass
class Generation:
    """One data generation: the tables it rewrites, and what a diff
    against the previous generation must report for every table."""

    index: int
    rows: int = 0  # source rows once this generation is live
    files: dict[str, Path] = field(default_factory=dict)  # table -> staged file
    expected: dict[str, Expected] = field(default_factory=dict)


def _new_rows(table: pa.Table, schema: str, n: int, gen: int,
              rng: np.random.Generator) -> pa.Table:
    """``n`` rows with fresh key values: copies of random rows re-keyed
    past the table's maximum key (lineitem gets new orders)."""
    src = table.take(rng.integers(0, table.num_rows, n))
    cols = {c: src.column(c) for c in src.column_names}
    if schema == "lineitem":
        base = int(np.max(table.column("l_orderkey").to_numpy())) + 1
        cols["l_orderkey"] = pa.array(base + np.arange(n) // 4, pa.int64())
        cols["l_linenumber"] = pa.array(np.arange(n) % 4 + 1, pa.int32())
    else:
        key = KEYS[schema][0] if KEYS[schema] else "event_id"
        base = int(np.max(table.column(key).to_numpy())) + 1
        cols[key] = pa.array(base + np.arange(n), table.schema.field(key).type)
        if schema == "region" or schema == "nation":
            label = "r_name" if schema == "region" else "n_name"
            cols[label] = pa.array([f"{schema.upper()}_G{gen}_{i}" for i in range(n)])
    return pa.table(cols, schema=table.schema)


def _updated_column(table: pa.Table, column: str, idx: np.ndarray, gen: int) -> pa.Array:
    """The column with rows ``idx`` given a value that renders differently
    in both diff modes."""
    col = table.column(column).combine_chunks()
    typ = col.type
    if pa.types.is_floating(typ):
        vals = col.to_numpy(zero_copy_only=False).astype(np.float64)
        vals = np.where(np.isnan(vals), 0.0, vals)  # NULL becomes a value
        vals[idx] = np.round(vals[idx] + 1.25, 2)
        mask = np.asarray(col.is_null()).copy()
        mask[idx] = False
        return pa.array(vals, typ, mask=mask)
    if pa.types.is_integer(typ):
        vals = col.to_numpy(zero_copy_only=False).copy()
        vals[idx] = vals[idx] + 1
        return pa.array(vals, typ)
    vals = col.to_pylist()
    for i in idx:
        vals[i] = f"{vals[i]}~g{gen}"
    return pa.array(vals, typ)


def mutate(table: pa.Table, schema: str, gen: int,
           rng: np.random.Generator) -> tuple[pa.Table, Expected]:
    """Sparse seeded churn on one table: some inserts, updates and
    deletes on distinct existing rows."""
    n = table.num_rows
    cap = max(1, min(MAX_CHANGED_ROWS // 4, n // 20))
    n_ins, n_upd, n_del = (int(x) for x in rng.integers(1, cap + 1, 3))
    n_upd = min(n_upd, max(0, n - 2))
    n_del = min(n_del, max(0, n - 2 - n_upd))
    picked = rng.choice(n, n_upd + n_del, replace=False)
    upd_idx, del_idx = np.sort(picked[:n_upd]), picked[n_upd:]
    col = _UPDATE_COLUMN[schema]
    cols = [
        _updated_column(table, c, upd_idx, gen) if c == col else table.column(c)
        for c in table.column_names
    ]
    updated = pa.table(cols, schema=table.schema)
    keep = np.ones(n, dtype=bool)
    keep[del_idx] = False
    out = pa.concat_tables([
        updated.filter(pa.array(keep)),
        _new_rows(table, schema, n_ins, gen, rng),
    ])
    if KEYS[schema]:
        return out, Expected(n_ins, n_del, n_upd)
    # all-columns key: an updated row is a different row
    return out, Expected(n_ins + n_upd, n_del + n_upd, 0)


def write_atomic(table: pa.Table, path: Path) -> None:
    """Write then rename, so no reader ever sees a partial file."""
    tmp = path.with_name(f".{path.name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


@dataclass
class Inputs:
    """A workload's generated inputs: the live directory the program
    reads as its database, and the staged generations to swap in."""

    live: Path
    tables: list[str]
    generations: list[Generation]
    source_rows: int

    def swap_in(self, gen: Generation) -> None:
        """Make ``gen`` the live data: one atomic rename per changed table."""
        for name, staged in gen.files.items():
            os.replace(staged, self.live / f"{name}.parquet")


def generate(root: Path, seed: int, sf: float, schemas: list[str],
             n_generations: int, tables_per_generation: int) -> Inputs:
    """Write the live tables and ``n_generations`` staged generations.

    Generation g changes ``tables_per_generation`` tables taken in turn
    from the sorted table list, so every seed changes the same tables in
    the same round; the seed picks the rows and how many."""
    rng = np.random.default_rng(seed)
    live = root / "live"
    live.mkdir(parents=True)
    current = {n: t for n, t in base_tables(sf, rng).items() if n in schemas}
    for name, tbl in current.items():
        write_atomic(tbl, live / f"{name}.parquet")
    names = sorted(current)
    source_rows = sum(t.num_rows for t in current.values())
    k = tables_per_generation
    generations = []
    for g in range(1, n_generations + 1):
        gdir = root / f"gen{g}"
        gdir.mkdir()
        gen = Generation(g, expected={n: Expected() for n in names})
        for name in sorted({names[((g - 1) * k + j) % len(names)] for j in range(k)}):
            current[name], gen.expected[name] = mutate(current[name], name, g, rng)
            gen.files[name] = gdir / f"{name}.parquet"
            write_atomic(current[name], gen.files[name])
        gen.rows = sum(t.num_rows for t in current.values())
        generations.append(gen)
    return Inputs(live, names, generations, source_rows)

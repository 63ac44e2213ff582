"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + NumPy + PyArrow (no Spark), so inputs are
built outside the timed path and outside ``setup_s``. Two tiers:

- *Base tables* (star schema + nothing seed-specific): generated once per
  checkout from a fixed base seed and cached. They are the rows the lake
  extracts carry and the tables the SQL oracle reads.
- *Per-seed inputs*: how the base tables split into gzip-TSV extract files,
  the day-2 churn manifest, the training documents, the link hold-out
  residue, the SQL order permutation and the two edge lists. Cached per
  seed; the same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Scale of the star tables (TPC-H-style sf; 0.03 = ~180k lineitem rows).
STAR_SF = 0.03
BASE_SEED = 20131
#: Extract files per table on day 1 (the Canvas Data dump shape: the big
#: fact tables ship as many part files, the small dimensions as a few).
FILES_PER_TABLE = {
    "lineitem": 100,
    "orders": 50,
    "customer": 10,
    "part": 10,
    "supplier": 5,
    "nation": 3,
    "region": 2,
}
#: Day-2 churn, as shares of the day-1 files: replaced files reappear under
#: a new name holding the rows of the replaced and the deleted files.
REPLACED_FRAC = 0.10
DELETED_FRAC = 0.02
#: Training documents per seed.
N_DOCS = 2000

#: The analyst mix: scan + aggregate with pushdown, a 6-way star join with
#: broadcasts, an IN-subquery semi-join over a shuffle aggregate, and a
#: window top-k per group.
SQL_QUERIES = (
    "flagship_pricing_summary",
    "tpch_q5",
    "tpch_q18",
    "win_topk_per_group",
)

#: Canvas Data API column types per base-table column; the catalog and the
#: compaction read the raw TSV through this schema dict.
_CANVAS_TYPES = {
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float64(): "double precision",
    pa.string(): "varchar",
    pa.timestamp("us"): "datetime",
}

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


# -- base star tables ---------------------------------------------------------


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def star_tables(sf: float = STAR_SF, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """TPC-H-style star schema with the columns the registry queries read."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "nut", "gear", "valve", "pipe"])
    types = np.array(["LARGE", "ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM"])
    price = np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                noun[rng.integers(0, 6, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": price,
        }
    )
    # a third of the customers never order (tpch_q13's zero bucket)
    o_cust = rng.integers(0, (2 * n_cust) // 3, n_ord).astype(np.int64) * 3 // 2
    o_date = _days(rng, n_ord, "1992-01-01", 2400)
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_part], 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    ship = np.asarray(o_date)[l_ord] + rng.integers(1, 122, n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    cutoff = np.datetime64("1995-06-17", "us")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(l_line),
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": np.where(
                ship > cutoff, "N", np.array(["R", "A"])[rng.integers(0, 2, n_li)]
            ),
            "l_linestatus": np.where(ship > cutoff, "O", "F"),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    total = np.bincount(l_ord, weights=ext * (1 + tax) * (1 - disc), minlength=n_ord)
    status = np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(o_cust),
            "o_orderstatus": status,
            "o_totalprice": np.round(total, 2),
            "o_orderdate": pa.array(o_date, pa.timestamp("us")),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    return t


def canvas_schema(tables: dict[str, pa.Table]) -> dict:
    """A Canvas Data API schema dict describing the star tables."""
    out = {}
    for name, tbl in tables.items():
        out[name] = {
            "tableName": name,
            "description": f"benchmark extract of {name}",
            "columns": [
                {
                    "name": f.name,
                    "type": _CANVAS_TYPES[f.type],
                    "description": f"{name}.{f.name}",
                    **({"length": 64} if f.type == pa.string() else {}),
                }
                for f in tbl.schema
            ],
        }
    return out


def _tsv_field(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def _tsv_lines(tbl: pa.Table) -> list[bytes]:
    cols = [c.to_pylist() for c in tbl.columns]
    return [
        ("\t".join(_tsv_field(v) for v in row) + "\n").encode()
        for row in zip(*cols)
    ]


def _write_done(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def ensure_base(work: str) -> str:
    """Build (once per checkout) the base star tables as parquet plus their
    pre-rendered TSV lines, and the Canvas schema dict. Returns the dir."""
    base = os.path.join(work, "base")
    done = os.path.join(base, "_DONE.json")
    if os.path.exists(done):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    tables = star_tables()
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(base, f"{name}.parquet"))
        with open(os.path.join(base, f"{name}.tsv"), "wb") as fh:
            fh.writelines(_tsv_lines(tbl))
    with open(os.path.join(base, "canvas_schema.json"), "w") as fh:
        json.dump(canvas_schema(tables), fh)
    _write_done(done, {"sf": STAR_SF, "rows": {n: t.num_rows for n, t in tables.items()}})
    return base


# -- per-seed inputs ------------------------------------------------------------


def _split_rows(rng: np.random.Generator, n_rows: int, n_files: int) -> list[np.ndarray]:
    return np.array_split(rng.permutation(n_rows), n_files)


def lake_extracts(base: str, out: str, seed: int) -> dict:
    """Split every base table into gzip-TSV extract files and derive the
    day-2 snapshot. Returns the manifest dict (also written to
    ``manifest.json``): ``day1``/``day2`` remote file lists and the verdict
    counts a correct mirror sync must report."""
    rng = np.random.default_rng([seed, 1])
    files_dir = os.path.join(out, "files")
    os.makedirs(files_dir, exist_ok=True)
    day1: list[dict] = []
    day2: list[dict] = []
    day2_new = n_deleted = 0
    for table, n_files in FILES_PER_TABLE.items():
        with open(os.path.join(base, f"{table}.tsv"), "rb") as fh:
            lines = fh.readlines()
        parts = _split_rows(rng, len(lines), n_files)
        order = rng.permutation(n_files)
        k_rep = int(round(n_files * REPLACED_FRAC))
        k_del = int(round(n_files * DELETED_FRAC))
        replaced, deleted = set(order[:k_rep]), set(order[k_rep : k_rep + k_del])
        moved: list[int] = []
        for i, idx in enumerate(parts):
            fname = f"{table}-{seed}-d1-{i:05d}.gz"
            _write_gz(files_dir, fname, lines, idx)
            row = {"table": table, "filename": fname, "url": "file://" + os.path.join(files_dir, fname)}
            day1.append(row)
            if i in replaced or i in deleted:
                moved.extend(idx.tolist())
            else:
                day2.append(row)
        # the re-export: replaced + deleted rows regrouped into new files
        n_new = max(1, k_rep) if moved else 0
        for j, idx in enumerate(np.array_split(np.array(moved, dtype=np.int64), n_new or 1)[:n_new]):
            fname = f"{table}-{seed}-d2-{j:05d}.gz"
            _write_gz(files_dir, fname, lines, idx)
            day2.append({"table": table, "filename": fname, "url": "file://" + os.path.join(files_dir, fname)})
        day2_new += n_new
        n_deleted += k_rep + k_del
    expect = {
        "day1": {"total_files": len(day1), "files_fetched": len(day1), "files_skipped": 0, "files_removed": 0},
        "day2": {
            "total_files": len(day2) + n_deleted,
            "files_fetched": day2_new,
            "files_skipped": len(day2) - day2_new,
            "files_removed": n_deleted,
        },
    }
    manifest = {"day1": day1, "day2": day2, "expect": expect}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def _write_gz(files_dir: str, fname: str, lines: list[bytes], idx: np.ndarray) -> None:
    data = b"".join(lines[i] for i in idx)
    with open(os.path.join(files_dir, fname), "wb") as fh:
        fh.write(gzip.compress(data, compresslevel=1, mtime=0))


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    """Training documents in the shape the curate/link/assemble verbs read:
    random bag-of-words texts, ~5% near-duplicates (one word changed),
    ~1% exact duplicates and ~8% near-copies that entity linkage merges."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        elif i > 20 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.14:
            w = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(w[: max(10, len(w) - int(rng.integers(1, 4)))]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def shallow_edges(seed: int, n_nodes: int = 20_000) -> np.ndarray:
    """Dedup-like pair graph: many components of 2-6 nodes (stars and
    short paths), so min-label propagation settles within 4 rounds."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.permutation(n_nodes).astype(np.int64)
    edges, pos = [], 0
    while pos < n_nodes - 6:
        size = int(rng.integers(2, 7))
        comp = ids[pos : pos + size]
        if rng.random() < 0.5:  # star around the first node
            edges += [(comp[0], c) for c in comp[1:]]
        else:  # short path
            edges += list(zip(comp[:-1], comp[1:]))
        pos += size + int(rng.integers(0, 3))  # a few singletons between
    return np.array(edges, dtype=np.int64)


def deep_edges(seed: int, n_nodes: int = 32_000) -> np.ndarray:
    """Deep graph: chains and random-recursive trees with diameters of tens
    to low hundreds, node ids shuffled so labels travel the whole path."""
    rng = np.random.default_rng([seed, 4])
    ids = rng.permutation(n_nodes).astype(np.int64)
    edges, pos = [], 0
    while pos < n_nodes:
        size = min(int(rng.integers(32, 201)), n_nodes - pos)
        comp = ids[pos : pos + size]
        if rng.random() < 0.6 or size < 3:  # chain
            edges += list(zip(comp[:-1], comp[1:]))
        else:  # tree: each node hangs off one of the last few nodes added
            for k in range(1, size):
                edges.append((comp[max(0, k - 1 - int(rng.integers(0, 3)))], comp[k]))
        pos += size
    return np.array(edges, dtype=np.int64)


def union_find_components(edges: np.ndarray, nodes: np.ndarray) -> dict[int, int]:
    """Reference labels: node -> min node id of its component."""
    parent = {int(v): int(v) for v in nodes}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def ensure_seed(work: str, seed: int, workload: str) -> tuple[str, float]:
    """Build (or reuse) the per-seed inputs of one workload. Returns
    ``(dir, generation_seconds)``; a cache hit reports 0 seconds."""
    import time

    base = ensure_base(work)
    out = os.path.join(work, "seeds", str(seed), workload)
    done = os.path.join(out, "_DONE.json")
    if os.path.exists(done):
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "lake_sync":
        lake_extracts(base, out, seed)
        order = np.random.default_rng([seed, 5]).permutation(len(SQL_QUERIES))
        with open(os.path.join(out, "sql_order.json"), "w") as fh:
            json.dump([SQL_QUERIES[i] for i in order], fh)
    elif workload in ("train_data", "link"):
        os.makedirs(os.path.join(out, "corpus"))
        pq.write_table(documents(seed), os.path.join(out, "corpus", "documents.parquet"))
        residue = int(np.random.default_rng([seed, 6]).integers(0, 10))
        with open(os.path.join(out, "holdout.json"), "w") as fh:
            json.dump({"residue": residue}, fh)
    elif workload == "graph_deep":
        for name, edges in (("shallow", shallow_edges(seed)), ("deep", deep_edges(seed))):
            pq.write_table(
                pa.table({"id_a": edges[:, 0], "id_b": edges[:, 1]}),
                os.path.join(out, f"{name}_edges.parquet"),
            )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    elapsed = time.perf_counter() - t0
    _write_done(done, {"seed": seed, "gen_s": elapsed})
    _prune_seeds(os.path.join(work, "seeds"), keep=6)
    return out, elapsed


def _prune_seeds(seeds_dir: str, keep: int) -> None:
    """Bound the cache: keep the ``keep`` most recently built seed dirs."""
    dirs = [os.path.join(seeds_dir, d) for d in os.listdir(seeds_dir)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)

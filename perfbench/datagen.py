"""Benchmark inputs: the ten testdata tables, generated.

``base_tables`` makes tables with the schemas, row counts per scale factor
and value distributions of the testdata tables (TESTDATA.md). The base
is always generated with ``BASE_SEED``, like the testdata tables, so
on a base-only workload the workload seed changes only the query order.

``replica_tables`` builds the 10x corpus of the ``relational_x10``
workload from a base. It follows ``tools/scale_probe.py``'s
``build_scaled`` scheme (every key column shifted per replica, offsets
shared across tables so joins stay inside one replica) but runs in
pyarrow, so no JVM starts before the timed session. The workload seed
salts the replica: it adds a seeded gap to every key offset and shuffles
the rows of every replicated table. The seed changes the keys and the
physical row order, not the amount of work per query.

``ensure_inputs`` writes each input set once under the cache directory and
reuses it; its ``manifest.json`` records rows and bytes per table.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
KEEP_REPLICAS = 2  # a 10x replica of sf0.1 is about 180 MB
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# the offset groups of tools/scale_probe.py KEY_GROUPS, copied so that an
# edit to that tool cannot change the benchmark's inputs; documents and
# embeddings are copied unshifted, since no relational query reads them
KEY_GROUPS: dict[str, dict[str, str]] = {
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "events": {"event_id": "event", "user_id": "user"},
}

# rows per unit of scale factor, as in the testdata tables; documents and
# embeddings have at least 500 rows at every scale
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}
DIM = 64

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "large hot blue old cold red small green".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()


def _us(offsets_us: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(n: int, span: int, start: str, rng: np.random.Generator) -> pa.Array:
    return _us(rng.integers(0, span, n) * 86_400_000_000, start)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(sf: float) -> dict[str, int]:
    return {t: max(MIN_ROWS.get(t, 1), round(n * sf)) for t, n in ROWS_PER_SF.items()}


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates: an earlier document with one token appended
    for i in sorted(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang = _pick(rng, ["en", "de", "es", "fr", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ids = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": lang,
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    label = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.6, (10, DIM))
    x = rng.normal(0.0, 1.0, (n_vecs, DIM)) + centers[label]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * DIM + 1, DIM), pa.int32()), flat
        ),
        "label": pa.array(label, pa.int32()),
    })


def base_tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rows = _rows(sf)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_ev = rows["orders"], rows["events"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
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
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, segments, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(
            np.char.add(np.char.add(np.asarray(ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.asarray(NOUN)[rng.integers(0, 8, n_part)]).astype(object)
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(n_ord, 2405, "1995-01-01", rng),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(n, 2499, "1995-01-02", rng),
    })
    gaps = rng.exponential(25.9e6, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _us(np.cumsum(gaps), "2024-01-01"),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _replicate(table: pa.Table, cols: dict[str, str], offsets: dict[str, int],
               factor: int, rng: np.random.Generator) -> pa.Table:
    parts = []
    for r in range(factor):
        part = table
        for c, grp in cols.items():
            i = part.schema.get_field_index(c)
            part = part.set_column(i, c, pa.array(part.column(c).to_numpy() + r * offsets[grp]))
        parts.append(part)
    out = pa.concat_tables(parts)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def replica_tables(base: dict[str, pa.Table], factor: int, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, factor])
    maxes: dict[str, int] = {}
    for name, cols in KEY_GROUPS.items():
        for c, grp in cols.items():
            maxes[grp] = max(maxes.get(grp, 0), int(base[name].column(c).to_numpy().max()) + 1)
    offsets = {g: m + int(rng.integers(0, m)) for g, m in sorted(maxes.items())}
    return {
        name: (_replicate(tbl, KEY_GROUPS[name], offsets, factor, rng)
               if name in KEY_GROUPS else tbl)
        for name, tbl in base.items()
    }


def _write(tables: dict[str, pa.Table], out: str) -> dict:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {}
    for name, tbl in tables.items():
        path = f"{tmp}/{name}.parquet"
        pq.write_table(tbl, path, row_group_size=1 << 20)
        manifest[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, out)
    os.sync()  # no writeback of the new files during the timed runs
    return manifest


def ensure_inputs(cache_dir: str, sf: float, factor: int, seed: int) -> tuple[str, dict]:
    """Directory of the inputs for (sf, factor, seed), built if missing.

    Factor 1 is the seed-independent base at scale factor ``sf``. At most
    ``KEEP_REPLICAS`` replicas are kept; older ones are deleted, so a long
    series of seeds does not fill the disk.
    """
    base = f"{cache_dir}/sf{sf}_s{BASE_SEED}"
    if not os.path.exists(f"{base}/manifest.json"):
        _write(base_tables(sf), base)
    prefix = f"sf{sf}_x{factor}_"
    out = base if factor == 1 else f"{cache_dir}/{prefix}s{seed}"
    if not os.path.exists(f"{out}/manifest.json"):
        replicas = sorted(
            (d for d in os.listdir(cache_dir) if d.startswith(prefix)),
            key=lambda d: os.path.getmtime(f"{cache_dir}/{d}"),
        )
        for d in replicas[: max(0, len(replicas) - KEEP_REPLICAS + 1)]:
            shutil.rmtree(f"{cache_dir}/{d}", ignore_errors=True)
        base_tbls = {t: pq.read_table(f"{base}/{t}.parquet") for t in TABLES}
        _write(replica_tables(base_tbls, factor, seed), out)
    os.utime(out)
    with open(f"{out}/manifest.json") as f:
        return out, json.load(f)

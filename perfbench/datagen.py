"""Seeded synthetic inputs for the benchmark.

Every input a workload reads is generated here from ``--seed`` into the
run's work directory; nothing outside the checkout is read. The tables
mirror the schemas and value domains of the engine's TPC-H-ish fixture
set (FIXTURES.md §A) at a fixed size, so every declared query and its
DuckDB oracle run unchanged on them. The omics TSVs follow FIXTURES.md
§B: features x samples molecules plus a clinical table whose survival
time depends on a few informative features.

Sizes are fixed; only values depend on the seed, so runs with different
seeds do the same amount of work. The same seed gives byte-identical
files (pyarrow writes no timestamps into parquet footers).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the sf0.01 fixture sizes)
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
#: omics matrix shape: features x samples, and its informative features
OMICS_FEATURES = 60
OMICS_SAMPLES = 120
OMICS_INFORMATIVE = 4

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

TABLES = tuple(["region", "nation"] + list(SIZES))


def _days(rng, n: int, start: str, span: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word, the
            # shape the dedup/similarity families look for
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(seed: int, out_dir: str) -> str:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    i32, i64 = np.int32, np.int64

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    tables = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
                "c_acctbal": money(-999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
                "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n["part"], dtype=i64),
                "p_name": [
                    f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n["part"])
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(_PTYPES, n["part"]),
                "p_size": rng.integers(1, 51, n["part"]).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n["orders"], dtype=i64),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
                "o_totalprice": money(1000, 500000, n["orders"]),
                "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2400),
                "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(i64),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(i64),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(i64),
                "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(i32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": money(900, 105000, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
                "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
                "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", 2500),
            }
        ),
    }
    ev = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ev, dtype=i64),
            "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, ev).astype(i64),
            "event_type": rng.choice(_EVENT_TYPES, ev),
            "value": np.maximum(np.round(rng.exponential(50.0, ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def make_omics(seed: int, out_dir: str) -> tuple[str, str]:
    """Write ``molecules.tsv`` (features x samples, a few NaN/Inf cells)
    and ``clinical.tsv`` (sample_id, event, time); return both paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    feats = [f"GENE_{i:04d}" for i in range(OMICS_FEATURES)]
    samples = [f"S{i:03d}" for i in range(OMICS_SAMPLES)]
    mat = np.round(rng.normal(size=(OMICS_FEATURES, OMICS_SAMPLES)), 4)
    signal = mat[:OMICS_INFORMATIVE].sum(axis=0)
    time = np.round(50.0 + 10.0 * signal + rng.normal(0, 2.0, OMICS_SAMPLES), 4)
    time = np.maximum(time, 1.0)
    event = (rng.random(OMICS_SAMPLES) < 0.8).astype(int)
    # cleaning paths: one NaN-bearing sample column, one +Inf cell
    mat[-1, 3] = np.nan
    mat[-2, 7] = np.inf
    mol_path = os.path.join(out_dir, "molecules.tsv")
    with open(mol_path, "w") as fh:
        fh.write("\t".join(["feature_id"] + samples) + "\n")
        for f, row in zip(feats, mat):
            fh.write("\t".join([f] + [repr(float(v)) for v in row]) + "\n")
    clin_path = os.path.join(out_dir, "clinical.tsv")
    with open(clin_path, "w") as fh:
        fh.write("sample_id\tevent\ttime\n")
        for s, e, t in zip(samples, event, time):
            fh.write(f"{s}\t{e}\t{float(t)!r}\n")
    return mol_path, clin_path


def link_inputs(src_dir: str, dest_dir: str) -> str:
    """A second path to the same input files (hard links), so caches
    keyed by input path miss while the bytes stay identical."""
    os.makedirs(dest_dir, exist_ok=True)
    for f in os.listdir(src_dir):
        os.link(os.path.join(src_dir, f), os.path.join(dest_dir, f))
    return dest_dir

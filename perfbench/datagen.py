"""Seeded inputs for the benchmark.

Two kinds of input are generated here, never read from outside the checkout:

- The **corpus**: the engine's ten tables (TPC-H-ish star schema, ``events``,
  ``documents``, ``embeddings``) as single parquet files with the same
  schemas and value domains as the repository's testdata. The corpus is a pure
  function of ``(scale, CORPUS_SEED)`` and does not follow the run seed, so
  every seed runs the same data volume and the oracle fingerprints are
  comparable between runs.
- Per-run inputs that follow ``--seed``: the OLAP query order, the
  synthetic APKINDEX (size and dependency graph) and the Zipf request
  parameters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "new", "blue", "old", "large", "hot", "cold"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"]
PART_TYPES = ["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "batch sort value hash filter big data part column order scan a slow agg "
    "key window table merge vector join spark line small fast group customer "
    "query row stream the"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(n: int, rng) -> dict:
    """Random-word documents; 5% are an earlier document plus a ``dup``
    token (near duplicates) and a handful are exact copies, the structure
    the dedup and LSH queries look for."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    for i in rng.choice(np.arange(n // 10, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(n // 10, n), max(n // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 10))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_corpus(out_dir: str, scale: float) -> None:
    """Write the ten tables for ``scale`` (1.0 = sf1 row counts) into
    ``out_dir``. Row counts follow the repository's testdata: 6M lineitem rows
    per unit of scale, at least 500 documents and embeddings."""
    rng = np.random.default_rng(CORPUS_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = max(int(50_000 * scale), 500), max(int(20_000 * scale), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    keys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * scale), 10), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", _documents(n_doc, rng))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# --------------------------------------------------------------- per-seed

# Package-name stems; none is a SQL keyword, so names stay valid inside the
# service's SELECT-only sql endpoint.
PKG_STEMS = (
    "py3 perl ruby go rust node gtk qt xorg font doc dev musl ssl zlib curl git "
    "vim mesa alsa pulse dbus glib icu llvm gcc cmake ninja bash lua tcl"
).split()


def apk_names(n: int) -> list[str]:
    """Package names by popularity rank: rank 0 is the most depended-on."""
    return [f"{PKG_STEMS[i % len(PKG_STEMS)]}-{PART_NOUN[(i // 31) % 8]}{i}" for i in range(n)]


def write_apkindex(path: str, seed: int) -> list[dict]:
    """Write a synthetic Alpine APKINDEX of 20k-22k packages whose
    dependency graph follows the seed, and return its stanzas as records
    (name, version, arch, depends, provides) in popularity-rank order.

    Dependencies point at lower-ranked (more popular) packages with a
    heavy-tailed preference, so a few base packages have thousands of
    dependents, as in a real distribution. Every fifth package is a library
    providing ``so:lib<name>.so.1``, and its dependents name that
    capability instead of the package. One package in ten also has an
    older second version."""
    rng = np.random.default_rng([seed, 1])
    n = 20_000 + int(rng.integers(0, 2_000))
    names = apk_names(n)
    records, stanzas = [], []
    for i, name in enumerate(names):
        deps: set[str] = set()
        if i:
            for _ in range(int(rng.integers(0, 5))):
                j = int(i * rng.random() ** 3)
                deps.add(f"so:lib{names[j]}.so.1" if j % 5 == 0 else names[j])
        provides = [f"so:lib{name}.so.1=1"] if i % 5 == 0 else []
        arch = "x86_64" if rng.random() < 0.7 else "aarch64"
        major = int(rng.integers(1, 10))
        versions = [f"{major}.{int(rng.integers(0, 20))}.{int(rng.integers(0, 10))}-r0"]
        if rng.random() < 0.1:
            versions.append(f"{major - 1}.{int(rng.integers(0, 20))}.0-r1")
        for v in versions:
            rec = dict(name=name, version=v, arch=arch, depends=sorted(deps), provides=provides)
            records.append(rec)
            stanzas.append(
                f"P:{name}\nV:{v}\nA:{arch}\nS:{int(rng.integers(1_000, 5_000_000))}\n"
                f"T:synthetic package {i}\n"
                + "".join(f"p:{c}\n" for c in provides)
                + f"D:{' '.join(rec['depends'])}\n"
            )
    with open(path, "w") as f:
        f.write("\n".join(stanzas))
    return records


def zipf_ranks(rng, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` ranks in ``[0, n_items)`` drawn with probability ∝ 1/(r+1)^s,
    so the most popular items repeat across requests."""
    w = 1.0 / np.power(np.arange(1, n_items + 1), s)
    return rng.choice(n_items, size, p=w / w.sum())

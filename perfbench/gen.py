"""Seeded input generators. The program under test only ever sees the files
these functions write; the same seed always gives the same bytes.

- ``make_tables`` / ``write_tables``: the ten TPC-H-ish base tables the
  esop fixtures and the curation queries read (same names, columns and
  types as the reference ``sf*`` directories), at a chosen row scale.
- ``SSTableTree``: a Cassandra data tree whose SSTable components are a pure
  function of (seed, keyspace, table, generation, component), so an SSTable
  that survives compaction is byte-identical in every snapshot that holds it.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_US = {"orders": 788918400_000000, "events": 1704067200_000000}


def _rng(seed: int, *labels) -> np.random.Generator:
    """Independent stream per (seed, label...): tables do not shift when
    another table's size changes."""
    h = hashlib.sha256(repr((seed,) + labels).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float, docs: int, vecs: int) -> dict:
    """Arrow tables keyed by name. ``scale`` is the TPC-H scale factor of the
    star schema (lineitem ≈ 6M × scale rows); ``docs``/``vecs`` size the
    curation corpus independently, since its cost is super-linear."""
    n_cust, n_supp = max(int(150_000 * scale), 50), max(int(10_000 * scale), 8)
    n_part, n_ord = max(int(200_000 * scale), 64), max(int(1_500_000 * scale), 200)
    n_li, n_ev = n_ord * 4, max(int(1_000_000 * scale), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": list(r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": list(r.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    day = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(EPOCH_US["orders"] + r.integers(0, 2404, n_ord) * day),
        "o_orderpriority": list(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(r, n_li, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(r.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(r.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(EPOCH_US["orders"] + r.integers(1, 2500, n_li) * day),
    })
    r = _rng(seed, "events")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_US["events"] + np.sort(r.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(r.integers(0, 1500, n_ev), pa.int64()),
        "event_type": list(r.choice(["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": _money(r, n_ev, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    t["documents"] = make_documents(seed, docs)
    r = _rng(seed, "embeddings")
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, vecs)
    emb = centers[labels] + r.normal(0, 1.6, (vecs, 64))
    # 5 % near-copies of an earlier vector: the near-dup queries' true positives
    dup = np.flatnonzero(r.random(vecs) < 0.05)
    dup = dup[dup > 0]
    emb[dup] = emb[r.integers(0, dup)] + r.normal(0, 0.02, (len(dup), 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(emb.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def make_documents(seed: int, n: int) -> pa.Table:
    """Random-vocabulary documents of 10–100 words; 5 % are an earlier
    document with a word appended ("dup") and, half the time, one word
    replaced — the near-duplicates every curation operator should find."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            words = texts[int(r.integers(0, i))].split() + ["dup"]
            if r.random() < 0.5:
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(r.choice(LANGS, n)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def split_stream(seed: int, table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``table``'s rows in a seeded arrival order as ``n_files``
    parquet files, one second apart in modification time (a file source
    with ``maxFilesPerTrigger=1`` reads them oldest first, one per
    micro-batch)."""
    order = _rng(seed, "arrival").permutation(table.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, rows in enumerate(np.array_split(order, n_files)):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.take(pa.array(rows)), path, compression="snappy")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def write_tables(out_dir: str, tables: dict) -> None:
    """``<out_dir>/<name>.parquet`` per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# -- Cassandra data tree ----------------------------------------------------

COMPONENTS = ("Data.db", "Index.db", "Filter.db", "Statistics.db", "Summary.db", "TOC.txt")
_COMPONENT_BYTES = {"Data.db": 32768, "Index.db": 768, "Filter.db": 96,
                    "Statistics.db": 512, "Summary.db": 64, "TOC.txt": 0}


def component_bytes(seed: int, ks: str, table: str, gen: int, comp: str) -> bytes:
    """A component's bytes: a function of (seed, keyspace, table, generation,
    component) only. Data.db sizes vary per SSTable; Digest.crc32 holds the
    CRC-32 of Data.db, as Cassandra writes it."""
    if comp == "TOC.txt":
        return ("\n".join(c for c in COMPONENTS + ("Digest.crc32",)) + "\n").encode()
    if comp == "Digest.crc32":
        return str(zlib.crc32(component_bytes(seed, ks, table, gen, "Data.db"))).encode()
    r = _rng(seed, ks, table, gen, comp)
    size = _COMPONENT_BYTES[comp]
    if comp == "Data.db":
        size = int(size * r.uniform(0.5, 1.5))
    return r.integers(0, 256, size, dtype=np.uint8).tobytes()


class SSTableTree:
    """A node's data directory: ``keyspaces × tables`` tables holding
    ``sstables`` live SSTables each. ``compact`` replaces a seeded share of
    them by fresh generations; ``snapshot`` materializes the live set under
    ``<table>-<id>/snapshots/<tag>/``."""

    def __init__(self, seed: int, root: str, keyspaces: int, tables: int, sstables: int):
        self.seed, self.root = seed, root
        self.tables = [(f"ks{k}", f"t{t}") for k in range(keyspaces) for t in range(tables)]
        self.live = {kt: list(range(1, sstables + 1)) for kt in self.tables}
        self.next_gen = {kt: sstables + 1 for kt in self.tables}
        self.rounds = 0

    def table_dir(self, ks: str, table: str) -> str:
        tid = hashlib.md5(f"{self.seed}/{ks}/{table}".encode()).hexdigest()
        return os.path.join(self.root, ks, f"{table}-{tid}")

    def compact(self, share: float) -> int:
        """Replace ``share`` of each table's SSTables (seeded choice) by new
        generations; returns how many were replaced."""
        self.rounds += 1
        replaced = 0
        for kt in self.tables:
            r = _rng(self.seed, "compact", self.rounds, *kt)
            live = self.live[kt]
            k = max(1, round(share * len(live)))
            drop = set(int(g) for g in r.choice(live, k, replace=False))
            keep = [g for g in live if g not in drop]
            self.live[kt] = keep + list(range(self.next_gen[kt], self.next_gen[kt] + k))
            self.next_gen[kt] += k
            replaced += k
        return replaced

    def snapshot(self, tag: str) -> dict[str, bytes]:
        """Write the live SSTables under snapshot ``tag``; returns
        {``<ks>/<table>-<id>/<file>``: bytes} — what a restore must rebuild."""
        files = {}
        for ks, table in self.tables:
            tdir = self.table_dir(ks, table)
            sdir = os.path.join(tdir, "snapshots", tag)
            os.makedirs(sdir, exist_ok=True)
            for gen in self.live[(ks, table)]:
                for comp in COMPONENTS + ("Digest.crc32",):
                    name = f"nb-{gen}-big-{comp}"
                    data = component_bytes(self.seed, ks, table, gen, comp)
                    with open(os.path.join(sdir, name), "wb") as fh:
                        fh.write(data)
                    files[os.path.relpath(os.path.join(tdir, name), self.root)] = data
        return files

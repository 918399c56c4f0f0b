"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, scale)``: the same seed writes
byte-identical files. Tables follow the schemas and value domains of the
engine's star schema (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), synthesized here from scratch so
the benchmark needs no data outside its own checkout. Tables with more than
``SPLIT_ROWS`` rows are written as a directory of ``N_FILES`` parquet files
with bounded row groups, after a seeded permutation of their rows, so a
scan gets more than one task and row order differs between seeds.

The word-count corpus mirrors the reference library's golden fixture: 20
single-line files over a 21-word vocabulary in which every word occurs
exactly ``k`` times, no trailing newline.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so cached inputs are rebuilt.
VERSION = 3

SPLIT_ROWS = 50_000
N_FILES = 8
ROW_GROUP_ROWS = 16_384

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "hot", "cold", "bright"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gizmo", "gear", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64

#: The reference word-count fixture's vocabulary (21 words).
CORPUS_VOCAB = (
    "This is a test for the mapreduce library you should see each word occurs "
    "exactly five-thousand times and expect input to"
).split()
CORPUS_FILES = 20

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so tables do not shift each other."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _days(lo: dt.datetime, hi: dt.datetime, rng: np.random.Generator, n: int) -> pa.Array:
    span = (hi - lo).days
    start = (lo - _EPOCH).days
    us = (start + rng.integers(0, span + 1, n)).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, out_dir: str, name: str, rng: np.random.Generator) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    if table.num_rows <= SPLIT_ROWS:
        pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)
        return
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=ROW_GROUP_ROWS)


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Relational tables; ``scale=1`` has the sizes of the engine's sf0.1
    (600k lineitem rows)."""
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(200, int(20_000 * scale))
    n_ord = max(1_500, int(150_000 * scale))
    n_evt = max(1_000, int(100_000 * scale))
    n_user = max(15, int(1_500 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
        }
    )
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names[r.integers(0, len(names), n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), r, n_ord),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)]),
        }
    )
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    order_of = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(order_of),
            "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), r, n_li),
        }
    )
    t["events"] = events_table(seed, n_evt, n_user)
    return t


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    r = _rng(seed, "events")
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    ts = np.sort(start + r.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    """Documents of 10..100 tokens; 5% are a copy of another document with
    a trailing ``dup`` token, so near-duplicate detection has work."""
    r = _rng(seed, "documents")
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))]) for _ in range(n)]
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] = texts[int(r.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Unit-norm float32 vectors of width ``EMBED_DIM`` with labels 0..9."""
    r = _rng(seed, "embeddings")
    m = r.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n).astype(np.int32)),
        }
    )


def write_tables(seed: int, scale: float, out_dir: str) -> None:
    """All ten tables at ``scale`` (1 = sf0.1 sizes) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, scale)
    tables["documents"] = documents_table(seed, max(500, int(5_000 * scale)))
    tables["embeddings"] = embeddings_table(seed, max(500, int(2_000 * scale)))
    r = _rng(seed, "layout")
    for name in sorted(tables):
        _write(tables[name], out_dir, name, r)


def corpus_texts(seed: int, k: int) -> list[str]:
    """20 single-line texts; every vocabulary word occurs exactly ``k`` times."""
    r = _rng(seed, "corpus")
    words = np.repeat(np.arange(len(CORPUS_VOCAB)), k)
    r.shuffle(words)
    # file i holds a share i / 210 of the words whatever the seed, so every
    # seed splits the same work the same way across tasks
    shares = np.arange(1, CORPUS_FILES + 1)
    cuts = (np.cumsum(shares)[:-1] * len(words)) // shares.sum()
    vocab = np.array(CORPUS_VOCAB)
    return [" ".join(vocab[chunk]) for chunk in np.split(words, cuts)]


def write_corpus(seed: int, k: int, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, text in enumerate(corpus_texts(seed, k)):
        path = os.path.join(out_dir, f"sample{i + 1}.txt")
        with open(path, "w", encoding="ascii", newline="") as f:
            f.write(text)
        paths.append(path)
    return paths


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key`` filled once by ``build(tmp_dir)``; a build that
    dies half way leaves no directory under the final name."""
    final = os.path.join(root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    return final


def main(argv: list[str]) -> None:
    """``gen.py tables SEED SCALE OUT`` or ``gen.py corpus SEED K OUT``."""
    kind, seed, size, out = argv
    if kind == "tables":
        write_tables(int(seed), float(size), out)
    elif kind == "corpus":
        write_corpus(int(seed), int(size), out)
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])

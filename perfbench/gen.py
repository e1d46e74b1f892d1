"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``: a TPC-H-like star
schema with the ``events``, ``documents`` and ``embeddings`` tables the
registry queries expect, and a Zipf word corpus for the paper's word count.
The same seed and size give the same bytes. Each call writes a fresh
directory and refuses to write into one that exists: the engine caches
table handles and footer row counts per path for the whole process, so a
file regenerated in place would be read through a stale handle.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "shiny"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]

# Separators between corpus words. Most are members of the reference
# tokenizer's delimiter class [!.:;_,'@?()/° \n\t]; " - " and '"' are not, so
# they yield tokens the encode filter drops or keeps verbatim.
SEPARATORS = [" "] * 40 + [
    ", ", ". ", "; ", ": ", "! ", "? ", " (", ") ", "/", "_", "@", "'", "°",
    "\n", "\t", "  ", " - ", ' "',
]
# Tokens on the edges of the encode filter: accented (kept only through
# their ASCII letters), digit-only (dropped), mixed case (counted apart
# from their lower-case forms).
EDGE_TOKENS = [
    "été", "à", "naïve", "café", "über", "ça", "señor",
    "123", "2024", "7", "42", "000",
    "Spark", "MapReduce", "HDFS", "Hadoop", "WordCount", "eBay", "The",
]
CORPUS_VOCABULARY = 20000
DUP_FRAC = 0.05
# The reference tokenizer's delimiter class, to count words as it does.
REFERENCE_DELIMITERS = re.compile(r"[!.:;_,'@?()/° \n\t]+")
_SYLLABLES = [
    c + v for c in "bcdfghjklmnprstvwz" for v in ("a", "e", "i", "o", "u", "ou", "ai")
]


def _fresh_dir(out_dir: str) -> None:
    if os.path.exists(out_dir):
        raise FileExistsError(f"{out_dir} exists; generated inputs are never overwritten")
    os.makedirs(out_dir)


def _write(out_dir: str, name: str, cols: dict, row_group_size: int = 16384) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, row_group_size=row_group_size)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "ms")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("ms"))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lower-case words, rank order, edge tokens spread
    over the first few hundred ranks."""
    words: list[str] = []
    seen: set[str] = set(EDGE_TOKENS)
    syl = np.array(_SYLLABLES)
    while len(words) < size:
        n = int(rng.integers(1, 5))
        w = "".join(syl[rng.integers(0, len(syl), n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = rng.choice(min(size, 400), size=len(EDGE_TOKENS), replace=False)
    for tok, r in sorted(zip(EDGE_TOKENS, ranks), key=lambda t: t[1]):
        words.insert(int(r), tok)
    return words


def corpus_texts(
    rng: np.random.Generator,
    n_docs: int,
    mean_words: int,
    vocab_size: int,
    zipf_s: float = 1.07,
) -> list[str]:
    """Documents of Zipf-distributed words joined by mixed separators.
    A ``DUP_FRAC`` share of documents are near-copies of earlier ones (a
    few words replaced), so near-duplicate detection has work to do."""
    vocab = np.array(vocabulary(rng, vocab_size), dtype=object)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** zipf_s
    p /= p.sum()
    seps = np.array(SEPARATORS, dtype=object)
    lengths = rng.integers(max(1, mean_words // 2), mean_words * 3 // 2 + 1, n_docs)
    total = int(lengths.sum())
    word_idx = rng.choice(len(vocab), size=total, p=p)
    sep_idx = rng.integers(0, len(seps), total)
    words = vocab[word_idx]
    gaps = seps[sep_idx]
    texts: list[str] = []
    pos = 0
    for n in lengths.tolist():
        w = words[pos : pos + n].tolist()
        g = gaps[pos : pos + n - 1].tolist() + [""]
        pos += n
        texts.append("".join(x for pair in zip(w, g) for x in pair))
    n_dups = int(n_docs * DUP_FRAC)
    if n_docs > 1 and n_dups:
        targets = rng.choice(np.arange(1, n_docs), size=min(n_dups, n_docs - 1), replace=False)
        for t in targets.tolist():
            src = texts[int(rng.integers(0, t))].split(" ")
            for _ in range(3):
                src[int(rng.integers(0, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts[t] = " ".join(src)
    return texts


def _documents(rng: np.random.Generator, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n).tolist()]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_corpus(out_dir: str, seed: int, n_docs: int, mean_words: int) -> dict:
    """Write ``documents.parquet`` (the word-count corpus) into a new
    ``out_dir``; return its docs, words, distinct words and bytes."""
    _fresh_dir(out_dir)
    rng = np.random.default_rng([seed, 1])
    texts = corpus_texts(rng, n_docs, mean_words, CORPUS_VOCABULARY)
    # Sixteen row groups: a scan splits only at row-group boundaries, and a
    # corpus of real size has many, so every core gets a share of the scan.
    nbytes = _write(out_dir, "documents", _documents(rng, texts), max(1, n_docs // 16))
    distinct: set[str] = set()
    n_words = 0
    for t in texts:
        toks = [w for w in REFERENCE_DELIMITERS.split(t) if w]
        n_words += len(toks)
        distinct.update(toks)
    return {
        "docs": n_docs,
        "words": n_words,
        "distinct_words": len(distinct),
        "text_bytes": sum(len(t.encode()) for t in texts),
        "file_bytes": nbytes,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the star schema plus ``events``, ``embeddings`` and a small
    ``documents`` table at scale ``sf`` into a new ``out_dir``. Row counts
    follow TPC-H: 6M lineitem rows per unit of sf. Column types follow
    FIXTURES.md: dates are timestamp[ms], ``events.ts`` is timestamp[ns]."""
    _fresh_dir(out_dir)
    rng = np.random.default_rng([seed, 2])
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(50, int(150_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(20, int(50_000 * sf))
    n_vecs = max(50, int(20_000 * sf))
    sizes: dict[str, int] = {}

    sizes["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    sizes["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    sizes["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    sizes["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
    })
    pk = np.arange(n_part, dtype=np.int64)
    sizes["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
        "p_type": pa.array(np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
    })
    # ~2400 order days from 1995-01-01; ship 1..121 days after the order.
    order_day = rng.integers(0, 2404, n_ord)
    sizes["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days("1995-01-01", order_day),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    sizes["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days("1995-01-01", np.repeat(order_day, lines) + rng.integers(1, 122, n_li)),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    sizes["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "ns") + (ts * 1000).astype("timedelta64[ns]"),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_events)]),
        "value": pa.array(_money(rng, 0.0, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()]),
    })
    emb = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    sizes["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
    })
    texts = corpus_texts(rng, n_docs, 40, 60, zipf_s=0.8)
    sizes["documents"] = _write(out_dir, "documents", _documents(rng, texts))
    return {"sf": sf, "lineitem_rows": n_li, "file_bytes": sizes}

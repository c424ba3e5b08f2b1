"""Seeded input generators, one per workload.

Each generator takes the seed and an output directory, writes only plain
files there (JSONL or parquet, via pyarrow — never through Spark), and
returns a manifest: the file paths, the input size, and the predictions the
output checks compare against. The same seed gives the same bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the fixture corpora (documents.parquet uses the same kind of
# short technical words); a word list keeps texts tokenizable by every
# operator — whitespace split, 3-gram shingles, bigrams.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small big data column query group filter order "
    "customer stream vector index model token graph node edge rank score "
    "cache shard split chunk page title author review paper result method "
    "signal noise layer train test label sample"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")

# doc_etl pipeline shape: the split op's window and step, and the extract
# validator's word floor. The stub provider derives abstract_summary from the
# first 30 words of the record's `text` (the whole paper, which split carries
# onto every chunk), so every chunk of a paper shorter than the floor fails
# validation and is retried.
CHUNK_SIZE = 40
CHUNK_OVERLAP = 10
CHUNK_STEP = CHUNK_SIZE - CHUNK_OVERLAP
EXTRACT_MIN_WORDS = 25


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n))


def predict_doc_counts(n_tokens: list[int]) -> dict[str, int]:
    """Row counts the doc_etl CLI must report, derived from token counts
    alone: split emits ceil(n/step) chunks per paper; a paper's chunks are
    valid iff it has at least EXTRACT_MIN_WORDS tokens; invalid chunks are
    filtered before the reduce, which emits one row per remaining paper."""
    chunks = valid = docs = 0
    for n in n_tokens:
        k = -(-n // CHUNK_STEP) if n > 0 else 0
        chunks += k
        if n >= EXTRACT_MIN_WORDS:
            valid += k
            docs += 1
    return {"chunks": chunks, "valid_chunks": valid, "docs_kept": docs}


def _quota_lengths(rng: np.random.Generator, n_docs: int, short_share: float,
                   mean_chunks: float, max_chunks: int) -> list[int]:
    """Token counts with a FIXED multiset per (size, shares): the number of
    short papers and of papers with k chunks are exact quotas (largest
    remainder over a truncated geometric law with the given mean), so
    every seed asks the same amount of work; the seed only shuffles the
    papers and draws each one's last-chunk length."""
    n_short = round(short_share * n_docs)
    p = 1.0 / mean_chunks
    weights = np.array([(1 - p) ** (k - 1) * p for k in range(1, max_chunks + 1)])
    raw = weights / weights.sum() * (n_docs - n_short)
    counts = np.floor(raw).astype(int)
    for i in np.argsort(raw - counts)[::-1][: (n_docs - n_short) - counts.sum()]:
        counts[i] += 1
    lengths = [int(rng.integers(3, EXTRACT_MIN_WORDS)) for _ in range(n_short)]
    for k, c in zip(range(1, max_chunks + 1), counts):
        lo = EXTRACT_MIN_WORDS if k == 1 else 1
        lengths += [(k - 1) * CHUNK_STEP + int(rng.integers(lo, CHUNK_STEP + 1)) for _ in range(c)]
    return [lengths[i] for i in rng.permutation(len(lengths))]


def gen_doc_corpus(
    seed: int,
    out_dir: str,
    n_docs: int = 16,
    short_share: float = 0.15,
    mean_chunks: float = 3.0,
    max_chunks: int = 8,
) -> dict:
    """arXiv-like papers as one JSONL file. Chunks per paper follow a
    truncated geometric law with the given mean; `short_share` of the
    papers are shorter than the extract validator's floor, so their chunk
    fails validation and the map op retries it."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "papers.jsonl")
    n_tokens = _quota_lengths(rng, n_docs, short_share, mean_chunks, max_chunks)
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    with open(path, "w", encoding="utf-8") as f:
        for i, n in enumerate(n_tokens):
            rec = {
                "doc_id": i,
                "arxiv_id": f"2401.{seed % 100:02d}{i:03d}",
                "title": _words(rng, int(rng.integers(3, 14))),
                "authors": [f"Author {int(a)}" for a in rng.integers(0, 500, int(rng.integers(1, 6)))],
                "summary": _words(rng, int(rng.integers(20, 60))),
                "text": _words(rng, n),
                "categories": ["cs.DB"] if rng.random() < 0.5 else ["cs.DB", "cs.LG"],
                "published": (base + timedelta(days=int(rng.integers(0, 300)))).isoformat(),
            }
            f.write(json.dumps(rec) + "\n")
    return {
        "path": path,
        "rows": n_docs,
        "bytes": os.path.getsize(path),
        "expect": predict_doc_counts(n_tokens),
    }


def _planted(rng: np.random.Generator, n: int, share: float, first: int) -> set[int]:
    """Exactly round(share * n) positions in [first, n), chosen by the seed."""
    k = min(n - first, round(share * n))
    return {int(i) for i in first + rng.permutation(n - first)[:k]}


def _write_table(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def gen_near_dup_tables(
    seed: int,
    out_dir: str,
    n_docs: int = 240,
    n_vecs: int = 160,
    dup_share: float = 0.15,
    dim: int = 64,
    n_labels: int = 10,
) -> dict:
    """`documents` and `embeddings` tables (FIXTURES.md schemas) with a
    planted near-duplicate share: exactly that share of docs are copies of an
    earlier doc with one word replaced, and that share of vectors are an
    earlier vector plus a 1e-3 perturbation."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    dup_docs = _planted(rng, n_docs, dup_share, 11)
    for i in range(n_docs):
        if i in dup_docs:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            texts.append(_words(rng, int(rng.integers(8, 90))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 1.5, size=(n_vecs, dim))
    for i in sorted(_planted(rng, n_vecs, dup_share, 11)):
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 1e-3, size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    _write_table(os.path.join(out_dir, "documents.parquet"), docs)
    _write_table(os.path.join(out_dir, "embeddings.parquet"), emb)
    return {"dir": out_dir, "rows": n_docs + n_vecs, "tables": ["documents", "embeddings"]}


def gen_stream_backlog(
    seed: int,
    out_dir: str,
    n_files: int = 3,
    rows_per_file: int = 160,
    repeat_share: float = 0.3,
) -> dict:
    """A landing zone of micro-batch parquet files (doc_id, text, source).
    Exactly `repeat_share` of each later file's rows repeat the text of a row landed in
    an EARLIER file, so the dedup store sees cross-batch hits."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    landed: list[str] = []
    paths = []
    doc_id = 0
    for b in range(n_files):
        ids, texts = [], []
        repeats = _planted(rng, rows_per_file, repeat_share if b else 0.0, 0)
        for r in range(rows_per_file):
            if r in repeats:
                t = landed[int(rng.integers(0, len(landed)))]
            else:
                t = _words(rng, int(rng.integers(5, 60)))
            ids.append(doc_id)
            texts.append(t)
            doc_id += 1
        landed.extend(texts)
        p = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        _write_table(p, pa.table({
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts),
            "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 8, len(ids))]),
        }))
        # distinct mtimes keep the file source's listing order = landing order
        os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
        paths.append(p)
    return {
        "dir": out_dir,
        "files": paths,
        "rows": n_files * rows_per_file,
        "bytes": sum(os.path.getsize(p) for p in paths),
        "expect": {"distinct_texts": len(set(landed))},
    }


def gen_analytics_tables(
    seed: int,
    out_dir: str,
    scale: float = 0.002,
    n_events: int = 4000,
) -> dict:
    """TPC-H-shaped star schema plus `events`, following FIXTURES.md and the
    value ranges of the sf0.01 fixture (orders 1995-2001, lineitem flags
    A/N/R x O/F, 5 regions x 25 nations, events over 30 days of 2024)."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write_table(os.path.join(out_dir, "region.parquet"), pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(regions),
    }))
    _write_table(os.path.join(out_dir, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }))
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write_table(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([segs[int(j)] for j in rng.integers(0, 5, n_cust)]),
    }))
    _write_table(os.path.join(out_dir, "supplier.parquet"), pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    }))
    colors = ["small", "red", "blue", "green", "large"]
    things = ["ring", "widget", "bolt", "gear", "plate"]
    types = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
    _write_table(os.path.join(out_dir, "part.parquet"), pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{colors[int(a)]} {things[int(b)]}" for a, b in rng.integers(0, 5, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{int(j)}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([types[int(j)] for j in rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }))
    day0 = np.datetime64("1995-01-01", "ms")
    o_dates = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write_table(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[int(j)] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(o_dates, type=pa.timestamp("ms")),
        "o_orderpriority": pa.array([
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[int(j)]
            for j in rng.integers(0, 5, n_ord)
        ]),
    }))
    per_order = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_ship = (o_dates[l_ok] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
    _write_table(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[int(j)] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("O", "F")[int(j)] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(l_ship, type=pa.timestamp("ms")),
    }))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    etypes = ["click", "signup", "error", "view", "purchase"]
    _write_table(os.path.join(out_dir, "events.parquet"), pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events).astype(np.int64)),
        "event_type": pa.array([etypes[int(j)] for j in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(j)}) for j in rng.integers(0, 100, n_events)]),
    }))
    tables = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
    return {"dir": out_dir, "rows": n_li + n_events, "tables": tables}


def file_digest(paths: list[str]) -> str:
    """sha256 over the bytes of `paths`, in order — the determinism probe."""
    import hashlib

    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


"""Seeded generators for the parquet inputs of the ``operators`` workload.

* ``documents.parquet`` for the corpus-curation build: English-like
  documents, a share of them planted in near-duplicate clusters (word
  substitutions plus byte-identical copies), and short junk documents
  that fail the quality and language gates.  The plant is the ground
  truth: a correct build keeps exactly one document per planted cluster
  and every good singleton.
* ``lineitem``/``orders``/``embeddings`` with the FIXTURES.md §A schemas
  for the registry queries (the graph queries read the order/part
  co-purchase graph, semantic dedup the embeddings).

Files are written with pyarrow, so the same seed gives byte-identical
files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "and", "of", "to", "in"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t", "v", "w", "br", "cl", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ea", "ou"]
_CODAS = ["", "n", "r", "s", "t", "l", "nd", "rk", "st"]
_JUNK = "#@%&*+=~^$!?"


def vocabulary(n: int = 3000) -> list[str]:
    """A fixed (seed-independent) list of distinct pronounceable words."""
    rng = random.Random(0)
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(1, 3)))
        w += rng.choice(_CODAS)
        if w not in STOPWORDS and len(w) > 2:
            words.add(w)
    return sorted(words)


def _good_text(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    out: list[str] = []
    while len(out) < n_words:
        if out and out[-1] not in STOPWORDS and rng.random() < 0.3:
            out.append(rng.choice(STOPWORDS))
        w = rng.choice(vocab)
        if rng.random() < 0.08:
            w += "."
        out.append(w)
    return out


def _variant(rng: random.Random, vocab: list[str], words: list[str]) -> list[str]:
    """Near duplicate: 3 spaced content-word substitutions (3-shingle
    Jaccard vs the base stays ~0.75, far above the 0.5 gate)."""
    out = list(words)
    step = len(out) // 3
    for j in range(3):
        i = j * step + rng.randrange(step)
        out[i] = rng.choice(vocab)
    return out


def _junk_text(rng: random.Random) -> str:
    return " ".join(
        "".join(rng.choice(_JUNK + "0123456789") for _ in range(rng.randint(3, 7)))
        for _ in range(rng.randint(4, 9))
    )


def _documents_table(ids, texts, rng: random.Random) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` with planted near-duplicate clusters;
    returns the plant (doc -> group) and the expected kept count."""
    rng = random.Random(seed)
    vocab = vocabulary()
    texts: list[str] = []
    group: list[int] = []  # planted group per doc; -1 = junk
    n_groups = 0
    n_clustered_target = int(n_docs * 0.3)
    n_junk = int(n_docs * 0.05)
    clustered = 0
    while clustered < n_clustered_target:
        size = min(rng.randint(2, 6), n_clustered_target - clustered)
        if size < 2:
            break
        base = _good_text(rng, vocab, rng.randint(60, 120))
        members = [base]
        for _ in range(size - 1):
            # one member in four is a byte-identical copy (exact dedup path)
            members.append(list(base) if rng.random() < 0.25 else _variant(rng, vocab, base))
        for m in members:
            texts.append(" ".join(m))
            group.append(n_groups)
        n_groups += 1
        clustered += size
    n_good = n_docs - clustered - n_junk
    for _ in range(n_good):
        texts.append(" ".join(_good_text(rng, vocab, rng.randint(60, 120))))
        group.append(n_groups)
        n_groups += 1
    for _ in range(n_junk):
        texts.append(_junk_text(rng))
        group.append(-1)
    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = list(range(1, len(texts) + 1))
    texts = [texts[i] for i in order]
    group = [group[i] for i in order]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents_table(ids, texts, rng), os.path.join(out_dir, "documents.parquet"))
    return {"groups": n_groups, "doc_group": dict(zip(ids, group))}


def registry_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write lineitem/orders/embeddings at scale factor ``sf`` (lineitem
    ~6M*sf rows, like the FIXTURES.md §A tables)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = int(1_500_000 * sf)
    n_parts = max(200, int(200_000 * sf))
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    epoch = dt.datetime(1992, 1, 1)
    odate = np.datetime64(epoch, "us") + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": np.round(rng.uniform(900, 450_000, n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
        }
    )
    # ~1.5% of orders have no lines; the rest 1..7 lines
    lines = rng.integers(1, 8, n_orders)
    lines[rng.random(n_orders) < 0.015] = 0
    l_okey = np.repeat(okeys, lines)
    n_li = len(l_okey)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines if k]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    lineitem = pa.table(
        {
            "l_orderkey": l_okey,
            "l_partkey": rng.integers(0, n_parts, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, max(10, n_parts // 20), n_li, dtype=np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
            "l_shipdate": pa.array(
                np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }
    )
    # embeddings: 500 x 64 unit-ish vectors, every 8th a perturbed copy
    emb = rng.standard_normal((500, 64)).astype(np.float32) * 0.15
    emb[7::8] = emb[6::8][: len(emb[7::8])] + rng.standard_normal((len(emb[7::8]), 64)).astype(np.float32) * 0.01
    embeddings = pa.table(
        {
            "vec_id": np.arange(500, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, 500, dtype=np.int32),
        }
    )
    tables = {"orders": orders, "lineitem": lineitem, "embeddings": embeddings}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

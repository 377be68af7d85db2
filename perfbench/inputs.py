"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical files. The engine only ever sees these generated files; the
benchmark never reads fixture data from outside its own work directory.

- :func:`write_star_schema` writes the ten parquet tables the query
  registry reads (``workloads.all_queries()``), shaped like the engine's
  test fixtures (``schemas.TESTDATA_TABLES``): a TPC-H-like star schema,
  an ``events`` stream, a ``documents`` corpus with planted near-duplicates
  and 64-d unit ``embeddings`` with a weak per-label direction.
- :func:`write_corpus` writes a curation corpus with planted exact and near
  duplicates, modelled on ``tools/corpus_scale.synthesize``.
- :func:`write_tweets_csv` writes a headerless Sentiment140-layout CSV whose
  noise rates are calibrated so LR/SVM/NB land near the reference's
  published accuracies (the knobs of ``tools/scale_run.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def star_schema_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the fixture ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 500),
        "lineitem": max(int(6_000_000 * sf), 2_000),
        "events": max(int(1_000_000 * sf), 1_000),
        "documents": max(int(50_000 * sf), 200),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixtures: scan parallelism is a
    # property of the engine (sources.ensure_min_parallelism), not of the input
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    rows = star_schema_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    n = rows

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": names[rng.integers(0, len(names), np_)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, no, 2400),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, 2500),
        }
    )
    ne = n["events"]
    n_users = max(nc // 10, 20)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(20.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and i % 20 == 6:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, nv)
    vecs = rng.standard_normal((nv, EMBED_DIM)) + 1.2 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- curation corpus with planted duplicates ----------------------------------

CORPUS_TOKENS = 64  # tokens per base document
CORPUS_VOCAB = 5000  # P(rank) ∝ 1/rank, as in tools/corpus_scale.py
NEAR_DUP_TAIL = "neardup"  # the one token a near duplicate adds to its base


def write_corpus(path: str, n_docs: int, seed: int) -> list[str]:
    """Write a ``(doc_id, text, source)`` parquet corpus; return the texts.

    Of every ten ids, ``id ≡ 9 (mod 10)`` repeats its decade's base text
    exactly and ``id ≡ 8`` is that base plus one token: a near duplicate
    whose token-set Jaccard with the base is about 0.98 (a base has 40 to
    60 distinct tokens). Distinct base documents share only frequent words, far below
    any dedup threshold. So a transitive near-dedup must remove exactly the
    ids ≡ 8 and ≡ 9: 20% of the corpus when ``n_docs`` is a multiple of 10.
    """
    rng = np.random.default_rng(seed)
    ranks = np.floor(np.exp(rng.random((n_docs, CORPUS_TOKENS)) * np.log(CORPUS_VOCAB)))
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            texts.append(texts[i - 9])
        elif i % 10 == 8:
            texts.append(f"{texts[i - 8]} {NEAR_DUP_TAIL}")
        else:
            texts.append(" ".join(f"w{int(r)}" for r in ranks[i]))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "source": [f"src{s}" for s in rng.integers(0, 5, n_docs)],
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    _write(table, path)
    return texts


# -- Sentiment140-shaped tweets ---------------------------------------------

POS = ["love", "great", "happy", "awesome", "excellent", "win", "sunshine", "best"]
NEG = ["hate", "awful", "sad", "terrible", "worst", "fail", "gloomy", "broken"]
LABEL_NOISE = 0.19  # fraction of labels flipped after the text is drawn
BLEED = 0.15  # tweets carrying one opposite-class sentiment word
ZIPF_VOCAB = 5000  # background vocabulary, P(rank) ∝ 1/rank
_DIGITS_TO_LETTERS = str.maketrans("0123456789", "abcdefghij")


def write_tweets_csv(path: str, n_rows: int, seed: int) -> int:
    """Write a headerless Sentiment140-layout CSV; return its row count.

    Every tweet carries at least two alphabetic sentiment words, so the
    reference clean chain keeps every row: the clean row count is exactly
    ``n_rows``.
    """
    rng = np.random.default_rng(seed)
    sentiment = np.where(np.arange(n_rows) % 2 == 1, 4, 0)
    pos, neg = np.array(POS), np.array(NEG)
    ranks = np.floor(np.exp(rng.random((n_rows, 5)) * np.log(ZIPF_VOCAB))).astype(int)
    signal = rng.integers(0, len(POS), (n_rows, 3))
    third = rng.random(n_rows) < 0.5
    bleed = rng.random(n_rows) < BLEED
    bleed_word = rng.integers(0, len(POS), n_rows)
    mention = rng.integers(0, 3, n_rows) == 0
    url = rng.integers(0, 4, n_rows) == 0
    flip = rng.random(n_rows) < LABEL_NOISE
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        for i in range(n_rows):
            own, other = (pos, neg) if sentiment[i] == 4 else (neg, pos)
            words = [own[signal[i, 0]], own[signal[i, 1]]]
            if third[i]:
                words.append(own[signal[i, 2]])
            words += ["w" + str(r).translate(_DIGITS_TO_LETTERS) for r in ranks[i]]
            if bleed[i]:
                words.append(other[bleed_word[i]])
            if mention[i]:
                words.append(f"@user{i % 50}")
            if url[i]:
                words.append("https://t.co/x1")
            label = 4 - sentiment[i] if flip[i] else sentiment[i]
            fh.write(
                f"{label},{i},Mon Apr 06 22:19:45 PDT 2009,NO_QUERY,u{i % 97},"
                f"{' '.join(words)}\n"
            )
    return n_rows

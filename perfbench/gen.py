"""Seeded input generators. Every input a workload runs on is a pure
function of ``(seed, stream position)`` and, for keyed streams, the replay
state the benchmark keeps; nothing reads the repository's test data."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992_US = 694_224_000 * 1_000_000

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us", tz="UTC")),
        ("o_orderpriority", pa.string()),
    ]
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator for one stream position of one seed."""
    return np.random.default_rng([seed, *stream])


def order_rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """``orders``-shaped rows (the TPC-H columns) for the given keys."""
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_001, n), pa.int64()),
            "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500_000.0, n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(
                _EPOCH_1992_US + rng.integers(0, 2_400, n) * _DAY_US,
                pa.timestamp("us", tz="UTC"),
            ),
            "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, n)]),
        },
        schema=ORDERS_SCHEMA,
    )


def recent_keys(rng: np.random.Generator, max_key: int, n: int) -> np.ndarray:
    """``n`` distinct existing keys in ``1..max_key``, skewed toward the
    most recent (highest) keys: offsets below the top are exponential
    with a mean of 5% of the key range."""
    scale = max(1.0, 0.05 * max_key)
    picked: set[int] = set()
    while len(picked) < n:
        offs = rng.exponential(scale, 2 * n).astype(np.int64)
        for k in max_key - np.clip(offs, 0, max_key - 1):
            picked.add(int(k))
            if len(picked) == n:
                break
    return np.sort(np.fromiter(picked, np.int64, n))


# -- curation corpus ----------------------------------------------------

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "xi", "bu",
    "qo", "fe", "gi", "ha", "ju", "wy", "ze", "co",
)
#: template sentences many documents share: the substring-dedup signal
_BOILERPLATE = (
    "all rights reserved by the original publisher of this page",
    "click here to subscribe to the weekly newsletter for updates",
    "this article was generated from a template and may contain errors",
)


def vocabulary(size: int = 4_000) -> np.ndarray:
    """Deterministic synthetic words (same for every seed)."""
    words = []
    n = len(_SYLLABLES)
    for i in range(size):
        a, b, c = i % n, (i // n) % n, (i // (n * n)) % n
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + _SYLLABLES[c] + str(i % 7))
    return np.array(words)


def _text(rng: np.random.Generator, vocab: np.ndarray) -> str:
    n = int(rng.integers(30, 90))
    # Zipf-ish word choice: frequent words recur, the tail stays distinct
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(vocab) - 1)
    words = list(vocab[(idx * 7919 + int(rng.integers(0, 50))) % len(vocab)])
    if rng.random() < 0.3:
        pos = int(rng.integers(0, len(words)))
        words[pos:pos] = _BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))].split()
    return " ".join(words)


def _near_copy(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """A copy with at most one word replaced."""
    words = text.split()
    if rng.random() < 0.5:
        words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
    return " ".join(words)


def documents(seed: int, round_no: int, n: int, n_dup_families: int) -> dict:
    """A corpus of ``n`` documents: ``n - 2 * n_dup_families`` unique
    documents plus ``n_dup_families`` planted families of one original
    and two exact or one-word-edited copies. Returns ``ids``, ``texts``,
    ``families`` (lists of doc ids) and ``singletons`` (ids of unique
    documents, which no planted family touches)."""
    rng = rng_for(seed, 10, round_no)
    vocab = vocabulary()
    n_unique = n - 2 * n_dup_families
    texts = [_text(rng, vocab) for _ in range(n_unique)]
    families = []
    for f in range(n_dup_families):
        src = f  # the first documents seed the families
        fam = [src]
        for _ in range(2):
            fam.append(len(texts))
            texts.append(_near_copy(rng, texts[src], vocab))
        families.append(fam)
    ids = np.arange(len(texts), dtype=np.int64)
    perm = rng.permutation(len(texts))
    # shuffle storage order so no family sits in one file
    return {
        "ids": ids[perm],
        "texts": [texts[i] for i in perm],
        "families": families,
        "singletons": list(range(n_dup_families, n_unique)),
    }


def arriving_docs(
    seed: int, round_no: int, batch_no: int, corpus_ids, corpus_texts,
    singletons, n_fresh: int, n_copies: int, id_base: int,
) -> dict:
    """One arriving batch: fresh documents plus exact copies of corpus
    singletons. ``planted`` maps each copy's id to its corpus original."""
    rng = rng_for(seed, 11, round_no, batch_no)
    vocab = vocabulary()
    texts = [_text(rng, vocab) for _ in range(n_fresh)]
    by_id = dict(zip(corpus_ids.tolist(), corpus_texts))
    originals = rng.choice(np.asarray(singletons), n_copies, replace=False)
    planted = {}
    for o in originals:
        planted[id_base + len(texts)] = int(o)
        texts.append(by_id[int(o)])
    ids = np.arange(id_base, id_base + len(texts), dtype=np.int64)
    return {"ids": ids, "texts": texts, "planted": planted}


# -- embeddings ---------------------------------------------------------

DIM = 64


def vectors(seed: int, round_no: int, n: int, n_clusters: int = 12) -> np.ndarray:
    """Clustered unit vectors (float32), ``n x DIM``."""
    rng = rng_for(seed, 20, round_no)
    centers = rng.normal(size=(n_clusters, DIM))
    labels = rng.integers(0, n_clusters, n)
    v = centers[labels] + 0.6 * rng.normal(size=(n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def perturbed(seed: int, round_no: int, batch_no: int, base: np.ndarray, n: int) -> np.ndarray:
    """``n`` queries perturbed from random rows of ``base``."""
    rng = rng_for(seed, 21, round_no, batch_no)
    rows = base[rng.integers(0, len(base), n)]
    v = rows + 0.02 * rng.normal(size=rows.shape)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vec_table(ids, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(vecs) * DIM + 1, DIM, dtype=np.int32)), flat
    )
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


# -- hosted layer -------------------------------------------------------

#: feature-layer schema the curation corpus is hosted under
DOC_FIELDS = [
    {"name": "OBJECTID", "type": "esriFieldTypeOID"},
    {"name": "doc_id", "type": "esriFieldTypeInteger"},
    {"name": "text", "type": "esriFieldTypeString"},
    {"name": "source", "type": "esriFieldTypeString"},
]
DOC_COLUMNS = ("doc_id", "text", "source")


def doc_rows(ids, texts) -> list[dict]:
    """Feature attribute dicts for documents (no OBJECTID)."""
    return [
        {"doc_id": int(i), "text": t, "source": f"src{int(i) % 5}"}
        for i, t in zip(ids, texts)
    ]


def doc_table(ids, texts) -> pa.Table:
    """``doc_id, text, source`` rows, as :func:`doc_rows` holds them."""
    rows = doc_rows(ids, texts)
    return pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "source": pa.array([r["source"] for r in rows], pa.string()),
        }
    )

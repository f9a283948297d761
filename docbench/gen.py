"""Seeded input generator: the `documents` and `embeddings` tables.

The engine sees only the parquet files written here. The same seed gives
byte-identical files, so the engine's footer fingerprints
(`store.table_fingerprint`) and every store key derived from them are
stable across runs of one seed.

Pinned properties (checked by tests/test_gen.py):

- exactly ``round(LONG_SHARE * n_docs)`` documents are longer than
  ``LONG_CHARS`` characters, so the chunkers split them;
- exactly ``round(EXACT_DUP_SHARE * n_docs)`` documents repeat the text of
  another document verbatim;
- exactly ``round(NEAR_DUP_SHARE * n_docs)`` documents are another
  document's text plus ``NEAR_DUP_TOKENS`` appended tokens, one of them
  unique, so no near-duplicate is also an exact duplicate;
- embeddings are ``EMB_DIM``-dim float32 vectors scattered around
  ``N_LABELS`` seeded unit centroids, labelled by their centroid.

Text is lower-case tokens joined by single spaces, the shape of the
engine's testdata, because several DuckDB oracles re-split on whitespace.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the testdata vocabulary, most frequent first (Zipf-like weights by
# rank). It carries the fixed needle of q_trigram_search ("spark window");
# at ranks 4 and 8 the needle occurs in about a fifth of the documents.
VOCAB = (
    "the a data spark table value key window row query scan join filter"
    " group sort hash order line part column batch stream fast slow big small"
    " merge agg vector customer dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 5

LONG_CHARS = 700  # operators/chunker.DEFAULT_CHUNK_SIZE, the reference's chunk size
LONG_SHARE = 0.25
SHORT_RANGE = (60, 600)  # target length of a short original, characters
LONG_RANGE = (LONG_CHARS + 20, 1600)
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NEAR_DUP_TOKENS = 3

EMB_DIM = 64
N_LABELS = 10
EMB_NOISE = 0.08  # per-coordinate sd around a unit centroid

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _text(rng: np.random.Generator, weights: np.ndarray, target: int, hi: int) -> str:
    """Tokens drawn from VOCAB until the text reaches `target` characters;
    never longer than hi."""
    toks: list[str] = []
    n = -1
    # every token is at least one character, so hi // 2 + 1 draws suffice
    for j in rng.choice(len(VOCAB), size=hi // 2 + 1, p=weights):
        t = VOCAB[int(j)]
        if n >= target or n + 1 + len(t) > hi:
            break
        toks.append(t)
        n += 1 + len(t)
    return " ".join(toks)


def document_texts(seed: int, n_docs: int) -> tuple[list[str], dict[str, list[int]]]:
    """The texts by doc_id, and the ids of each role
    (``original``, ``exact``, ``near``)."""
    rng = np.random.default_rng([seed, 1])
    n_long = round(LONG_SHARE * n_docs)
    n_exact = round(EXACT_DUP_SHARE * n_docs)
    n_near = round(NEAR_DUP_SHARE * n_docs)
    is_long = np.zeros(n_docs, bool)
    is_long[rng.permutation(n_docs)[:n_long]] = True
    perm = rng.permutation(n_docs)
    roles = {
        "exact": sorted(int(i) for i in perm[:n_exact]),
        "near": sorted(int(i) for i in perm[n_exact : n_exact + n_near]),
        "original": sorted(int(i) for i in perm[n_exact + n_near :]),
    }
    # Zipf-like term weights in a fixed order: a few common terms, a long
    # tail, and the same characters per token for every seed
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    w /= w.sum()

    texts: list[str] = [""] * n_docs
    seen: set[str] = set()
    by_class: dict[bool, list[int]] = {True: [], False: []}
    # target lengths spread evenly over each class's range, in seeded order:
    # seeds change the text, not the corpus size
    targets: dict[int, int] = {}
    for long_ in (False, True):
        ids = [i for i in roles["original"] if is_long[i] == long_]
        lo, hi = LONG_RANGE if long_ else SHORT_RANGE
        grid = lo + (hi - lo) * (np.arange(len(ids)) + 0.5) / max(len(ids), 1)
        targets.update(zip(ids, grid[rng.permutation(len(ids))].astype(int).tolist()))
    for i in roles["original"]:
        hi = (LONG_RANGE if is_long[i] else SHORT_RANGE)[1]
        t = _text(rng, w, targets[i], hi)
        while t in seen:  # originals are pairwise distinct
            t = _text(rng, w, targets[i], hi)
        seen.add(t)
        texts[i] = t
        by_class[bool(is_long[i])].append(i)
    if not by_class[True] or not by_class[False]:
        raise ValueError(f"n_docs={n_docs} too small for both length classes")
    for i in roles["exact"]:
        pool = by_class[bool(is_long[i])]
        texts[i] = texts[pool[int(rng.integers(len(pool)))]]
    for i in roles["near"]:
        pool = by_class[bool(is_long[i])]
        src = texts[pool[int(rng.integers(len(pool)))]]
        extra = [VOCAB[int(j)] for j in rng.integers(len(VOCAB), size=NEAR_DUP_TOKENS - 1)]
        texts[i] = " ".join([src, *extra, f"nd{i}"])
    return texts, roles


def documents(seed: int, n_docs: int) -> pa.Table:
    texts, _ = document_texts(seed, n_docs)
    rng = np.random.default_rng([seed, 2])
    return pa.Table.from_pydict(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [LANGS[int(i)] for i in rng.integers(len(LANGS), size=n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOCUMENTS_SCHEMA,
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    cents = rng.normal(size=(N_LABELS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(n_vecs) % N_LABELS)
    vecs = (cents[labels] + rng.normal(scale=EMB_NOISE, size=(n_vecs, EMB_DIM))).astype(
        np.float32
    )
    return pa.Table.from_pydict(
        {
            "vec_id": list(range(n_vecs)),
            "embedding": [v.tolist() for v in vecs],
            "label": labels.astype(np.int32).tolist(),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def write(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write documents.parquet and embeddings.parquet into `out_dir`,
    one row group each, like the engine's testdata."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (
        ("documents", documents(seed, n_docs)),
        ("embeddings", embeddings(seed, n_vecs)),
    ):
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(table.num_rows, 1),
        )

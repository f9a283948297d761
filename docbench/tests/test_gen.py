"""Pins the generated inputs' properties (pure; no Spark)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from docbench import gen

N = 400


def _shingles(text: str) -> set[str]:
    t = text.split()
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.write(str(tmp_path / "a"), 5, N, 300)
    gen.write(str(tmp_path / "b"), 5, N, 300)
    gen.write(str(tmp_path / "c"), 6, N, 300)
    for t in ("documents", "embeddings"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a != (tmp_path / "c" / f"{t}.parquet").read_bytes()
        assert pq.ParquetFile(tmp_path / "a" / f"{t}.parquet").metadata.num_row_groups == 1


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_long_share_is_exact(seed):
    docs = gen.documents(seed, N).to_pydict()
    n_long = sum(len(t) > gen.LONG_CHARS for t in docs["text"])
    assert n_long == round(gen.LONG_SHARE * N)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert docs["doc_id"] == list(range(N))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_duplicate_shares_are_exact(seed):
    texts, roles = gen.document_texts(seed, N)
    originals = {texts[i] for i in roles["original"]}
    assert len(originals) == len(roles["original"])  # originals pairwise distinct
    assert len(roles["exact"]) == round(gen.EXACT_DUP_SHARE * N)
    assert len(roles["near"]) == round(gen.NEAR_DUP_SHARE * N)
    # every exact duplicate repeats an original verbatim
    assert all(texts[i] in originals for i in roles["exact"])
    # documents whose text another document already has: exactly the exact duplicates
    first: dict[str, int] = {}
    for i in roles["original"]:
        first[texts[i]] = i
    repeats = [i for i, t in enumerate(texts) if first.get(t, i) != i]
    assert sorted(repeats) == roles["exact"]
    for i in roles["near"]:
        src = texts[i].rsplit(" ", gen.NEAR_DUP_TOKENS)[0]
        assert src in originals and texts[i] not in originals
        a, b = _shingles(src), _shingles(texts[i])
        assert len(a & b) / len(a | b) >= 0.6
    assert len({texts[i] for i in roles["near"]}) == len(roles["near"])


def test_embeddings_cluster_around_labelled_centroids():
    t = gen.embeddings(3, 1000).to_pydict()
    vecs = np.array(t["embedding"], dtype=np.float64)
    labels = np.array(t["label"])
    assert vecs.shape == (1000, gen.EMB_DIM)
    assert sorted(set(labels)) == list(range(gen.N_LABELS))
    assert np.bincount(labels).min() == 1000 // gen.N_LABELS
    cents = np.stack([vecs[labels == k].mean(axis=0) for k in range(gen.N_LABELS)])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T
    assert (cos.argmax(axis=1) == labels).all()


def test_seeds_change_text_not_corpus_size():
    sizes = [sum(gen.documents(seed, N).to_pydict()["n_chars"]) for seed in range(6)]
    assert max(sizes) / min(sizes) < 1.03


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_trigram_needle_occurs(seed):
    # q_trigram_search's fixed needle; an empty result would fail its check
    texts = gen.documents(seed, 300).to_pydict()["text"]
    assert 0.1 < sum("spark window" in t for t in texts) / len(texts) < 0.35

"""Seeded input generators for the benchmark workloads.

Every generator takes an explicit ``seed`` and returns numpy / plain
Python data; the same seed always gives the same inputs. The engine
only ever sees these inputs as DataFrames, which ``run.py`` stages
through Parquet.

The three vector regimes mirror FIXTURES.md B1-B3 (the shapes the
reference implementation processes); the text corpus carries planted
near-duplicate pairs so dedup quality is measurable.
"""

from __future__ import annotations

import numpy as np

N_CLUSTERS = 10


def clustered_sphere(n: int, dim: int, seed: int) -> np.ndarray:
    """CIFAR/ResNet-like embeddings (FIXTURES.md B3): 10 centres on the
    unit sphere plus gaussian noise, not re-normalised."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_CLUSTERS, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, size=n)
    x = centres[labels] + rng.standard_normal((n, dim)) * (0.6 / np.sqrt(dim))
    return x.astype(np.float32)


def with_zeros(x: np.ndarray, frac: float, seed: int) -> np.ndarray:
    """Copy of ``x`` with a ``frac`` share of rows zeroed, for the cosine
    zero-norm guard."""
    out = x.copy()
    n_zero = int(round(len(x) * frac))
    out[np.random.default_rng(seed).choice(len(x), size=n_zero, replace=False)] = 0.0
    return out


def pixels(n: int, dim: int, seed: int) -> np.ndarray:
    """FashionMNIST-like vectors (FIXTURES.md B2): 10 cluster centres in
    [0, 1]^dim plus noise, clipped and quantised to uint8 / 255."""
    rng = np.random.default_rng(seed)
    centres = rng.random((N_CLUSTERS, dim))
    labels = rng.integers(0, N_CLUSTERS, size=n)
    x = np.clip(centres[labels] + rng.normal(0.0, 0.15, size=(n, dim)), 0.0, 1.0)
    return (np.round(x * 255.0) / 255.0).astype(np.float32)


def gaussian(n: int, dim: int, seed: int) -> np.ndarray:
    """The reference CLI's synthetic build input (FIXTURES.md B1):
    i.i.d. standard gaussian rows."""
    return np.random.default_rng(seed).standard_normal((n, dim)).astype(np.float32)


def query_mix(base: np.ndarray, fresh: np.ndarray, seed: int) -> np.ndarray:
    """FIXTURES.md B4: as many copies of non-zero base rows (the
    self-match case) as there are ``fresh`` draws from the same
    distribution; copies first."""
    rng = np.random.default_rng(seed)
    nonzero = np.flatnonzero(np.abs(base).sum(axis=1) > 0)
    picked = base[rng.choice(nonzero, size=len(fresh), replace=False)]
    return np.concatenate([picked, fresh]).astype(np.float32)


def planted_corpus(
    n_docs: int,
    seed: int,
    dup_frac: float = 0.1,
    doc_len: tuple[int, int] = (60, 120),
    vocab_size: int = 5000,
    edits: int = 3,
) -> tuple[list[str], list[tuple[int, int]]]:
    """Text corpus with planted near-duplicates.

    ``n_docs`` documents in total; a ``dup_frac`` share of them are
    copies of an earlier original with ``edits`` token substitutions.
    Originals draw tokens from a Zipf-like vocabulary of made-up words,
    so two originals share almost no word 3-grams. Returns the texts
    (doc_id = list index) and the planted ``(original, copy)`` id pairs,
    original < copy."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, size=int(rng.integers(3, 9))))
        for _ in range(vocab_size)
    ]
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 0.8
    weights /= weights.sum()
    n_copies = int(n_docs * dup_frac)
    n_orig = n_docs - n_copies
    docs: list[list[str]] = []
    for _ in range(n_orig):
        length = int(rng.integers(doc_len[0], doc_len[1] + 1))
        docs.append([vocab[i] for i in rng.choice(vocab_size, size=length, p=weights)])
    pairs: list[tuple[int, int]] = []
    sources = rng.choice(n_orig, size=n_copies, replace=False)
    for src in sources:
        toks = list(docs[int(src)])
        for pos in rng.choice(len(toks), size=edits, replace=False):
            toks[int(pos)] = vocab[int(rng.integers(vocab_size))]
        pairs.append((int(src), len(docs)))
        docs.append(toks)
    texts = [" ".join(t).capitalize() + "." for t in docs]
    return texts, pairs

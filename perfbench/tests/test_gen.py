import numpy as np

from perfbench import gen


def test_vector_generators_are_deterministic_per_seed():
    for fn, dim in ((gen.clustered_sphere, 32), (gen.pixels, 49), (gen.gaussian, 16)):
        a, b, c = fn(50, dim, 3), fn(50, dim, 3), fn(50, dim, 4)
        assert a.dtype == np.float32 and a.shape == (50, dim)
        assert np.array_equal(a, b)
        assert not np.array_equal(a, c)


def test_pixels_are_quantised_unit_interval():
    x = gen.pixels(40, 20, 1)
    assert x.min() >= 0.0 and x.max() <= 1.0
    assert np.allclose(x * 255.0, np.round(x * 255.0), atol=1e-4)


def test_with_zeros_and_query_mix():
    base = gen.with_zeros(gen.clustered_sphere(200, 8, 1), 0.05, 1)
    assert int((np.abs(base).sum(axis=1) == 0).sum()) == 10
    fresh = gen.clustered_sphere(6, 8, 2)
    q = gen.query_mix(base, fresh, 5)
    assert np.array_equal(q, gen.query_mix(base, fresh, 5))
    assert q.shape == (12, 8)
    # copies come first, are base rows, and are never the zero rows
    for row in q[:6]:
        assert np.abs(row).sum() > 0
        assert any(np.array_equal(row, b) for b in base)
    assert np.array_equal(q[6:], fresh)


def test_planted_corpus_is_deterministic_and_pairs_are_near_copies():
    texts, pairs = gen.planted_corpus(100, seed=9, dup_frac=0.2, edits=3)
    assert (texts, pairs) == gen.planted_corpus(100, seed=9, dup_frac=0.2, edits=3)
    assert gen.planted_corpus(100, seed=10, dup_frac=0.2)[0] != texts
    assert len(texts) == 100 and len(pairs) == 20
    for a, b in pairs:
        assert a < b
        ta, tb = texts[a].lower().rstrip(".").split(), texts[b].lower().rstrip(".").split()
        assert len(ta) == len(tb)
        assert sum(x != y for x, y in zip(ta, tb)) <= 3

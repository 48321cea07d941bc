"""Tests for the seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _generate(root, seed):
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    g = gen.write_graph_json(rng, 200, 6, os.path.join(root, "graph.json"))
    c = gen.write_corpus(rng, 120, os.path.join(root, "corpus"))
    v = gen.write_vectors(rng, 50, os.path.join(root, "vectors"))
    return g, c, v


def test_same_seed_gives_byte_identical_files(tmp_path):
    _generate(str(tmp_path / "a"), 5)
    _generate(str(tmp_path / "b"), 5)
    _generate(str(tmp_path / "c"), 6)
    a, b, c = (run._tree_digest(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


def test_planted_copies_are_near_duplicates_of_originals(tmp_path):
    _, c, _ = _generate(str(tmp_path), 5)
    assert len(c.planted) >= 0.08 * len(c.texts)
    for d, src in c.planted.items():
        assert src < d and src not in c.planted
        sim = gen.jaccard(gen.shingles(c.texts[d].split(" ")), gen.shingles(c.texts[src].split(" ")))
        assert sim >= gen.JACCARD_THRESHOLD


def test_first_fit_colors_a_proper_coloring_count(tmp_path):
    g, _, _ = _generate(str(tmp_path), 5)
    deg = np.bincount(np.concatenate([g.src, g.dst]), minlength=g.n)
    assert 2 <= g.first_fit_colors() <= deg.max() + 1
    # a triangle needs three colors, a path two
    tri = gen.Graph(3, np.array([0, 0, 1]), np.array([1, 2, 2]), "")
    path = gen.Graph(3, np.array([0, 1]), np.array([1, 2]), "")
    assert tri.first_fit_colors() == 3 and path.first_fit_colors() == 2


def test_brute_force_excludes_the_probe():
    vecs = np.random.default_rng(0).normal(size=(60, 8)).astype(np.float32)
    truth = workloads.brute_force_topk(vecs, np.arange(60))
    assert set(truth) == set(range(workloads.N_PROBES))
    for p, nn in truth.items():
        assert p not in nn and len(nn) == workloads.TOP_K

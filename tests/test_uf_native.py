"""Parity tests: the C union-find kernels (functions/uf_native.py)
must be event-for-event identical to the scalar union-find oracles in
tests/oracles.py (union_find_numpy, single_linkage_sweep_py) — same
merge events in the same order, same labels."""

from __future__ import annotations

import numpy as np
import pandas as pd

from entityframe_spark.functions import uf_native
from entityframe_spark.operators import hierarchy as H
from tests.oracles import single_linkage_sweep_py, union_find_numpy


def _random_graph(rng, n_max=60, m_max=200):
    n = rng.randint(2, n_max)
    m = rng.randint(1, m_max)
    # sparse ids: scale by a random stride so labels aren't 0..n
    stride = int(rng.choice([1, 7, 1000, 10**9]))
    src = rng.randint(0, n, m).astype(np.int64) * stride
    dst = rng.randint(0, n, m).astype(np.int64) * stride
    keep = src != dst
    return src[keep], dst[keep]


def test_components_kernel_matches_union_find_numpy():
    rng = np.random.RandomState(42)
    for _ in range(50):
        src, dst = _random_graph(rng)
        if len(src) == 0:
            continue
        nodes = np.unique(np.concatenate([src, dst]))
        expected = union_find_numpy(src, dst, nodes)
        si = np.searchsorted(nodes, src)
        di = np.searchsorted(nodes, dst)
        got = nodes[uf_native.components_native(si, di, len(nodes))]
        assert np.array_equal(expected, got)


def test_single_linkage_kernel_matches_python_sweep():
    """Sized sweep: kernel and the Python oracle emit IDENTICAL event
    sequences (same order, children, parents, sizes) — the dendrogram
    is pinned bit-for-bit, not just partition-equivalent."""
    rng = np.random.RandomState(7)
    ran = 0
    for _ in range(50):
        src, dst = _random_graph(rng)
        if len(src) == 0:
            continue
        w = rng.randint(1, 10, len(src)).astype(np.int64) * 100_000
        pdf = pd.DataFrame({"src": src, "dst": dst, "w_fp": w})
        native = H._local_single_linkage_sized(pdf.copy())
        order = np.lexsort((dst, src, -w))
        t, c, p, ls, rs = single_linkage_sweep_py(src[order], dst[order], w[order])
        oracle = pd.DataFrame(
            {"threshold_fp": t, "child": c, "parent": p, "left_size": ls, "right_size": rs}
        )
        assert native.reset_index(drop=True).equals(oracle)
        ran += 1
    assert ran > 30


def test_grid_labels_kernel_matches_incremental_python():
    rng = np.random.RandomState(13)
    for _ in range(30):
        src, dst = _random_graph(rng, n_max=40, m_max=80)
        if len(src) == 0:
            continue
        w = rng.randint(1, 10, len(src)).astype(np.int64) * 100_000
        pdf = pd.DataFrame({"src": src, "dst": dst, "w_fp": w})
        me = H._local_single_linkage(pdf)
        nodes = np.unique(np.concatenate([src, dst]))
        tf = me["threshold_fp"].to_numpy(np.int64)
        order = np.argsort(-tf, kind="stable")
        ch = me["child"].to_numpy(np.int64)[order]
        pa = me["parent"].to_numpy(np.int64)[order]
        tf = tf[order]
        grid = np.array([950_000, 500_000, 150_000], dtype=np.int64)
        labels = uf_native.grid_labels_native(
            np.searchsorted(nodes, ch), np.searchsorted(nodes, pa), tf, len(nodes), grid
        )
        # oracle: per grid point, plain union-find over active edges
        for g, t in enumerate(grid):
            active = tf >= t
            expected = union_find_numpy(ch[active], pa[active], nodes)
            assert np.array_equal(expected, nodes[labels[g]])


def test_msf_mask_kernel_keeps_exactly_the_sweep_tree_edges():
    """The Kruskal keep-mask must select exactly the edges that cause
    unions in the single-linkage sweep under the same canonical
    (-w, src, dst) order — i.e. #kept == #merge events, and sweeping
    ONLY the kept edges reproduces the identical event sequence."""
    rng = np.random.RandomState(11)
    ran = 0
    for _ in range(50):
        src, dst = _random_graph(rng)
        if len(src) == 0:
            continue
        w = rng.randint(1, 8, len(src)).astype(np.int64) * 100_000
        order = np.lexsort((dst, src, -w))
        src, dst, w = src[order], dst[order], w[order]
        mask = H._msf_keep_mask(src, dst)
        full = H._sweep_arrays_np(src, dst, w, presorted=True)
        assert int(mask.sum()) == len(full[0])
        kept = H._sweep_arrays_np(src[mask], dst[mask], w[mask], presorted=True)
        for a, b in zip(full, kept):
            assert np.array_equal(a, b)
        ran += 1
    assert ran > 30

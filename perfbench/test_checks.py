"""Each output check must reject an output that is wrong in a known way.

    python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402


def _release(tmp_path):
    return gen.codex_release(str(tmp_path / "rel"), seed=5, n_datasets=3,
                             n_cells=20, n_edges=30)


def _product_as_written(rel):
    return {**rel.expected(list(rel.datasets)), "orphan_edges": 0}


def test_release_accounting_is_seeded(tmp_path):
    a = _release(tmp_path / "a").expected
    b = _release(tmp_path / "b").expected
    uuids = list(_release(tmp_path / "c").datasets)
    assert a(uuids) == b(uuids)


def test_product_check_accepts_the_release(tmp_path):
    rel = _release(tmp_path)
    assert checks.check_product(_product_as_written(rel), rel.expected(list(rel.datasets))) == []


def test_product_check_rejects_dropped_dataset(tmp_path):
    rel = _release(tmp_path)
    uuids = list(rel.datasets)
    got = {**rel.expected(uuids[1:]), "orphan_edges": 0}
    problems = checks.check_product(got, rel.expected(uuids))
    assert any(p.startswith("obs") for p in problems)
    assert any(p.startswith("x_long") for p in problems)


def test_product_check_rejects_perturbed_value(tmp_path):
    rel = _release(tmp_path)
    got = _product_as_written(rel)
    got["total_sum"] += 0.001
    assert checks.check_product(got, rel.expected(list(rel.datasets)))


def test_product_check_rejects_orphan_edge(tmp_path):
    rel = _release(tmp_path)
    got = _product_as_written(rel)
    got["orphan_edges"] = 1
    assert checks.check_product(got, rel.expected(list(rel.datasets)))


def test_h5mu_check_rejects_wrong_shape_and_value():
    want = {"obs": 3, "var": 2, "total_sum": 6.0}
    x = np.array([[1.0, np.nan], [2.0, 1.0], [np.nan, 2.0]])
    assert checks.check_h5mu(x, want) == []
    assert checks.check_h5mu(x[:2], want)
    y = x.copy()
    y[0, 0] = 1.5
    assert checks.check_h5mu(y, want)


def test_frame_compare_rejects_row_off_by_one():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert checks.compare_frames(want.iloc[::-1], want) == []
    assert checks.compare_frames(want.iloc[:2], want)
    extra = pd.concat([want, want.iloc[:1]])
    assert checks.compare_frames(extra, want)


def test_frame_compare_rejects_perturbed_value():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    got = want.assign(v=[0.5, 1.2500001])
    assert checks.compare_frames(got, want)


def test_frame_compare_rejects_missing_maintained_pair():
    want = pd.DataFrame(
        {"doc_a": [1, 1, 4], "doc_b": [2, 3, 9], "jaccard": [0.5, 0.75, 1.0]}
    )
    assert checks.compare_frames(want.drop(index=1), want)


def test_topk_check_rejects_wrong_neighbour():
    rng = np.random.default_rng(0)
    ids = np.arange(30)
    vecs = rng.normal(size=(30, 4))
    want = checks.brute_force_topk(ids, vecs, {100: vecs[0] + 0.01}, 3)
    assert checks.check_topk(want, want) == []
    (first, second, third), = want.values()
    assert checks.check_topk({100: [first, third, second]}, want)
    assert checks.check_topk({100: [first, second]}, want)

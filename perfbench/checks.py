"""Output checks. Each takes what the program produced and what an
independent computation (the generator's numpy accounting, DuckDB or a
numpy brute force) says it should be, and returns a list of problems:
empty means the output is correct."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def _close(a: float, b: float, tol: float = REL_TOL) -> bool:
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)


def check_product(got: dict, want: dict) -> list[str]:
    """``got``: counts read back from the committed product (datasets,
    obs, var, x_long, edges, total_sum, orphan_edges); ``want``: the
    generator's accounting for the same datasets."""
    problems = []
    for key in ("datasets", "obs", "var", "x_long", "edges"):
        if got[key] != want[key]:
            problems.append(f"{key}: product has {got[key]}, expected {want[key]}")
    if not _close(got["total_sum"], want["total_sum"]):
        problems.append(
            f"sum(total): product has {got['total_sum']!r}, "
            f"expected {want['total_sum']!r}"
        )
    if got["orphan_edges"]:
        problems.append(f"{got['orphan_edges']} edge endpoints missing from obs")
    return problems


def check_h5mu(x: np.ndarray, want: dict) -> list[str]:
    """X of the exported .h5mu: cells x surviving channels, NaN where a
    dataset lacks a channel, and the same total as the generator wrote."""
    problems = []
    if x.shape != (want["obs"], want["var"]):
        problems.append(f"X shape {x.shape}, expected {(want['obs'], want['var'])}")
    s = float(np.nansum(x))
    if not _close(s, want["total_sum"]):
        problems.append(f"nansum(X) {s!r}, expected {want['total_sum']!r}")
    return problems


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return "0" if f == 0 else f"{f:.9g}"
    if isinstance(v, (pd.Timestamp, dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        return (ts.tz_convert(None) if ts.tzinfo else ts).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same columns and the same multiset of rows, floats to nine
    significant digits."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} rows, expected {len(want)}")
    g, w = canonical_rows(got), canonical_rows(want)
    if g != w:
        gs, ws = set(g), set(w)
        problems.append(
            "rows differ; unexpected "
            f"{[r for r in g if r not in ws][:2]} missing {[r for r in w if r not in gs][:2]}"
        )
    return problems


def brute_force_topk(
    ids: np.ndarray, vecs: np.ndarray, queries: dict[int, np.ndarray], k: int
) -> dict[int, list[tuple[int, float]]]:
    """Exact top-k cosine neighbours of each query among ``vecs`` (the
    query's own id excluded), ranked by cosine then neighbour id."""
    v = vecs.astype(np.float64)
    # sequential accumulation over dimensions, the order the engine sums in
    nsq = np.zeros(len(v))
    for d in range(v.shape[1]):
        nsq += v[:, d] * v[:, d]
    out = {}
    for qid, q in queries.items():
        q = q.astype(np.float64)
        dot = np.zeros(len(v))
        qn = 0.0
        for d in range(v.shape[1]):
            dot += q[d] * v[:, d]
            qn += q[d] * q[d]
        cos = dot / np.sqrt(qn * nsq)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qid),
            key=lambda i: (-round(cos[i], 6), ids[i]),
        )[:k]
        out[qid] = [(int(ids[i]), float(cos[i])) for i in order]
    return out


def check_topk(
    got: dict[int, list[tuple[int, float]]],
    want: dict[int, list[tuple[int, float]]],
    tol: float = 2e-6,
) -> list[str]:
    """Same neighbours in the same order with the same cosine (to the
    engine's 6-dp rounding); a swap is accepted only between
    neighbours whose cosines tie within ``tol``."""
    problems = []
    for qid, wl in want.items():
        gl = got.get(qid, [])
        if len(gl) != len(wl):
            problems.append(f"query {qid}: {len(gl)} neighbours, expected {len(wl)}")
            continue
        for (gi, gc), (wi, wc) in zip(gl, wl):
            if abs(gc - wc) > tol:
                problems.append(f"query {qid}: cosine {gc} for {gi}, expected {wc} for {wi}")
                break
            if gi != wi and abs(gc - wc) > tol / 2:
                problems.append(f"query {qid}: neighbour {gi}, expected {wi}")
                break
    return problems

"""Seeded input generators for the benchmark, each with its own numpy
accounting of what it wrote.

The accounting is computed here from the generated arrays, never by
calling the engine, so the output checks in ``checks.py`` compare the
program against an independent computation.

* ``codex_release``: a CODEX release directory (catalog TSV, per-dataset
  ``out.hdf5`` + CSVs + adjacency, ancestor ``antibodies.tsv``).
* ``sf_tables``: the TPC-H-ish star schema plus events / documents /
  embeddings, in the layout the registry queries read.
* ``documents`` / ``embeddings``: the text and vector tables, also the
  pools the corpus maintainers fold batch by batch.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# CODEX release
# --------------------------------------------------------------------------

TOTAL_KEYS = (
    "/total/channel/cell/expressions.ome.tiff/stitched/reg1",
    "/total/channel/cell/expr.ome.tiff/reg001",
)
PREFIXES = ("reg1_stitched_expressions.ome.tiff", "reg001_expr.ome.tiff")
# The channel make-up of SCALE.md's production-shaped bundle: 30 shared
# channels (the eCAD/E-CAD synonym pair among them), 8 private ones per
# dataset, one blank and one Channel:N:N channel: 40 raw, 38 surviving.
SHARED = [
    "CD1c", "CD3", "CD4", "CD5", "CD7", "CD8", "CD11c", "CD15", "CD20",
    "CD21", "CD31", "CD34", "CD35", "CD38", "CD44", "CD45", "CD45RO", "CD56",
    "CD57", "CD61", "CD68", "CD90", "CD107a", "CD117", "CD138", "CD163",
    "Ki67", "Lyve1", "Vimentin",
]
N_PRIVATE = 8
N_BOGUS_LABELS = 5  # adjacency labels with no cell in obs
N_ANCESTORS = 2


@dataclass
class DatasetAccount:
    """What one generated dataset contributes to the product."""

    uuid: str
    hubmap_id: str
    n_cells: int
    channels: list[str]  # surviving canonical channel names
    x_rows: int
    total_sum: float
    n_edges: int  # edges whose both endpoints are cells in obs


@dataclass
class CodexRelease:
    root: str
    data_dir: str
    uuids_tsv: str
    datasets: dict[str, DatasetAccount] = field(default_factory=dict)
    input_bytes: int = 0

    def expected(self, uuids: list[str]) -> dict:
        """Product-level accounting for the datasets in ``uuids``."""
        accts = [self.datasets[u] for u in uuids]
        return {
            "datasets": sorted(uuids),
            "obs": sum(a.n_cells for a in accts),
            "var": len({c for a in accts for c in a.channels}),
            "x_long": sum(a.x_rows for a in accts),
            "edges": sum(a.n_edges for a in accts),
            "total_sum": float(sum(a.total_sum for a in accts)),
        }


def _raw_channels(ds: int, rng: np.random.Generator) -> tuple[list, list]:
    """(raw CSV header names, canonical name or None if filtered)."""
    # the synonym pair: odd datasets spell E-cadherin "E-CAD", which the
    # engine's synonym map folds onto the even datasets' "eCAD"
    raw = ["E-CAD" if ds % 2 else "eCAD"] + SHARED
    canon = ["eCAD"] + SHARED
    raw += [f"PRIV{ds}x{j}" for j in range(N_PRIVATE)]
    canon += [f"PRIV{ds}x{j}" for j in range(N_PRIVATE)]
    raw += [f"blank{ds}", f"Channel:1:{ds + 1}"]
    canon += [None, None]
    order = rng.permutation(len(raw))
    return [raw[i] for i in order], [canon[i] for i in order]


def codex_release(
    root: str, seed: int, n_datasets: int, n_cells: int, n_edges: int
) -> CodexRelease:
    from codex_data_products_spark.sources import minihdf5

    rng = np.random.default_rng(seed)
    data = os.path.join(root, "data")
    os.makedirs(data)
    rel = CodexRelease(root, data, os.path.join(root, "uuids.tsv"))
    cat = [
        "\tuuid\thubmap_id\timmediate_ancestor_ids\timmediate_descendant_ids"
        "\tage\tsex\theight\tweight\tbmi\tcause_of_death\trace"
    ]
    # hex uuids as HuBMAP issues them (an all-digit name would be typed
    # as a number when read back as a partition value)
    tag = f"{seed % 16**6:06x}"
    ancestors = [f"a0c0{tag}{a:022x}" for a in range(N_ANCESTORS)]
    for ds in range(n_datasets):
        uuid = f"c0de{tag}{ds:022x}"
        base = os.path.join(data, uuid)
        os.makedirs(base)
        layout = ds % 2  # alternates the two HDF5 key layouts
        prefix = PREFIXES[layout]
        raw, canon = _raw_channels(ds, rng)
        # datasets 1, 5, ... store a plain 2-D matrix (positional cell
        # ids); the rest the pandas-HDFStore layout with an id index
        positional = ds % 4 == 1
        ids = (
            np.arange(n_cells)
            if positional
            else np.sort(rng.choice(50 * n_cells, n_cells, replace=False)) + 1
        )
        total = rng.uniform(0.0, 100.0, (n_cells, len(raw))).round(3)
        mean = (total / 100.0).round(5)
        tk = TOTAL_KEYS[layout]
        mk = tk.replace("/total/", "/meanAll/")
        if positional:
            payload = {tk: total, mk: mean}
        else:
            payload = {
                f"{tk}/axis1": ids,
                f"{tk}/block0_values": total,
                f"{mk}/axis1": ids,
                f"{mk}/block0_values": mean,
            }
        with open(os.path.join(base, "out.hdf5"), "wb") as f:
            f.write(minihdf5.write(payload))
        with open(f"{base}/{prefix}-cell_channel_total.csv", "w") as f:
            f.write("ID," + ",".join(raw) + "\n")
            f.write("1," + ",".join(["0.0"] * len(raw)) + "\n")
        xy = rng.uniform(0, 1000, (n_cells, 2)).round(2)
        with open(f"{base}/{prefix}-cell_centers.csv", "w") as f:
            f.write("ID,x,y\n")
            f.writelines(f"{i},{x},{y}\n" for i, (x, y) in zip(ids, xy))

        # labels: the cells in a shuffled order, then bogus labels that
        # name no cell; edges are distinct position pairs, some of them
        # pointing at the bogus labels (those must not survive)
        labels = [str(i) for i in rng.permutation(ids)] + [
            f"ghost{j}" for j in range(N_BOGUS_LABELS)
        ]
        n_lab = len(labels)
        pairs: set[tuple[int, int]] = set()
        while len(pairs) < n_edges:
            i, j = (int(v) for v in rng.integers(1, n_lab + 1, 2))
            if i != j:
                pairs.add((min(i, j), max(i, j)))
        edges = sorted(pairs)
        n_valid = sum(1 for i, j in edges if i <= n_cells and j <= n_cells)
        with open(f"{base}/{prefix}_AdjacencyMatrix.mtx", "w") as f:
            f.write("%%MatrixMarket matrix coordinate real symmetric\n")
            f.write(f"{n_lab} {n_lab} {len(edges)}\n")
            f.writelines(
                f"{i} {j} {round(0.1 + (i * j) % 9 * 0.1, 1)}\n"
                for i, j in edges
            )
        with open(f"{base}/{prefix}_AdjacencyMatrixRowColLabels.txt", "w") as f:
            f.writelines(f"{lab}\n" for lab in labels)

        keep = [k for k, c in enumerate(canon) if c is not None]
        rel.datasets[uuid] = DatasetAccount(
            uuid=uuid,
            hubmap_id=f"HBM{seed % 1000:03d}.{ds:03d}",
            n_cells=n_cells,
            channels=sorted(canon[k] for k in keep),
            x_rows=n_cells * len(keep),
            total_sum=float(total[:, keep].sum()),
            n_edges=n_valid,
        )
        anc = ancestors[ds % N_ANCESTORS]
        cat.append(
            f"{ds}\t{uuid}\t{rel.datasets[uuid].hubmap_id}\t{anc}\t\t"
            f"{30 + ds % 40}\t{'MF'[ds % 2]}\t170\t70\t24.2\t\tUnknown"
        )
    for a, anc in enumerate(ancestors):
        os.makedirs(os.path.join(data, anc))
        rows = ["antibody_name\tuniprot_accession_number\trr_id\tchannel_id"]
        rows.append("Anti-E-CAD antibody\tP12830\tAB_ECAD\tch_ecad")
        rows += [
            f"Anti-{c} antibody\tP{k:05d}\tAB_{k}\tch_{k}"
            for k, c in enumerate(SHARED)
        ]
        rows += [
            f"PRIV{ds}x{j} antibody\tQ{ds}{j}\tAB_P{ds}{j}\tch_p{ds}{j}"
            for ds in range(a, n_datasets, N_ANCESTORS)
            for j in range(N_PRIVATE)
        ]
        with open(os.path.join(data, anc, "panel-antibodies.tsv"), "w") as f:
            f.write("\n".join(rows) + "\n")
        kids = [u for k, u in enumerate(rel.datasets) if k % N_ANCESTORS == a]
        cat.append(
            f"{n_datasets + a}\t{anc}\tHBMA{a:02d}\t\t{kids!r}\t\t\t\t\t\t\t"
        )
    with open(rel.uuids_tsv, "w") as f:
        f.write("\n".join(cat) + "\n")
    rel.input_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(root)
        for fn in fns
    )
    return rel


# --------------------------------------------------------------------------
# registry tables (TPC-H-ish star schema + events / documents / embeddings)
# --------------------------------------------------------------------------

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PNAMES = ["small ring", "red widget", "blue bolt", "green screw", "dim plate"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, end):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return (np.datetime64(start) + offs).astype("datetime64[us]")


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """Random-vocabulary texts with exact and one-word-off duplicates
    (so the dedup families have pairs to find)."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(ln))])
        for ln in rng.integers(10, 100, n)
    ]
    for k in range(n // 20):  # exact copies
        texts[n - 1 - k] = texts[k]
    for k in range(n // 25):  # near copies
        toks = texts[n // 2 + k].split()
        toks[len(toks) // 2] = "dup"
        texts[n // 2 - 1 - k] = " ".join(toks)
    return {
        "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": pa.array(
            np.array(LANGS)[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
        ),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(
    rng: np.random.Generator, n: int, dim: int, first_id: int = 0
) -> dict:
    """Ten Gaussian clusters; ``label`` is the generating cluster."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.5, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.15, (n, dim))).astype("float32")
    return {
        "vec_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def sf_tables(out: str, seed: int, sf: float) -> None:
    """Write every registry table at scale ``sf`` (lineitem = 6M·sf
    rows) as ``<out>/<table>.parquet``."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), 500, 500
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.array(PNAMES)[rng.integers(0, len(PNAMES), n_part)],
        "p_brand": [f"Brand#{1 + int(b)}" for b in rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1 % 100, 2),
    })
    odate = _days(rng, n_ord, "1995-01-01", "2001-08-02")
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lo = rng.integers(0, n_ord, n_li)
    ship = odate[lo] + rng.integers(1, 95, n_li).astype("timedelta64[D]")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    n_users = max(1, int(15_000 * sf))
    secs = rng.integers(0, 30 * 86400, n_ev).astype("timedelta64[s]")
    micros = rng.integers(0, 1_000_000, n_ev).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": (np.datetime64("2024-01-01T00:00:00") + secs + micros).astype(
            "datetime64[us]"
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50, n_ev), 490.0), 2)
        + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    _write(out, "documents", documents(rng, n_doc))
    _write(out, "embeddings", embeddings(rng, n_emb, 64))

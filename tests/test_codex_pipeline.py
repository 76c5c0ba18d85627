"""Golden end-to-end test of the flagship CODEX pipeline (SURVEY §5.3).

A miniature synthetic bundle: 2 leaf datasets (one per filename variant),
one shared ancestor carrying antibodies.tsv, a synonym-hit channel pair
(E-CAD/eCAD), a dataset-private channel each, one 'blank' channel, one
'Channel:1:5' channel, and adjacency with a label that references a cell
absent from obs. HDF5 payloads use a fake JSON byte format with an
injected decoder (no h5py in the container) — the Spark plumbing
(binaryFile scan → mapInPandas) is the real path.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from codex_data_products_spark.plans.codex_pipeline import (
    build_product,
    write_product,
)

DS_A = "a" * 32
DS_B = "b" * 32
ANCESTOR = "c" * 32


def fake_decoder(payload: bytes, path: str) -> pd.DataFrame:
    """Decode the fixture's fake out.hdf5 (JSON bytes)."""
    obj = json.loads(payload.decode())
    rows = []
    for r, cell in enumerate(obj["ids"]):
        for c in range(len(obj["total"][r])):
            rows.append((cell, c, obj["total"][r][c], obj["mean"][r][c]))
    return pd.DataFrame(
        rows, columns=["original_obs_id", "channel_idx", "total", "mean"]
    )


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


@pytest.fixture(scope="module")
def bundle(tmp_path_factory):
    root = tmp_path_factory.mktemp("codex_bundle")
    data = root / "data"

    # Dataset A — variant 1 filenames, 3 cells, 4 channels (synonym,
    # normal, blank, Channel:N:N).
    a = data / DS_A
    _write(
        str(a / "reg1_stitched_expressions.ome.tiff-cell_channel_total.csv"),
        "ID,E-CAD,CD4,blank2,Channel:1:5\n"
        "1,1.0,2.0,9.0,9.0\n2,3.0,4.0,9.0,9.0\n3,5.0,6.0,9.0,9.0\n",
    )
    _write(
        str(a / "reg1_stitched_expressions.ome.tiff-cell_centers.csv"),
        "ID,x,y\n1,10.0,11.0\n2,20.0,21.0\n3,30.0,31.0\n",
    )
    _write(
        str(a / "reg1_stitched_expressions.ome.tiff_AdjacencyMatrix.mtx"),
        "%%MatrixMarket matrix coordinate real symmetric\n3 3 2\n"
        "1 2 1.0\n2 3 2.0\n",
    )
    _write(
        str(a / "reg1_stitched_expressions.ome.tiff_AdjacencyMatrixRowColLabels.txt"),
        "1\n2\n99\n",  # 99 is not an obs cell → its edge must drop
    )
    _write(
        str(a / "out.hdf5"),
        json.dumps(
            {
                "ids": ["1", "2", "3"],
                "total": [[1.0, 2.0, 9.0, 9.0], [3.0, 4.0, 9.0, 9.0], [5.0, 6.0, 9.0, 9.0]],
                "mean": [[0.1, 0.2, 0.9, 0.9], [0.3, 0.4, 0.9, 0.9], [0.5, 0.6, 0.9, 0.9]],
            }
        ),
    )

    # Dataset B — variant 2 filenames, 2 cells, 2 channels (canonical
    # synonym form + private channel).
    b = data / DS_B
    _write(
        str(b / "reg001_expr.ome.tiff-cell_channel_total.csv"),
        "ID,eCAD,CD8\n1,7.0,8.0\n2,9.0,10.0\n",
    )
    _write(
        str(b / "reg001_expr.ome.tiff-cell_centers.csv"),
        "ID,x,y\n1,40.0,41.0\n2,50.0,51.0\n",
    )
    _write(
        str(b / "reg001_expr.ome.tiff_AdjacencyMatrix.mtx"),
        "%%MatrixMarket matrix coordinate real symmetric\n2 2 1\n1 2 0.5\n",
    )
    _write(
        str(b / "reg001_expr.ome.tiff_AdjacencyMatrixRowColLabels.txt"),
        "1\n2\n",
    )
    _write(
        str(b / "out.hdf5"),
        json.dumps(
            {
                "ids": ["1", "2"],
                "total": [[7.0, 8.0], [9.0, 10.0]],
                "mean": [[0.7, 0.8], [0.9, 1.0]],
            }
        ),
    )

    # Ancestor with antibodies.tsv: names exercise Anti-/antibody
    # stripping and the synonym map (E-CAD → eCAD).
    _write(
        str(data / ANCESTOR / "foo-antibodies.tsv"),
        "antibody_name\tuniprot_accession_number\trr_id\tchannel_id\n"
        "Anti-E-CAD antibody\tP12830\tAB_1\tch1\n"
        "Anti-CD4 antibody\tP01730\tAB_2\tch2\n"
        "CD8 antibody\tP01732\tAB_3\tch3\n"
        "Unrelated\tP00000\tAB_9\tch9\n",
    )

    # Catalog TSV with the pandas index artifact column.
    _write(
        str(root / "uuids.tsv"),
        "\tuuid\thubmap_id\timmediate_ancestor_ids\timmediate_descendant_ids"
        "\tage\tsex\theight\tweight\tbmi\tcause_of_death\trace\n"
        f"0\t{DS_A}\tHBM001\t{ANCESTOR}\t\t65\tM\t180\t80\t24.7\t\tWhite\n"
        f"1\t{DS_B}\tHBM002\t{ANCESTOR}\t\t70\tF\t165\t60\t22.0\t\tAsian\n"
        f"2\t{ANCESTOR}\tHBM000\t\t['{DS_A}']\t\t\t\t\t\t\t\n",
    )
    return root


@pytest.fixture(scope="module")
def product(spark, bundle):
    return build_product(
        spark,
        str(bundle / "data"),
        str(bundle / "uuids.tsv"),
        tissue="Spleen",
        decoder=fake_decoder,
        product_uuid="test-product-uuid",
        creation_time="2026-01-01 00:00:00",
    )


def test_var_filters_blank_and_channel_patterns(product):
    channels = {r["channel"] for r in product.var.collect()}
    assert channels == {"eCAD", "CD4", "CD8"}


def test_x_long_unions_and_canonicalizes(product):
    rows = product.x_long.collect()
    assert len(rows) == 3 * 2 + 2 * 2  # A: 3 cells × 2 kept, B: 2 × 2
    by_key = {(r["cell_id"], r["channel"]): (r["total"], r["mean"]) for r in rows}
    # A's E-CAD column canonicalized to eCAD and aligned with B's eCAD.
    assert by_key[(f"{DS_A}-1", "eCAD")] == (1.0, 0.1)
    assert by_key[(f"{DS_B}-1", "eCAD")] == (7.0, 0.7)
    assert by_key[(f"{DS_B}-2", "CD8")] == (10.0, 1.0)
    assert (f"{DS_A}-1", "blank2") not in by_key
    assert (f"{DS_A}-1", "Channel:1:5") not in by_key


def test_obs_donor_join_and_literals(product):
    obs = {r["cell_id"]: r for r in product.obs.collect()}
    assert len(obs) == 5
    a1 = obs[f"{DS_A}-1"]
    assert a1["age"] == 65.0 and isinstance(a1["age"], float)  # E5 cast
    assert a1["sex"] == "M" and a1["tissue"] == "Spleen"
    assert a1["object_type"] == "ftu" and a1["analyte_class"] == "Protein"
    assert (a1["x"], a1["y"]) == (10.0, 11.0)
    assert obs[f"{DS_B}-2"]["race"] == "Asian"


def test_edges_remapped_filtered_and_globalized(product):
    edges = {
        (r["src_cell_id"], r["dst_cell_id"]): r["weight"]
        for r in product.edges.collect()
    }
    # A's (2,3) edge references label 99 (not an obs cell) → dropped.
    assert edges == {
        (f"{DS_A}-1", f"{DS_A}-2"): 1.0,
        (f"{DS_B}-1", f"{DS_B}-2"): 0.5,
    }


def test_varm_intersection_and_standardization(product):
    rows = {
        (r["channel"], r["dataset"]): (r["uniprot"], r["rrid"], r["antibodies_tsv_id"])
        for r in product.varm_long.collect()
    }
    assert rows == {
        ("eCAD", DS_A): ("P12830", "AB_1", "ch1"),
        ("CD4", DS_A): ("P01730", "AB_2", "ch2"),
        ("eCAD", DS_B): ("P12830", "AB_1", "ch1"),
        ("CD8", DS_B): ("P01732", "AB_3", "ch3"),
    }


def test_write_product_and_manifest(product, tmp_path, spark):
    out = str(tmp_path / "product")
    manifest = write_product(product, out)
    assert manifest["Total Cell Count"] == 5
    assert manifest["Data Product UUID"] == "test-product-uuid"
    assert set(manifest["Dataset UUIDs"]) == {DS_A, DS_B}
    # Partition pruning layout: x_long partitioned by dataset.
    assert os.path.isdir(f"{out}/x_long/dataset={DS_A}")
    back = spark.read.parquet(f"{out}/x_long")
    assert back.count() == 10
    with open(f"{out}/uns.json") as f:
        uns = json.load(f)
    assert uns["epic_type"] == "analyses"


def test_wide_matrix_export(product):
    from codex_data_products_spark.plans.codex_pipeline import wide_matrix

    wide = wide_matrix(product)
    assert wide.columns == ["dataset", "cell_id", "CD4", "CD8", "eCAD"]
    rows = {r["cell_id"]: r for r in wide.collect()}
    assert len(rows) == 5
    a1, b1 = rows[f"{DS_A}-1"], rows[f"{DS_B}-1"]
    assert (a1["eCAD"], a1["CD4"]) == (1.0, 2.0)
    assert a1["CD8"] is None  # dataset-private channel → NULL (U1 outer)
    assert (b1["eCAD"], b1["CD8"]) == (7.0, 8.0)
    assert b1["CD4"] is None


DS_D = "d" * 32


@pytest.fixture(scope="module")
def product_with_dropped_dataset(spark, bundle, tmp_path_factory):
    """The bundle plus a third leaf dataset whose every channel is
    dropped (only ``blankN`` / ``Channel:N:N``): its cells are in obs
    with no x_long rows."""
    import shutil

    root = tmp_path_factory.mktemp("codex_bundle_dropped")
    shutil.copytree(bundle / "data", root / "data")
    d = root / "data" / DS_D
    _write(
        str(d / "reg001_expr.ome.tiff-cell_channel_total.csv"),
        "ID,blank1,Channel:2:3\n1,1.0,2.0\n2,3.0,4.0\n",
    )
    _write(
        str(d / "reg001_expr.ome.tiff-cell_centers.csv"),
        "ID,x,y\n1,60.0,61.0\n2,70.0,71.0\n",
    )
    _write(
        str(d / "reg001_expr.ome.tiff_AdjacencyMatrix.mtx"),
        "%%MatrixMarket matrix coordinate real symmetric\n2 2 1\n1 2 0.25\n",
    )
    _write(
        str(d / "reg001_expr.ome.tiff_AdjacencyMatrixRowColLabels.txt"),
        "1\n2\n",
    )
    _write(
        str(d / "out.hdf5"),
        json.dumps(
            {
                "ids": ["1", "2"],
                "total": [[1.0, 2.0], [3.0, 4.0]],
                "mean": [[0.1, 0.2], [0.3, 0.4]],
            }
        ),
    )
    catalog = (bundle / "uuids.tsv").read_text() + (
        f"3\t{DS_D}\tHBM003\t{ANCESTOR}\t\t50\tF\t170\t70\t24.2\t\tWhite\n"
    )
    _write(str(root / "uuids.tsv"), catalog)
    return build_product(
        spark,
        str(root / "data"),
        str(root / "uuids.tsv"),
        tissue="Spleen",
        decoder=fake_decoder,
        product_uuid="test-product-uuid",
        creation_time="2026-01-01 00:00:00",
    )


def test_h5mu_export_roundtrips_through_minihdf5(
    product, product_with_dropped_dataset, tmp_path
):
    """The compat sink executes without anndata/mudata: the from-scratch
    HDF5 codec writes the mudata group layout (/mod/<uuid>_raw/X +
    obs/var groups), and walking the real bytes back recovers X, the
    obs/var indexes, and per-column values exactly as the parquet
    product holds them (reference writes the same container at
    bin/concatenate.py:454-456). X equals the Spark-side
    ``wide_matrix`` pivot wherever a (cell, channel) pair is present,
    and a dataset that kept no channel exports its cells as all-NaN
    rows."""
    import math

    import numpy as np

    from codex_data_products_spark.plans.codex_pipeline import (
        export_h5mu,
        wide_matrix,
    )
    from codex_data_products_spark.sources.minihdf5 import Reader

    for tag, prod, n_cells in (
        ("product", product, 5),
        ("dropped", product_with_dropped_dataset, 7),
    ):
        path = str(tmp_path / f"{tag}.h5mu")
        export_h5mu(prod, path)
        with open(path, "rb") as f:
            r = Reader(f.read())

        mod = "/mod/test-product-uuid_raw"
        cells = list(r.dataset(f"{mod}/obs/_index"))
        channels = list(r.dataset(f"{mod}/var/_index"))
        x = r.dataset(f"{mod}/X")
        assert x.shape == (n_cells, len(channels))
        assert len(cells) == n_cells
        assert channels == ["CD4", "CD8", "eCAD"]

        # X values match the parquet product's long relation and the
        # wide pivot; absent (cell, channel) pairs surface as NaN (U1
        # outer-concat semantics)
        expect = {
            (row["cell_id"], row["channel"]): row["total"]
            for row in prod.x_long.collect()
        }
        wide = {row["cell_id"]: row for row in wide_matrix(prod).collect()}
        for i, cell in enumerate(cells):
            for j, ch in enumerate(channels):
                want = expect.get((cell, ch))
                if want is None:
                    assert math.isnan(x[i, j])
                else:
                    assert x[i, j] == want == wide[cell][ch]
        dropped = [i for i, c in enumerate(cells) if c.startswith(DS_D)]
        assert len(dropped) == (2 if tag == "dropped" else 0)
        assert np.isnan(x[dropped]).all()

        # obs columns round-trip (numeric as f64, strings fixed-length)
        obs_rows = {row["cell_id"]: row for row in prod.obs.collect()}
        ages = r.dataset(f"{mod}/obs/age")
        tissues = r.dataset(f"{mod}/obs/object_type")
        for i, cell in enumerate(cells):
            assert ages[i] == obs_rows[cell]["age"]
            assert tissues[i] == obs_rows[cell]["object_type"]
        assert f"{mod}/var/_index" in r
        np.testing.assert_array_equal(
            r.dataset(f"{mod}/obs/_index"), np.array(cells)
        )


def test_product_partition_pruning(product, tmp_path, spark):
    out = str(tmp_path / "pruned")
    write_product(product, out)
    read = spark.read.parquet(f"{out}/x_long").filter(f"dataset = '{DS_A}'")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # the dataset predicate must prune partitions at the scan, not filter rows
    assert "PartitionFilters: [isnotnull(dataset" in plan
    assert read.count() == 6


def test_product_dynamic_partition_pruning(product, tmp_path, spark):
    """Joining the partitioned fact against a filtered dim must inject a
    dynamic-partition-pruning subquery at the fact scan — at 100 TB this
    is what keeps a catalog-driven read from scanning every dataset."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "dpp")
    write_product(product, out)
    fact = spark.read.parquet(f"{out}/x_long")
    # non-literal dim predicate (a literal would constant-propagate into a
    # static partition filter — stronger, but not the property under test)
    dim = (
        product.obs.groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .filter(F.col("n_cells") <= 2)
        .select("dataset")
    )
    # the fixture is 12 rows, so DPP's size-based benefit heuristic
    # would veto pruning; disable the heuristic — the property under
    # test is that the LAYOUT admits a DPP subquery, not the cost model
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try:
        joined = fact.join(F.broadcast(dim), "dataset")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        n_joined, n_fact = joined.count(), fact.count()
        assert 0 < n_joined < n_fact  # pruning is actually selective
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")


def test_build_product_tissue_lookup_fallback(spark, bundle):
    """S9 wiring: per-dataset tissue resolves tissue_by_uuid FIRST,
    then the injectable tissue_lookup (live_tissue_lookup's shape),
    then 'unknown' — and the lookup is consulted only for datasets the
    dict misses."""
    looked_up = []

    def lookup(uuid):
        looked_up.append(uuid)
        return {DS_B: "Kidney"}.get(uuid)

    prod = build_product(
        spark,
        str(bundle / "data"),
        str(bundle / "uuids.tsv"),
        tissue=None,
        tissue_by_uuid={DS_A: "Spleen"},
        tissue_lookup=lookup,
        decoder=fake_decoder,
        product_uuid="t-uuid",
        creation_time="2026-01-01 00:00:00",
    )
    tissues = {
        r["dataset"]: r["tissue"]
        for r in prod.obs.select("dataset", "tissue").distinct().collect()
    }
    assert tissues == {DS_A: "Spleen", DS_B: "Kidney"}
    assert looked_up == [DS_B]  # dict hit short-circuits the lookup


def test_read_product_table_keeps_all_digit_dataset_uuids(
    spark, bundle, tmp_path
):
    """Partition-type inference must not retype ``dataset``: a product
    whose dataset uuids are all digits reads them back unchanged,
    leading zeros included, from every dataset-partitioned table."""
    import shutil

    from codex_data_products_spark.plans.codex_pipeline import (
        read_product_table,
    )

    digits = {DS_A: "0" * 29 + "123", DS_B: "0" * 29 + "456"}
    root = tmp_path / "digit_bundle"
    shutil.copytree(bundle, root)
    tsv = (root / "uuids.tsv").read_text()
    for old, new in digits.items():
        os.rename(root / "data" / old, root / "data" / new)
        tsv = tsv.replace(old, new)
    (root / "uuids.tsv").write_text(tsv)
    prod = build_product(
        spark,
        str(root / "data"),
        str(root / "uuids.tsv"),
        tissue="Spleen",
        decoder=fake_decoder,
        product_uuid="digit-product-uuid",
        creation_time="2026-01-01 00:00:00",
    )
    out = str(tmp_path / "digit_product")
    write_product(prod, out)
    for table in ("x_long", "obs", "edges"):
        got = read_product_table(spark, out, table).select("dataset")
        assert dict(got.dtypes)["dataset"] == "string", table
        assert {r["dataset"] for r in got.distinct().collect()} == set(
            digits.values()
        ), table

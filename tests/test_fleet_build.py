"""Single-invocation multi-tissue fleet build (VERDICT r7 #2,
plans/codex_pipeline.py build_products/write_products): one pass over
the shared catalog builds EVERY tissue's product; each per-tissue
output equals an individual ``build_product`` run over that tissue's
datasets, each tissue's write reads only its own datasets' files (the
shared inputs are never re-read across tissues), and the committed
directories are independent snapshot lineages (one marker each).

The reference runs one CWL invocation per tissue (pipeline.cwl:32-47 —
make_uuids_tsv.py per organ, full concatenation re-run per product);
here tissue is a grouping column over one catalog read + one
driver-side discovery pass.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from codex_data_products_spark.plans.codex_pipeline import (
    build_product,
    build_products,
    read_commit_marker,
    read_manifest,
    read_product_table,
    read_uns,
    write_product,
    write_products,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "codex_stress", os.path.join(REPO, "tools", "codex_stress.py")
)
codex_stress = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and codex_stress)

N_DATASETS, N_CELLS = 4, 12
DS = [codex_stress._ds_uuid(i) for i in range(N_DATASETS)]
# interleave tissues across catalog order: Spleen gets DS[0], DS[2];
# Thymus gets DS[1], DS[3] — exercises the grouping, not just a split
TISSUE_OF = {DS[0]: "Spleen", DS[1]: "Thymus", DS[2]: "Spleen", DS[3]: "Thymus"}
GROUPS = {
    "Spleen": [DS[0], DS[2]],
    "Thymus": [DS[1], DS[3]],
}
UUIDS = {"Spleen": "fleet-spleen", "Thymus": "fleet-thymus"}
T0 = "2026-08-15 00:00:00"


@pytest.fixture(scope="module")
def bundle(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fleet_bundle"))
    codex_stress.generate(out, N_DATASETS, N_CELLS)
    return out


def _table_rows(spark, out_dir, table):
    df = read_product_table(spark, out_dir, table)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _snapshot(spark, out_dir):
    snap = {
        t: _table_rows(spark, out_dir, t)
        for t in ("x_long", "obs", "var", "varm_long", "edges")
    }
    uns = read_uns(out_dir)
    snap["uns"] = (uns["dataset_uuids"], uns["datasets"], uns["tissue"])
    m = read_manifest(out_dir)
    snap["manifest"] = (
        m["Total Cell Count"],
        m["Dataset UUIDs"],
        m["Dataset HBMIDs"],
        m["Tissue"],
    )
    return snap


@pytest.fixture(scope="module")
def fleet(spark, bundle, tmp_path_factory):
    """One build_products + write_products invocation; a decode-logging
    decoder records which dataset's HDF5 each tissue's write touched."""
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    tmp = tmp_path_factory.mktemp("fleet_out")
    root = str(tmp / "fleet")
    log = str(tmp / "decodes.log")

    def logging_decoder(payload, path):
        # O_APPEND single-write is atomic for short lines — safe across
        # the local-mode Python workers
        fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        try:
            os.write(fd, (path + "\n").encode())
        finally:
            os.close(fd)
        return h5py_decoder(payload, path)

    products = build_products(
        spark,
        os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"),
        tissue_by_uuid=TISSUE_OF,
        product_uuid_by_tissue=UUIDS,
        creation_time=T0,
        decoder=logging_decoder,
    )
    # write per tissue, snapshotting the decode log between tissues so
    # each write's input footprint is attributable
    decoded_by_tissue = {}
    for t in sorted(products):
        start = (
            open(log).read().splitlines() if os.path.exists(log) else []
        )
        write_product(products[t], os.path.join(root, t))
        end = open(log).read().splitlines()
        decoded_by_tissue[t] = end[len(start):]
    return root, tmp, products, decoded_by_tissue


def test_each_tissue_product_equals_individual_build(spark, bundle, fleet):
    root, tmp, products, _ = fleet
    assert sorted(products) == ["Spleen", "Thymus"]
    for t, group in GROUPS.items():
        solo = str(tmp / f"solo_{t}")
        write_product(
            build_product(
                spark,
                os.path.join(bundle, "data"),
                os.path.join(bundle, "uuids.tsv"),
                tissue=t,
                product_uuid=UUIDS[t],
                creation_time=T0,
                only_datasets=group,
            ),
            solo,
        )
        got = _snapshot(spark, os.path.join(root, t))
        want = _snapshot(spark, solo)
        for key in got:
            assert got[key] == want[key], f"{t}: {key} diverged"


def test_fleet_write_reads_only_own_tissue_inputs(fleet):
    """The shared-input guarantee: tissue A's write never decodes
    tissue B's HDF5 files — across the whole fleet write, each
    dataset's expression file is read by exactly one tissue's jobs."""
    _, _, _, decoded_by_tissue = fleet
    for t, paths in decoded_by_tissue.items():
        datasets_touched = {
            seg
            for p in paths
            for seg in p.split(os.sep)
            if seg in set(DS)
        }
        assert datasets_touched == set(GROUPS[t]), t


def test_fleet_products_are_independent_snapshots(spark, fleet):
    """Each tissue directory carries its own commit lineage: distinct
    uuids, version 0, and committed reads gated per tissue."""
    root, _, _, _ = fleet
    for t in GROUPS:
        marker = read_commit_marker(os.path.join(root, t))
        assert marker["uuid"] == UUIDS[t]
        assert marker["version"] == 0
        assert sorted(marker["dataset_uuids"]) == sorted(GROUPS[t])
        obs = read_product_table(spark, os.path.join(root, t), "obs")
        tissues = {r["tissue"] for r in obs.select("tissue").distinct().collect()}
        assert tissues == {t}


def test_write_products_returns_manifests_by_tissue(spark, bundle, tmp_path):
    products = build_products(
        spark,
        os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"),
        tissue_by_uuid=TISSUE_OF,
        product_uuid_by_tissue=UUIDS,
        creation_time=T0,
    )
    manifests = write_products(products, str(tmp_path / "root"))
    assert sorted(manifests) == ["Spleen", "Thymus"]
    for t, m in manifests.items():
        assert m["Tissue"] == t
        assert m["Total Cell Count"] == len(GROUPS[t]) * N_CELLS


def test_unresolved_tissue_raises(spark, bundle):
    with pytest.raises(ValueError, match="no tissue for leaf datasets"):
        build_products(
            spark,
            os.path.join(bundle, "data"),
            os.path.join(bundle, "uuids.tsv"),
            tissue_by_uuid={DS[0]: "Spleen"},  # DS[1..3] unresolved
        )


# ---------------------------------------------------------------------------
# Fleet maintenance (streaming/product_ivm.apply_fleet_delta): one
# release batch routed across every tissue's product — adds via the
# catalog/tissue mapping, removes via committed ownership; lockstep
# version anchoring (no-op tissues commit metadata-only), replay-safe.
# ---------------------------------------------------------------------------

from codex_data_products_spark.streaming.product_ivm import (  # noqa: E402
    apply_fleet_delta,
)


def _build_one(spark, bundle, tissue, datasets, decoder=None):
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    return build_product(
        spark,
        os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"),
        tissue=tissue,
        product_uuid=UUIDS[tissue],
        creation_time=T0,
        only_datasets=datasets,
        decoder=decoder or h5py_decoder,
    )


@pytest.fixture()
def maintained_fleet(spark, bundle, tmp_path):
    """Bootstrap Spleen={DS0}, Thymus={DS1}; the fleet deltas add the
    interleaved rest."""
    root = str(tmp_path / "fleet_ivm")
    for t, ds in (("Spleen", [DS[0]]), ("Thymus", [DS[1]])):
        write_product(
            _build_one(spark, bundle, t, ds), os.path.join(root, t)
        )
    return root


def test_fleet_delta_routes_adds_and_removes(
    spark, bundle, tmp_path, maintained_fleet
):
    root = maintained_fleet
    data, cat = os.path.join(bundle, "data"), os.path.join(bundle, "uuids.tsv")
    # batch 0: one change list spanning both tissues
    m0 = apply_fleet_delta(
        spark, root, data, cat, 0,
        add=[DS[2], DS[3]], tissue_by_uuid=TISSUE_OF,
    )
    assert sorted(m0) == ["Spleen", "Thymus"]
    # batch 1: removal auto-routed to its owner (no tissue arg anywhere)
    apply_fleet_delta(
        spark, root, data, cat, 1, remove=[DS[0]], tissue_by_uuid=TISSUE_OF
    )
    # each tissue equals a from-scratch build over its surviving set
    want = {"Spleen": [DS[2]], "Thymus": [DS[1], DS[3]]}
    for t, ds in want.items():
        fresh = str(tmp_path / f"fresh_{t}")
        write_product(_build_one(spark, bundle, t, ds), fresh)
        got = _snapshot(spark, os.path.join(root, t))
        exp = _snapshot(spark, fresh)
        for key in got:
            assert got[key] == exp[key], f"{t}: {key} diverged"


def test_fleet_delta_noop_tissue_lockstep_and_no_decode(
    spark, bundle, tmp_path, maintained_fleet
):
    """A batch touching only Spleen: Thymus still commits v=1 (lockstep
    anchoring), its dataset-partitioned files stay byte-identical, and
    its HDF5 is never decoded; a later batch can then anchor at v=1 on
    BOTH products."""
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    root = maintained_fleet
    data, cat = os.path.join(bundle, "data"), os.path.join(bundle, "uuids.tsv")
    log = str(tmp_path / "decodes.log")

    def logging_decoder(payload, path):
        fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        try:
            os.write(fd, (path + "\n").encode())
        finally:
            os.close(fd)
        return h5py_decoder(payload, path)

    def files(t):
        out = []
        base = os.path.join(root, t)
        for table in ("x_long", "obs", "edges"):
            for dp, _, fns in os.walk(os.path.join(base, table)):
                for fn in fns:
                    p = os.path.join(dp, fn)
                    st = os.stat(p)
                    out.append((os.path.relpath(p, base), st.st_size,
                                st.st_mtime_ns))
        return sorted(out)

    before = files("Thymus")
    apply_fleet_delta(
        spark, root, data, cat, 0,
        add=[DS[2]], tissue_by_uuid=TISSUE_OF, decoder=logging_decoder,
    )
    assert files("Thymus") == before
    decoded = open(log).read() if os.path.exists(log) else ""
    assert DS[2] in decoded and DS[1] not in decoded and DS[3] not in decoded
    for t in ("Spleen", "Thymus"):
        assert read_commit_marker(os.path.join(root, t))["version"] == 1
    # lockstep holds: batch 1 anchors at v=1 on both and applies cleanly
    apply_fleet_delta(
        spark, root, data, cat, 1, add=[DS[3]], tissue_by_uuid=TISSUE_OF
    )
    assert read_commit_marker(os.path.join(root, "Thymus"))["version"] == 2


def test_fleet_delta_replay_is_idempotent(spark, bundle, maintained_fleet):
    root = maintained_fleet
    data, cat = os.path.join(bundle, "data"), os.path.join(bundle, "uuids.tsv")
    kw = dict(add=[DS[2], DS[3]], tissue_by_uuid=TISSUE_OF)
    apply_fleet_delta(spark, root, data, cat, 0, **kw)
    want = {t: _snapshot(spark, os.path.join(root, t))
            for t in ("Spleen", "Thymus")}
    apply_fleet_delta(spark, root, data, cat, 0, **kw)  # replay
    got = {t: _snapshot(spark, os.path.join(root, t))
           for t in ("Spleen", "Thymus")}
    assert got == want


def test_fleet_delta_unroutable_raises(spark, bundle, maintained_fleet):
    root = maintained_fleet
    data, cat = os.path.join(bundle, "data"), os.path.join(bundle, "uuids.tsv")
    with pytest.raises(ValueError, match="no tissue for added"):
        apply_fleet_delta(spark, root, data, cat, 0, add=[DS[2]])
    with pytest.raises(ValueError, match="in no product"):
        apply_fleet_delta(
            spark, root, data, cat, 0, remove=["not-a-dataset"],
            tissue_by_uuid=TISSUE_OF,
        )


def test_fleet_delta_cli_tissue_map(spark, bundle, tmp_path, maintained_fleet):
    """The fleet-delta CLI exposes tissue_by_uuid via --tissue-map
    (ADVICE r8): a stress catalog has no 'tissue' column, so without
    the flag every --add raises the no-tissue ValueError; with a JSON
    (batch 0) or TSV (batch 1) map the adds route to their owners."""
    import json as _json

    from codex_data_products_spark.cli import main

    root = maintained_fleet
    data, cat = os.path.join(bundle, "data"), os.path.join(bundle, "uuids.tsv")
    base = ["fleet-delta", "--root", root, "--data-dir", data,
            "--uuids-tsv", cat]

    jmap = tmp_path / "tissue_map.json"
    jmap.write_text(_json.dumps(TISSUE_OF))
    rc = main(base + ["--batch-id", "0", "--add", DS[2],
                      "--tissue-map", str(jmap)])
    assert rc == 0
    from codex_data_products_spark.plans.codex_pipeline import read_uns

    assert sorted(read_uns(os.path.join(root, "Spleen"))["dataset_uuids"]) \
        == sorted([DS[0], DS[2]])

    tmap = tmp_path / "tissue_map.tsv"
    tmap.write_text("".join(f"{u}\t{t}\n" for u, t in TISSUE_OF.items()))
    rc = main(base + ["--batch-id", "1", "--add", DS[3],
                      "--tissue-map", str(tmap)])
    assert rc == 0
    assert sorted(read_uns(os.path.join(root, "Thymus"))["dataset_uuids"]) \
        == sorted([DS[1], DS[3]])

"""Incrementally-maintained CODEX data product — the ninth IVM class,
applied to the flagship pipeline itself.

The reference's operational model is "new dataset release → re-run the
whole concatenation over ALL datasets" (bin/concatenate.py:378-394, the
sequential per-dataset loop, and :412 anndata.concat over everything).
This maintainer replaces that with O(delta) per release: adding or
removing a dataset touches ONLY that dataset's partitions plus the
channel-grain axis tables.

Every written product is maintainable: ``plans.codex_pipeline.
write_product`` commits snapshot v=0 together with its v=0 state, so
``apply_product_delta`` runs on any committed product as it is
(``bootstrap_product_maintenance`` is the same function under its
older name).

Why this decomposes cleanly: every row-scale product table is
per-dataset-pure —

  * ``x_long``: a dataset's rows are a function of its own files; the
    F5 unidentifiable-channel filter is row-local on the channel name,
    so global filtering restricted to one dataset equals filtering that
    dataset alone.
  * ``obs``: the donor join keys on the dataset's own catalog row.
  * ``edges``: block-diagonal by construction (U3) — an edge never
    crosses datasets.

Only two cross-dataset dependencies exist, both channel-grain (tiny at
any corpus size):

  * ``var`` — the union of per-dataset surviving channel sets; adding a
    dataset can extend the axis, removing one can retract channels no
    other dataset carries.
  * ``varm_long`` — varm rows semi-joined against the GLOBAL var axis,
    so survivorship must be re-derived against the maintained axis, not
    a block-local one (the product keeps the pre-join ``varm_raw``
    relation for exactly this).

State layout under ``<product>/_state`` (versioned ``v=<k>`` snapshots,
written and read back by ``write_product_state``; replay contract:
``streaming.logstate``):

  * ``ds_channels/v=<k>`` — (dataset, channel, n_rows): surviving
    channels per dataset with x_long row counts. var = distinct
    channel; commit-time x_long/var stats are additive over it.
  * ``ds_stats/v=<k>``    — (dataset, hubmap_id, n_cells, n_edges):
    the additive manifest + stats inputs (total cells = sum, dataset
    lists = keys, obs/edges stats = sums and maxes).
  * ``ds_varm_raw/v=<k>`` — per-dataset varm rows BEFORE the var
    semi-join.

State and stats come from the tables as written, never from the lazy
build: an add batch derives the added datasets' state from the files it
just appended (``written_tables``), and every commit's stats fold the
persisted state and the written ``varm_long``. Each added dataset's
HDF5 source is therefore decoded once per table write.

Commit protocol (single-writer): EVERY pre-marker write lands at a path
no committed reader resolves — added datasets' partition files are
APPENDED under new names and become visible only through the commit's
FILE-LEVEL MANIFEST (each commit names its exact data files;
``read_product_table`` loads precisely those), state ``v=k+1``, and the
axis tables at their own versioned ``var/v=k+1`` / ``varm_long/v=k+1``
directories (committed readers stay pinned to the versions named in the
live marker). uns, manifest and table stats travel INSIDE the commit
file, built by the one commit step ``write_commit_marker``, so no live
JSON is overwritten before the commit point either. The marker rename
is therefore the ONLY reader-visible transition: a crash anywhere
before it leaves the previous committed product byte-intact
(property-tested with a failure seam at every write step), and the
root-level ``uns.json``/``<uuid>.json`` mirrors are refreshed
post-commit. No committed file is ever overwritten — removed/re-added
datasets write NEW files, so time travel is exact at every retained
version — and nothing is deleted at commit: ``expire_snapshots``
applies retention-based file-grain GC afterwards (delete exactly the
files no retained snapshot references), so a concurrent reader that
resolved the previous marker can finish its scan without losing files
mid-read, and historical versions stay readable until expired.

Invariants (tests/test_product_ivm.py): after any sequence of
add/remove batches, every product table equals the from-scratch
``build_product`` + ``write_product`` over the surviving dataset set
(property-tested), a replayed batch is a no-op, and untouched datasets'
x_long partition files are byte-identical (never rewritten).

Reference parity: the reference has no incremental path
(bin/concatenate.py recomputes the product per release); this is the
Spark-native answer to running that recompute over an append-heavy
corpus — at 100 TB the full rebuild is days, the delta is minutes.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_data_products_spark.plans.codex_pipeline import (
    PARTITIONED_TABLES,
    CodexProduct,
    STATE_DIR,
    STATE_TABLES,
    VERSIONED_TABLES,
    _list_files,
    build_product,
    catalog_leaves,
    derive_product_state,
    expire_snapshots,
    product_stats_from_state,
    product_uns,
    read_catalog,
    read_commit_marker,
    write_axis_table,
    write_commit_marker,
    write_product,
    write_product_state,
    written_tables,
)
from codex_data_products_spark.streaming.logstate import drain
from codex_data_products_spark.streaming.merge import read_table
from codex_data_products_spark.tables import run_lanes

# Every written product carries its v=0 state; the name stays for
# callers that bootstrap maintenance explicitly.
bootstrap_product_maintenance = write_product


def _read_state(spark: SparkSession, out_dir: str, version: int) -> dict:
    """The maintenance state a batch anchored at ``version`` folds."""
    return {
        name: read_table(
            spark, os.path.join(out_dir, STATE_DIR, name), version=version
        )
        for name in STATE_TABLES
    }


def _write_block_partitions(block: CodexProduct, out_dir: str) -> dict:
    """APPEND the added datasets' partitions into the three dataset-
    partitioned tables and return the written files per table/dataset
    (``{table: {dataset: [[relpath, size], ...]}}``) by pre/post
    listing diff — append never rewrites an existing file, so the diff
    is exactly this write's output even when a crashed earlier attempt
    left files in the same partitions (those orphans stay unreferenced
    by every commit and are swept by ``expire_snapshots``). Appending
    instead of dynamic-partition-overwrite is what makes time travel
    EXACT across remove→re-add: the re-added dataset's new files get
    new names, the old commit's manifest keeps resolving the old bytes
    until retention expires them. Also trivially safe under
    apply_fleet_delta's concurrent per-tissue threads — no session-conf
    juggling, and sibling tissues write disjoint partitions."""
    datasets = list(block.uns["dataset_uuids"])
    written: dict = {}
    for table in PARTITIONED_TABLES:
        df = getattr(block, table)
        if df is None:
            written[table] = {ds: [] for ds in datasets}
            continue
        pre = {
            ds: {
                rel
                for rel, _ in _list_files(
                    os.path.join(out_dir, table, f"dataset={ds}"), out_dir
                )
            }
            for ds in datasets
        }
        df.write.mode("append").partitionBy("dataset").parquet(
            f"{out_dir}/{table}"
        )
        written[table] = {
            ds: [
                [rel, size]
                for rel, size in _list_files(
                    os.path.join(out_dir, table, f"dataset={ds}"), out_dir
                )
                if rel not in pre[ds]
            ]
            for ds in datasets
        }
    return written


def apply_product_delta(
    spark: SparkSession,
    out_dir: str,
    data_dir: str,
    uuids_tsv: str,
    batch_id: int,
    add: Iterable[str] = (),
    remove: Iterable[str] = (),
    *,
    tissue: str | None = None,
    tissue_by_uuid: dict[str, str] | None = None,
    decoder=None,
    retain_snapshots: int | None = 2,
    _fail_after: str | None = None,
) -> dict:
    """Fold one release batch (datasets added and/or removed) into the
    committed product: read snapshot + state anchored at v=batch_id,
    commit v=batch_id+1, touch only the delta's partitions. Returns the
    updated manifest.

    Replay-safe: the snapshot/state reads are anchored to the batch id
    (``read_commit_marker(..., version=batch_id)`` resolves the
    versioned commit file even after this batch's own commit), block
    builds are deterministic, and every write is an overwrite at a
    version-addressed path — a crashed batch re-runs to the identical
    committed snapshot.

    ``retain_snapshots`` runs post-commit retention GC
    (``expire_snapshots``); None skips it (retain everything).
    ``_fail_after`` ∈ {partitions, state, var, varm_long, manifest,
    commit_file} is the failure-injection seam: the atomicity property
    (crash before the marker rename ⇒ previous snapshot byte-intact) is
    tested at EVERY write step."""
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    def _checkpoint(step: str) -> None:
        if _fail_after == step:
            raise RuntimeError(f"injected crash after {step}")

    added = list(dict.fromkeys(add))
    removed = list(dict.fromkeys(remove))
    if set(added) & set(removed):
        raise ValueError("a dataset cannot be both added and removed")

    base = read_commit_marker(out_dir, version=batch_id)
    uns = base["uns"]
    state = _read_state(spark, out_dir, batch_id)
    # In-place REPLACE is rejected: the state fold and the file-manifest
    # carry-forward both assume an added dataset has no committed
    # contribution yet. Replace = remove in one batch, add in the next —
    # each step crash-safe on its own. (Replaying this batch is fine:
    # the check reads state v=batch_id, which still excludes the
    # datasets this batch adds.)
    existing = {
        r["dataset"]
        for r in state["ds_channels"].select("dataset").distinct().collect()
    }
    re_added = sorted(set(added) & existing)
    if re_added:
        raise ValueError(
            f"datasets already in the product: {re_added}; remove them "
            "in a prior batch before re-adding"
        )

    touched = added + removed

    # -- 1. block-build the added datasets (per-dataset-pure tables are
    #       EXACTLY the full build's rows for them) and append only their
    #       partitions. Uncommitted until the marker flips.
    block_state: dict = {}
    block_files: dict = {t: {} for t in PARTITIONED_TABLES}
    if added:
        block = build_product(
            spark,
            data_dir,
            uuids_tsv,
            tissue=tissue or uns.get("tissue"),
            decoder=decoder or h5py_decoder,
            tissue_by_uuid=tissue_by_uuid,
            product_uuid=uns["uuid"],
            creation_time=uns["creation_data_time"],
            only_datasets=added,
        )
        block_files = _write_block_partitions(block, out_dir)
        # the block's state comes from the files just appended, so the
        # HDF5 sources decode once per table write, as in write_product
        block_state = derive_product_state(
            written_tables(block, out_dir, block_files)
        )
    _checkpoint("partitions")

    # -- 2. fold the per-dataset state: drop touched datasets' rows,
    #       union the block's freshly-derived rows.
    def fold(name: str) -> DataFrame:
        kept = state[name].filter(~F.col("dataset").isin(touched))
        fresh = block_state.get(name)
        return kept.unionByName(fresh) if fresh is not None else kept

    v = batch_id + 1
    new_state = write_product_state(
        out_dir, v, {name: fold(name) for name in STATE_TABLES}
    )
    _checkpoint("state")

    # -- 3. re-derive the channel-grain axis tables from state (tiny:
    #       channels x datasets rows) at their OWN versioned paths —
    #       committed readers stay pinned to the marker's versions, so
    #       nothing they resolve is ever overwritten. var = union of
    #       per-dataset surviving sets; varm survivorship against the
    #       NEW global axis — the one place a block-local view would be
    #       wrong.
    new_var = new_state["ds_channels"].select("channel").distinct()
    new_varm = new_state["ds_varm_raw"].join(
        F.broadcast(new_var), "channel", "left_semi"
    )
    write_axis_table(new_var, f"{out_dir}/var/v={v}")
    _checkpoint("var")
    write_axis_table(new_varm, f"{out_dir}/varm_long/v={v}")
    new_varm = spark.read.parquet(f"{out_dir}/varm_long/v={v}")
    _checkpoint("varm_long")

    # -- 4. uns + stats from the additive state (never a corpus scan):
    #       dataset lists in catalog leaf order — identical to what a
    #       from-scratch build over the surviving set emits.
    stats_rows = {r["dataset"]: r for r in new_state["ds_stats"].collect()}
    _, leaves = catalog_leaves(read_catalog(spark, uuids_tsv))
    order = [r["uuid"] for r in leaves if r["uuid"] in stats_rows]
    order += sorted(set(stats_rows) - set(order))
    new_uns = product_uns(
        [(u, stats_rows[u]["hubmap_id"]) for u in order],
        uns.get("tissue"),
        uns["uuid"],
        uns["creation_data_time"],
    )
    stats = product_stats_from_state(
        new_state["ds_channels"], new_state["ds_stats"], new_varm
    )

    # file-level manifest for the new snapshot: carried-forward entries
    # for untouched datasets (their files are immutable), the block's
    # freshly-appended files for added datasets, removed datasets
    # dropped, and the new axis versions listed. Pure dict math plus
    # one listing of the delta's own writes.
    files: dict = {}
    for t in PARTITIONED_TABLES:
        files[t] = {
            ds: base["files"][t].get(ds, [])
            for ds in order
            if ds not in set(added)
        }
        for ds in added:
            files[t][ds] = block_files[t].get(ds, [])
    for t in VERSIONED_TABLES:
        files[t] = _list_files(os.path.join(out_dir, t, f"v={v}"), out_dir)
    _checkpoint("manifest")

    # -- 5. COMMIT POINT (atomic rename), then retention-based GC: the
    #       removed datasets' partitions and superseded axis/state
    #       versions outlive this commit until no retained snapshot
    #       references them (expire_snapshots), so concurrent readers of
    #       the previous snapshot never lose files mid-scan.
    manifest = write_commit_marker(
        out_dir,
        new_uns,
        v,
        {"var": v, "varm_long": v},
        stats,
        files,
        _fail_after=_fail_after,
    )
    if retain_snapshots is not None:
        expire_snapshots(out_dir, keep_last=retain_snapshots)
    return manifest


def apply_metadata_refresh(
    spark: SparkSession,
    out_dir: str,
    data_dir: str,
    uuids_tsv: str,
    batch_id: int,
    datasets: Iterable[str],
    *,
    decoder=None,
    retain_snapshots: int | None = 2,
) -> dict:
    """The second delta class: an ancestor's antibodies.tsv was
    corrected (metadata fix, no expression data changed). Only the varm
    relation of the affected datasets changes — so the batch rebuilds
    JUST their ds_varm_raw state rows and commits a new varm_long
    version against the CARRIED-FORWARD var version (the axis itself is
    untouched). Cost is METADATA-grain: the block build's varm plan
    reads only the CSV headers and the antibodies TSV; the HDF5
    expression scan is never executed (nothing materializes obs or
    x_long — pinned by test_metadata_refresh_never_decodes_hdf5), and
    no dataset partition is touched. Returns the manifest."""
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    targets = list(dict.fromkeys(datasets))
    base = read_commit_marker(out_dir, version=batch_id)
    uns = base["uns"]
    state = _read_state(spark, out_dir, batch_id)
    known = set(base["dataset_uuids"])
    missing = [d for d in targets if d not in known]
    if missing:
        raise ValueError(f"not in the committed product: {missing}")

    block = build_product(
        spark,
        data_dir,
        uuids_tsv,
        tissue=uns.get("tissue"),
        decoder=decoder or h5py_decoder,
        product_uuid=uns["uuid"],
        creation_time=uns["creation_data_time"],
        only_datasets=targets,
    )
    state["ds_varm_raw"] = (
        state["ds_varm_raw"]
        .filter(~F.col("dataset").isin(targets))
        .unionByName(block.varm_raw)
    )

    v = batch_id + 1
    new_state = write_product_state(out_dir, v, state)
    var_version = base["table_versions"]["var"]
    var = spark.read.parquet(f"{out_dir}/var/v={var_version}")
    new_varm = new_state["ds_varm_raw"].join(
        F.broadcast(var), "channel", "left_semi"
    )
    write_axis_table(new_varm, f"{out_dir}/varm_long/v={v}")
    new_varm = spark.read.parquet(f"{out_dir}/varm_long/v={v}")

    stats = product_stats_from_state(
        new_state["ds_channels"], new_state["ds_stats"], new_varm
    )
    # metadata-only delta: every partitioned file carries forward; only
    # the varm_long axis version is new
    files = dict(base["files"])
    files["varm_long"] = _list_files(
        os.path.join(out_dir, "varm_long", f"v={v}"), out_dir
    )
    manifest = write_commit_marker(
        out_dir, uns, v, {"var": var_version, "varm_long": v}, stats, files
    )
    if retain_snapshots is not None:
        expire_snapshots(out_dir, keep_last=retain_snapshots)
    return manifest


def run_product_maintenance(
    changes: DataFrame,
    out_dir: str,
    data_dir: str,
    uuids_tsv: str,
    checkpoint_dir: str,
    **build_kwargs,
) -> None:
    """``logstate.drain`` of a release-change stream onto the
    maintained product. ``changes`` rows: (op string in
    {'add','remove','refresh'}, dataset string) — 'refresh' is the
    metadata-only delta class (``apply_metadata_refresh``). A batch is
    either a release batch (add/remove) or a metadata batch (refresh),
    never both: each class bumps the state version once, so mixing them
    in one batch_id would break the v=k → v=k+1 anchoring. The
    per-batch collect is catalog-grain (releases touch a handful of
    datasets), bounded by design.
    """

    def fold(batch: DataFrame, batch_id: int) -> None:
        rows = batch.select("op", "dataset").collect()
        refresh = [r["dataset"] for r in rows if r["op"] == "refresh"]
        add = [r["dataset"] for r in rows if r["op"] == "add"]
        remove = [r["dataset"] for r in rows if r["op"] == "remove"]
        if refresh and (add or remove):
            raise ValueError(
                "a change batch must be release-only (add/remove) or "
                "metadata-only (refresh) — split them across batches"
            )
        if refresh:
            apply_metadata_refresh(
                batch.sparkSession,
                out_dir,
                data_dir,
                uuids_tsv,
                batch_id,
                refresh,
                decoder=build_kwargs.get("decoder"),
            )
            return
        apply_product_delta(
            batch.sparkSession,
            out_dir,
            data_dir,
            uuids_tsv,
            batch_id,
            add=add,
            remove=remove,
            **build_kwargs,
        )

    drain(changes, checkpoint_dir, fold)


# ---------------------------------------------------------------------------
# Fleet maintenance: one release batch over EVERY tissue's product.
#
# build_products + write_products (plans/codex_pipeline.py) build and
# commit the whole fleet, v=0 state included, in one invocation; this
# answers the operational sequel —
# "apply this release's adds/removes to the whole fleet in one
# invocation". Routing is automatic: added datasets resolve to a tissue
# through the catalog (or tissue_by_uuid), removed datasets resolve to
# the product that actually owns them (the committed markers at the
# anchor version), so the caller ships ONE change list, not one per
# tissue.
#
# Anchoring is LOCKSTEP: every tissue — changed or not — commits
# v=batch_id+1. A no-op tissue's commit folds metadata only (state →
# state, axis re-derive over channel-grain rows, no HDF5 decode —
# guarded by test_fleet_delta_noop_tissue_never_decodes; its
# dataset-partitioned files stay byte-identical), which keeps the IVM
# replay contract intact fleet-wide: batch k always reads version k on
# every product, so a crashed/replayed fleet batch re-derives identical
# snapshots without per-tissue version bookkeeping.
# ---------------------------------------------------------------------------


def apply_fleet_delta(
    spark: SparkSession,
    root: str,
    data_dir: str,
    uuids_tsv: str,
    batch_id: int,
    add: Iterable[str] = (),
    remove: Iterable[str] = (),
    *,
    tissue_by_uuid: dict[str, str] | None = None,
    decoder=None,
    retain_snapshots: int | None = 2,
    max_parallel: int = 8,
) -> dict:
    """Fold one release batch into every product under ``root``.
    Returns manifests by tissue (every tissue, including no-ops).

    Tissues apply CONCURRENTLY (``max_parallel`` driver threads over
    the shared SparkSession — Spark's scheduler interleaves the jobs):
    per-tissue deltas are independent by construction (disjoint
    datasets, per-product state and commit dirs), and the lockstep
    version contract is per-product metadata, so at a many-hundred-
    tissue fleet the wall time is bounded by the widest tissue's work
    plus the no-op commits' metadata folds — not 2-3 s x N serial
    driver time (VERDICT r8 #4). ``max_parallel=1`` restores the
    sequential order exactly."""
    added = list(dict.fromkeys(add))
    removed = list(dict.fromkeys(remove))

    tissues = sorted(
        d
        for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d))
    )
    if not tissues:
        raise ValueError(f"no maintained products under {root}")

    # -- route added datasets via the shared catalog (same resolution
    #    rule as build_products: catalog 'tissue' column, else the
    #    injected mapping; silent buckets are refused)
    catalog = read_catalog(spark, uuids_tsv)
    has_tissue_col = "tissue" in catalog.columns
    cols = ["uuid"] + (["tissue"] if has_tissue_col else [])
    cat_tissue = {r["uuid"]: (r["tissue"] if has_tissue_col else None)
                  for r in catalog.select(*cols).collect()}

    def tissue_of(u: str) -> str | None:
        return cat_tissue.get(u) or (tissue_by_uuid or {}).get(u)

    add_by_tissue: dict[str, list[str]] = {}
    for u in added:
        t = tissue_of(u)
        if t is None:
            raise ValueError(
                f"no tissue for added dataset {u}: add a 'tissue' catalog "
                "column or pass tissue_by_uuid"
            )
        if t not in tissues:
            raise ValueError(
                f"dataset {u} resolves to tissue {t!r} with no maintained "
                f"product under {root}: write it first "
                "(write_product or write_products)"
            )
        add_by_tissue.setdefault(t, []).append(u)

    # -- route removed datasets to their OWNING product (committed
    #    membership at the anchor version — removed datasets may have
    #    left the catalog entirely, so the catalog cannot route them)
    owners: dict[str, str] = {}
    for t in tissues:
        marker = read_commit_marker(os.path.join(root, t), version=batch_id)
        for u in marker["dataset_uuids"]:
            owners[u] = t
    rm_by_tissue: dict[str, list[str]] = {}
    for u in removed:
        t = owners.get(u)
        if t is None:
            raise ValueError(
                f"removed dataset {u} is in no product's committed "
                f"v={batch_id} snapshot"
            )
        rm_by_tissue.setdefault(t, []).append(u)

    def one(t: str) -> dict:
        return apply_product_delta(
            spark,
            os.path.join(root, t),
            data_dir,
            uuids_tsv,
            batch_id,
            add=add_by_tissue.get(t, []),
            remove=rm_by_tissue.get(t, []),
            tissue_by_uuid=tissue_by_uuid,
            decoder=decoder,
            retain_snapshots=retain_snapshots,
        )

    # run_lanes re-raises the first failing tissue's exception only
    # after every other tissue finished, so each tissue either committed
    # v=batch_id+1 or crashed before its marker rename — per-product
    # atomicity makes a partial fleet batch replayable
    manifests = run_lanes(
        spark,
        *(partial(one, t) for t in tissues),
        max_workers=max_parallel,
    )
    return dict(zip(tissues, manifests))

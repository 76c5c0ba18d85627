"""The flagship CODEX concatenation pipeline — reference Entry C
(pipeline.cwl → bin/concatenate.py main(), SURVEY.md §3.3) as one lazy
Spark DAG.

Differences from the reference, by design (SURVEY §3.3 "Spark
re-expression"):

  * the per-dataset Python loop builds *plans*, not data — per-dataset
    frames are unioned lazily and execute as one job;
  * file quintuples are aligned by dataset uuid parsed from paths, not by
    zip order (J7 — the reference silently mis-pairs incomplete lists);
  * the expression matrix lives in long form (cell_id, channel, total,
    mean) — the scale representation; wide export is a pivot at the sink;
  * adjacency is an edge list on globally-unique string cell ids, so the
    block-diagonal union (U3) is a plain unionByName;
  * uuid/timestamp are injectable for reproducible products (E8/E9).

Product layout (K1): a directory of parquet tables (x_long partitioned
by dataset for partition pruning) + uns.json + a manifest (K2).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_data_products_spark.functions.antibodies import canonical_channel_py
from codex_data_products_spark.sources.antibodies_tsv import (
    first_match_per_antibody,
    read_antibodies,
)
from codex_data_products_spark.sources.expression_csv import (
    read_centers,
    read_channel_names,
)
from codex_data_products_spark.sources.hdf5 import Decoder, h5py_decoder, read_hdf5_expression
from codex_data_products_spark.sources.labels import read_labels, remap_edges_to_cell_ids
from codex_data_products_spark.sources.matrix_market import read_matrix_market

# S10: the five glob families, two filename variants each
# (find_files_by_type, bin/concatenate.py:118-151).
FILE_PATTERNS = {
    "hdf5": ["out.hdf5"],
    "expression_csv": [
        "reg1_stitched_expressions.ome.tiff-cell_channel_total.csv",
        "reg001_expr.ome.tiff-cell_channel_total.csv",
    ],
    "adjacency": [
        "reg1_stitched_expressions.ome.tiff_AdjacencyMatrix.mtx",
        "reg001_expr.ome.tiff_AdjacencyMatrix.mtx",
    ],
    "labels": [
        "reg1_stitched_expressions.ome.tiff_AdjacencyMatrixRowColLabels.txt",
        "reg001_expr.ome.tiff_AdjacencyMatrixRowColLabels.txt",
    ],
    "centers": [
        "reg1_stitched_expressions.ome.tiff-cell_centers.csv",
        "reg001_expr.ome.tiff-cell_centers.csv",
    ],
}

CHANNEL_DROP_REGEX = r"^Channel:\d+:\d+$"  # F5, bin/concatenate.py:443-447


@dataclass
class CodexProduct:
    """The data product as logical tables (SURVEY §1.1 data model)."""

    x_long: DataFrame  # (dataset, cell_id, channel, total, mean)
    obs: DataFrame  # cell metadata + donor fields + Epic literals
    var: DataFrame  # surviving channels
    varm_long: DataFrame  # (channel, dataset, uniprot, rrid, antibodies_tsv_id)
    edges: DataFrame  # (dataset, src_cell_id, dst_cell_id, weight)
    uns: dict = field(default_factory=dict)
    # varm rows BEFORE the survivorship semi-join against the global var
    # axis — the per-dataset-pure relation the incremental maintainer
    # (streaming/product_ivm.py) persists so varm survivorship can be
    # re-derived against the MAINTAINED var axis, not a block-local one.
    varm_raw: DataFrame | None = None


def discover_dataset_files(data_dir: str, dataset_uuid: str) -> dict[str, str] | None:
    """S10: glob the five file families under one dataset dir; first
    match per family (find_files early-return, make_directory.py:12-19).
    Driver-side file-metadata work, like Spark's own file listing."""
    base = os.path.join(data_dir, dataset_uuid)
    if not os.path.isdir(base):
        return None
    found: dict[str, str] = {}
    for kind, patterns in FILE_PATTERNS.items():
        for pat in patterns:
            hits = sorted(glob.glob(os.path.join(base, "**", pat), recursive=True))
            if hits:
                found[kind] = hits[0]
                break
    required = {"expression_csv", "adjacency", "labels", "centers"}
    return found if required <= set(found) else None


def read_catalog(spark: SparkSession, uuids_tsv: str) -> DataFrame:
    """S1: the uuids TSV with the pandas index column dropped
    (F1, bin/concatenate.py:303,306 — '^Unnamed' prune)."""
    df = spark.read.options(sep="\t", header=True).csv(uuids_tsv)
    keep = [
        c
        for c in df.columns
        if c and not c.startswith("Unnamed") and not c.startswith("_c")
    ]
    return df.select(*keep)


def _dataset_parts(
    spark: SparkSession,
    data_dir: str,
    ds: str,
    ds_tissue: str,
    ancestor_of: dict,
    decoder: Decoder,
) -> dict | None:
    """The per-dataset plan fragments (x/obs/varm/edges) for ONE leaf
    dataset — the unit both the single-product and the multi-tissue
    fleet build compose from, so a fleet build's per-tissue product is
    STRUCTURALLY the same plan as an individual build's. Returns None
    for incomplete dataset dirs (skip-sparse-dirs guard,
    bin/concatenate.py:358-359). Nothing executes here except tiny
    driver-side metadata reads (CSV headers, file globs)."""
    files = discover_dataset_files(data_dir, ds)
    if files is None:
        return None

    # Channel names: CSV header (S3), canonicalized BEFORE the union
    # (J4 on var names: find_antibody_key only, bin/concatenate.py:246).
    raw_channels = read_channel_names(files["expression_csv"])
    channels = [canonical_channel_py(c) for c in raw_channels]
    channel_map = spark.createDataFrame(
        [(i, c) for i, c in enumerate(channels)], "channel_idx int, channel string"
    )

    # S4: HDF5 decode (one task per file) → long rows; channel names
    # joined on position.
    expr = read_hdf5_expression(spark, files["hdf5"], decoder=decoder)
    global_id = F.concat_ws("-", F.col("dataset"), F.col("original_obs_id"))
    x = expr.join(F.broadcast(channel_map), "channel_idx").select(
        "dataset",
        global_id.alias("cell_id"),
        "channel",
        "total",
        "mean",
    )

    # obs: one row per cell + centers coordinates (F4/J3 semi
    # semantics via left join on the cell's own id set).
    cells = expr.select("dataset", "original_obs_id").distinct()
    centers = read_centers(spark, files["centers"])
    obs = cells.join(centers, "original_obs_id", "left").select(
        F.concat_ws("-", "dataset", "original_obs_id").alias("cell_id"),
        "dataset",
        "original_obs_id",
        F.lit(ds_tissue).alias("tissue"),
        "x",
        "y",
    )

    # varm: parent antibodies.tsv (J2 ancestor lookup) ∩ var channels
    # (U2), first match per name (A5), tidy long form (P1 internal).
    parent = ancestor_of.get(ds)
    antibodies_path = None
    if parent:
        hits = sorted(
            glob.glob(os.path.join(data_dir, parent, "*antibodies.tsv"))
        )
        antibodies_path = hits[0] if hits else None
    varm = None
    if antibodies_path:
        antb = first_match_per_antibody(
            read_antibodies(spark, antibodies_path)
        )
        ds_channels = spark.createDataFrame(
            [(c,) for c in channels], "channel string"
        )
        varm = antb.join(
            ds_channels, antb.antibody_name == ds_channels.channel, "inner"
        ).select(
            "channel",
            F.lit(ds).alias("dataset"),
            F.col("uniprot_accession_number").alias("uniprot"),
            F.col("rr_id").alias("rrid"),
            F.col("channel_id").alias("antibodies_tsv_id"),
        )

    # Adjacency: MM positions → cell ids, edges kept only when both
    # endpoints exist in obs (W1 + J3, bin/concatenate.py:310-330),
    # then globalized — U3 block-diagonal union for free.
    mm = read_matrix_market(spark, files["adjacency"])
    labels = read_labels(spark, files["labels"])
    keep = cells.select(F.col("original_obs_id").alias("cell_id"))
    local_edges = remap_edges_to_cell_ids(mm, labels, keep=keep)
    edges = local_edges.select(
        F.lit(ds).alias("dataset"),
        F.concat_ws("-", F.lit(ds), "src_cell_id").alias("src_cell_id"),
        F.concat_ws("-", F.lit(ds), "dst_cell_id").alias("dst_cell_id"),
        "weight",
    )
    return {"x": x, "obs": obs, "varm": varm, "edges": edges}


def _assemble_product(
    spark: SparkSession, catalog: DataFrame, parts: list[dict], uns: dict
) -> CodexProduct:
    """Union the per-dataset fragments and apply the cross-dataset
    finishing steps (F5 channel axis, varm survivorship, donor join) —
    shared verbatim by ``build_product`` and the fleet build, so their
    outputs are the same function of the same fragments."""
    if not parts:
        raise ValueError("no complete datasets found")

    def union_all(frames: list[DataFrame]) -> DataFrame:
        out = frames[0]
        for p in frames[1:]:
            out = out.unionByName(p)
        return out

    # U1: outer union-by-name across datasets (anndata.concat(join="outer"),
    # bin/concatenate.py:412). Long form: missing (cell, channel) pairs are
    # simply absent — documented null-vs-absent choice (SURVEY §7 hard #5).
    x_long = union_all([p["x"] for p in parts])
    obs = union_all([p["obs"] for p in parts])
    edge_parts = [p["edges"] for p in parts if p["edges"] is not None]
    edges = union_all(edge_parts) if edge_parts else None
    varm_parts = [p["varm"] for p in parts if p["varm"] is not None]
    varm_long = (
        union_all(varm_parts)
        if varm_parts
        else spark.createDataFrame(
            [],
            "channel string, dataset string, uniprot string, rrid string, "
            "antibodies_tsv_id string",
        )
    )

    # F5: unidentifiable-channel filter, pushed (by us, once) below every
    # consumer instead of running after full materialization.
    var = (
        x_long.select("channel")
        .distinct()
        .filter(
            ~F.col("channel").rlike(CHANNEL_DROP_REGEX)
            & ~F.lower(F.col("channel")).contains("blank")
        )
    )
    x_long = x_long.join(F.broadcast(var), "channel", "left_semi").select(
        "dataset", "cell_id", "channel", "total", "mean"
    )
    # J5: varm re-indexed to the surviving channel axis. The pre-join
    # relation is kept on the product (varm_raw) for the incremental
    # maintainer, which must re-derive survivorship against the
    # maintained global axis rather than this build's block-local one.
    varm_raw = varm_long
    varm_long = varm_long.join(F.broadcast(var), "channel", "left_semi")

    # J1: donor metadata broadcast join + E5 age cast + F7 Epic literals.
    donor_cols = ["age", "sex", "height", "weight", "bmi", "cause_of_death", "race"]
    cat_donor = catalog.select(
        F.col("uuid"),
        *[F.col(c) for c in donor_cols if c in catalog.columns],
    )
    obs = (
        obs.join(F.broadcast(cat_donor), obs.dataset == cat_donor.uuid, "inner")
        .drop("uuid")
        .withColumn("age", F.col("age").cast("double"))
        .withColumn("object_type", F.lit("ftu"))
        .withColumn("analyte_class", F.lit("Protein"))
    )

    return CodexProduct(
        x_long=x_long,
        obs=obs,
        var=var,
        varm_long=varm_long,
        edges=edges,
        uns=uns,
        varm_raw=varm_raw,
    )


def build_product(
    spark: SparkSession,
    data_dir: str,
    uuids_tsv: str,
    tissue: str | None = None,
    *,
    decoder: Decoder = h5py_decoder,
    tissue_by_uuid: dict[str, str] | None = None,
    tissue_lookup: Callable[[str], str | None] | None = None,
    product_uuid: str | None = None,
    creation_time: str | None = None,
    only_datasets: list[str] | None = None,
) -> CodexProduct:
    """Compose the full Entry-C DAG. Nothing executes here except tiny
    driver-side metadata reads (catalog collect, CSV headers).

    Tissue resolution per dataset when ``tissue`` is None: the
    ``tissue_by_uuid`` dict first, then ``tissue_lookup`` (S9 — wire
    ``sources.rest.live_tissue_lookup(organ_yaml_path)`` for the
    reference's per-uuid entity-API resolution,
    bin/concatenate.py:84-96), else "unknown". The lookup stays
    injectable so hermetic runs never touch the network.

    ``only_datasets`` restricts the build to a subset of the catalog's
    leaf datasets — the incremental maintainer's block builder: because
    every per-dataset table is a per-dataset-pure function of that
    dataset's files (the F5 channel predicate is row-local, the donor
    join keys on the dataset's own catalog row), a subset build produces
    EXACTLY the rows the full build produces for those datasets. Only
    ``var`` (the cross-dataset channel axis) and ``varm_long`` (semi-
    joined against it) are block-relative; the maintainer re-derives
    both from its persisted per-dataset state."""
    import uuid as uuidlib
    from datetime import datetime

    catalog = read_catalog(spark, uuids_tsv)
    cat_rows = catalog.select(
        "uuid", "hubmap_id", "immediate_ancestor_ids", "immediate_descendant_ids"
    ).collect()  # catalog ≤ thousands of rows: driver-side like J2

    # F2: leaves = processed datasets (null descendants,
    # bin/concatenate.py:339-342).
    leaves = [r for r in cat_rows if r["immediate_descendant_ids"] is None]
    if only_datasets is not None:
        known = {r["uuid"] for r in leaves}
        missing = [u for u in only_datasets if u not in known]
        if missing:
            raise ValueError(f"not leaf datasets in the catalog: {missing}")
        wanted = set(only_datasets)
        leaves = [r for r in leaves if r["uuid"] in wanted]
    processed_uuids = [r["uuid"] for r in leaves]
    processed_hbmids = [r["hubmap_id"] for r in leaves]
    ancestor_of = {r["uuid"]: r["immediate_ancestor_ids"] for r in cat_rows}

    parts = []
    for ds in processed_uuids:
        ds_tissue = tissue or (tissue_by_uuid or {}).get(ds)
        if ds_tissue is None and tissue_lookup is not None:
            ds_tissue = tissue_lookup(ds)
        ds_tissue = ds_tissue or "unknown"
        p = _dataset_parts(spark, data_dir, ds, ds_tissue, ancestor_of, decoder)
        if p is None:
            continue
        parts.append(p)
    if not parts:
        raise ValueError(f"no complete datasets found under {data_dir}")

    uns = {
        "creation_data_time": creation_time or str(datetime.now()),
        "uuid": product_uuid or str(uuidlib.uuid4()),
        "datasets": processed_hbmids,
        "dataset_uuids": processed_uuids,
        "protocol": "https://github.com/hubmapconsortium/codex-data-products",
        "epic_type": "analyses",
        "tissue": tissue,
    }
    return _assemble_product(spark, catalog, parts, uns)


def build_products(
    spark: SparkSession,
    data_dir: str,
    uuids_tsv: str,
    *,
    decoder: Decoder = h5py_decoder,
    tissue_by_uuid: dict[str, str] | None = None,
    tissue_lookup: Callable[[str], str | None] | None = None,
    product_uuid_by_tissue: dict[str, str] | None = None,
    creation_time: str | None = None,
) -> dict[str, CodexProduct]:
    """The single-invocation FLEET build: every tissue's product from
    one pass over the shared catalog (VERDICT r7 #2).

    The reference runs one CWL invocation per tissue (pipeline.cwl:32-47
    — ``make_uuids_tsv.py`` is invoked per organ, then the whole
    concatenation re-runs per product); here tissue is just a column.
    One catalog read + one driver-side discovery pass builds the
    per-dataset plan fragments ONCE (``_dataset_parts``); each fragment
    belongs to exactly one tissue, so writing the fleet reads each
    dataset's files exactly once in total, and the per-tissue finishing
    (``_assemble_product``) is the SAME function an individual
    ``build_product`` applies — property-tested equal per tissue.

    Tissue resolution: a ``tissue`` column in the catalog TSV if
    present, else ``tissue_by_uuid``, else ``tissue_lookup`` (S9 —
    ``sources.rest.live_tissue_lookup`` replays the reference's
    per-uuid entity-API call, bin/concatenate.py:84-96); datasets
    still unresolved raise (a silent 'unknown' bucket would merge
    tissues into one product). ``creation_time`` defaults to ONE
    shared timestamp so the fleet's products are mutually
    consistent."""
    import uuid as uuidlib
    from datetime import datetime

    catalog = read_catalog(spark, uuids_tsv)
    has_tissue_col = "tissue" in catalog.columns
    cols = ["uuid", "hubmap_id", "immediate_ancestor_ids",
            "immediate_descendant_ids"] + (["tissue"] if has_tissue_col else [])
    cat_rows = catalog.select(*cols).collect()
    leaves = [r for r in cat_rows if r["immediate_descendant_ids"] is None]
    ancestor_of = {r["uuid"]: r["immediate_ancestor_ids"] for r in cat_rows}

    def tissue_of(row) -> str | None:
        if has_tissue_col and row["tissue"]:
            return row["tissue"]
        t = (tissue_by_uuid or {}).get(row["uuid"])
        if t is None and tissue_lookup is not None:
            t = tissue_lookup(row["uuid"])
        return t

    unresolved = [r["uuid"] for r in leaves if tissue_of(r) is None]
    if unresolved:
        raise ValueError(
            f"no tissue for leaf datasets {unresolved}: add a 'tissue' "
            "catalog column or pass tissue_by_uuid"
        )
    # group in catalog leaf order, tissues in first-appearance order —
    # per-tissue dataset lists match an individual only_datasets build
    groups: dict[str, list] = {}
    for r in leaves:
        groups.setdefault(tissue_of(r), []).append(r)

    shared_time = creation_time or str(datetime.now())
    products: dict[str, CodexProduct] = {}
    for t, rows in groups.items():
        parts = []
        for r in rows:
            p = _dataset_parts(
                spark, data_dir, r["uuid"], t, ancestor_of, decoder
            )
            if p is None:
                continue
            parts.append(p)
        if not parts:
            continue
        uns = {
            "creation_data_time": shared_time,
            "uuid": (product_uuid_by_tissue or {}).get(t)
            or str(uuidlib.uuid4()),
            "datasets": [r["hubmap_id"] for r in rows],
            "dataset_uuids": [r["uuid"] for r in rows],
            "protocol": "https://github.com/hubmapconsortium/codex-data-products",
            "epic_type": "analyses",
            "tissue": t,
        }
        products[t] = _assemble_product(spark, catalog, parts, uns)
    if not products:
        raise ValueError(f"no complete datasets found under {data_dir}")
    return products


def write_products(products: dict[str, CodexProduct], root: str) -> dict:
    """Commit the fleet: one product directory per tissue under
    ``root/<tissue>``, each with its own marker (independent snapshot
    lineage — a tissue's maintenance deltas never touch another's).
    Datasets are disjoint across tissues, so the fleet write reads each
    dataset's files exactly once in total. Returns manifests by tissue."""
    return {
        t: write_product(p, os.path.join(root, t))
        for t, p in sorted(products.items())
    }


def write_json_atomic(path: str, obj) -> None:
    """Temp-write + atomic rename: a crash mid-write can never leave a
    torn JSON behind — uns.json is READ by every maintenance batch
    (streaming/product_ivm.py), so a corrupt file would make batch
    replay unrecoverable, which the plain open/write allowed."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


PRODUCT_TABLES = ("x_long", "obs", "var", "varm_long", "edges")
PARTITIONED_TABLES = ("x_long", "obs", "edges")  # dataset-partitioned
VERSIONED_TABLES = ("var", "varm_long")  # channel-grain, written at v=<k>
COMMIT_MARKER = "_PRODUCT_COMMIT.json"
COMMIT_DIR = "_commits"


def _commit_path(out_dir: str, version: int) -> str:
    return os.path.join(out_dir, COMMIT_DIR, f"v={version}.json")


def write_commit_marker(
    out_dir: str, commit: dict, *, _fail_after: str | None = None
) -> None:
    """The commit point of the versioned snapshot protocol. ``commit``
    is the full snapshot descriptor: uuid, version, dataset_uuids,
    table_versions (var/varm_long), uns content, manifest content, and
    per-table stats — everything a reader needs, so the marker rename is
    the ONLY reader-visible transition (no live file is overwritten
    before it).

    Order: (1) the versioned commit file ``_commits/v=<k>.json``
    (invisible to readers — they resolve through the live marker); (2)
    the live marker via write-temp + atomic rename (POSIX rename is
    atomic within a filesystem; object stores substitute a conditional
    PUT) — the COMMIT POINT; (3) post-commit convenience mirrors
    ``uns.json`` and ``<uuid>.json`` for reference-parity consumers
    (bin/concatenate.py writes those files; engine reads use
    ``read_uns``/``read_manifest``, which resolve through the marker). A
    crash before (2) leaves the previous snapshot fully committed; a
    crash between (2) and (3) leaves stale mirrors that the batch replay
    rewrites.

    ``_fail_after='commit_file'`` is the failure-injection seam between
    (1) and (2)."""
    os.makedirs(os.path.join(out_dir, COMMIT_DIR), exist_ok=True)
    write_json_atomic(_commit_path(out_dir, commit["version"]), commit)
    if _fail_after == "commit_file":
        raise RuntimeError("injected crash after commit_file")
    tmp = os.path.join(out_dir, f".{COMMIT_MARKER}.tmp")
    with open(tmp, "w") as f:
        json.dump(commit, f)
    os.replace(tmp, os.path.join(out_dir, COMMIT_MARKER))  # COMMIT POINT
    write_json_atomic(os.path.join(out_dir, "uns.json"), commit["uns"])
    write_json_atomic(
        os.path.join(out_dir, f"{commit['uuid']}.json"), commit["manifest"]
    )


def read_commit_marker(out_dir: str, version: int | None = None) -> dict:
    """The committed snapshot descriptor — live by default, or any
    retained historical version (time travel). Raise if the product was
    never committed (or a write crashed before its commit point), or if
    ``version`` was never committed / already expired."""
    path = os.path.join(out_dir, COMMIT_MARKER)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"{out_dir} has no {COMMIT_MARKER}: product is uncommitted "
            "(a build crashed mid-write, or never ran) — re-run the build"
        )
    with open(path) as f:
        live = json.load(f)
    if version is None or version == live["version"]:
        return live
    if version > live["version"]:
        raise FileNotFoundError(
            f"version {version} is not committed (live version is "
            f"{live['version']}) — a commit file above the marker is an "
            "uncommitted replay artifact, not a snapshot"
        )
    vpath = _commit_path(out_dir, version)
    if not os.path.exists(vpath):
        raise FileNotFoundError(
            f"version {version} has been expired (retention GC) — "
            "raise keep_last on expire_snapshots to retain more history"
        )
    with open(vpath) as f:
        return json.load(f)


def _read_dataset_partitioned(
    spark: SparkSession, base: str, paths: list[str]
) -> DataFrame:
    """Read a ``dataset=``-partitioned table with ``dataset`` as a
    string. Spark infers partition column types, so a product whose
    dataset uuids are all digits would read ``dataset`` back as a
    number with its leading zeros gone. When inference typed it as
    anything but a string, re-read with the inferred schema and
    ``dataset`` pinned to string: a given schema takes the raw
    directory value. The session-wide inference conf stays on, since
    every other partitioned read in the engine relies on it."""
    from pyspark.sql.types import StringType, StructField, StructType

    df = spark.read.option("basePath", base).parquet(*paths)
    if isinstance(df.schema["dataset"].dataType, StringType):
        return df
    schema = StructType(
        [
            StructField("dataset", StringType()) if f.name == "dataset" else f
            for f in df.schema.fields
        ]
    )
    return spark.read.option("basePath", base).schema(schema).parquet(*paths)


def read_product_table(
    spark: SparkSession, out_dir: str, table: str, version: int | None = None
) -> DataFrame:
    """Committed read: resolve the snapshot through the marker first.
    Dataset-partitioned tables are filtered to the snapshot's COMMITTED
    dataset list (partition pruning, not a row filter — a partition
    written by an in-flight maintenance batch that hasn't reached its
    commit point is invisible); the channel-grain axis tables read the
    snapshot's pinned ``v=<k>`` directory, so a delta batch writing
    ``v=k+1`` never disturbs a committed (or historical) read.

    Time travel (``version=k``) is EXACT for every table since round 9:
    the commit records its file-level manifest, partitioned reads load
    exactly those files (delta batches APPEND new files — they never
    overwrite a committed file), so a dataset removed then re-added
    reads its era-correct bytes at every version. Retention
    (``expire_snapshots``) bounds how far back reads go.
    """
    marker = read_commit_marker(out_dir, version)
    if table in PARTITIONED_TABLES:
        base = f"{out_dir}/{table}"
        per_ds = marker.get("files", {}).get(table)
        if per_ds is not None:
            paths = [
                os.path.join(out_dir, rel)
                for ds in marker["dataset_uuids"]
                for rel, _ in per_ds.get(ds, [])
            ]
            if paths:
                return _read_dataset_partitioned(spark, base, paths)
            # the snapshot references NO files for this table: schema
            # from the directory footer, zero rows — never the dir scan
            # (which could surface a crashed append attempt's orphans)
            return _read_dataset_partitioned(spark, base, [base]).filter(
                F.lit(False)
            )
        # legacy pre-file-manifest marker
        df = _read_dataset_partitioned(spark, base, [base])
        return df.filter(F.col("dataset").isin(marker["dataset_uuids"]))
    tv = marker["table_versions"][table]
    return spark.read.parquet(f"{out_dir}/{table}/v={tv}")


def read_uns(out_dir: str, version: int | None = None) -> dict:
    """uns metadata resolved through the commit marker (the root-level
    ``uns.json`` is a post-commit mirror, not the source of truth)."""
    return read_commit_marker(out_dir, version)["uns"]


def read_manifest(out_dir: str, version: int | None = None) -> dict:
    """K2 manifest resolved through the commit marker."""
    return read_commit_marker(out_dir, version)["manifest"]


def product_table_stats(out_dir: str, version: int | None = None) -> dict:
    """Per-table statistics persisted AT COMMIT (rows + join-key
    ndv/hottest-key counts) — ``operators.joins.estimate_from_stats``
    turns a pair of these into a ``JoinEstimate`` so ``plan_join`` picks
    broadcast-vs-salted-vs-shuffle on a freshly-opened product without
    running a stats job."""
    return read_commit_marker(out_dir, version)["stats"]


def _list_files(base: str, rel_to: str) -> list[list]:
    """[[relpath, size], ...] for every DATA file under ``base``
    (sorted; Spark metadata files like _SUCCESS excluded). The unit of
    the file-level commit manifest."""
    out = []
    for dp, _, fns in os.walk(base):
        for fn in fns:
            if fn.startswith(("_", ".")):
                continue
            full = os.path.join(dp, fn)
            out.append([os.path.relpath(full, rel_to), os.path.getsize(full)])
    return sorted(out)


def snapshot_files(out_dir: str, marker: dict) -> dict:
    """The commit's file-level manifest — ``{table: {dataset: [[relpath,
    size], ...]}}`` for the dataset-partitioned tables plus ``{table:
    [[relpath, size], ...]}`` for the pinned axis versions. Read from
    the marker (every commit since round 9 records it — the Iceberg
    move: the snapshot IS its file list); synthesized by directory
    listing for a legacy pre-round-9 marker."""
    if "files" in marker:
        return marker["files"]
    files: dict = {}
    for t in PARTITIONED_TABLES:
        files[t] = {
            ds: _list_files(
                os.path.join(out_dir, t, f"dataset={ds}"), out_dir
            )
            for ds in marker["dataset_uuids"]
        }
    for t in VERSIONED_TABLES:
        files[t] = _list_files(
            os.path.join(out_dir, t, f"v={marker['table_versions'][t]}"),
            out_dir,
        )
    return files


def _files_size(files: dict) -> int:
    """Manifest 'Raw File Size' as a pure dict sum over the commit's
    file-level manifest — no os.walk at read time, and exactly the
    committed snapshot's bytes by construction."""
    total = 0
    for t in PARTITIONED_TABLES:
        for entries in files.get(t, {}).values():
            total += sum(size for _, size in entries)
    for t in VERSIONED_TABLES:
        total += sum(size for _, size in files.get(t, []))
    return total


def expire_snapshots(out_dir: str, keep_last: int = 2) -> dict:
    """Retention-based GC (the Iceberg/Delta 'expire snapshots' step,
    replacing GC-at-commit): keep the newest ``keep_last`` committed
    snapshots and delete everything no retained snapshot references —
    dataset partitions, axis-table versions, maintenance-state versions
    and commit files. Because the previous snapshot stays whole until
    expiry, a reader that resolved the marker before a delta committed
    can finish its scan without losing files mid-read.

    Single-writer: call from the maintenance writer (post-commit), never
    concurrently with an in-flight batch — an uncommitted batch's
    freshly-written partitions are referenced by no snapshot yet and
    would be collected. Returns what was deleted."""
    import shutil

    live = read_commit_marker(out_dir)
    cdir = os.path.join(out_dir, COMMIT_DIR)
    committed = sorted(
        v
        for fn in os.listdir(cdir)
        if fn.startswith("v=") and fn.endswith(".json")
        for v in [int(fn[2:-5])]
        if v <= live["version"]
    )
    retained = committed[-max(keep_last, 1) :]
    markers = [read_commit_marker(out_dir, v) for v in retained]
    removed: dict = {"partitions": [], "files": [], "axis_versions": [],
                     "commits": [], "state_versions": []}
    # file-grain GC (round 9): delete exactly the data files no
    # retained snapshot's manifest references — a file shared by two
    # retained snapshots (the common case: an untouched dataset)
    # survives because EVERY referencing commit names it. Legacy
    # markers without a file manifest fall back to the partition-grain
    # rule (delete dataset dirs absent from every retained snapshot).
    all_filed = all("files" in m for m in markers)
    if all_filed:
        referenced: set[str] = set()
        for m in markers:
            for t in PARTITIONED_TABLES:
                for entries in m["files"].get(t, {}).values():
                    referenced.update(rel for rel, _ in entries)
        for t in PARTITIONED_TABLES:
            base = os.path.join(out_dir, t)
            if not os.path.isdir(base):
                continue
            for dp, _, fns in os.walk(base):
                for fn in fns:
                    if fn.startswith(("_", ".")):
                        continue
                    rel = os.path.relpath(os.path.join(dp, fn), out_dir)
                    if rel not in referenced:
                        os.remove(os.path.join(dp, fn))
                        removed["files"].append(rel)
            # prune partition dirs emptied of data files
            for d in sorted(os.listdir(base)):
                pdir = os.path.join(base, d)
                if d.startswith("dataset=") and os.path.isdir(pdir) and not any(
                    not fn.startswith(("_", "."))
                    for _, _, fns in os.walk(pdir)
                    for fn in fns
                ):
                    shutil.rmtree(pdir, ignore_errors=True)
                    removed["partitions"].append(f"{t}/{d}")
    else:
        keep_ds = set().union(*[set(m["dataset_uuids"]) for m in markers])
        for t in PARTITIONED_TABLES:
            base = os.path.join(out_dir, t)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d.startswith("dataset=") and d[len("dataset="):] not in keep_ds:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
                    removed["partitions"].append(f"{t}/{d}")
    for t in VERSIONED_TABLES:
        base = os.path.join(out_dir, t)
        keep_v = {m["table_versions"][t] for m in markers}
        if not os.path.isdir(base):
            continue
        for d in os.listdir(base):
            if d.startswith("v=") and int(d[2:]) not in keep_v:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
                removed["axis_versions"].append(f"{t}/{d}")
    for v in committed:
        if v not in retained:
            os.remove(_commit_path(out_dir, v))
            removed["commits"].append(v)
    # state v=k is the input that replays batch k (which commits k+1):
    # keep versions >= the oldest retained snapshot's version
    state_root = os.path.join(out_dir, "_state")
    if os.path.isdir(state_root) and retained:
        floor = min(retained)
        for name in os.listdir(state_root):
            tdir = os.path.join(state_root, name)
            for d in os.listdir(tdir):
                if d.startswith("v=") and int(d[2:]) < floor:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                    removed["state_versions"].append(f"{name}/{d}")
    return removed


def derive_product_state(product: CodexProduct) -> dict[str, DataFrame]:
    """The per-dataset maintenance-state relations (channel×dataset
    grain — tiny at any corpus size), derived from the product frames.
    Used at bootstrap (full build) and per delta (block build) by the
    incremental maintainer, so the maintained state is the same function
    of the same code path — and used by ``write_product`` to derive the
    commit-time table stats.

      * ``ds_channels`` (dataset, channel, n_rows): surviving channels
        per dataset with their x_long row counts — var = distinct
        channel; x_long stats are additive over it.
      * ``ds_stats`` (dataset, hubmap_id, n_cells, n_edges): the
        additive manifest + stats inputs.
      * ``ds_varm_raw``: per-dataset varm rows BEFORE the var semi-join.
    """
    spark = product.x_long.sparkSession
    ds_channels = product.x_long.groupBy("dataset", "channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    hbm = spark.createDataFrame(
        list(zip(product.uns["dataset_uuids"], product.uns["datasets"])),
        "dataset string, hubmap_id string",
    )
    cells = product.obs.groupBy("dataset").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    if product.edges is not None:
        edge_counts = product.edges.groupBy("dataset").agg(
            F.count(F.lit(1)).cast("long").alias("n_edges")
        )
    else:
        edge_counts = spark.createDataFrame([], "dataset string, n_edges long")
    ds_stats = (
        cells.join(F.broadcast(hbm), "dataset")
        .join(F.broadcast(edge_counts), "dataset", "left")
        .select(
            "dataset",
            "hubmap_id",
            "n_cells",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
        )
    )
    varm_raw = (
        product.varm_raw if product.varm_raw is not None else product.varm_long
    )
    return {
        "ds_channels": ds_channels,
        "ds_stats": ds_stats,
        "ds_varm_raw": varm_raw,
    }


def _col_stats(df: DataFrame, col: str, weight: str | None = None) -> dict:
    """ndv + hottest-key row count for one join-key column of a
    STATE-GRAIN frame (channel×dataset rows — never a corpus scan)."""
    w = F.sum(weight) if weight else F.count(F.lit(1))
    r = (
        df.groupBy(col)
        .agg(w.cast("long").alias("n"))
        .agg(F.count(F.lit(1)).alias("ndv"), F.max("n").alias("max_rows"))
        .collect()[0]
    )
    return {"ndv": int(r["ndv"] or 0), "max_rows": int(r["max_rows"] or 0)}


def product_stats_from_state(
    ds_channels: DataFrame, ds_stats: DataFrame, varm_long: DataFrame
) -> dict:
    """Commit-time table statistics, computed ADDITIVELY from the
    maintenance state (every aggregation here is channel×dataset-grain):
    rows per table plus ndv/hottest-key counts for the join-key columns
    — what ``estimate_from_stats`` + ``plan_join`` consume to pick a
    physical join strategy on a freshly-opened product with no stats
    job. At 100 TB this is the difference between 'open and plan' and
    'scan the corpus to plan'."""
    s = ds_stats.agg(
        F.coalesce(F.sum("n_cells"), F.lit(0)).alias("cells"),
        F.coalesce(F.max("n_cells"), F.lit(0)).alias("max_cells"),
        F.count(F.lit(1)).alias("n_datasets"),
        F.coalesce(F.sum("n_edges"), F.lit(0)).alias("edges"),
        F.coalesce(F.max("n_edges"), F.lit(0)).alias("max_edges"),
    ).collect()[0]
    x_rows = int(
        ds_channels.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).collect()[0][0]
    )
    x_ds = _col_stats(ds_channels, "dataset", "n_rows")
    x_ch = _col_stats(ds_channels, "channel", "n_rows")
    varm_rows = varm_long.count()
    n_ds = int(s["n_datasets"])
    return {
        "x_long": {
            "rows": x_rows,
            "columns": {"dataset": x_ds, "channel": x_ch},
        },
        "obs": {
            "rows": int(s["cells"]),
            "columns": {
                "dataset": {"ndv": n_ds, "max_rows": int(s["max_cells"])}
            },
        },
        "edges": {
            "rows": int(s["edges"]),
            "columns": {
                "dataset": {"ndv": n_ds, "max_rows": int(s["max_edges"])}
            },
        },
        "var": {
            "rows": x_ch["ndv"],
            "columns": {"channel": {"ndv": x_ch["ndv"], "max_rows": 1}},
        },
        "varm_long": {
            "rows": int(varm_rows),
            "columns": {
                "channel": _col_stats(varm_long, "channel"),
                "dataset": _col_stats(varm_long, "dataset"),
            },
        },
    }


def write_product(
    product: CodexProduct,
    out_dir: str,
    *,
    _fail_after: str | None = None,
    stats: dict | None = None,
) -> dict:
    """K1 + K2: parquet product directory + manifest, committed with the
    marker-LAST protocol: tables (axis tables at their versioned v=0
    paths) → commit marker carrying uns + manifest + stats. A crash at
    any point leaves no marker, so readers (through
    ``read_product_table``) refuse the half-product, and a re-run
    converges — every table write is mode=overwrite.

    x_long/obs/edges partitioned by dataset → partition pruning for
    per-dataset consumers AND O(delta) incremental maintenance
    (streaming/product_ivm.py); var/varm_long are channel-grain tables
    written at ``v=0`` so delta batches can commit ``v=k`` snapshots
    without ever overwriting a committed reader's files.

    Bootstrap writer: writes snapshot version 0 into a NEW directory.
    Re-running over a LIVE committed product is not reader-safe (the
    partitioned tables are overwritten in place) — evolve a committed
    product through ``apply_product_delta`` instead.

    ``stats`` lets a caller that already derived the maintenance state
    (``bootstrap_product_maintenance``) pass the commit stats in instead
    of re-running the state aggregation; ``_fail_after`` is the
    failure-injection seam for the atomicity test."""

    def _checkpoint(step: str) -> None:
        if _fail_after == step:
            raise RuntimeError(f"injected crash after {step}")

    os.makedirs(out_dir, exist_ok=True)
    product.x_long.write.mode("overwrite").partitionBy("dataset").parquet(
        f"{out_dir}/x_long"
    )
    _checkpoint("x_long")
    product.obs.write.mode("overwrite").partitionBy("dataset").parquet(
        f"{out_dir}/obs"
    )
    _checkpoint("obs")
    product.var.write.mode("overwrite").parquet(f"{out_dir}/var/v=0")
    product.varm_long.write.mode("overwrite").parquet(
        f"{out_dir}/varm_long/v=0"
    )
    if product.edges is not None:
        product.edges.write.mode("overwrite").partitionBy("dataset").parquet(
            f"{out_dir}/edges"
        )
    _checkpoint("tables")

    if stats is None:
        state = derive_product_state(product)
        stats = product_stats_from_state(
            state["ds_channels"], state["ds_stats"], product.varm_long
        )
    table_versions = {"var": 0, "varm_long": 0}
    # file-level manifest (the Iceberg move, VERDICT r8 #3): the commit
    # names its exact data files, so historical reads, GC and the size
    # sum all resolve by file reference, not directory membership
    datasets = list(product.uns["dataset_uuids"])
    files: dict = {
        t: {
            ds: _list_files(os.path.join(out_dir, t, f"dataset={ds}"), out_dir)
            for ds in datasets
        }
        for t in PARTITIONED_TABLES
    }
    for t in VERSIONED_TABLES:
        files[t] = _list_files(os.path.join(out_dir, t, "v=0"), out_dir)
    # K2 manifest (create_json, bin/concatenate.py:154-177): cell count
    # from the commit stats; file size over exactly the committed files.
    manifest = {
        "Data Product UUID": product.uns["uuid"],
        "Tissue": product.uns.get("tissue"),
        "Assay": "codex",
        "Creation Time": product.uns["creation_data_time"],
        "Dataset UUIDs": product.uns["dataset_uuids"],
        "Dataset HBMIDs": product.uns["datasets"],
        "Total Cell Count": stats["obs"]["rows"],
        "Raw File Size": _files_size(files),
    }
    _checkpoint("manifest")
    write_commit_marker(
        out_dir,
        {
            "uuid": product.uns["uuid"],
            "version": 0,
            "tables": list(PRODUCT_TABLES),
            "dataset_uuids": datasets,
            "table_versions": table_versions,
            "uns": product.uns,
            "manifest": manifest,
            "stats": stats,
            "files": files,
        },
        _fail_after=_fail_after,
    )
    return manifest


def wide_matrix(product: CodexProduct, layer: str = "total") -> DataFrame:
    """P3 export path: the long expression relation pivoted wide — one
    double column per surviving channel, one row per cell (the
    AnnData.X orientation, bin/concatenate.py:266).

    The channel list is plan-time metadata (≤ hundreds), so the pivot
    gets an explicit value list — no extra distinct-scan job, stable
    column order. Missing (cell, channel) pairs materialize as NULL,
    matching the reference's outer-concat NaN semantics (SURVEY U1).
    """
    channels = [r["channel"] for r in product.var.select("channel").collect()]
    channels.sort()
    return (
        product.x_long.groupBy("dataset", "cell_id")
        .pivot("channel", channels)
        .agg(F.first(layer))
    )


def export_h5mu(product: CodexProduct, path: str) -> None:
    """K1 compat sink: the byte-level ``.h5mu`` container
    (reference behavior: bin/concatenate.py:454-456).

    Driver-side by design (SURVEY §4: real products are single-machine
    sized — the reference itself materializes them in RAM). With
    ``anndata``/``mudata`` installed, writes a full-fidelity h5mu;
    without them, falls back to the from-scratch HDF5 codec
    (``sources/minihdf5``), emitting real spec-layout bytes in the
    mudata group convention — ``/mod/<uuid>_raw/X`` plus ``obs``/
    ``var`` groups with an ``_index`` dataset and one dataset per
    column (numeric as f64/i64, everything else as fixed-length
    strings). ``uns`` metadata stays in the parquet layout's
    ``uns.json``; the parquet product written by ``write_product`` is
    the primary, scale-safe format either way.
    """
    import numpy as np

    wide = wide_matrix(product).toPandas()
    obs = product.obs.toPandas().set_index("cell_id")
    var = product.var.toPandas().set_index("channel")
    wide = wide.set_index("cell_id").loc[obs.index]
    mod = f"{product.uns['uuid']}_raw"
    x = wide[var.index].to_numpy(dtype=np.float64)

    try:
        import anndata
        import mudata
    except ImportError:
        from codex_data_products_spark.sources import minihdf5

        def frame_datasets(prefix: str, pdf) -> dict:
            out = {f"{prefix}/_index": np.array([str(i) for i in pdf.index])}
            for col in pdf.columns:
                vals = pdf[col]
                if np.issubdtype(vals.dtype, np.number):
                    out[f"{prefix}/{col}"] = vals.to_numpy()
                else:
                    out[f"{prefix}/{col}"] = np.array(
                        [str(v) for v in vals]
                    )
            return out

        datasets = {f"/mod/{mod}/X": x}
        datasets.update(frame_datasets(f"/mod/{mod}/obs", obs))
        datasets.update(frame_datasets(f"/mod/{mod}/var", var))
        with open(path, "wb") as f:
            f.write(minihdf5.write(datasets))
        return

    adata = anndata.AnnData(X=x, obs=obs, var=var)  # pragma: no cover
    mdata = mudata.MuData({mod: adata})  # pragma: no cover
    mdata.write(path)  # pragma: no cover

"""Incremental CODEX product maintenance (the ninth IVM class,
streaming/product_ivm.py): K-batch delta application must equal the
from-scratch ``build_product`` + ``write_product`` over the surviving
dataset set, a replayed batch must be a no-op, a crash before the
commit marker — at EVERY write step of the delta — must leave the
previous snapshot byte-intact (full-snapshot comparison: all five
tables + uns + manifest), untouched datasets' partition files must
never be rewritten, historical snapshots stay readable (time travel)
until retention expires them, and the commit-time stats feed
``plan_join`` without a stats job.

The bundle is the production-shaped stress generator
(tools/codex_stress.py) at miniature size: real minihdf5 expression
payloads through the default decoder path, both filename variants,
synonym headers, blank/Channel:N:N channels, bogus adjacency labels.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from codex_data_products_spark.plans.codex_pipeline import (
    COMMIT_MARKER,
    build_product,
    expire_snapshots,
    product_table_stats,
    read_commit_marker,
    read_manifest,
    read_product_table,
    read_uns,
    write_product,
)
from codex_data_products_spark.streaming.product_ivm import (
    apply_product_delta,
    run_product_maintenance,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "codex_stress", os.path.join(REPO, "tools", "codex_stress.py")
)
codex_stress = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and codex_stress)

N_DATASETS, N_CELLS = 6, 25
DS = [codex_stress._ds_uuid(i) for i in range(N_DATASETS)]


@pytest.fixture(scope="module")
def bundle(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivm_bundle"))
    codex_stress.generate(out, N_DATASETS, N_CELLS)
    return out


def _build(spark, bundle, datasets, **kw):
    return build_product(
        spark,
        os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"),
        tissue="Spleen",
        product_uuid="ivm-product",
        creation_time="2026-08-15 00:00:00",
        only_datasets=datasets,
        **kw,
    )


def _logging_decoder(log):
    """The default decoder, appending each decoded path to ``log``."""
    from codex_data_products_spark.sources.hdf5 import h5py_decoder

    def decode(payload, path):
        # O_APPEND single-write is atomic for short lines — safe across
        # the local-mode Python workers
        fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        try:
            os.write(fd, (path + "\n").encode())
        finally:
            os.close(fd)
        return h5py_decoder(payload, path)

    return decode


def _decoded(log):
    return sorted(open(log).read().splitlines()) if os.path.exists(log) else []


def _table_rows(spark, out_dir, table, version=None):
    df = read_product_table(spark, out_dir, table, version=version)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _snapshot_product(spark, out_dir, version=None):
    """The FULL committed snapshot through the canonical (marker-
    resolved) read path: every table, uns, and manifest."""
    snap = {
        t: _table_rows(spark, out_dir, t, version)
        for t in ("x_long", "obs", "var", "varm_long", "edges")
    }
    uns = read_uns(out_dir, version)
    snap["uns_datasets"] = (uns["dataset_uuids"], uns["datasets"])
    m = read_manifest(out_dir, version)
    snap["manifest"] = (
        m["Total Cell Count"],
        m["Dataset UUIDs"],
        m["Dataset HBMIDs"],
    )
    return snap


def _assert_equals_from_scratch(spark, bundle, out_dir, datasets, tmp, tag):
    fresh_dir = str(tmp / f"fresh_{tag}")
    write_product(_build(spark, bundle, datasets), fresh_dir)
    got, want = _snapshot_product(spark, out_dir), _snapshot_product(
        spark, fresh_dir
    )
    for key in got:
        assert got[key] == want[key], f"{tag}: {key} diverged"


def _part_files(out_dir, table, dataset):
    base = os.path.join(out_dir, table, f"dataset={dataset}")
    out = []
    for dp, _, fns in os.walk(base):
        for fn in fns:
            p = os.path.join(dp, fn)
            st = os.stat(p)
            out.append((os.path.relpath(p, base), st.st_size, st.st_mtime_ns))
    return sorted(out)


@pytest.fixture(scope="module")
def maintained(spark, bundle, tmp_path_factory):
    """Bootstrap on {0,1}, then three delta batches ending at
    {2,3,4,5}; yields (product_dir, shared tmp dir)."""
    tmp = tmp_path_factory.mktemp("ivm_runs")
    out = str(tmp / "product")
    write_product(_build(spark, bundle, DS[:2]), out)

    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    # batch 0: pure add; record the no-rewrite evidence for DS[0]
    before = {
        t: _part_files(out, t, DS[0]) for t in ("x_long", "obs", "edges")
    }
    apply_product_delta(spark, out, data, cat, 0, add=[DS[2], DS[3]])
    after = {
        t: _part_files(out, t, DS[0]) for t in ("x_long", "obs", "edges")
    }
    # batch 1: mixed add + remove; batch 2: remove + add
    apply_product_delta(
        spark, out, data, cat, 1, add=[DS[4]], remove=[DS[1]]
    )
    apply_product_delta(
        spark, out, data, cat, 2, add=[DS[5]], remove=[DS[0]]
    )
    return out, tmp, before, after


def test_three_batch_maintenance_equals_from_scratch(
    spark, bundle, maintained
):
    out, tmp, _, _ = maintained
    _assert_equals_from_scratch(
        spark, bundle, out, [DS[2], DS[3], DS[4], DS[5]], tmp, "final"
    )
    assert read_commit_marker(out)["version"] == 3


def test_untouched_partition_files_never_rewritten(maintained):
    """The no-rewrite guard (VERDICT r6 #1 'plan guard'): batch 0 added
    DS[2]/DS[3]; DS[0]'s partition files in all three dataset-
    partitioned tables must be byte-identical (same paths, sizes AND
    mtimes — dynamic partition overwrite replaced only the touched
    partitions)."""
    _, _, before, after = maintained
    for table in ("x_long", "obs", "edges"):
        assert before[table] == after[table], table
        assert before[table], f"{table}: expected files for DS[0]"


def test_replayed_batch_is_idempotent(spark, bundle, maintained):
    """Crash-replay anchoring: re-running batch 2 (commit v=2 and state
    v=2 are still retained) re-derives the identical committed
    snapshot — even though batch 2 already committed, because the
    snapshot read is anchored to the versioned commit file, not the
    live marker."""
    out, _, _, _ = maintained
    want = _snapshot_product(spark, out)
    apply_product_delta(
        spark,
        out,
        os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"),
        2,
        add=[DS[5]],
        remove=[DS[0]],
    )
    assert _snapshot_product(spark, out) == want
    assert read_commit_marker(out)["version"] == 3


def test_time_travel_reads_previous_snapshot(spark, bundle, maintained):
    """Retention keeps the previous snapshot addressable: with the live
    marker at v=3 ({2,3,4,5}), version=2 still reads the {0,2,3,4}
    product — axis tables from their pinned v=2 paths, partitions gated
    on commit v=2's dataset list."""
    out, _, _, _ = maintained
    old = _snapshot_product(spark, out, version=2)
    want_ds = sorted([DS[0], DS[2], DS[3], DS[4]])
    assert sorted(old["uns_datasets"][0]) == want_ds
    obs_ds = {
        str(r["dataset"])
        for r in read_product_table(spark, out, "obs", version=2)
        .select("dataset")
        .distinct()
        .collect()
    }
    # the all-digit stress uuids read back unchanged, leading zeros kept
    assert obs_ds == set(want_ds)
    # DS[5] (added in batch 2) is invisible at version 2
    x = read_product_table(spark, out, "x_long", version=2)
    assert x.filter(f"dataset = '{DS[5]}'").count() == 0
    # expired versions raise with a retention hint
    with pytest.raises(FileNotFoundError, match="expired"):
        read_commit_marker(out, version=0)
    # versions above the live marker are uncommitted
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_commit_marker(out, version=99)


_DELTA_STEPS = ["partitions", "state", "var", "varm_long", "manifest",
                "commit_file"]


@pytest.mark.parametrize("step", _DELTA_STEPS)
def test_crash_at_every_write_step_keeps_previous_snapshot(
    spark, bundle, tmp_path, step
):
    """The atomicity property, at EVERY write step of the delta: a
    batch that dies before the marker rename leaves the PREVIOUS
    committed snapshot byte-intact — ALL five tables, uns, and manifest
    (the round-7 hole was exactly that var/varm_long/uns were
    overwritten in place pre-marker and only x_long/obs were asserted).
    The re-run then converges to the from-scratch product."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    base = _snapshot_product(spark, out)

    with pytest.raises(RuntimeError, match=f"injected crash after {step}"):
        apply_product_delta(
            spark, out, data, cat, 0,
            add=[DS[2]], remove=[DS[1]], _fail_after=step,
        )
    assert read_commit_marker(out)["version"] == 0
    assert _snapshot_product(spark, out) == base

    # replaying the batch converges to the from-scratch result
    apply_product_delta(spark, out, data, cat, 0, add=[DS[2]], remove=[DS[1]])
    _assert_equals_from_scratch(
        spark, bundle, out, [DS[0], DS[2]], tmp_path, "recovered"
    )


def test_crash_at_marker_rename_keeps_previous_snapshot(
    spark, bundle, tmp_path, monkeypatch
):
    """Same property with the crash at the commit call itself (the
    marker rename never happens): the added dataset's partitions are on
    disk but invisible to committed reads, and the re-run converges."""
    import codex_data_products_spark.streaming.product_ivm as ivm

    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:1]), out)
    base = _snapshot_product(spark, out)

    def boom(*a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(ivm, "write_commit_marker", boom)
    with pytest.raises(RuntimeError, match="injected"):
        apply_product_delta(spark, out, data, cat, 0, add=[DS[1]])
    monkeypatch.undo()

    # uncommitted partition exists on disk but committed reads hide it
    assert os.path.isdir(f"{out}/x_long/dataset={DS[1]}")
    assert read_commit_marker(out)["version"] == 0
    assert _snapshot_product(spark, out) == base
    obs = read_product_table(spark, out, "obs")
    assert obs.filter(f"dataset = '{DS[1]}'").count() == 0

    # replaying the batch converges to the from-scratch result
    apply_product_delta(spark, out, data, cat, 0, add=[DS[1]])
    _assert_equals_from_scratch(
        spark, bundle, out, DS[:2], tmp_path, "recovered"
    )


def test_removal_retracts_private_channels_from_var(spark, bundle, tmp_path):
    """Removing a dataset retracts its private channels from the var
    axis and its varm rows — the cross-dataset retraction case. The
    removed partitions OUTLIVE the commit (retention keeps the previous
    snapshot whole for concurrent readers) and are collected only when
    expire_snapshots drops the last snapshot referencing them."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    var0 = {r["channel"] for r in read_product_table(spark, out, "var").collect()}
    assert any(c.startswith("PRIV1_") for c in var0)

    apply_product_delta(spark, out, data, cat, 0, remove=[DS[1]])
    var1 = {r["channel"] for r in read_product_table(spark, out, "var").collect()}
    assert not any(c.startswith("PRIV1_") for c in var1)
    assert any(c.startswith("PRIV0_") for c in var1)  # survivor intact
    varm = read_product_table(spark, out, "varm_long")
    assert varm.filter(f"dataset = '{DS[1]}'").count() == 0
    # retention (default keep_last=2) still references snapshot v=0, so
    # the removed partition and the superseded axis version survive …
    assert os.path.isdir(f"{out}/x_long/dataset={DS[1]}")
    assert os.path.isdir(f"{out}/var/v=0")
    # … until expiry drops snapshot v=0
    removed = expire_snapshots(out, keep_last=1)
    assert not os.path.isdir(f"{out}/x_long/dataset={DS[1]}")
    assert not os.path.isdir(f"{out}/var/v=0")
    assert f"x_long/dataset={DS[1]}" in removed["partitions"]
    assert 0 in removed["commits"]
    # the live snapshot is untouched by expiry
    assert read_commit_marker(out)["version"] == 1
    assert read_product_table(spark, out, "x_long").count() > 0


def test_concurrent_reader_survives_delta_commit(spark, bundle, tmp_path):
    """A reader that resolved the marker BEFORE a delta commits (and
    removes a dataset) can still finish its scan: retention keeps every
    file its snapshot references — nothing it resolved is overwritten
    (axis tables are version-pinned) or deleted (GC is expiry-based,
    not at-commit)."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    # reader opens snapshot v=0 (plans pinned to v=0 axis paths + the
    # v=0 dataset list) but does NOT execute yet
    reader_x = read_product_table(spark, out, "x_long")
    reader_var = read_product_table(spark, out, "var")
    want_x, want_var = reader_x.count(), reader_var.count()

    apply_product_delta(
        spark, out, data, cat, 0, add=[DS[2]], remove=[DS[1]]
    )
    # post-commit, the pre-commit reader's plans still execute correctly
    assert reader_x.count() == want_x
    assert reader_var.count() == want_var
    assert reader_x.filter(f"dataset = '{DS[1]}'").count() > 0


def test_mirror_files_match_committed_snapshot(spark, bundle, tmp_path):
    """The root-level uns.json and <uuid>.json are post-commit mirrors
    of the marker's canonical content (reference-parity files,
    bin/concatenate.py:454-468)."""
    out = str(tmp_path / "product")
    write_product(_build(spark, bundle, DS[:2]), out)
    apply_product_delta(
        spark, out, os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"), 0, add=[DS[2]],
    )
    with open(f"{out}/uns.json") as f:
        assert json.load(f) == read_uns(out)
    with open(f"{out}/ivm-product.json") as f:
        assert json.load(f) == read_manifest(out)


def test_commit_stats_feed_plan_join_without_a_stats_job(
    spark, bundle, tmp_path
):
    """VERDICT r7 #7: the marker carries per-table stats, and
    estimate_from_stats + plan_join pick BROADCAST for the x_long ⋈ var
    join on a freshly-opened product from the stored stats alone — the
    estimate is pure dict arithmetic (zero Spark jobs), and the physical
    plan carries the BroadcastHashJoin."""
    from codex_data_products_spark.operators.joins import (
        estimate_from_stats,
        plan_join,
    )

    out = str(tmp_path / "product")
    write_product(_build(spark, bundle, DS[:2]), out)
    stats = product_table_stats(out)
    # exact values, persisted additively at commit
    x = read_product_table(spark, out, "x_long")
    var = read_product_table(spark, out, "var")
    assert stats["x_long"]["rows"] == x.count()
    assert stats["var"]["rows"] == var.count()
    assert stats["obs"]["rows"] == read_product_table(spark, out, "obs").count()
    assert stats["edges"]["rows"] == read_product_table(
        spark, out, "edges"
    ).count()
    assert stats["x_long"]["columns"]["channel"]["ndv"] == stats["var"]["rows"]

    est = estimate_from_stats(stats["x_long"], stats["var"], "channel")
    joined, strategy = plan_join(x, var, "channel", est)
    assert strategy == "broadcast"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == x.count()  # var keys cover surviving x rows


def test_streaming_drain_applies_change_feed(spark, bundle, tmp_path):
    """The foreachBatch drain: a change-feed file stream with one
    availableNow batch (add DS[1], remove none) lands the same product
    as the direct apply."""
    out = str(tmp_path / "product")
    src = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:1]), out)

    spark.createDataFrame(
        [("add", DS[1])], "op string, dataset string"
    ).coalesce(1).write.parquet(f"{src}/d1")
    changes = (
        spark.readStream.schema("op string, dataset string")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_product_maintenance(changes, out, data, cat, ckpt)
    _assert_equals_from_scratch(
        spark, bundle, out, DS[:2], tmp_path, "stream"
    )


def test_write_product_crash_atomicity(spark, bundle, tmp_path):
    """VERDICT r6 #5: a crash between table writes, or after the v=0
    state, leaves no readable half-product (no marker -> committed
    reads refuse), and a re-run converges to a committed product."""
    product = _build(spark, bundle, DS[:1])
    for step in ("obs", "state"):
        out = str(tmp_path / f"product_{step}")
        with pytest.raises(RuntimeError, match=f"injected crash after {step}"):
            write_product(product, out, _fail_after=step)
        assert not os.path.exists(f"{out}/{COMMIT_MARKER}")
        with pytest.raises(FileNotFoundError, match="uncommitted"):
            read_product_table(spark, out, "x_long")
        # re-run converges: overwrite semantics, marker lands last
        write_product(product, out)
        assert read_commit_marker(out)["dataset_uuids"] == [DS[0]]
        assert read_product_table(spark, out, "x_long").count() > 0


def test_state_and_stats_decode_no_hdf5(spark, bundle, tmp_path):
    """State and commit stats come from the tables as written: a full
    write_product decodes each HDF5 source exactly as often as its table
    writes alone (a crash right after them), and a full add batch
    exactly as often as one that crashes right after appending its
    partitions."""
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    out = str(tmp_path / "product")

    def decodes(tag, step, run):
        log = str(tmp_path / f"{tag}.log")
        if step is None:
            run(_logging_decoder(log))
        else:
            with pytest.raises(RuntimeError, match=f"after {step}"):
                run(_logging_decoder(log), _fail_after=step)
        return _decoded(log)

    def write(dest):
        return lambda decoder, **kw: write_product(
            _build(spark, bundle, DS[:2], decoder=decoder), dest, **kw
        )

    def add(decoder, **kw):
        apply_product_delta(
            spark, out, data, cat, 0, add=[DS[2]], decoder=decoder, **kw
        )

    tables = decodes("tables", "tables", write(str(tmp_path / "crashed")))
    assert tables and decodes("write", None, write(out)) == tables
    partitions = decodes("partitions", "partitions", add)
    assert partitions and decodes("add", None, add) == partitions
    assert all(DS[2] in p for p in partitions)


def test_delta_on_written_product_equals_from_scratch(spark, bundle, tmp_path):
    """Every written product is maintainable: batch 0 on a product
    committed by plain write_product equals the from-scratch build."""
    out = str(tmp_path / "product")
    write_product(_build(spark, bundle, DS[:1]), out)
    apply_product_delta(
        spark, out, os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"), 0, add=[DS[1]],
    )
    _assert_equals_from_scratch(
        spark, bundle, out, DS[:2], tmp_path, "written"
    )


def test_delta_axis_tables_are_one_sorted_file(spark, bundle, tmp_path):
    """An add batch writes var/v=1 and varm_long/v=1 (channel-grain) as
    one file each from one writer task, rows sorted by (channel,
    dataset): the same batch on the same inputs commits the same bytes,
    whatever the upstream plan's split."""
    out = str(tmp_path / "product")
    write_product(_build(spark, bundle, DS[:1]), out)
    apply_product_delta(
        spark, out, os.path.join(bundle, "data"),
        os.path.join(bundle, "uuids.tsv"), 0, add=[DS[1]],
    )
    files = read_commit_marker(out)["files"]
    for table in ("varm_long", "var"):
        assert len(files[table]) == 1, files[table]
        rows = [
            tuple(r) for r in spark.read.parquet(f"{out}/{table}/v=1").collect()
        ]
        assert rows and rows == sorted(rows, key=lambda r: r[:2]), table
    varm = spark.read.parquet(f"{out}/varm_long/v=1")
    assert varm.columns[:2] == ["channel", "dataset"]
    assert {r["dataset"] for r in varm.collect()} == set(DS[:2])


def test_marker_without_file_manifest_fails_fast(tmp_path):
    """A commit without its file-level manifest is refused at the
    marker, with the remedy, by every reader and by retention GC."""
    out = str(tmp_path / "product")
    os.makedirs(os.path.join(out, "_commits"))
    marker = {"uuid": "u", "version": 0, "dataset_uuids": [DS[0]],
              "table_versions": {"var": 0, "varm_long": 0}}
    for path in (COMMIT_MARKER, "_commits/v=0.json"):
        with open(os.path.join(out, path), "w") as f:
            json.dump(marker, f)
    for call in (
        lambda: read_commit_marker(out),
        lambda: read_product_table(None, out, "x_long"),
        lambda: expire_snapshots(out),
    ):
        with pytest.raises(ValueError, match="rebuild it with write_product"):
            call()


def test_in_place_replace_is_rejected(spark, bundle, tmp_path):
    """Dynamic partition overwrite only touches partitions present in
    the new block, so re-adding a live dataset could silently keep a
    stale partition (e.g. old edges) — the maintainer rejects it and
    requires remove-then-add across batches."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    with pytest.raises(ValueError, match="already in the product"):
        apply_product_delta(spark, out, data, cat, 0, add=[DS[1]])
    # remove then add in separate batches works
    apply_product_delta(spark, out, data, cat, 0, remove=[DS[1]])
    apply_product_delta(spark, out, data, cat, 1, add=[DS[1]])
    _assert_equals_from_scratch(spark, bundle, out, DS[:2], tmp_path, "readd")


def test_committed_read_scans_exactly_the_manifest_files(
    spark, bundle, tmp_path
):
    """read_product_table's marker gating on the dataset-partitioned
    tables is planning-time FILE SELECTION (round 9: the commit's
    file-level manifest IS the scan's file list — stronger than the
    former PartitionFilters pruning): uncommitted/orphan files in the
    same directory tree are never listed, let alone row-filtered, and
    the partition column survives via basePath."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "product")
    write_product(_build(spark, bundle, DS[:2]), out)
    # plant an orphan data file inside a committed partition dir (what
    # a crashed append attempt leaves behind) — a dir-scan would read it
    part = f"{out}/x_long/dataset={DS[0]}"
    src = next(
        fn for fn in os.listdir(part)
        if not fn.startswith(("_", "."))
    )
    import shutil

    shutil.copy(
        os.path.join(part, src), os.path.join(part, "part-orphan.parquet")
    )
    df = read_product_table(spark, out, "x_long")
    scanned = {
        os.path.relpath(r["f"].removeprefix("file://"), out)
        for r in df.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    marker = read_commit_marker(out)
    expected = {
        rel
        for ds in marker["dataset_uuids"]
        for rel, _ in marker["files"]["x_long"][ds]
    }
    assert scanned == expected
    assert not any("orphan" in p for p in scanned)
    # the duplicated rows in the orphan file are invisible
    n_committed = sum(1 for _ in df.collect())
    assert n_committed == marker["stats"]["x_long"]["rows"]
    # partition column still materializes from the dir layout
    assert "dataset" in df.columns


def test_manifest_size_excludes_state_and_unreferenced_files(
    spark, bundle, tmp_path
):
    """ADVICE r7: 'Raw File Size' must cover exactly the committed
    snapshot's files — not the _state version history (which grows with
    batch count) or removed datasets' not-yet-expired partitions — so
    the maintained manifest equals the from-scratch one."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    from codex_data_products_spark.plans.codex_pipeline import _files_size

    write_product(_build(spark, bundle, DS[:2]), out)
    apply_product_delta(spark, out, data, cat, 0, add=[DS[2]], remove=[DS[1]])
    size_after_batch = read_manifest(out)["Raw File Size"]

    marker = read_commit_marker(out)
    # round 9: the size is the commit's file-manifest dict sum — data
    # files only (no checksum/_SUCCESS noise), exactly the snapshot
    assert size_after_batch == _files_size(marker["files"])
    # every referenced file exists with the recorded size
    for t in ("x_long", "obs", "edges"):
        for entries in marker["files"][t].values():
            for rel, size in entries:
                assert os.path.getsize(os.path.join(out, rel)) == size
    # the r7 bug: a whole-directory walk — it counts _state history, the
    # removed-but-retained DS[1] partitions, superseded axis versions and
    # the JSON metadata, so it MUST be strictly larger
    whole_walk = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(out)
        for fn in fns
    )
    assert whole_walk > size_after_batch
    assert os.path.isdir(f"{out}/_state/ds_channels/v=0")  # history exists


def test_metadata_refresh_never_decodes_hdf5(spark, bundle, tmp_path):
    """Correcting an ancestor's antibodies.tsv refreshes varm through
    the maintainer WITHOUT executing the HDF5 expression scan (a
    raising decoder proves nothing materializes obs/x_long) and WITHOUT
    touching any dataset partition; the result equals a from-scratch
    build over the corrected bundle. The var axis version is CARRIED
    FORWARD (the refresh commits a new varm_long version only)."""
    import shutil

    from codex_data_products_spark.streaming.product_ivm import (
        apply_metadata_refresh,
    )

    b2 = str(tmp_path / "bundle2")
    shutil.copytree(bundle, b2)
    out = str(tmp_path / "product")
    data = os.path.join(b2, "data")
    cat = os.path.join(b2, "uuids.tsv")
    write_product(
        build_product(
            spark, data, cat, tissue="Spleen",
            product_uuid="ivm-product", creation_time="2026-08-15 00:00:00",
            only_datasets=DS[:2],
        ),
        out,
    )

    # corrupt-the-world decoder: any HDF5 decode call fails the test
    def no_decode(payload, path):
        raise AssertionError("metadata refresh must not decode HDF5")

    # correct the ancestor TSV that DS[0] points at (uniprot fix)
    anc = codex_stress._ancestor_uuid(0)
    tsv = os.path.join(data, anc, "foo-antibodies.tsv")
    with open(tsv) as f:
        content = f.read()
    with open(tsv, "w") as f:
        f.write(content.replace("P12830", "P99999"))

    before = {
        t: _part_files(out, t, DS[0]) for t in ("x_long", "obs", "edges")
    }
    apply_metadata_refresh(
        spark, out, data, cat, 0, [DS[0]], decoder=no_decode
    )
    after = {
        t: _part_files(out, t, DS[0]) for t in ("x_long", "obs", "edges")
    }
    assert before == after  # no partition rewritten

    fresh = str(tmp_path / "fresh")
    write_product(
        build_product(
            spark, data, cat, tissue="Spleen",
            product_uuid="ivm-product", creation_time="2026-08-15 00:00:00",
            only_datasets=DS[:2],
        ),
        fresh,
    )
    got = _table_rows(spark, out, "varm_long")
    want = _table_rows(spark, fresh, "varm_long")
    assert got == want
    assert any("P99999" in str(r) for r in got)  # the fix landed
    marker = read_commit_marker(out)
    assert marker["version"] == 1
    assert marker["table_versions"] == {"var": 0, "varm_long": 1}


def test_time_travel_exact_across_remove_then_readd(
    spark, bundle, tmp_path
):
    """Round-9 file-level manifests: remove a dataset, then RE-ADD it
    (new files appended — nothing overwritten), and every retained
    version's FULL snapshot still equals a from-scratch build over that
    version's dataset set. Pre-round-9 this was the documented
    partition-overwrite caveat: the historical read of the interval
    saw the re-added bytes."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    apply_product_delta(
        spark, out, data, cat, 0, remove=[DS[1]], retain_snapshots=None
    )
    apply_product_delta(
        spark, out, data, cat, 1, add=[DS[1]], retain_snapshots=None
    )

    fresh = {}
    for tag, ds in (("both", DS[:2]), ("solo", DS[:1])):
        fdir = str(tmp_path / f"fresh_{tag}")
        write_product(_build(spark, bundle, ds), fdir)
        fresh[tag] = _snapshot_product(spark, fdir)
    # v=0 (pre-remove) and v=2 (post-re-add) carry the same dataset set
    # but DIFFERENT file generations — both must be exact
    assert _snapshot_product(spark, out, version=0) == fresh["both"]
    assert _snapshot_product(spark, out, version=1) == fresh["solo"]
    assert _snapshot_product(spark, out, version=2) == fresh["both"]
    # and the interval version really references the OLD files only:
    # commit v=0's x_long files for DS[1] are disjoint from v=2's
    f0 = read_commit_marker(out, version=0)["files"]["x_long"][DS[1]]
    f2 = read_commit_marker(out, version=2)["files"]["x_long"][DS[1]]
    assert f0 and f2
    assert not ({p for p, _ in f0} & {p for p, _ in f2})


def test_expire_keeps_files_shared_by_retained_snapshots(
    spark, bundle, tmp_path
):
    """File-grain GC: a data file referenced by TWO retained snapshots
    (an untouched dataset across a delta) survives expiry; files only
    the EXPIRED snapshot references are deleted, and 'Raw File Size' is
    the manifest's dict sum over exactly the live files."""
    out = str(tmp_path / "product")
    data = os.path.join(bundle, "data")
    cat = os.path.join(bundle, "uuids.tsv")
    write_product(_build(spark, bundle, DS[:2]), out)
    apply_product_delta(
        spark, out, data, cat, 0, remove=[DS[1]], retain_snapshots=None
    )
    apply_product_delta(
        spark, out, data, cat, 1, add=[DS[1]], retain_snapshots=None
    )
    # retain v=1 and v=2: DS[0]'s files are shared by both (untouched
    # since bootstrap), v=0's only-reference to DS[1]'s ORIGINAL files
    # expires with it
    m0 = read_commit_marker(out, version=0)
    old_ds1 = [p for p, _ in m0["files"]["x_long"][DS[1]]]
    shared_ds0 = [p for p, _ in m0["files"]["x_long"][DS[0]]]
    removed = expire_snapshots(out, keep_last=2)
    for p in old_ds1:
        assert not os.path.exists(os.path.join(out, p)), p
        assert p in removed["files"]
    for p in shared_ds0:
        assert os.path.exists(os.path.join(out, p)), p
    # live + historical retained reads still work end-to-end
    assert read_product_table(spark, out, "x_long").count() > 0
    assert read_product_table(spark, out, "x_long", version=1).count() > 0
    # manifest size equals the dict sum of the live manifest
    from codex_data_products_spark.plans.codex_pipeline import _files_size

    live = read_commit_marker(out)
    assert live["manifest"]["Raw File Size"] == _files_size(live["files"])

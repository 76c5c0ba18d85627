#!/usr/bin/env python
"""CODEX flagship stress run (VERDICT r5 #6): generate a
production-shaped bundle — D datasets x N cells x 40 channels with
shared/private/blank/Channel:N:N channels, synonym-variant headers,
REAL HDF5 expression payloads (sources/minihdf5 writer, both key
layouts), adjacency chains plus edges referencing labels absent from
obs — then run the full plans/codex_pipeline.py product build on it
and assert the invariants that must hold at any scale:

  * global cell-id uniqueness (D*N distinct obs rows),
  * outer-union channel count (shared canonical + per-dataset private,
    blank/Channel:N:N filtered; synonym variants collapse),
  * X long-form row count (cells x kept channels per dataset),
  * edge endpoint survival (bogus-label edges drop; the rest keep
    both endpoints in obs).

Usage: python tools/codex_stress.py --datasets 50 --cells 50000 \
           --out .stressdata/codex [--skip-gen]

Prints one JSON line with wall times and invariant results; tee it to
sweeps/CODEX_STRESS_r{N}.log for the round artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SHARED = 30  # canonical shared channels (incl. the synonym pair)
N_PRIVATE = 8  # per-dataset private channels
N_ANCESTORS = 5
BOGUS_LABELS = 5  # adjacency labels absent from obs -> edges must drop


def _ds_uuid(i: int) -> str:
    return f"{i:032x}"


def _ancestor_uuid(i: int) -> str:
    return f"a{i:031x}"


def _channels(ds: int) -> list[str]:
    """Raw CSV header channels for dataset ds (pre-normalization)."""
    shared = ["E-CAD" if ds % 2 else "eCAD"] + [
        f"SH{j:02d}" for j in range(1, N_SHARED)
    ]
    private = [f"PRIV{ds}_{j}" for j in range(N_PRIVATE)]
    return shared + private + ["blank3", "Channel:1:5"]


def generate(out: str, n_datasets: int, n_cells: int) -> None:
    from codex_data_products_spark.sources import minihdf5

    rng = np.random.default_rng(20260814)
    data = os.path.join(out, "data")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(data)

    ids = np.arange(1, n_cells + 1)
    id_str = ids.astype(str)
    cat_lines = [
        "\tuuid\thubmap_id\timmediate_ancestor_ids"
        "\timmediate_descendant_ids\tage\tsex\theight\tweight\tbmi"
        "\tcause_of_death\trace"
    ]
    for ds in range(n_datasets):
        uuid = _ds_uuid(ds)
        anc = _ancestor_uuid(ds % N_ANCESTORS)
        base = os.path.join(data, uuid)
        os.makedirs(base)
        prefix = (
            "reg1_stitched_expressions.ome.tiff"
            if ds % 2 == 0
            else "reg001_expr.ome.tiff"
        )
        chans = _channels(ds)
        n_chan = len(chans)

        # expression CSV: the pipeline reads ONLY the header (S3
        # header capture); one dummy row keeps the file well-formed
        with open(f"{base}/{prefix}-cell_channel_total.csv", "w") as f:
            f.write("ID," + ",".join(chans) + "\n")
            f.write("1," + ",".join(["0.0"] * n_chan) + "\n")

        # centers: one row per cell
        xs = rng.uniform(0, 1000, n_cells).round(2)
        ys = rng.uniform(0, 1000, n_cells).round(2)
        with open(f"{base}/{prefix}-cell_centers.csv", "w") as f:
            f.write("ID,x,y\n")
            f.writelines(
                f"{i},{x},{y}\n" for i, x, y in zip(id_str, xs, ys)
            )

        # adjacency: a chain over all cells, plus BOGUS_LABELS edges
        # whose source label does not exist in obs (they must drop)
        n_lab = n_cells + BOGUS_LABELS
        nnz = (n_cells - 1) + BOGUS_LABELS
        sep = "AdjacencyMatrix" if ds % 2 == 0 else "AdjacencyMatrix"
        with open(f"{base}/{prefix}_{sep}.mtx", "w") as f:
            f.write(
                "%%MatrixMarket matrix coordinate real symmetric\n"
                f"{n_lab} {n_lab} {nnz}\n"
            )
            f.writelines(
                f"{i} {i + 1} {round(0.1 + (i % 9) * 0.1, 1)}\n"
                for i in range(1, n_cells)
            )
            f.writelines(
                f"{n_cells + j + 1} 1 9.9\n" for j in range(BOGUS_LABELS)
            )
        with open(f"{base}/{prefix}_{sep}RowColLabels.txt", "w") as f:
            f.writelines(f"{i}\n" for i in id_str)
            f.writelines(f"bogus{j}\n" for j in range(BOGUS_LABELS))

        # REAL HDF5 payload via the from-scratch classic-format writer,
        # pandas-HDFStore 'fixed' layout (axis1 index + block0_values),
        # alternating between the two key variants the reference probes
        total = rng.uniform(0.0, 100.0, (n_cells, n_chan)).round(3)
        mean = (total / 100.0).round(5)
        tk = (
            "/total/channel/cell/expressions.ome.tiff/stitched/reg1"
            if ds % 2 == 0
            else "/total/channel/cell/expr.ome.tiff/reg001"
        )
        mk = tk.replace("/total/", "/meanAll/")
        payload = minihdf5.write(
            {
                f"{tk}/axis1": ids,
                f"{tk}/block0_values": total,
                f"{mk}/axis1": ids,
                f"{mk}/block0_values": mean,
            }
        )
        with open(f"{base}/out.hdf5", "wb") as f:
            f.write(payload)

        cat_lines.append(
            f"{ds}\t{uuid}\tHBM{ds:03d}\t{anc}\t\t{40 + ds % 40}\t"
            f"{'M' if ds % 2 else 'F'}\t170\t70\t24.0\t\tUnknown"
        )

    # ancestors: antibodies.tsv exercising Anti-/antibody stripping and
    # the synonym map; each carries its datasets' shared + private names
    for a in range(N_ANCESTORS):
        anc = _ancestor_uuid(a)
        os.makedirs(os.path.join(data, anc))
        rows = ["antibody_name\tuniprot_accession_number\trr_id\tchannel_id"]
        rows.append(f"Anti-E-CAD antibody\tP12830\tAB_ECAD\tch_ecad")
        for j in range(1, N_SHARED):
            rows.append(f"Anti-SH{j:02d} antibody\tPSH{j:03d}\tAB_S{j}\tch_s{j}")
        for ds in range(a, n_datasets, N_ANCESTORS):
            for j in range(N_PRIVATE):
                rows.append(
                    f"PRIV{ds}_{j} antibody\tPP{ds}_{j}\tAB_P{ds}_{j}\tch_p{ds}_{j}"
                )
        with open(f"{data}/{anc}/foo-antibodies.tsv", "w") as f:
            f.write("\n".join(rows) + "\n")
        cat_lines.append(
            f"{n_datasets + a}\t{anc}\tHBMA{a:02d}\t\t"
            f"['{_ds_uuid(a)}']\t\t\t\t\t\t\t"
        )

    with open(os.path.join(out, "uuids.tsv"), "w") as f:
        f.write("\n".join(cat_lines) + "\n")


def run(out: str, n_datasets: int, n_cells: int) -> dict:
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.codex_pipeline import (
        build_product,
        read_product_table,
        write_product,
    )
    from codex_data_products_spark.session import get_spark

    spark = get_spark(app_name="codex-stress")
    t0 = time.perf_counter()
    product = build_product(
        spark,
        os.path.join(out, "data"),
        os.path.join(out, "uuids.tsv"),
        tissue="Spleen",
        product_uuid="stress-product",
        creation_time="2026-08-14 00:00:00",
    )
    manifest = write_product(product, os.path.join(out, "product"))
    build_sec = round(time.perf_counter() - t0, 1)

    t1 = time.perf_counter()
    pdir = os.path.join(out, "product")
    obs = read_product_table(spark, pdir, "obs")
    x = read_product_table(spark, pdir, "x_long")
    var = read_product_table(spark, pdir, "var")
    edges = read_product_table(spark, pdir, "edges")

    n_obs = obs.count()
    n_obs_distinct = obs.select("cell_id").distinct().count()
    n_var = var.count()
    n_x = x.count()
    n_edges = edges.count()
    obs_ids = obs.select("cell_id")
    orphan_src = edges.join(
        obs_ids.withColumnRenamed("cell_id", "src_cell_id"),
        "src_cell_id",
        "left_anti",
    ).count()
    orphan_dst = edges.join(
        obs_ids.withColumnRenamed("cell_id", "dst_cell_id"),
        "dst_cell_id",
        "left_anti",
    ).count()
    check_sec = round(time.perf_counter() - t1, 1)

    expect = {
        "obs": n_datasets * n_cells,
        "var": N_SHARED + n_datasets * N_PRIVATE,
        "x": n_datasets * n_cells * (N_SHARED + N_PRIVATE),
        "edges": n_datasets * (n_cells - 1),
    }
    invariants = {
        "cell_id_unique": n_obs == n_obs_distinct == expect["obs"],
        "outer_union_channels": n_var == expect["var"],
        "x_rows": n_x == expect["x"],
        "edges_survive_and_bogus_drop": n_edges == expect["edges"],
        "no_orphan_endpoints": orphan_src == 0 and orphan_dst == 0,
    }
    return {
        "datasets": n_datasets,
        "cells_per_dataset": n_cells,
        "build_and_write_sec": build_sec,
        "invariant_check_sec": check_sec,
        "counts": {
            "obs": n_obs,
            "var": n_var,
            "x_long": n_x,
            "edges": n_edges,
            "manifest_cells": manifest.get("Total Cell Count")
            if isinstance(manifest, dict)
            else None,
        },
        "expected": expect,
        "invariants": invariants,
        "ok": all(invariants.values()),
    }


def run_delta(out: str, n_datasets: int, n_cells: int, n_add: int, n_remove: int) -> dict:
    """The incremental-maintenance stress (VERDICT r6 #1): write the
    maintained product on the first ``n_datasets - n_add`` datasets,
    apply ONE delta batch (add the last ``n_add``, remove the first
    ``n_remove``), and compare the maintained product's invariant counts
    AND wall time against a from-scratch rebuild over the surviving set.
    The headline number is delta_sec / rebuild_sec — the operational win
    over the reference's rerun-everything model (bin/concatenate.py:412)."""
    from codex_data_products_spark.plans.codex_pipeline import (
        build_product,
        read_product_table,
        write_product,
    )
    from codex_data_products_spark.session import get_spark
    from codex_data_products_spark.streaming.product_ivm import (
        apply_product_delta,
    )

    spark = get_spark(app_name="codex-stress-delta")
    data = os.path.join(out, "data")
    cat = os.path.join(out, "uuids.tsv")
    base = [_ds_uuid(i) for i in range(n_datasets - n_add)]
    added = [_ds_uuid(i) for i in range(n_datasets - n_add, n_datasets)]
    removed = base[:n_remove]
    surviving = [u for u in base + added if u not in set(removed)]

    t0 = time.perf_counter()
    product = build_product(
        spark, data, cat, tissue="Spleen",
        product_uuid="stress-delta", creation_time="2026-08-15 00:00:00",
        only_datasets=base,
    )
    write_product(product, os.path.join(out, "maintained"))
    bootstrap_sec = round(time.perf_counter() - t0, 1)

    t1 = time.perf_counter()
    manifest = apply_product_delta(
        spark, os.path.join(out, "maintained"), data, cat, 0,
        add=added, remove=removed,
    )
    delta_sec = round(time.perf_counter() - t1, 1)

    t2 = time.perf_counter()
    fresh = build_product(
        spark, data, cat, tissue="Spleen",
        product_uuid="stress-delta", creation_time="2026-08-15 00:00:00",
        only_datasets=surviving,
    )
    fresh_manifest = write_product(fresh, os.path.join(out, "fresh"))
    rebuild_sec = round(time.perf_counter() - t2, 1)

    t3 = time.perf_counter()
    counts = {}
    for table in ("x_long", "obs", "var", "varm_long", "edges"):
        m = read_product_table(spark, os.path.join(out, "maintained"), table).count()
        f = read_product_table(spark, os.path.join(out, "fresh"), table).count()
        counts[table] = {"maintained": m, "fresh": f, "match": m == f}
    counts["manifest_cells"] = {
        "maintained": manifest["Total Cell Count"],
        "fresh": fresh_manifest["Total Cell Count"],
        "match": manifest["Total Cell Count"] == fresh_manifest["Total Cell Count"],
    }
    check_sec = round(time.perf_counter() - t3, 1)

    ok = all(v["match"] for v in counts.values())
    return {
        "mode": "delta",
        "datasets_base": len(base),
        "added": len(added),
        "removed": len(removed),
        "cells_per_dataset": n_cells,
        "bootstrap_sec": bootstrap_sec,
        "delta_apply_sec": delta_sec,
        "from_scratch_rebuild_sec": rebuild_sec,
        "speedup": round(rebuild_sec / delta_sec, 1) if delta_sec else None,
        "invariant_check_sec": check_sec,
        "counts": counts,
        "ok": ok,
    }


def run_fleet(
    out: str, n_datasets: int, n_cells: int, n_tissues: int,
    n_add: int, n_remove: int,
) -> dict:
    """Fleet-maintenance stress (round-8 second wave): datasets split
    round-robin across ``n_tissues`` tissue products, written via
    write_products, then TWO fleet batches are timed:

      * batch 0 — a real release touching ONLY tissue T0 (add n_add,
        remove n_remove); the other tissues ride the lockstep no-op
        commit path.
      * batch 1 — a fleet-wide pure no-op (empty change list): its wall
        time / n_tissues is the marginal per-tissue cost of lockstep
        anchoring, the number that decides whether lockstep is
        affordable at fleet scale.

    Invariants: the touched tissue AND one untouched tissue both equal
    from-scratch builds over their surviving sets (count compare)."""
    from codex_data_products_spark.plans.codex_pipeline import (
        build_product,
        read_product_table,
        write_product,
        write_products,
    )
    from codex_data_products_spark.session import get_spark
    from codex_data_products_spark.streaming.product_ivm import (
        apply_fleet_delta,
    )

    spark = get_spark(app_name="codex-stress-fleet")
    data = os.path.join(out, "data")
    cat = os.path.join(out, "uuids.tsv")
    all_ds = [_ds_uuid(i) for i in range(n_datasets)]
    tissue_of = {u: f"T{i % n_tissues}" for i, u in enumerate(all_ds)}
    base = [u for i, u in enumerate(all_ds) if i < n_datasets - n_add]
    added = all_ds[n_datasets - n_add:]
    # keep the touched tissue consistent: added datasets all map to T0
    for u in added:
        tissue_of[u] = "T0"
    removed = [u for u in base if tissue_of[u] == "T0"][:n_remove]

    t0 = time.perf_counter()
    products = {}
    for t in sorted({tissue_of[u] for u in base}):
        products[t] = build_product(
            spark, data, cat, tissue=t,
            product_uuid=f"stress-fleet-{t}",
            creation_time="2026-08-15 00:00:00",
            only_datasets=[u for u in base if tissue_of[u] == t],
            tissue_by_uuid=tissue_of,
        )
    root = os.path.join(out, "fleet")
    write_products(products, root)
    bootstrap_sec = round(time.perf_counter() - t0, 1)

    t1 = time.perf_counter()
    apply_fleet_delta(
        spark, root, data, cat, 0,
        add=added, remove=removed, tissue_by_uuid=tissue_of,
    )
    fleet_delta_sec = round(time.perf_counter() - t1, 1)

    t2 = time.perf_counter()
    apply_fleet_delta(spark, root, data, cat, 1, tissue_by_uuid=tissue_of)
    noop_batch_sec = round(time.perf_counter() - t2, 1)

    # batch 2: the same fleet-wide no-op applied SEQUENTIALLY
    # (max_parallel=1) — the round-9 concurrency claim in one number:
    # parallel wall time should sit near the widest tissue's commit,
    # not near noop_seq_sec (which grows linearly in n_tissues)
    t2b = time.perf_counter()
    apply_fleet_delta(
        spark, root, data, cat, 2, tissue_by_uuid=tissue_of, max_parallel=1
    )
    noop_seq_sec = round(time.perf_counter() - t2b, 1)

    surviving_t0 = [
        u for u in base + added
        if tissue_of[u] == "T0" and u not in set(removed)
    ]
    untouched = "T1" if n_tissues > 1 else "T0"
    surviving_un = [u for u in base if tissue_of[u] == untouched]

    t3 = time.perf_counter()
    counts = {}
    for t, surv in (("T0", surviving_t0), (untouched, surviving_un)):
        fresh = build_product(
            spark, data, cat, tissue=t,
            product_uuid=f"stress-fleet-{t}",
            creation_time="2026-08-15 00:00:00",
            only_datasets=surv, tissue_by_uuid=tissue_of,
        )
        write_product(fresh, os.path.join(out, f"fresh_{t}"))
        for table in ("x_long", "obs", "var", "varm_long", "edges"):
            m = read_product_table(spark, os.path.join(root, t), table).count()
            f = read_product_table(
                spark, os.path.join(out, f"fresh_{t}"), table
            ).count()
            counts[f"{t}.{table}"] = {
                "maintained": m, "fresh": f, "match": m == f
            }
    check_sec = round(time.perf_counter() - t3, 1)

    ok = all(v["match"] for v in counts.values())
    return {
        "mode": "fleet",
        "tissues": n_tissues,
        "datasets_base": len(base),
        "added": len(added),
        "removed": len(removed),
        "cells_per_dataset": n_cells,
        "bootstrap_sec": bootstrap_sec,
        "fleet_delta_sec": fleet_delta_sec,
        "noop_batch_sec": noop_batch_sec,
        "noop_per_tissue_sec": round(noop_batch_sec / n_tissues, 2),
        "noop_seq_sec": noop_seq_sec,
        "noop_parallel_speedup": round(noop_seq_sec / noop_batch_sec, 2)
        if noop_batch_sec
        else None,
        "invariant_check_sec": check_sec,
        "counts": counts,
        "ok": ok,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--datasets", type=int, default=50)
    ap.add_argument("--cells", type=int, default=50_000)
    ap.add_argument("--out", default=".stressdata/codex")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--delta", action="store_true",
                    help="incremental-maintenance stress: add/remove vs rebuild")
    ap.add_argument("--delta-add", type=int, default=5)
    ap.add_argument("--delta-remove", type=int, default=2)
    ap.add_argument("--fleet", action="store_true",
                    help="fleet-maintenance stress: one batch across "
                    "N tissue products + a pure no-op lockstep batch")
    ap.add_argument("--tissues", type=int, default=3)
    args = ap.parse_args()
    if not args.skip_gen:
        t0 = time.perf_counter()
        generate(args.out, args.datasets, args.cells)
        print(f"generated in {time.perf_counter() - t0:.1f}s", flush=True)
    if args.fleet:
        result = run_fleet(
            args.out, args.datasets, args.cells, args.tissues,
            args.delta_add, args.delta_remove,
        )
    elif args.delta:
        result = run_delta(
            args.out, args.datasets, args.cells, args.delta_add, args.delta_remove
        )
    else:
        result = run(args.out, args.datasets, args.cells)
    print(json.dumps(result))
    raise SystemExit(0 if result["ok"] else 1)


if __name__ == "__main__":
    main()

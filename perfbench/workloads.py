"""The benchmark's workloads. Each has a ``setup`` (inputs and any
bootstrap, timed into ``setup_s``) and a ``round`` of operations that
``run.py`` repeats until the run's seconds are spent. A round times its
operations into ``ctx.ops``, checks the outputs into ``ctx.problems``,
and, when traced, leaves per-layer figures in ``ctx.layer``."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from tracing import CountingDecoder, read_decode_log, span_seconds

# --------------------------------------------------------------------------
# codex_build: build_product -> write_product -> export_h5mu -> read back
# --------------------------------------------------------------------------

# SCALE.md's production-shaped bundle (50 datasets x 50,000 cells x 40
# channels, about one adjacency edge per cell) with datasets / 25 and
# cells / 10; gen.py keeps its channel make-up whole.
CODEX_DATASETS, CODEX_CELLS, CODEX_EDGES = 2, 5000, 5000
CODEX_UUID, CODEX_TIME = "perfbench-product", "2026-01-01 00:00:00"


def codex_setup(ctx) -> None:
    ctx.release = gen.codex_release(
        os.path.join(ctx.work, "release"),
        ctx.seed,
        CODEX_DATASETS,
        CODEX_CELLS,
        CODEX_EDGES,
    )


def _build(ctx, **kw):
    from codex_data_products_spark.plans.codex_pipeline import build_product

    rel = ctx.release
    return build_product(
        ctx.spark, rel.data_dir, rel.uuids_tsv, tissue="Spleen",
        product_uuid=CODEX_UUID, creation_time=CODEX_TIME, **kw,
    )


def _summary(t: dict) -> dict:
    """A product's tables reduced to the quantities the generator
    accounts for."""
    x = t["x_long"].agg(F.count(F.lit(1)).alias("n"), F.sum("total").alias("s")).first()
    obs = t["obs"].select("cell_id", "dataset").toPandas()
    edges = t["edges"].select("src_cell_id", "dst_cell_id").toPandas()
    t["varm_long"].count()
    cells = set(obs["cell_id"])
    return {
        "datasets": sorted(set(obs["dataset"])),
        "obs": len(obs),
        "var": t["var"].count(),
        "x_long": int(x["n"]),
        "edges": len(edges),
        "total_sum": float(x["s"] or 0.0),
        "orphan_edges": int(
            (~edges["src_cell_id"].isin(cells)).sum()
            + (~edges["dst_cell_id"].isin(cells)).sum()
        ),
    }


def _timed_read(ctx, out_dir: str) -> dict:
    """The committed product read back through ``read_product_table``."""
    from codex_data_products_spark.plans.codex_pipeline import (
        PRODUCT_TABLES,
        read_product_table,
    )

    t0 = time.perf_counter()
    with ctx.tracer.span("read_product_table"):
        got = _summary({n: read_product_table(ctx.spark, out_dir, n) for n in PRODUCT_TABLES})
    ctx.op("product_read_s", time.perf_counter() - t0)
    return got


def codex_round(ctx, k: int) -> None:
    from codex_data_products_spark.plans.codex_pipeline import (
        export_h5mu,
        read_commit_marker,
        write_product,
    )
    from codex_data_products_spark.sources import minihdf5

    rel, tr = ctx.release, ctx.tracer
    out = os.path.join(ctx.work, f"product{k}")
    h5mu = out + ".h5mu"
    decode_log = os.path.join(ctx.work, f"decodes{k}.tsv")
    kw = {"decoder": CountingDecoder(decode_log)} if tr.enabled else {}

    t0 = time.perf_counter()
    with tr.span("build_product"):
        product = _build(ctx, **kw)
    with tr.span("write_product"):
        manifest = write_product(product, out)
    ctx.op("product_build_s", time.perf_counter() - t0)
    ctx.value("product_bytes", manifest["Raw File Size"])
    decodes = read_decode_log(decode_log)
    t0 = time.perf_counter()
    with tr.span("export_h5mu"):
        export_h5mu(product, h5mu)
    ctx.op("h5mu_export_s", time.perf_counter() - t0)
    got = _timed_read(ctx, out)

    want = rel.expected(list(rel.datasets))
    ctx.check("committed product", checks.check_product(got, want))
    with open(h5mu, "rb") as f:
        x = minihdf5.Reader(f.read()).dataset(f"/mod/{CODEX_UUID}_raw/X")
    ctx.check("h5mu", checks.check_h5mu(x, want))

    if tr.enabled:
        files = read_commit_marker(out)["files"]
        ctx.layer.update({
            "sources.hdf5.decodes_per_file": len(decodes) / len(rel.datasets),
            "sources.hdf5.decode_s": sum(s for _, s in decodes),
            "product.files_committed": sum(
                len(v) if isinstance(v, list) else sum(len(e) for e in v.values())
                for v in files.values()
            ),
            "build_product.construct_s": span_seconds(tr.spans, "build_product"),
            "write_product.s": span_seconds(tr.spans, "write_product"),
            "export_h5mu.s": span_seconds(tr.spans, "export_h5mu"),
            "read_product_table.s": span_seconds(tr.spans, "read_product_table"),
        })
        ctx.input_bytes_base = rel.input_bytes
    shutil.rmtree(out)
    os.remove(h5mu)


# --------------------------------------------------------------------------
# codex_delta: apply_product_delta add/remove batches on a maintained
# product, each followed by a committed read
# --------------------------------------------------------------------------


def delta_setup(ctx) -> None:
    from codex_data_products_spark.streaming.product_ivm import (
        bootstrap_product_maintenance,
    )

    codex_setup(ctx)
    # the maintained product holds every dataset but the last; each
    # round adds the last one and removes it again
    *ctx.base, ctx.delta = list(ctx.release.datasets)
    ctx.maintained = os.path.join(ctx.work, "maintained")
    bootstrap_product_maintenance(_build(ctx, only_datasets=ctx.base), ctx.maintained)
    ctx.batch = 0


def _delta(ctx, op: str, **batch) -> list:
    """One ``apply_product_delta`` batch; returns the decodes it made
    when traced."""
    from codex_data_products_spark.streaming.product_ivm import apply_product_delta

    rel, tr = ctx.release, ctx.tracer
    decode_log = os.path.join(ctx.work, f"decodes-delta{ctx.batch}.tsv")
    kw = {"decoder": CountingDecoder(decode_log)} if tr.enabled else {}
    t0 = time.perf_counter()
    with tr.span("apply_product_delta"):
        apply_product_delta(
            ctx.spark, ctx.maintained, rel.data_dir, rel.uuids_tsv, ctx.batch,
            **batch, **kw,
        )
    ctx.op(op, time.perf_counter() - t0)
    ctx.batch += 1
    return read_decode_log(decode_log)


def delta_round(ctx, k: int) -> None:
    rel, tr = ctx.release, ctx.tracer
    everything = rel.expected(list(rel.datasets))
    decodes = _delta(ctx, "delta_add_s", add=[ctx.delta])
    got = _timed_read(ctx, ctx.maintained)
    ctx.check("maintained product after add", checks.check_product(got, everything))
    if k == 1:
        # once per run, the second path: a from-scratch build_product of
        # the same datasets
        from codex_data_products_spark.plans.codex_pipeline import PRODUCT_TABLES

        p = _build(ctx)
        scratch = _summary({n: getattr(p, n) for n in PRODUCT_TABLES})
        ctx.check("maintained against from-scratch", checks.check_product(got, scratch))
    _delta(ctx, "delta_remove_s", remove=[ctx.delta])
    got = _timed_read(ctx, ctx.maintained)
    ctx.check("maintained product after remove", checks.check_product(got, rel.expected(ctx.base)))
    if tr.enabled:
        ctx.layer.update({
            # the add batch decodes only the dataset it adds
            "sources.hdf5.decodes_per_file": len(decodes),
            "sources.hdf5.decode_s": sum(s for _, s in decodes),
            "read_product_table.s": span_seconds(tr.spans, "read_product_table"),
        })


# --------------------------------------------------------------------------
# registry_queries: registered queries built and forced, checked by DuckDB
# --------------------------------------------------------------------------

# The HEADLINE queries of the root bench.py, in its order.
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q8_market_share", "q18_large_volume", "q21_waiting_supplier",
    "pack_sequences", "curation_summary", "graph_pagerank", "events_retention",
    "knn_ivf_multiprobe", "join_range", "window_rank", "window_running_sum",
    "window_range_frame", "sessionize", "events_tumbling_window",
    "events_gapfill", "window_distribution", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "knn_brute_force", "knn_ivf", "knn_lsh",
    "text_quality", "text_pretokenize", "text_fingerprint",
    "multimodal_image_stats", "multimodal_frame_sample", "pivot_event_values",
    "asof_join", "q16_supplier_part_count", "q20_excess_stock",
    "split_contamination", "vocab_top_terms", "heavy_hitters_cms",
    "fuzzy_join_symdel", "merge_upsert", "agg_correlation",
    "events_concurrency", "events_ewma", "agg_mad", "table_diff",
    "events_rolling_wau", "embedding_norms_pandas", "events_user_gaps",
]
# Every third one: a cold run of all 49 takes about a minute, which the
# benchmark's time budget cannot hold beside the other workloads.
QUERY_SET = HEADLINE[::3]
SF = 0.01


def registry_setup(ctx) -> None:
    from codex_data_products_spark import registry

    registry.load_all()
    ctx.sf_dir = os.path.join(ctx.work, "sf")
    gen.sf_tables(ctx.sf_dir, ctx.seed, SF)
    ctx.oracle = {}


def _oracle(ctx, name: str):
    """The query's DuckDB oracle over the same parquet files."""
    from codex_data_products_spark import registry

    if not ctx.oracle:
        con = duckdb.connect()
        for fn in os.listdir(ctx.sf_dir):
            con.execute(
                f"CREATE VIEW {fn.removesuffix('.parquet')} AS SELECT * FROM "
                f"read_parquet('{ctx.sf_dir}/{fn}')"
            )
        ctx.oracle = {q: con.execute(registry.ORACLES[q]).df() for q in QUERY_SET}
        con.close()
    return ctx.oracle[name]


def registry_round(ctx, k: int) -> None:
    from codex_data_products_spark import registry

    spark, tr = ctx.spark, ctx.tracer
    outputs, total = {}, 0.0
    for name in QUERY_SET:
        t0 = time.perf_counter()
        try:
            with tr.span("queries.construct", query=name):
                df = registry.QUERIES[name](spark, ctx.sf_dir)
            with tr.span("queries.exec", query=name):
                outputs[name] = df.toPandas()
        except Exception:
            print(f"perfbench: query {name} failed:\n" + traceback.format_exc(),
                  file=sys.stderr)
        else:
            total += time.perf_counter() - t0
        spark.catalog.clearCache()
    ctx.op("queries_total_s", total, count=len(outputs))
    for name, got in outputs.items():
        ctx.check(name, checks.compare_frames(got, _oracle(ctx, name)))
    if tr.enabled:
        ctx.layer.update({
            "queries.construct_s": span_seconds(tr.spans, "queries.construct"),
            "queries.exec_s": span_seconds(tr.spans, "queries.exec"),
        })


# --------------------------------------------------------------------------
# ivm_corpus: log-structured corpus maintainers, add/remove batches + search
# --------------------------------------------------------------------------

IVM_BATCH, IVM_MAX_ROUNDS, IVM_TRAIN, IVM_DIM, IVM_QUERIES = 20, 40, 40, 16, 12


def ivm_setup(ctx) -> None:
    from codex_data_products_spark.streaming import ann_ivm, dedup_ivm, substring_ivm

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    n = IVM_BATCH * IVM_MAX_ROUNDS
    docs_path = os.path.join(ctx.work, "docs.parquet")
    vecs_path = os.path.join(ctx.work, "vecs.parquet")
    pq.write_table(pa.table(gen.documents(rng, n)), docs_path)
    pq.write_table(pa.table(gen.embeddings(rng, n, IVM_DIM)), vecs_path)
    q = gen.embeddings(rng, IVM_QUERIES, IVM_DIM, first_id=10**6)
    ctx.query_vecs = {
        int(i): np.asarray(v, dtype=np.float64)
        for i, v in zip(q["vec_id"].to_pylist(), q["embedding"].to_pylist())
    }
    ctx.queries_df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in ctx.query_vecs.items()],
        "query_id long, qv array<double>",
    )
    ctx.docs = spark.read.parquet(docs_path).select("doc_id", "text")
    ctx.vecs = spark.read.parquet(vecs_path).select("vec_id", "embedding")
    ctx.docs_pd = pq.read_table(docs_path).to_pandas()
    ctx.vecs_np = np.stack(pq.read_table(vecs_path).column("embedding").to_pylist())

    ctx.dd, ctx.ss, ctx.aa = (os.path.join(ctx.work, d) for d in ("dedup", "substr", "ann"))
    ctx.state_of = {
        "apply_dedup_batch": ctx.dd,
        "apply_substring_batch": ctx.ss,
        "apply_ann_batch": ctx.aa,
    }
    dedup_ivm.bootstrap_dedup_state(spark, ctx.dd)
    substring_ivm.bootstrap_substring_state(spark, ctx.ss)
    # the frozen quantizer is trained on the first vectors of the pool;
    # every posting row then arrives through the rounds' batches
    ann_ivm.bootstrap_ann_state(
        spark, ctx.aa,
        spark.read.parquet(vecs_path).filter(F.col("vec_id") < IVM_TRAIN),
    )
    ctx.sub_batch = ctx.ann_batch = 0
    ctx.ingested = 0  # ids below this were added to every maintainer
    ctx.removed = set()  # ids removed from the substring and ANN maintainers


def _fold(ctx, family: str, apply, tables: tuple, compact) -> None:
    """One maintainer batch, compacted when its log has outgrown the
    floor — the step each ``run_*_maintenance`` drain takes per batch."""
    from codex_data_products_spark.streaming.dedup_ivm import compaction_due

    with ctx.tracer.span(family):
        apply()
        if compaction_due(ctx.spark, ctx.state_of[family], tables):
            with ctx.tracer.span("ivm.compact"):
                compact()


def ivm_round(ctx, k: int) -> None:
    from codex_data_products_spark.streaming import ann_ivm, dedup_ivm, substring_ivm

    spark, tr = ctx.spark, ctx.tracer
    lo, hi = ctx.ingested, ctx.ingested + IVM_BATCH
    if hi > IVM_BATCH * IVM_MAX_ROUNDS:
        raise RuntimeError("ivm_corpus ran out of generated batches")
    add_docs = ctx.docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    add_vecs = ctx.vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    # the remove batch retracts half of this round's adds: tombstones
    # against rows of an earlier log batch, compacted or not
    rm = list(range(lo, lo + IVM_BATCH // 2))
    sb, ab = ctx.sub_batch, ctx.ann_batch

    t0 = time.perf_counter()
    _fold(ctx, "apply_dedup_batch",
          lambda: dedup_ivm.apply_dedup_batch(add_docs, ctx.dd, k - 1),
          ("pairs", "bands"),
          lambda: (dedup_ivm.compact_dedup_pairs(spark, ctx.dd, upto=k),
                   dedup_ivm.expire_dedup_state(ctx.dd, keep_last=2)))
    _fold(ctx, "apply_substring_batch",
          lambda: substring_ivm.apply_substring_batch(add_docs, ctx.ss, sb),
          ("grams", "occ_delta", "coverage"),
          lambda: substring_ivm.compact_substring_coverage(spark, ctx.ss, upto=sb + 1))
    _fold(ctx, "apply_ann_batch",
          lambda: ann_ivm.apply_ann_batch(spark, ctx.aa, ab, adds=add_vecs),
          ("postings",),
          lambda: ann_ivm.compact_ann_postings(spark, ctx.aa, upto=ab))
    t1 = time.perf_counter()
    _fold(ctx, "apply_substring_batch",
          lambda: substring_ivm.apply_substring_batch(
              ctx.docs.filter(F.lit(False)), ctx.ss, sb + 1, remove=rm),
          ("grams", "occ_delta", "coverage"),
          lambda: substring_ivm.compact_substring_coverage(spark, ctx.ss, upto=sb + 2))
    _fold(ctx, "apply_ann_batch",
          lambda: ann_ivm.apply_ann_batch(
              spark, ctx.aa, ab + 1,
              removes=spark.createDataFrame([(i,) for i in rm], "vec_id long")),
          ("postings",),
          lambda: ann_ivm.compact_ann_postings(spark, ctx.aa, upto=ab + 1))
    t2 = time.perf_counter()
    with tr.span("search_ann"):
        ann_ivm.search_ann(spark, ctx.aa, ctx.queries_df, top_k=5, nprobe="auto").collect()
    t3 = time.perf_counter()
    ctx.op("ivm_add_batch_s", t1 - t0)
    ctx.op("ivm_remove_batch_s", t2 - t1)
    ctx.op("ann_search_s", t3 - t2)
    ctx.sub_batch, ctx.ann_batch = sb + 2, ab + 2
    ctx.ingested = hi
    ctx.removed.update(rm)
    if tr.enabled:
        ctx.layer.update({
            f"{f}.s": span_seconds(tr.spans, f) for f in ctx.state_of
        })
        ctx.layer["ivm.state_files"] = sum(
            1
            for d in ctx.state_of.values()
            for _, _, fns in os.walk(d)
            for fn in fns
            if not fn.startswith((".", "_"))
        )


def ivm_final_check(ctx) -> None:
    """Each maintained view against its from-scratch computation over
    the corpus that survives the run."""
    from codex_data_products_spark import registry
    from codex_data_products_spark.streaming import ann_ivm, dedup_ivm, substring_ivm

    registry.load_all()
    spark = ctx.spark
    docs = ctx.docs_pd[ctx.docs_pd["doc_id"] < ctx.ingested]
    live = docs[~docs["doc_id"].isin(ctx.removed)]
    con = duckdb.connect()
    for name, corpus, got in (
        ("dedup_minhash_lsh", docs, dedup_ivm.dedup_pairs_snapshot(spark, ctx.dd)),
        ("dedup_substring", live, substring_ivm.substring_coverage_snapshot(spark, ctx.ss)),
    ):
        con.register("documents", corpus)
        want = con.execute(registry.ORACLES[name]).df()
        con.unregister("documents")
        ctx.check(name, checks.compare_frames(got.toPandas(), want))
    con.close()

    ids = np.array([i for i in range(ctx.ingested) if i not in ctx.removed])
    want = checks.brute_force_topk(ids, ctx.vecs_np[ids], ctx.query_vecs, 5)
    got: dict = {}
    rows = ann_ivm.search_ann(spark, ctx.aa, ctx.queries_df, top_k=5, nprobe=None).collect()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rn"])):
        got.setdefault(int(r["query_id"]), []).append((int(r["neighbor_id"]), r["cosine"]))
    ctx.check("search_ann full probe", checks.check_topk(got, want))


@dataclass(frozen=True)
class Workload:
    setup: Callable
    round: Callable
    ops: int  # operations one round attempts
    final_check: Callable | None = None


WORKLOADS = {
    "codex_build": Workload(codex_setup, codex_round, 3),
    "codex_delta": Workload(delta_setup, delta_round, 4),
    "registry_queries": Workload(registry_setup, registry_round, len(QUERY_SET)),
    "ivm_corpus": Workload(ivm_setup, ivm_round, 3, ivm_final_check),
}

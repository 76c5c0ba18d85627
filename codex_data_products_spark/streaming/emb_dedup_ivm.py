"""Incremental embedding-cosine near-dup maintenance — the sixth dedup
family's IVM twin (dedup_embedding_cosine, queries/dedup.py).

The batch terminal pairs vectors within an IVF-style coarse partition
(the ``label`` column) at cosine ≥ threshold. This maintainer keeps
that pair view under batched ingest + removals as
``streaming.logstate`` logs:

  emb/batch=<k>          doc-grain vector log (vec_id, label, v, nsq)
  embpairs/batch=<k>     pair log (doc_a, doc_b, cosine) — the delta's
                         fresh pairs only, O(delta × cluster density)
  emb_removed/batch=<k>  release-grain vec_id tombstones shared by BOTH
                         logs (a removed vector's row and its pairs die
                         through one tombstone)

Per batch the delta's vectors BROADCAST against the persisted vector
snapshot on label equality (the corpus-scale side never shuffles —
same plan contract as the SimHash maintainer, guarded in
tests/test_plans.py); within-delta pairs surface from both directions
and are normalized + distinct'd over the delta-proportional candidate
set only.

At 100 TB: every write is O(delta); the pair log is never rewritten;
the label partition bounds each candidate join to cluster-local pairs
(linear in cluster size, never corpus-quadratic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_data_products_spark.streaming.ann_ivm import _dot
from codex_data_products_spark.streaming.dedup_ivm import compact_pair_log
from codex_data_products_spark.streaming.logstate import (
    PAIR,
    _compact_log,
    _empty,
    _gc_log_dirs,
    _tombstoned_log,
    _write_batch,
    _write_tombstones,
    drain,
)

_EMB_SCHEMA = "doc_id long, label long, v array<double>, nsq double"
_EMB_PAIR_SCHEMA = "doc_a long, doc_b long, cosine double"


def _emb_rows(adds: DataFrame) -> DataFrame:
    """(doc_id, label, v, nsq) from (vec_id, embedding, label) — squared
    norm precomputed once per vector, same fold order as the pair stage
    so the doubles are bit-identical."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    return adds.select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("label"),
        v.alias("v"),
    ).withColumn("nsq", _dot(F.col("v"), F.col("v")))


def emb_snapshot(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained vector table at ``version`` (doc-grain log minus
    tombstones; the log streams through one broadcast join)."""
    emb = f"{state_dir}/emb"
    return _tombstoned_log(spark, emb, f"{emb}_removed", _EMB_SCHEMA, version)


def _fresh_emb_pairs(
    delta: DataFrame, corpus: DataFrame, threshold: float
) -> DataFrame:
    """The delta's new pairs: broadcast the delta vectors against the
    persisted snapshot on label equality. Candidates touch ≥1 delta
    vector, so they are disjoint from the persisted pair state;
    within-delta pairs surface from both directions → normalize +
    distinct over the delta-proportional candidate set only."""
    from codex_data_products_spark.queries.dedup import eval_once

    r, s = delta.alias("r"), corpus.alias("s")
    cos = F.round(
        _dot(F.col("r.v"), F.col("s.v"))
        / F.sqrt(F.col("r.nsq") * F.col("s.nsq")),
        6,
    )
    return (
        s.join(
            F.broadcast(r),
            (F.col("r.label") == F.col("s.label"))
            & (F.col("r.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.least(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_b"),
            # eval_once (queries.dedup): keeps the dot fold out of the
            # join condition — unguarded, the threshold filter is
            # pushed into the join and the fold runs twice per
            # candidate, before the cheap doc_id predicate
            eval_once(cos).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def apply_emb_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    adds: DataFrame | None = None,
    removes: DataFrame | None = None,
    threshold: float = 0.38,
) -> None:
    """Fold one release batch into the maintained near-dup pair view.
    ``adds`` (vec_id, embedding, label) append vector rows and their
    fresh pairs; ``removes`` (vec_id) append tombstones that kill
    earlier rows AND pairs (shared root). A combined batch is an
    atomic replace per ``streaming.logstate.COMBINED_BATCH_CONTRACT``:
    removed rows leave the pairing corpus before the delta pairs
    against it (so no pair with a dead endpoint is ever written at
    this batch id)."""
    rem = None
    if removes is not None:
        rem = removes.select(F.col("vec_id").cast("long").alias("doc_id"))
    _write_tombstones(spark, rem, f"{state_dir}/emb_removed", batch_id)
    if adds is not None:
        delta = _emb_rows(adds).localCheckpoint()
        # snapshot BEFORE this batch (its own dirs excluded) + the delta
        # itself = the candidate corpus: cross-batch and within-delta
        # pairs in one broadcast join. Rows this same batch removes must
        # leave the corpus first — their pairs would be written at
        # batch_id and survive the batch's own strictly-older tombstones.
        prior = emb_snapshot(spark, state_dir, version=batch_id - 1)
        if rem is not None:
            prior = prior.join(F.broadcast(rem), "doc_id", "left_anti")
        corpus = prior.unionByName(delta)
        pairs = _fresh_emb_pairs(delta, corpus, threshold)
    else:
        delta = _empty(spark, _EMB_SCHEMA)
        pairs = _empty(spark, _EMB_PAIR_SCHEMA)
    _write_batch(
        delta.select("doc_id", "label", "v", "nsq"),
        f"{state_dir}/emb",
        batch_id,
    )
    _write_batch(
        pairs.select("doc_a", "doc_b", "cosine"),
        f"{state_dir}/embpairs",
        batch_id,
    )
    delta.unpersist()  # drop the localCheckpoint blocks — a long
    # drain must not accumulate one per batch in executor storage


def emb_pairs_snapshot(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """(vec_a, vec_b, cosine) at ``version`` — pair log minus endpoint
    tombstones (strictly-older rule; the pair log never shuffles)."""
    return _tombstoned_log(
        spark,
        f"{state_dir}/embpairs",
        f"{state_dir}/emb_removed",
        _EMB_PAIR_SCHEMA,
        version,
        PAIR,
    ).select(
        F.col("doc_a").alias("vec_a"),
        F.col("doc_b").alias("vec_b"),
        "cosine",
    )


def run_emb_dedup_maintenance(
    vectors: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.38,
    auto_compact_ratio: float | None = 1.0,
) -> None:
    """``logstate.drain`` of a vector stream (vec_id, embedding, label)
    onto the maintained near-dup pair view, compacting when
    ``compaction_due`` (None disables)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        apply_emb_batch(
            batch.sparkSession,
            state_dir,
            batch_id,
            adds=batch,
            threshold=threshold,
        )

    def compact(spark: SparkSession, batch_id: int) -> None:
        compact_emb_state(spark, state_dir, upto=batch_id)

    auto = (state_dir, ("emb", "embpairs"), auto_compact_ratio, compact)
    drain(vectors, checkpoint_dir, fold, auto)


def compact_emb_state(
    spark: SparkSession, state_dir: str, upto: int, gc: bool = True
) -> None:
    """Consolidate BOTH logs sharing the tombstone root through
    ``upto``; ``gc=True`` then removes the superseded dirs."""
    # vector log first (tombstone root still present), pair log second
    # with gc=True reclaims the shared tombstone dirs
    emb, removed = f"{state_dir}/emb", f"{state_dir}/emb_removed"
    _compact_log(spark, emb, removed, _EMB_SCHEMA, upto)
    compact_pair_log(
        spark, f"{state_dir}/embpairs", removed, _EMB_PAIR_SCHEMA, upto, gc
    )
    if gc:
        _gc_log_dirs(spark, (emb,), upto)

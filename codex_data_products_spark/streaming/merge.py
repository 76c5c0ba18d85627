"""Continuously-maintained dimension table: a CDC change stream applied
onto a parquet-materialized base via ``foreachBatch`` + the batch
``merge_into`` operator — the streaming twin of ``merge_upsert``.

Versioned-snapshot storage (``table_dir/v=<batch_id>``): each
micro-batch folds into its own PRE-batch snapshot and writes the next
version (``_drain_snapshots``; replay contract: ``streaming.logstate``).
Readers pick the max version — the poor-man's pointer swap every table
format (Delta/Iceberg/Hudi) formalizes.

At 100 TB the base side stays partition-pruned and (with a bucketed or
range-clustered layout from ``plans.layout``) shuffle-free in the
merge join; only the micro-batch of changes moves. Snapshot GC =
dropping old ``v=`` dirs past a retention horizon.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codex_data_products_spark.operators.joins import merge_into
from codex_data_products_spark.streaming.logstate import _children, drain

_VERSION_RE = re.compile(r"v=(\d+)$")


def table_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Existing snapshot version numbers, ascending."""
    matches = (_VERSION_RE.search(n) for n in _children(spark, table_dir))
    return sorted(int(m.group(1)) for m in matches if m)


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot of the maintained table — latest by default, or any
    retained historical version (time travel: every batch's snapshot
    stays addressable until GC'd)."""
    versions = table_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not in {versions} under {table_dir}"
        )
    return spark.read.parquet(f"{table_dir}/v={version}")


def bootstrap_table(base: DataFrame, table_dir: str) -> None:
    """Write the initial snapshot (version 0 = before any stream batch)."""
    base.write.mode("overwrite").parquet(f"{table_dir}/v=0")


def _drain_snapshots(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    step,
) -> None:
    """``logstate.drain`` of a versioned-snapshot maintainer: batch k
    folds ``step(state, batch)`` into its PRE-batch snapshot
    (``v=k``) and overwrites ``v=k+1``. Never "latest": additive folds
    are not idempotent, so if a crashed attempt wrote ``v=k+1`` before
    its checkpoint commit, a replay reading latest would fold the
    delta twice; anchoring to ``v=k`` makes the overwrite replay-safe
    for every fold."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        state = read_table(batch.sparkSession, table_dir, version=batch_id)
        step(state, batch).write.mode("overwrite").parquet(
            f"{table_dir}/v={batch_id + 1}"
        )

    drain(stream, checkpoint_dir, fold)


def run_cdc_apply(
    changes: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key: str,
    change_key: str,
    seq_col: str,
    op_col: str = "op",
    set_cols: dict[str, str] | None = None,
    insert_defaults: dict | None = None,
) -> None:
    """Drain a CDC change stream onto the table with availableNow
    semantics. Within each micro-batch, only the LAST change per key
    (by ``seq_col``, ties broken by the key) is applied — standard CDC
    compaction, same as the batch ``events_latest_per_key`` query —
    because ``merge_into`` joins one change row per key."""

    def step(base: DataFrame, batch: DataFrame) -> DataFrame:
        w = Window.partitionBy(change_key).orderBy(
            F.col(seq_col).desc(), F.col(change_key)
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return merge_into(
            base,
            latest,
            key=key,
            change_key=change_key,
            op_col=op_col,
            set_cols=set_cols,
            insert_defaults=insert_defaults,
        )

    _drain_snapshots(changes, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (IVM): keep a grouped aggregate
# (count + sums) current against a change feed WITHOUT rescanning the
# base facts — each refresh costs O(|delta|), not O(|base|), which at
# 100 TB is the difference between a minutes-long micro-batch and a
# full-table nightly job. Changes carry op = +1 (insert) / -1 (delete;
# an update is delete+insert), so the delta batch aggregates to signed
# group contributions that a full-outer combine folds into the state;
# groups whose count reaches zero drop out, exactly like a recompute.
# ---------------------------------------------------------------------------


def combine_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Fold a signed change batch into a (keys..., n, sum_<c>...) state.

    ``state`` columns: keys + ``n`` + ``sum_<c>`` per sum col (as
    produced by this function or by ``bootstrap_agg_state``); ``delta``
    columns: keys + value cols + op (+1/-1). Exact DECIMAL sums keep
    the folded state bit-identical to a from-scratch recompute on any
    partitioning."""
    contrib = delta.groupBy(*keys).agg(
        F.sum(op_col).cast("long").alias("_dn"),
        *[
            F.sum(F.col(op_col) * F.col(c).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias(f"_dsum_{c}")
            for c in sum_cols
        ],
    )
    merged = state.join(contrib, keys, "full_outer").select(
        *keys,
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n"),
        *[
            (
                F.coalesce(
                    F.col(f"sum_{c}"), F.lit(0).cast("decimal(18,2)")
                )
                + F.coalesce(
                    F.col(f"_dsum_{c}"), F.lit(0).cast("decimal(18,2)")
                )
            )
            .cast("decimal(18,2)")
            .alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
    return merged.filter(F.col("n") > 0)


def bootstrap_agg_state(
    facts: DataFrame, keys: list[str], sum_cols: list[str]
) -> DataFrame:
    """From-scratch aggregate in the state schema (the one full scan
    ever needed; every later refresh is delta-sized)."""
    return facts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias(f"sum_{c}")
            for c in sum_cols
        ],
    )


def run_agg_maintenance(
    changes: DataFrame,
    table_dir: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
) -> None:
    """foreachBatch twin of run_cdc_apply for aggregates
    (``_drain_snapshots``: each micro-batch folds into its pre-batch
    snapshot and writes the next version)."""
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        return combine_agg_state(state, batch, keys, sum_cols)

    _drain_snapshots(changes, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental HLL maintenance: approximate distinct-to-date per group,
# kept current by max-merging register rows. HLL registers are the
# textbook mergeable sketch — max per (group, bucket) is associative,
# commutative AND idempotent, so the maintained state is bit-identical
# to recomputing the sketch over all items ever seen, at O(|delta| +
# m·|groups|) per refresh.
# ---------------------------------------------------------------------------


def combine_hll_state(
    state: DataFrame, delta_registers: DataFrame, keys: list[str]
) -> DataFrame:
    """Max-merge register rows: both sides are (keys..., bucket, rank)."""
    return (
        state.unionByName(delta_registers)
        .groupBy(*keys, "bucket")
        .agg(F.max("rank").alias("rank"))
    )


def run_hll_maintenance(
    items: DataFrame,
    table_dir: str,
    keys: list[str],
    item_col: str,
    checkpoint_dir: str,
) -> None:
    """foreachBatch maintenance of per-group HLL registers: each
    micro-batch sketches its items and max-merges into the pre-batch
    snapshot (``_drain_snapshots``). Estimates come from the batch
    ``operators.sketches.hll_estimate`` over any snapshot — identical
    to sketching the full history in one pass."""
    from codex_data_products_spark.operators.sketches import (
        hll_register_rows,
    )

    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        delta = hll_register_rows(batch, item_col, keys)
        return combine_hll_state(state, delta, keys)

    _drain_snapshots(items, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance: keep a materialized inner-join
# view V = A ⋈k B current under signed changes to EITHER side, using
# the classic delta-join decomposition
#     ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
# over bag semantics (every state row carries a multiplicity n; a
# delete is n = -1). Each refresh probes the delta against the BASE
# sides — O(|Δ|·fanout), never a base-to-base rejoin — which at 100 TB
# with both bases bucketed on the join key is a shuffle-free lookup of
# only the changed keys.
# ---------------------------------------------------------------------------


def _fold_counts(
    state: DataFrame, delta: DataFrame, cols: list[str]
) -> DataFrame:
    """Fold signed multiplicity rows (cols..., n) into a count state;
    groups summing to zero vanish, exactly like a recompute."""
    return (
        state.select(*cols, "n")
        .unionByName(delta.select(*cols, "n"))
        .groupBy(*cols)
        .agg(F.sum("n").cast("long").alias("n"))
        .filter(F.col("n") != 0)
    )


def bootstrap_join_state(
    a_rows: DataFrame, b_rows: DataFrame, table_dir: str, key: str
) -> None:
    """Write v=0 of A, B and the joined view V (multiplicity n on all
    three — the one full join ever computed)."""
    a = a_rows.groupBy(key, "a_val").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    b = b_rows.groupBy(key, "b_val").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    v = (
        a.alias("a")
        .join(b.alias("b"), key)
        .select(
            key,
            "a_val",
            "b_val",
            (F.col("a.n") * F.col("b.n")).cast("long").alias("n"),
        )
    )
    a.write.mode("overwrite").parquet(f"{table_dir}/A/v=0")
    b.write.mode("overwrite").parquet(f"{table_dir}/B/v=0")
    v.write.mode("overwrite").parquet(f"{table_dir}/V/v=0")


def run_join_maintenance(
    changes: DataFrame,
    table_dir: str,
    key: str,
    checkpoint_dir: str,
) -> None:
    """Maintain V = A ⋈key B under a two-sided change stream with
    schema (side 'A'|'B', <key>, a_val, b_val, op ±1); a_val is read
    for side-A changes, b_val for side-B. Each micro-batch folds the
    delta-join into the pre-batch snapshots and writes v=batch_id+1
    of all three tables."""

    def joined(x: DataFrame, y: DataFrame) -> DataFrame:
        return (
            x.alias("x")
            .join(y.alias("y"), key)
            .select(
                key,
                "a_val",
                "b_val",
                (F.col("x.n") * F.col("y.n")).alias("n"),
            )
        )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        a_state, b_state, v_state = (
            read_table(spark, f"{table_dir}/{t}", version=batch_id)
            for t in "ABV"
        )
        d_a = (
            batch.filter(F.col("side") == "A")
            .groupBy(key, "a_val")
            .agg(F.sum("op").cast("long").alias("n"))
        )
        d_b = (
            batch.filter(F.col("side") == "B")
            .groupBy(key, "b_val")
            .agg(F.sum("op").cast("long").alias("n"))
        )
        d_v = (
            joined(d_a, b_state)
            .unionByName(joined(a_state, d_b))
            .unionByName(joined(d_a, d_b))
        )
        new_state = {
            "A": _fold_counts(a_state, d_a, [key, "a_val"]),
            "B": _fold_counts(b_state, d_b, [key, "b_val"]),
            "V": _fold_counts(v_state, d_v, [key, "a_val", "b_val"]),
        }
        for t, frame in new_state.items():
            frame.write.mode("overwrite").parquet(
                f"{table_dir}/{t}/v={batch_id + 1}"
            )

    drain(changes, checkpoint_dir, apply_batch)


# ---------------------------------------------------------------------------
# Incremental top-k maintenance: the "leaderboard view" — top k rows by
# a monotone score, kept current from an insert feed. The state is
# BOUNDED at k rows forever: each refresh takes top-k of
# (state ∪ batch-top-k), which equals top-k over all rows ever seen
# because inserts can only displace, never resurrect, rows (no deletes
# in the feed — a deletable leaderboard needs the aggregate fold
# above, not this). Total (score DESC, tie-break) ordering makes the
# maintained state deterministic and equal to a from-scratch recompute.
# ---------------------------------------------------------------------------


def combine_topk_state(
    state: DataFrame,
    batch: DataFrame,
    k: int,
    score_col: str,
    tie_cols: list[str],
) -> DataFrame:
    """top-k of (state ∪ batch) under (score DESC, tie ASC) total order."""
    from pyspark.sql import Window

    merged = state.unionByName(batch.select(*state.columns))
    w = Window.orderBy(
        F.col(score_col).desc(), *[F.col(c) for c in tie_cols]
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def bootstrap_topk_state(
    facts: DataFrame, k: int, score_col: str, tie_cols: list[str]
) -> DataFrame:
    """From-scratch top-k in the state schema (TakeOrdered-sized work)."""
    return facts.orderBy(
        F.col(score_col).desc(), *[F.col(c) for c in tie_cols]
    ).limit(k)


def run_topk_maintenance(
    inserts: DataFrame,
    table_dir: str,
    k: int,
    score_col: str,
    tie_cols: list[str],
    checkpoint_dir: str,
) -> None:
    """foreachBatch maintenance of a top-k view over an insert stream.

    Pre-batch snapshot anchoring (``_drain_snapshots``); here a
    replayed batch cannot corrupt state even without it (top-k of a
    union is idempotent in the batch), but anchoring keeps the version
    chain deterministic. Each refresh sorts k + |batch-top-k| rows —
    never the history."""
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        # cut the batch to its own top-k FIRST (TakeOrdered, no global
        # sort), then merge with the k-row state
        batch_topk = bootstrap_topk_state(batch, k, score_col, tie_cols)
        return combine_topk_state(state, batch_topk, k, score_col, tie_cols)

    _drain_snapshots(inserts, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental embedding-moment maintenance: the per-dimension corpus
# profile (count / exact-decimal first and second moments — the state
# behind queries/similarity.embedding_dim_stats) kept current as new
# vectors stream in. Moments are additive with EXACT decimal sums, so
# the maintained state is bit-identical to recomputing over all
# vectors ever ingested — the whitening/normalization stats an
# embedding pipeline needs fresh without rescanning 100 TB of vectors.
# ---------------------------------------------------------------------------


def moment_rows(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(dim, n, s, s2) partial moments for a batch of vectors: exact
    DECIMAL(28,8) value sums and DECIMAL(38,0) fixed-point square sums
    (k = v·1e8; the same wide-int path embedding_dim_stats uses), so
    merges are associative with zero float drift."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    x = vectors.select(F.posexplode(v).alias("i", "val")).select(
        (F.col("i") + 1).alias("dim"), "val"
    )
    k = F.round(F.col("val") * F.lit(1.0e8), 0).cast("decimal(19,0)")
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("val").cast("decimal(20,8)"))
        .cast("decimal(28,8)")
        .alias("s"),
        F.sum(k * k).cast("decimal(38,0)").alias("s2"),
    )


def combine_moment_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(delta)
        .groupBy("dim")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("decimal(28,8)").alias("s"),
            F.sum("s2").cast("decimal(38,0)").alias("s2"),
        )
    )


def moment_stats(state: DataFrame) -> DataFrame:
    """Derive (dim, n, mean, std) from maintained moments — the same
    numbers a full embedding_dim_stats scan would produce."""
    mean = F.col("s").cast("double") / F.col("n")
    mean_sq = F.col("s2").cast("double") / F.col("n") / F.lit(1.0e16)
    return state.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(mean_sq - F.pow(mean, 2)), 6).alias("std"),
    )


def run_moment_maintenance(
    vectors: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> None:
    """foreachBatch maintenance of the per-dimension moment table:
    each micro-batch's partial moments fold into the pre-batch
    snapshot (``_drain_snapshots``)."""
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        return combine_moment_state(state, moment_rows(batch, vec_col))

    _drain_snapshots(vectors, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental column-profile maintenance (the streaming twin of
# queries/quality.dq_profile): the maintained state is the per-column
# VALUE-FREQUENCY MULTISET (column_name, v, cnt) — dq_profile's
# first-level aggregate. That representation is the whole point:
# scalar min/max/distinct state is NOT maintainable under retractions
# (deleting the current max tells you nothing about the next one), but
# the multiset is — a signed fold on (column, value) keeps every
# profile statistic (rows, nulls, EXACT distinct, min, max) derivable
# after any mix of inserts and deletes, at state size
# sum(per-column cardinality), never the fact table. This is the
# standard IVM resolution of the MIN/MAX non-invertibility problem
# (keep the group-wise support counts; see Gupta & Mumick's classic
# view-maintenance taxonomy).
#
# Per refresh: O(|delta| x |cols|) row-local stacking + one hash fold
# against the state on (column_name, v). Profile reads collapse the
# state to |cols| rows. NULL is a legitimate value row (its count
# feeds n_null), so the fold join is null-safe on v.
# ---------------------------------------------------------------------------


def profile_rows(
    batch: DataFrame, cols: list[str], op_col: str | None = None
) -> DataFrame:
    """Stack a batch to signed (column_name, v, cnt) profile rows.
    Without op_col every row counts +1 (insert-only stream); with it,
    op (+1/-1) makes the fold CDC-complete."""
    op = F.col(op_col).cast("long") if op_col else F.lit(1).cast("long")
    stack_args = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    stacked = batch.select(
        op.alias("_op"),
        F.expr(f"stack({len(cols)}, {stack_args}) AS (column_name, v)"),
    ).select("column_name", "v", "_op")
    return stacked.groupBy("column_name", "v").agg(
        F.sum("_op").cast("long").alias("cnt")
    )


def bootstrap_profile_state(facts: DataFrame, cols: list[str]) -> DataFrame:
    """From-scratch multiset state — the one full scan ever needed."""
    return profile_rows(facts, cols)


def combine_profile_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Null-safe signed fold of (column_name, v, cnt) rows; value rows
    whose support reaches zero leave the state, so a full retraction
    restores the exact prior profile (min/max included)."""
    d = delta.select(
        F.col("column_name").alias("_c"),
        F.col("v").alias("_v"),
        F.col("cnt").alias("_dcnt"),
    )
    cond = (F.col("column_name") == F.col("_c")) & F.col("v").eqNullSafe(
        F.col("_v")
    )
    return (
        state.join(d, cond, "full_outer")
        .select(
            F.coalesce(F.col("column_name"), F.col("_c")).alias(
                "column_name"
            ),
            F.coalesce(F.col("v"), F.col("_v")).alias("v"),
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("_dcnt"), F.lit(0))
            )
            .cast("long")
            .alias("cnt"),
        )
        .filter(F.col("cnt") != 0)
    )


def profile_stats(state: DataFrame) -> DataFrame:
    """Collapse the multiset state to the dq_profile output shape."""
    return state.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.count("v").cast("long").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


def run_profile_maintenance(
    changes: DataFrame,
    table_dir: str,
    cols: list[str],
    checkpoint_dir: str,
    op_col: str | None = None,
) -> None:
    """foreachBatch maintenance of the column-profile multiset: each
    micro-batch stacks to signed profile rows and folds into the
    pre-batch snapshot (``_drain_snapshots``)."""
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        return combine_profile_state(state, profile_rows(batch, cols, op_col))

    _drain_snapshots(changes, table_dir, checkpoint_dir, step)


# ---------------------------------------------------------------------------
# Incremental optimizer-statistics maintenance (eighth IVM class):
# keep a numeric column's width-W bucket histogram current against a
# change feed, so ANALYZE-grade statistics — equi-depth boundaries,
# selectivity estimates (queries/advanced.stats_equidepth_histogram /
# stats_selectivity_eval) — stay fresh at O(|delta|) per micro-batch
# instead of a full-table ANALYZE. The state is the bounded
# width-W bucket grain (|max/W| rows regardless of table size); the
# fold is additive signed counts (op = +1/-1), so retractions restore
# the exact prior histogram.
# ---------------------------------------------------------------------------


def histogram_rows(
    batch: DataFrame, value_col: str, width: int, op_col: str | None = None
) -> DataFrame:
    """Collapse a (possibly signed) batch to bucket-grain count deltas."""
    sign = F.col(op_col).cast("long") if op_col else F.lit(1).cast("long")
    return (
        batch.select(
            F.floor(F.col(value_col) / width).cast("long").alias("bucket"),
            sign.alias("_s"),
        )
        .groupBy("bucket")
        .agg(F.sum("_s").cast("long").alias("cnt"))
    )


def bootstrap_histogram_state(
    base: DataFrame, value_col: str, width: int
) -> DataFrame:
    return histogram_rows(base, value_col, width)


def combine_histogram_state(
    state: DataFrame, delta: DataFrame
) -> DataFrame:
    d = delta.select(
        F.col("bucket").alias("_b"), F.col("cnt").alias("_dcnt")
    )
    return (
        state.join(d, F.col("bucket") == F.col("_b"), "full_outer")
        .select(
            F.coalesce(F.col("bucket"), F.col("_b")).alias("bucket"),
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("_dcnt"), F.lit(0))
            )
            .cast("long")
            .alias("cnt"),
        )
        .filter(F.col("cnt") != 0)
    )


def histogram_stats(
    state: DataFrame, width: int, k: int = 16
) -> DataFrame:
    """Derive the k-bucket equi-depth histogram (depth_bucket, lo, hi,
    n_rows) from the maintained bucket grain — the same integer-rank
    boundary math as queries/advanced.stats_equidepth_histogram, run
    on the O(|max/width|)-row state instead of the fact table."""
    spark = state.sparkSession
    state = state.localCheckpoint(eager=False)
    cum = state.select(
        "bucket",
        F.col("cnt").alias("c"),
        F.sum("cnt")
        .over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cum_c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ks = spark.range(1, k).select(F.col("id").alias("k"))
    bounds = (
        cum.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.min(
                F.when(
                    F.col("cum_c") >= F.expr(f"(k * n + {k - 1}) div {k}"),
                    F.col("bucket"),
                )
            ).alias("eb")
        )
    )
    assign = (
        cum.crossJoin(F.broadcast(bounds))
        .groupBy("bucket", "c")
        .agg(F.count(F.when(F.col("eb") < F.col("bucket"), 1)).alias("d"))
    )
    return assign.groupBy(F.col("d").cast("int").alias("depth_bucket")).agg(
        (F.min("bucket") * width).cast("long").alias("lo"),
        ((F.max("bucket") + 1) * width).cast("long").alias("hi"),
        F.sum("c").cast("long").alias("n_rows"),
    )


def run_histogram_maintenance(
    changes: DataFrame,
    table_dir: str,
    value_col: str,
    width: int,
    checkpoint_dir: str,
    op_col: str | None = None,
) -> None:
    """foreachBatch maintenance of the bucket-grain histogram state:
    each micro-batch folds signed bucket deltas into the PRE-BATCH
    snapshot (``_drain_snapshots``)."""
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        delta = histogram_rows(batch, value_col, width, op_col)
        return combine_histogram_state(state, delta)

    _drain_snapshots(changes, table_dir, checkpoint_dir, step)

"""Incrementally-maintained exact substring-span coverage — the
twelfth IVM class, the incremental twin of ``dedup_substring``.

The maintained view is EXACTLY the batch ``dedup_substring`` output
over all documents ingested so far: per-doc duplicated-span coverage
``(doc_id, n_tokens, dup_tokens, dup_fraction)`` where a position is
duplicated iff its k-token gram occurs >= 2 times corpus-wide. Each
batch costs O(|delta| + |affected|), never O(|corpus|).

The one cross-corpus dependency is the gram occurrence count: a NEW
document can push an old gram's occurrence from 1 to >= 2, which
retroactively marks the OLD position holding it — exactly the shape of
the MinHash maintainer's stop-shingle DF-cap crossing
(``dedup_ivm.apply_dedup_batch`` step 2), and handled the same way:
occurrence counts are an incrementally-folded additive aggregate, a
1 -> >=2 flip triggers a coverage recompute of just the docs holding a
flipped gram, and the coverage log is repaired only for those docs. A
gram flips at most once (the corpus is append-only), so across the
whole history each old doc is repaired O(#flips touching it) times —
delta-proportional in aggregate.

State layout under ``state_dir`` (every table is a
``streaming.logstate`` log; batch k reads strictly below itself and
overwrites only its own dirs):

  * ``grams/batch=<k>``    — positional gram rows (doc_id, n, pos, g)
    for the batch's docs, with ``grams_removed/batch=<k>`` removal
    tombstones. The corpus-scale table; only ever scanned +
    broadcast-semi-joined.
  * ``occ_delta/batch=<k>``— (g, occ) the batch's OWN gram counts —
    an append-log of the additive fold's deltas (round 9: the former
    ``occ/v=<k>`` full-histogram rewrite was the engine's last
    corpus-proportional per-batch state write). Every read of the
    fold is against the batch's own gram set, so the per-gram history
    (≤ one row per batch per gram, consolidated by compaction) sums
    in a touched-grams-only aggregate — occurrence counts never
    materialize corpus-wide except inside the compactor. The gram-set
    semi-joins carry NO broadcast hint: at production delta fractions
    AQE broadcasts the small side; at bulk-load fractions (the bench's
    modulo-3 batches touch ~1/3 of the corpus vocabulary) it degrades
    to a hash join rather than shipping a 10⁶-row broadcast.
  * ``coverage/batch=<k>`` — per-doc coverage rows first computed by
    batch k, with ``coverage_removed/batch=<k>`` doc tombstones for the
    flip repair (the same-batch re-emit survives them).
  * ``_FORMAT_V2_GRAM_LONG`` — the state format marker
    (``logstate._check_state_format``).

Invariants (tests/test_streaming.py): after any sequence of insert
batches with fresh doc_ids, ``substring_coverage_snapshot`` equals the
from-scratch ``dedup_substring`` over the union of all batches, and
the summed occ-delta log equals the from-scratch positional-gram
histogram.

Reference parity: the reference recomputes everything per run; this is
the Spark-native answer to keeping an ExactSubstr-style duplicated-span
report current over an append-heavy 100 TB corpus (suffix-array dedup
a la Lee et al. 2022 is single-node; positional-gram fingerprints are
its shuffle-partitionable equivalent — see queries/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_data_products_spark.queries.dedup import (
    _coverage_per_doc,
    positional_grams,
)
from codex_data_products_spark.streaming.logstate import (
    _check_state_format,
    _compact_floor,
    _compact_log,
    _delete,
    _empty,
    _gc_log_dirs,
    _log_union,
    _remove_frame,
    _tombstoned_log,
    _write_batch,
    _write_tombstones,
    drain,
)
from codex_data_products_spark.tables import run_lanes

_GRAMS_SCHEMA = "doc_id long, n int, pos int, g long"
# b = pmod(xxhash64(g), _N_OCC_BUCKETS): the occ log's PARTITION column
# (the ANN posting-log pattern, streaming/ann_ivm.py — VERDICT r10 #4).
# Occ reads that only need the history of a bounded gram set prune to
# that set's bucket directories before scanning.
_N_OCC_BUCKETS = 64
_OCC_SCHEMA = "g long, occ long, b int"
_COVERAGE_SCHEMA = (
    "doc_id long, n_tokens long, dup_tokens long, dup_fraction double"
)
_LOGS = ("coverage", "grams", "occ_delta")  # the compaction-tracked logs

# Bucket-set pruning gate (round 11, session 3): with D distinct grams
# the expected number of UNTOUCHED buckets is 64·(1−1/64)^D — already
# < 1e-4 at D ≈ 1000 — so past a few thousand delta gram rows the
# distinct+collect job can only ever return "all buckets" and the
# driver-side heuristic skips it outright (VERDICT r10 #4 follow-up;
# the count is a sub-second scan of the already-materialized delta
# cache, the collect it replaces is a whole extra aggregate job).
# Production deltas that genuinely probe few grams stay well under it.
_PRUNE_COLLECT_MAX_ROWS = 65536


def bootstrap_substring_state(spark: SparkSession, state_dir: str) -> None:
    """Write the empty-corpus anchors (an existing corpus is just a
    big first batch; the occ-delta log starts as an absent root —
    ``_log_union`` reads absence as empty) and the state format marker
    (``logstate._check_state_format``)."""
    _write_batch(
        _empty(spark, _COVERAGE_SCHEMA), f"{state_dir}/coverage", 0
    )
    _check_state_format(spark, state_dir)


def _occ_bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(_N_OCC_BUCKETS)).cast("int")


def occ_log_slice(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The additive occ fold's history through ``upto``
    (compaction-aware), optionally PRUNED to the named gram-bucket
    partition directories — a directory-level PartitionFilters prune,
    never a post-scan filter (guarded in tests/test_plans.py). Callers
    that probe a bounded gram set pass that set's buckets; when the set
    covers every bucket the caller skips the filter (a full-coverage
    isin buys nothing and costs a per-row predicate)."""
    occ = _log_union(
        spark, f"{state_dir}/occ_delta", _OCC_SCHEMA, upto=upto
    ).drop("log_batch")
    if buckets is not None:
        occ = occ.filter(F.col("b").isin([int(x) for x in buckets]))
    return occ


def _bucket_set(frame: DataFrame, col: str = "g") -> list[int] | None:
    """Distinct occ buckets of a (delta-bounded) gram frame — ≤
    ``_N_OCC_BUCKETS`` rows collected. None when the set covers every
    bucket (pruning would be a no-op predicate)."""
    rows = frame.select(_occ_bucket(F.col(col)).alias("b")).distinct()
    buckets = sorted(r["b"] for r in rows.collect())
    if len(buckets) >= _N_OCC_BUCKETS:
        return None
    return buckets


def _prior_grams(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """Positional gram rows of every SURVIVING doc from batches before
    this one (the current batch's own dir is excluded so a crashed
    attempt's leftovers never double-count on replay)."""
    grams = f"{state_dir}/grams"
    return _tombstoned_log(
        spark, grams, f"{grams}_removed", _GRAMS_SCHEMA, batch_id - 1
    )


def apply_substring_batch(
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    remove: list | DataFrame | None = None,
) -> None:
    """Fold one batch (NEW documents + optional removals — an id list
    or a one-column DataFrame; the DataFrame form keeps bulk
    retractions fully distributed, no driver collect) into the
    maintained coverage state. A combined add+remove batch is an
    atomic replace per ``streaming.logstate.COMBINED_BATCH_CONTRACT``.

    Removals (round 9): a removed doc's grams DECREMENT the occ fold —
    the occ-delta log simply carries the batch's NET per-gram counts,
    which may be negative — and its gram/coverage rows die through
    release-grain tombstones. The repair rule generalizes the 1→>=2
    flip to any DUP-STATUS CHANGE: a gram touched by this batch whose
    (occ >= 2) truth value changed marks its surviving holders for
    recompute — a flip has one prior holder and an unflip (2→1) one
    surviving holder, so |affected| <= |changed grams| and everything
    broadcasts.

    Scale shape (plan-guarded in tests/test_plans.py): doc-id-keyed
    joins against release-grain sets (tombstones, affected, recompute)
    force broadcast; gram-SET joins are hint-free — AQE broadcasts the
    delta-vocabulary side when it is genuinely small and falls back to
    a hash join at bulk-load batch fractions. The corpus text is never
    re-read; every state write is the batch's own rows.
    """
    spark = batch_docs.sparkSession
    _check_state_format(spark, state_dir)
    rem_df, has_removes = _remove_frame(spark, remove)
    old_grams = _prior_grams(spark, state_dir, batch_id)

    # -- 1. positional grams of the delta and the batch's NET per-gram
    #       counts (delta adds minus removed docs' rows).
    delta = positional_grams(batch_docs).persist()
    delta_occ = delta.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    if has_removes:
        rem_grams = old_grams.join(
            F.broadcast(rem_df), "doc_id", "left_semi"
        )
        rem_occ = rem_grams.groupBy("g").agg(
            (-F.count(F.lit(1))).cast("long").alias("d")
        )
        net_occ = (
            delta_occ.unionByName(rem_occ)
            .groupBy("g")
            .agg(F.sum("d").cast("long").alias("net"))
            .persist()
        )
    else:
        # insert-only fast path: the net counts ARE the delta counts —
        # no gram-log slice (a semi-join against an empty doc set
        # still scans the whole log) and no re-aggregation
        net_occ = delta_occ.withColumnRenamed("d", "net").persist()

    # -- 2. PHASE 1 (round 12, guide §2.6 — overlap independent jobs):
    #       the gram-log append (+ removal tombstones) and the repair
    #       discovery share only the delta cache, so they run as two
    #       CONCURRENT jobs instead of three sequential barriers. The
    #       discovery thread materializes ``affected`` DIRECTLY as one
    #       eager localCheckpoint whose plan folds the status-changed
    #       gram set in as a broadcast — the former flow paid separate
    #       jobs for the changed checkpoint, its isEmpty probe, and the
    #       affected fill.
    def _write_grams() -> None:
        _write_batch(delta, f"{state_dir}/grams", batch_id)
        _write_tombstones(
            spark,
            rem_df if has_removes else None,
            f"{state_dir}/grams_removed",
            batch_id,
        )

    def _discover():
        # the candidate occ aggregate prunes its log scan to the
        # touched grams' BUCKETS (VERDICT r10 #4 — partition-directory
        # pruning, the ANN probe pattern) before the row-level
        # semi-join; a bulk-load delta that touches every bucket skips
        # the no-op filter. The bucket-set collect is gated on the row
        # count of the frame actually collected (ADVICE r11: net_occ —
        # which includes the REMOVED docs' gram set on removal
        # batches, not just the add-side delta): past
        # _PRUNE_COLLECT_MAX_ROWS rows the distinct gram set covers
        # every bucket with near certainty, so the collect job is pure
        # overhead and pruning is skipped driver-side. Counting
        # net_occ on removal batches fills a cache every later step
        # reuses; insert-only batches keep the cheaper delta-row count
        # (an upper bound on net_occ's grain).
        gate_rows = net_occ.count() if has_removes else delta.count()
        if gate_rows <= _PRUNE_COLLECT_MAX_ROWS:
            cand_buckets = _bucket_set(net_occ)
        else:
            cand_buckets = None
        occ_old_cand = (
            occ_log_slice(
                spark, state_dir, batch_id - 1, buckets=cand_buckets
            )
            .join(net_occ.select("g"), "g", "left_semi")
            .groupBy("g")
            .agg(F.sum("occ").cast("long").alias("occ_old"))
            .persist()  # reused by the dup test — ONE log scan pays both
        )
        changed = (
            net_occ.join(occ_old_cand, "g", "left")
            .select(
                "g",
                F.coalesce(F.col("occ_old"), F.lit(0)).alias("o"),
                (
                    F.coalesce(F.col("occ_old"), F.lit(0)) + F.col("net")
                ).alias("n2"),
            )
            .filter(
                # dup-status changed AND there is an old holder to
                # repair: o==0 grams are delta-only — their docs are
                # recomputed anyway, and admitting them would balloon
                # the changed set to every brand-new duplicated gram
                ((F.col("o") >= 2) != (F.col("n2") >= 2))
                & (F.col("o") >= 1)
            )
            .select("g")
        )
        # repair set: every SURVIVING old doc holding a status-changed
        # gram. ``changed`` is change-grain, so it broadcasts inside
        # this same job; when the result is EMPTY (the common insert
        # shape: fresh vocabulary has o==0, established duplicates
        # stay >= 2) the repair path below is skipped outright.
        affected = (
            old_grams.join(F.broadcast(changed), "g", "left_semi")
            .join(F.broadcast(rem_df), "doc_id", "left_anti")
            .select("doc_id")
            .distinct()
            .localCheckpoint()
        )
        return occ_old_cand, affected

    def _write_occ() -> None:
        _write_batch(
            net_occ.filter(F.col("net") != 0)
            .select(
                "g",
                F.col("net").alias("occ"),
                _occ_bucket(F.col("g")).alias("b"),
            )
            .repartition("b"),  # one writer task per populated bucket dir
            f"{state_dir}/occ_delta",
            batch_id,
            partition_by="b",
        )

    # the occ-delta write depends only on net_occ (cached by whichever
    # lane computes it first), so it rides phase 1 too — measured 2.4-
    # 2.7 s of 64-dir commit fixed cost that otherwise serializes
    # behind the discovery barrier
    _, _, (occ_old_cand, affected) = run_lanes(
        spark, _write_grams, _write_occ, _discover
    )
    has_repair = not affected.isEmpty()

    # -- 3. PHASE 2+commit, two concurrent lanes: the tombstone write
    #       depends only on phase-1 state, so it starts immediately and
    #       overlaps the coverage lane, which still has the repair
    #       slice to materialize. Both writes are independent (disjoint
    #       own-batch dirs, upstream state persisted) — the commit
    #       costs the slowest lane, not the sum. A no-repair, no-remove
    #       batch writes no coverage tombstone dir at all.
    #
    #       Coverage lane: duplicated positions of the recompute set
    #       (the delta plus the affected old docs) under the NEW
    #       counts. Delta doc_ids hold no surviving old gram rows —
    #       ids are fresh by the append contract, a re-add's earlier
    #       rows are tombstone-dead (_prior_grams), and an
    #       atomic-replace's are excluded because ``affected``
    #       anti-joins this batch's removes — so the recompute slice
    #       is exactly (old_grams ⋉ affected) ∪ delta: the corpus log
    #       is never scanned for the delta's own rows. The dup test
    #       never shuffles the occ log either: the affected docs'
    #       distinct grams broadcast INTO the log scan, the surviving
    #       history sums per gram, and the batch's net counts fold in
    #       with a full outer of two change-grain frames (removed docs
    #       never re-emit: they are filtered out of ``affected``, and
    #       their coverage rows die through this batch's tombstones).
    holder: dict = {}

    def _write_cov() -> None:
        if has_repair:
            # the affected docs' gram rows feed BOTH the repair-gram
            # occ pass and the coverage recompute — one eager
            # localCheckpoint, so the gram log is scanned exactly
            # twice per repair batch (affected discovery + this
            # slice); aff_grams and its bucket set read the
            # checkpointed blocks, not the log.
            old_r_pos = old_grams.join(
                F.broadcast(affected), "doc_id", "left_semi"
            ).localCheckpoint()
            holder["old_r_pos"] = old_r_pos
            # checkpointed: referenced twice (bucket-set collect + the
            # broadcast semi below) — one distinct pass instead of two
            aff_grams = old_r_pos.select("g").distinct().localCheckpoint()
            holder["aff_grams"] = aff_grams
            # prior counts for the repair grams WITHOUT a second
            # full-set log scan: the candidate scan above already
            # covered every gram this batch touched, so only the
            # AFFECTED docs' grams — bounded by the status-changed
            # grams — need their own pass, bucket-pruned to their own
            # partition dirs.
            occ_old_aff = (
                occ_log_slice(
                    spark,
                    state_dir,
                    batch_id - 1,
                    buckets=_bucket_set(aff_grams),
                )
                .join(F.broadcast(aff_grams), "g", "left_semi")
                .groupBy("g")
                .agg(F.sum("occ").cast("long").alias("occ_old"))
            )
            occ_old_r = (
                occ_old_cand.unionByName(occ_old_aff)
                .groupBy("g")
                .agg(F.max("occ_old").alias("_o"))  # overlap rows equal
            )
        else:
            old_r_pos = _empty(spark, _GRAMS_SCHEMA)
            occ_old_r = occ_old_cand.select(
                "g", F.col("occ_old").alias("_o")
            )
        r_pos = old_r_pos.unionByName(delta)
        dup_r = (
            occ_old_r.join(net_occ, "g", "full_outer")
            .select(
                "g",
                (
                    F.coalesce(F.col("_o"), F.lit(0))
                    + F.coalesce(F.col("net"), F.lit(0))
                ).alias("occ_new"),
            )
            .filter(F.col("occ_new") >= 2)
            .select("g")
        )
        cov_rows = _coverage_per_doc(
            r_pos.join(F.broadcast(dup_r), "g", "left_semi")
        )
        _write_batch(cov_rows, f"{state_dir}/coverage", batch_id + 1)

    def _write_tombs() -> None:
        if has_repair or has_removes:
            _write_batch(
                affected.unionByName(rem_df).distinct(),
                f"{state_dir}/coverage_removed",
                batch_id + 1,
            )
        else:
            _delete(
                spark, f"{state_dir}/coverage_removed/batch={batch_id + 1}"
            )

    run_lanes(spark, _write_cov, _write_tombs)
    # rem_df/affected/old_r_pos may be localCheckpointed — drop their
    # blocks too, or every batch of a long-running drain leaks a few
    for frame in (
        delta,
        net_occ,
        occ_old_cand,
        affected,
        rem_df,
        holder.get("old_r_pos", delta),
        holder.get("aff_grams", delta),
    ):
        frame.unpersist()


def substring_coverage_snapshot(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained view: per-doc duplicated-span coverage — equal to
    ``dedup_substring`` recomputed from scratch over every document
    ingested up to ``version``. Assembled from the append-only coverage
    log minus the flip-repair tombstones."""
    cov = f"{state_dir}/coverage"
    return _tombstoned_log(
        spark, cov, f"{cov}_removed", _COVERAGE_SCHEMA, version
    )


def compact_substring_coverage(
    spark: SparkSession, state_dir: str, upto: int, gc: bool = True
) -> None:
    """Collapse the coverage log's history through batch ``upto`` into
    its compact floor (``streaming.logstate``). The gram log and the
    occ-delta log are compacted too.

    The two logs are keyed on OFFSET numbering: batch k appends
    ``grams/batch=<k>`` but ``coverage/batch=<k+1>`` (coverage batch 0
    is the bootstrap row-set). So a compaction anchored at the coverage
    head ``upto`` must consolidate grams at ``upto - 1`` — its own head
    — or the grams floor would be labeled one batch in the future,
    making ``_prior_grams`` (which reads ``upto=batch_id-1``) reject it
    and silently lose every prior gram, breaking 1 -> >=2 occurrence-
    flip repairs of old docs, while permanently shadowing the NEXT
    batch's own ``grams/batch=<upto>`` dir."""
    cov, grams, occ = (f"{state_dir}/{t}" for t in _LOGS)
    _compact_log(spark, cov, f"{cov}_removed", _COVERAGE_SCHEMA, upto)
    if gc:
        _gc_log_dirs(spark, (cov, f"{cov}_removed"), upto)
    if upto < 1:
        return
    # gram consolidation applies the removal tombstones (<= its own
    # floor) so they can be GC'd with the superseded dirs; a tombstone
    # from a LATER batch still kills floor rows
    _compact_log(spark, grams, f"{grams}_removed", _GRAMS_SCHEMA, upto - 1)
    # the occ-delta log shares the gram log's keying (batch k writes
    # occ_delta/batch=<k>) — consolidate its history into one summed
    # histogram at the same floor. This is the ONE place the
    # corpus-wide occurrence counts materialize, at compaction
    # cadence, never per batch.
    _compact_floor(
        _log_union(spark, occ, _OCC_SCHEMA, upto=upto - 1)
        .groupBy("g", "b")  # b is functionally dependent on g
        .agg(F.sum("occ").cast("long").alias("occ"))
        .select("g", "occ", "b"),
        occ,
        upto - 1,
        partition_by="b",
        repartition=True,
    )
    if gc:
        _gc_log_dirs(spark, (grams, f"{grams}_removed", occ), upto - 1)


def run_substring_maintenance(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    auto_compact_ratio: float | None = 1.0,
) -> None:
    """``logstate.drain`` of a document stream onto the maintained
    coverage view, compacting when ``compaction_due`` (None disables)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        apply_substring_batch(batch, state_dir, batch_id)

    def compact(spark: SparkSession, batch_id: int) -> None:
        compact_substring_coverage(spark, state_dir, upto=batch_id + 1)

    auto = (state_dir, _LOGS, auto_compact_ratio, compact)
    drain(docs, checkpoint_dir, fold, auto)

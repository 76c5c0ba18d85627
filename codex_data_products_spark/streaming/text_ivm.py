"""Incrementally-maintained vocabulary induction — the text family's
IVM: the maintained view equals ``vocab_top_terms`` (queries/text.py)
recomputed from scratch over every document ingested so far.

Both folds are additive under the append-only corpus contract (fresh
doc_ids per batch — the same contract the substring maintainer's
insert path uses): term frequency sums, and document frequency sums
because each batch's distinct (term, doc) pairs are disjoint from
every earlier batch's. So the state is two append-logs of per-batch
partial aggregates (``streaming.logstate`` logs):

  tf_delta/batch=<k>   (lang, term, tf)  — the batch's NET term
                                           counts (negative under
                                           removals)
  df_delta/batch=<k>   (term, df)        — the batch's NET per-term
                                           distinct-doc counts
  tok_log/batch=<k>    (doc_id, lang, term, n) — per-doc term counts,
                                           the doc-grain log a
                                           removal slices to derive
                                           its negative deltas (the
                                           substring maintainer's
                                           gram-log pattern); dies
                                           through tok_removed
                                           tombstones

Every write is O(|delta|); the corpus text is never re-read — a
removal batch receives doc_ids only and re-derives the retracted
counts from the log slice (broadcast semi-join; the log streams).
The snapshot folds the delta logs with term-grain aggregates —
vocabulary-sized, not corpus-sized — and ranks; compaction
consolidates the history into one summed floor per log. The top-V
rank itself stays a read-time operation: maintaining a materialized
top-V under inserts would need the full histogram anyway (an item can
enter the top from arbitrarily far below), and the histogram IS the
maintained state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codex_data_products_spark.streaming.logstate import (
    _compact_floor,
    _compact_log,
    _gc_log_dirs,
    _log_union,
    _remove_frame,
    _tombstoned_log,
    _write_batch,
    _write_tombstones,
    drain,
)

_TF_SCHEMA = "lang string, term string, tf long"
_DF_SCHEMA = "term string, df long"
_TOK_SCHEMA = "doc_id long, lang string, term string, n long"


def _tok(docs: DataFrame) -> DataFrame:
    from codex_data_products_spark.queries.dedup import _tokens

    return docs.select(
        "doc_id", "lang", F.explode(_tokens()).alias("term")
    ).filter(F.length("term") > 3)


def _tok_log(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """(doc_id, lang, term, n) of every SURVIVING doc from batches
    before this one."""
    return _tombstoned_log(
        spark,
        f"{state_dir}/tok_log",
        f"{state_dir}/tok_removed",
        _TOK_SCHEMA,
        batch_id - 1,
    )


def apply_vocab_batch(
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    remove: list | DataFrame | None = None,
) -> None:
    """Fold one batch (NEW documents + optional removals — an id list
    or a one-column DataFrame; the DataFrame form keeps bulk
    retractions fully distributed, no driver collect) into the
    vocabulary state: delta-sized appends only. A removal re-derives
    the retracted per-term counts from the doc-grain token log —
    negative tf/df entries in the same delta logs the adds use. A
    doc_id in both adds and removes is an atomic replace per
    ``streaming.logstate.COMBINED_BATCH_CONTRACT``: the old counts
    retract, the new counts land."""
    spark = batch_docs.sparkSession
    rem_df, has_removes = _remove_frame(spark, remove)
    _write_tombstones(
        spark,
        rem_df if has_removes else None,
        f"{state_dir}/tok_removed",
        batch_id,
    )

    per_doc = (
        _tok(batch_docs)
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    _write_batch(per_doc, f"{state_dir}/tok_log", batch_id)
    rem_rows = _tok_log(spark, state_dir, batch_id).join(
        F.broadcast(rem_df), "doc_id", "left_semi"
    )
    signed = per_doc.select("doc_id", "lang", "term", "n").unionByName(
        rem_rows.select(
            "doc_id", "lang", "term", (-F.col("n")).alias("n")
        )
    )
    _write_batch(
        signed.groupBy("lang", "term")
        .agg(F.sum("n").cast("long").alias("tf"))
        .filter(F.col("tf") != 0),
        f"{state_dir}/tf_delta",
        batch_id,
    )
    _write_batch(
        signed.groupBy("term")
        .agg(
            F.sum(F.signum(F.col("n")).cast("long"))
            .cast("long")
            .alias("df")
        )
        .filter(F.col("df") != 0),
        f"{state_dir}/df_delta",
        batch_id,
    )
    per_doc.unpersist()
    rem_df.unpersist()  # localCheckpoint blocks (DataFrame removes)


def vocab_snapshot(
    spark: SparkSession,
    state_dir: str,
    top: int = 5,
    version: int | None = None,
) -> DataFrame:
    """(lang, term, tf, df, rank) — the maintained top-``top`` per
    language, equal to the from-scratch ``vocab_top_terms`` over all
    ingested batches. Vocabulary-grain aggregates only."""
    tf = (
        _log_union(spark, f"{state_dir}/tf_delta", _TF_SCHEMA, version)
        .groupBy("lang", "term")
        .agg(F.sum("tf").cast("long").alias("tf"))
        .filter(F.col("tf") > 0)  # fully-retracted terms net to zero
    )
    df = (
        _log_union(spark, f"{state_dir}/df_delta", _DF_SCHEMA, version)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") > 0)
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top)
        .select("lang", "term", "tf", "df", "rank")
    )


def compact_vocab_state(
    spark: SparkSession, state_dir: str, upto: int, gc: bool = True
) -> None:
    """Consolidate both delta logs through batch ``upto`` into summed
    compact floors, and the token log into its tombstone-filtered
    floor (``streaming.logstate``)."""
    for root, schema, keys in (
        (f"{state_dir}/tf_delta", _TF_SCHEMA, ["lang", "term"]),
        (f"{state_dir}/df_delta", _DF_SCHEMA, ["term"]),
    ):
        col = schema.split(",")[-1].strip().split()[0]
        _compact_floor(
            _log_union(spark, root, schema, upto)
            .groupBy(*keys)
            .agg(F.sum(col).cast("long").alias(col)),
            root,
            upto,
        )
        if gc:
            _gc_log_dirs(spark, (root,), upto)
    tok, tok_removed = f"{state_dir}/tok_log", f"{state_dir}/tok_removed"
    _compact_log(spark, tok, tok_removed, _TOK_SCHEMA, upto)
    if gc:
        _gc_log_dirs(spark, (tok, tok_removed), upto)


def run_vocab_maintenance(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    auto_compact_ratio: float | None = 1.0,
) -> None:
    """``logstate.drain`` onto the maintained vocabulary, compacting
    when ``compaction_due`` (None disables)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        apply_vocab_batch(batch, state_dir, batch_id)

    def compact(spark: SparkSession, batch_id: int) -> None:
        compact_vocab_state(spark, state_dir, upto=batch_id)

    tables = ("tok_log", "tf_delta", "df_delta")
    auto = (state_dir, tables, auto_compact_ratio, compact)
    drain(docs, checkpoint_dir, fold, auto)

"""Continuous corpus ingestion: the streaming front half of the
training-data curation pipeline (``plans/training_pipeline.py``).

Division of labor, the way production corpus pipelines split it:

  * **in-stream** (this module): exact dedup via
    ``dropDuplicatesWithinWatermark`` on the text hash (state bounded by
    the watermark horizon), then the row-local stages — quality ratios,
    language ID, token accounting — which stream for free because they
    shuffle nothing. Output appends to a parquet corpus partitioned by
    predicted language.
  * **batch compaction** (the plan module): near-dup banding needs a
    corpus-wide self-join, so it runs as a periodic batch job over the
    accumulated partitions — same operator cores, no code fork.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_data_products_spark.operators import text as ot
from codex_data_products_spark.plans.training_pipeline import (
    _LANG_MARKERS,
    _STOPWORDS,
    CurationConfig,
)
from codex_data_products_spark.streaming.logstate import available_now


def curate_stream(
    docs: DataFrame,
    cfg: CurationConfig | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """documents-shaped stream (doc_id, text, ts) → curated append
    stream with the same columns the batch pipeline writes."""
    cfg = cfg or CurationConfig()
    deduped = (
        docs.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )

    scores = ot.lang_scores(_LANG_MARKERS)
    s_en, s_es, s_de = scores["en"], scores["es"], scores["de"]
    n = ot.token_count()
    scored = deduped.select(
        "doc_id",
        "ts",
        "text",
        "text_hash",
        n.alias("n_tokens"),
        ot.stopword_ratio(_STOPWORDS).alias("stopword_ratio"),
        ot.type_token_ratio().alias("type_token_ratio"),
        F.when((s_en >= s_es) & (s_en >= s_de), "en")
        .when(s_es >= s_de, "es")
        .otherwise("de")
        .alias("lang_predicted"),
    )
    return scored.filter(
        (F.col("n_tokens") >= cfg.min_tokens)
        & (F.col("n_tokens") <= cfg.max_tokens)
        & (F.col("stopword_ratio") <= cfg.max_stopword_ratio)
        & (F.col("type_token_ratio") >= cfg.min_type_token_ratio)
        & F.col("lang_predicted").isin(*cfg.keep_langs)
    )


def run_ingestion(
    curated: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """One availableNow drain of the curated stream into the corpus
    (partitioned by language); re-invoking with the same checkpoint
    resumes exactly-once from new files only."""
    available_now(
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("lang_predicted")
        .outputMode("append")
    )

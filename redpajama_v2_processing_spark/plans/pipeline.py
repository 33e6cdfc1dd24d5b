"""End-to-end pipeline composition over a documents/pages table.

Mirrors the reference's four-stage flow (README.md:4-7: download -> exact
dedup -> quality filter -> fuzzy dedup) as one declarative DataFrame DAG,
plus the signal computation the reference outsourced. Stage-checkpointed,
resumable execution lives in tableio.py / run_pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.langid import with_langid
from ..functions.scrub import scrub_pii
from ..functions.signals import with_signals
from ..functions.text import fingerprint_int
from ..operators.exact_dedup import dedup_exact, exact_keep_ids
from ..operators.minhash_lsh import fuzzy_dedup
from ..operators.quality_filter import with_quality_label
from ..config import PROD_MINHASH


def label_documents(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """signals + langid + keep/drop labels + scrubbed text. Narrow
    (no shuffle): staged projections over the scan."""
    out = with_langid(with_quality_label(with_signals(docs, text_col)), text_col)
    return (
        out.withColumn("scrubbed_text", scrub_pii(F.col(text_col)))
        .withColumn("fingerprint", fingerprint_int(F.col(text_col)))
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pipeline over the documents table: labels + scrub +
    exact-dedup survivor flag. Returns one row per input doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = label_documents(docs)
    keep_ids = exact_keep_ids(docs, "doc_id").withColumn("exact_keep", F.lit(True))
    return (
        labeled.join(keep_ids, "doc_id", "left")
        .withColumn("exact_keep", F.coalesce("exact_keep", F.lit(False)))
        .select(
            "doc_id", "lang", "langid", "langid_score", "keep", "drop_reason",
            "number_of_words", "stop_word_fraction", "special_char_ratio",
            "scrubbed_text", "fingerprint", "exact_keep",
        )
    )


def full_pipeline(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", eager: bool = True) -> DataFrame:
    """The reference's complete corpus-production semantics in one DAG:
    quality filter -> exact dedup -> fuzzy dedup; returns surviving docs
    with labels. The same operators as the committed stages of
    sources.pages.pages_stages: ``kept`` is the in-memory analogue of the
    committed ``quality`` table, labelled once and read by both sides of
    the exact stage.

    ``eager=True`` (default) materializes the result once via
    localCheckpoint while the intermediate caches are live, then frees
    them — no dangling persisted intermediate after the call (the
    result's own checkpoint blocks belong to the returned DataFrame and
    are context-cleaned when it is dropped). ``eager=False`` returns the
    result unmaterialized and the caller owns the intermediate cache
    lifetime (``.unpersist()`` any persisted inputs after the final
    action)."""
    kept = label_documents(docs, id_col, text_col).where(F.col("keep")).persist()
    kept.count()
    survivors = dedup_exact(kept, id_col, text_col).persist()
    out = fuzzy_dedup(survivors, id_col, text_col, PROD_MINHASH, "xxhash", salted=True)
    if eager:
        out = out.localCheckpoint(eager=True)
        survivors.unpersist()
        kept.unpersist()
    return out

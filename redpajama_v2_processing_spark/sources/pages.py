"""Readers for the canonical pages table + the staged pages pipeline.

Replaces the reference's download/combine/compress scan machinery
(scripts/download_crawl.sh, src/combine_jsonl.py, src/combine_parquet.py —
S1/S10/S11/S12 in SURVEY.md §2.1): Spark reads multi-file parquet/json
natively; partition pruning replaces filename-substring selection
(src/minhashlsh.py:239-253).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PROD_MINHASH
from ..fixtures import PAGES_SCHEMA
from ..functions.extract import extract_text
from ..operators.exact_dedup import dedup_exact
from ..operators.minhash_lsh import fuzzy_dedup
from ..plans.pipeline import label_documents
from ..tableio import Stage


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Schema-pinned parquet read (explicit schema -> no inference pass)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_pages_json(spark: SparkSession, path: str) -> DataFrame:
    """JSONL ingest variant (the reference's primary document format,
    README.md:42-48). html arrives base64/binary-less here: text-only."""
    return spark.read.schema(
        "url string, warc_ts timestamp, text string, lang string"
    ).json(path)


def with_ids(df: DataFrame) -> DataFrame:
    """id_int = xxhash64(url): the engine's join key (SURVEY.md §1.3 —
    replaces the reference's crawl/file/row_idx composite id,
    src/add_document_ids.py:64)."""
    return df.withColumn("id_int", F.xxhash64("url"))


def extract_pages(pages: DataFrame) -> DataFrame:
    """Raw pages -> docs: ``text`` re-extracted from ``html`` (dropped),
    plus the ``id_int`` join key."""
    return with_ids(
        pages.withColumn("text", extract_text(F.col("html").cast("string"))).drop("html")
    )


def pages_stages(minhash_cfg: dict = PROD_MINHASH) -> list[Stage]:
    """The full corpus-production DAG over a pages table (reference
    README.md:4-7 re-expressed):
      extract -> label (signals+langid+scrub) -> quality -> exact -> fuzzy
    Every stage output is a committed, lang/date-partitioned table; the
    operators are those of plans.pipeline.full_pipeline."""

    def label(df: DataFrame) -> DataFrame:
        return label_documents(df, id_col="id_int", text_col="text")

    def quality(df: DataFrame) -> DataFrame:
        return df.where(F.col("keep"))

    def exact(df: DataFrame) -> DataFrame:
        return dedup_exact(df, "id_int", "text")

    def fuzzy(df: DataFrame) -> DataFrame:
        return fuzzy_dedup(
            df, "id_int", "text", cfg=minhash_cfg, base="xxhash", salted=True
        )

    part = ("lang",)
    return [
        Stage("extract", extract_pages, part, derive_date_from="warc_ts"),
        Stage("label", label, part, derive_date_from="warc_ts"),
        Stage("quality", quality, part, derive_date_from="warc_ts"),
        Stage("exact_dedup", exact, part, derive_date_from="warc_ts"),
        Stage("fuzzy_dedup", fuzzy, part, derive_date_from="warc_ts"),
    ]

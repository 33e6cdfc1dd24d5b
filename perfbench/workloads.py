"""The benchmark's workloads: inputs, one timed iteration, an independent
reference for the output check, and a traced iteration with a span around
every call into a layer's public function.

Each workload sees only the tables ``gen`` wrote for its seed.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from typing import NamedTuple

from . import gen
from .engine import Tracer, frame_checksum, patched, row_checksum

# pages_commit input: organic pages, template-flood pages, hot repeated page
PAGES_MIX = (2_400, 600, 600)
# registry_dedup input and the registry entries it runs, in order: the
# n-gram Jaccard, simhash, ANN and perplexity (CCNet) operators
REGISTRY_DOCS = 1_500
REGISTRY_VECS = 1_000
REGISTRY_QUERIES = (
    "ngram_jaccard_dedup_keep", "simhash_near_pairs", "ann_lsh_topk", "ccnet_pipeline",
)

# Layers, named after the program's modules (METRICS.md maps them to the
# functions their spans wrap).
LAYERS = (
    "extract", "label", "exact_dedup", "minhash_lsh.bands", "minhash_lsh.edges",
    "connected_components", "pipeline.compose", "tableio.commit",
) + tuple(f"queries.{q}" for q in REGISTRY_QUERIES)


class Result(NamedTuple):
    """What one iteration produced: the surviving ids' (count, checksum)."""
    count: int
    checksum: int


class QueryResult(NamedTuple):
    """One registry entry's output: its row count and row checksum."""
    name: str
    rows: int
    checksum: int


def _reference_keep(docs, id_col: str) -> Result:
    """label_documents keep -> exact_keep_ids semi -> fuzzy_dedup_keep_ids
    semi: the public operators composed explicitly, with no window,
    checkpoint or table commit. Each step's input is cached and
    materialized so it is computed once."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.config import PROD_MINHASH
    from redpajama_v2_processing_spark.operators.exact_dedup import exact_keep_ids
    from redpajama_v2_processing_spark.operators.minhash_lsh import fuzzy_dedup_keep_ids
    from redpajama_v2_processing_spark.plans.pipeline import label_documents

    kept = label_documents(docs, id_col=id_col).where(F.col("keep")).persist()
    kept.count()
    exact = kept.join(exact_keep_ids(kept, id_col), id_col, "left_semi").persist()
    exact.count()
    fuzzy = fuzzy_dedup_keep_ids(
        exact, id_col, cfg=PROD_MINHASH, base="xxhash", salted=True
    ).withColumnRenamed("id", id_col)
    try:
        return Result(*frame_checksum(exact.join(fuzzy, id_col, "left_semi"), id_col))
    finally:
        exact.unpersist()
        kept.unpersist()


def _kept_agg():
    from pyspark.sql import functions as F

    return {"kept": F.sum(F.col("keep").cast("long"))}


def _fuzzy_patches(tracer: Tracer, mod) -> list:
    """Spans around the fuzzy tier's public calls as ``mod`` sees them."""
    return [
        (mod, "minhash_bands", tracer.layer_call(mod.minhash_bands, "minhash_lsh.bands")),
        (mod, "salted_bucket_edges", tracer.layer_call(
            mod.salted_bucket_edges, "minhash_lsh.edges")),
        (mod, "connected_components", tracer.layer_call(
            mod.connected_components, "connected_components")),
    ]


class PagesCommit:
    """The CLI ``run`` path: ``tableio.run_stages`` over every stage of
    ``sources.pages.pages_stages``, each committed under the work
    directory, on raw pages with a template flood and a hot repeated page."""

    name = "pages_commit"
    id_col = "id_int"
    n_docs = sum(PAGES_MIX)

    def generate(self, seed, cache_dir):
        return gen.materialize(
            lambda: gen.pages_table(*PAGES_MIX, seed),
            os.path.join(cache_dir, "pages-{}-{}-{}-s{}".format(*PAGES_MIX, seed)))

    def register(self, spark, path):
        from redpajama_v2_processing_spark.sources.pages import read_pages

        return read_pages(spark, path)

    def _run(self, spark, src, stages, work_dir):
        from redpajama_v2_processing_spark.tableio import run_stages

        warehouse = os.path.join(work_dir, "warehouse")
        out, _records = run_stages(spark, src, stages, warehouse, resume=False)

        def result():
            try:
                return Result(*frame_checksum(out, self.id_col))
            finally:  # untimed: the next iteration starts from an empty warehouse
                shutil.rmtree(warehouse, ignore_errors=True)

        return result

    def iterate(self, spark, src, work_dir):
        from redpajama_v2_processing_spark.sources.pages import pages_stages

        return self._run(spark, src, pages_stages(), work_dir)

    def reference(self, spark, src):
        # the generator's own text, not extract(html): extraction is checked too
        from pyspark.sql import functions as F

        return _reference_keep(
            src.select(F.xxhash64("url").alias(self.id_col), "text", "lang"), self.id_col)

    def load_reference(self, obj):
        return Result(*obj)

    def traced(self, spark, src, work_dir, tracer):
        from redpajama_v2_processing_spark import tableio
        from redpajama_v2_processing_spark.operators import minhash_lsh
        from redpajama_v2_processing_spark.sources.pages import pages_stages

        layer_of = {"extract": "extract", "label": "label", "exact_dedup": "exact_dedup",
                    "fuzzy_dedup": "pipeline.compose"}
        stages = []
        for st in pages_stages():
            # the quality stage is a filter over the committed label table:
            # its work lands in that stage's commit
            if st.name in layer_of:
                aggs = _kept_agg() if st.name == "label" else None
                st = dataclasses.replace(st, fn=tracer.layer_call(
                    st.fn, layer_of[st.name], extra_aggs=aggs))
            stages.append(st)

        def commit_after(sp, args, snap):
            data_dir = os.path.join(args[1], snap["data_dir"])
            for root, _dirs, files in os.walk(data_dir):
                for f in files:
                    if f.endswith(".parquet"):
                        sp.extra["files"] = sp.extra.get("files", 0) + 1
                        sp.extra["bytes"] = (sp.extra.get("bytes", 0)
                                             + os.path.getsize(os.path.join(root, f)))
            sp.rows_out += snap["rows"]

        targets = _fuzzy_patches(tracer, minhash_lsh) + [
            (tableio, "commit_table", tracer.layer_call(
                tableio.commit_table, "tableio.commit", after=commit_after)),
            (tableio, "check_completeness", tracer.layer_call(
                tableio.check_completeness, "tableio.commit")),
        ]
        with patched(targets):
            return self._run(spark, src, stages, work_dir)


class RegistryDedup:
    """``queries.QUERIES`` entries over a documents + embeddings input,
    each collected to the client as the registry's callers do."""

    name = "registry_dedup"
    n_docs = REGISTRY_DOCS

    def generate(self, seed, cache_dir):
        return gen.materialize(
            lambda: gen.registry_tables(REGISTRY_DOCS, REGISTRY_VECS, seed),
            os.path.join(cache_dir, f"registry-{REGISTRY_DOCS}-{REGISTRY_VECS}-s{seed}"),
            write=gen.write_named)

    def register(self, spark, path):
        # each entry reads its tables itself: the input is the directory
        return path

    @staticmethod
    def _query(spark, src, name):
        from redpajama_v2_processing_spark.queries import QUERIES

        df = QUERIES[name](spark, src)
        return df.columns, df.collect()

    def iterate(self, spark, src, work_dir):
        got = [(name, *self._query(spark, src, name)) for name in REGISTRY_QUERIES]
        return lambda: tuple(QueryResult(name, *row_checksum(cols, rows))
                             for name, cols, rows in got)

    def reference(self, spark, src):
        """Each entry's DuckDB oracle (``queries.ORACLES``) over the same
        files: an engine-independent reference, no Spark involved."""
        import duckdb

        from redpajama_v2_processing_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(src, t)}.parquet')")
            out = []
            for name in REGISTRY_QUERIES:
                cur = con.execute(ORACLES[name])
                cols = [d[0] for d in cur.description]
                out.append(QueryResult(name, *row_checksum(cols, cur.fetchall())))
            return tuple(out)
        finally:
            con.close()

    def load_reference(self, obj):
        return tuple(QueryResult(*o) for o in obj)

    def traced(self, spark, src, work_dir, tracer):
        got = []
        for name in REGISTRY_QUERIES:
            with tracer.span(f"queries.{name}") as sp:
                cols, rows = self._query(spark, src, name)
                sp.rows_out = len(rows)
            got.append((name, cols, rows))
        return lambda: tuple(QueryResult(name, *row_checksum(cols, rows))
                             for name, cols, rows in got)


WORKLOADS = {w.name: w for w in (PagesCommit(), RegistryDedup())}

"""The closed-loop, one-client workloads.

Each workload opens its tables in ``setup``; ``prepare(k)`` makes the k-th
input from the seed (untimed); ``op(k)`` makes that input visible and runs
the program on it until the results are committed and readable;
``check(k)`` reads the committed output back (untimed) and compares it with
the generator's truth.

``warmup`` ops of the same shape and size run before the timed ones,
because the first op of a process pays JIT and code-generation costs that
later ops do not.
"""

from __future__ import annotations

import contextlib
import json
import os

from . import gen
from .checks import check_batch, check_corpus


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.stage = os.path.join(work, "stage")  # generated, not yet visible
        self.inp = os.path.join(work, "in")  # landed inputs
        self.wh = os.path.join(work, "wh")  # warehouse, checkpoints, sinks
        for d in (self.stage, self.inp, self.wh):
            os.makedirs(d, exist_ok=True)

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)


def _drain(ctx: Ctx, name: str, start) -> list[dict]:
    """Start an availableNow query, wait for it, return its progress."""
    with ctx.span("streaming.start", name):
        q = start()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name} failed: {q.exception()}")
    return [json.loads(p.json) for p in q.recentProgress]


class BatchLoad:
    """Each op lands one tri-format feed drop and runs ``Pipeline.run_batch``."""

    name = "batch_load"
    warmup = 1

    def setup(self, ctx: Ctx) -> None:
        from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
            DEFAULT_COPY_SPECS, Pipeline, PipelineConfig,
        )
        from financial_data_ingestion_canonical_snowflake_spark.sources.readers import (
            CopySpec,
        )

        self.ctx = ctx
        self.drops = gen.iter_drops(ctx.seed)
        self.feed = os.path.join(ctx.inp, "feed")
        for sub in ("client_a/xml", "client_a/csv", "client_c/json", "client_c/csv"):
            os.makedirs(os.path.join(self.feed, sub), exist_ok=True)
        # the reference's XML and JSON COPYs, and one CSV COPY over both
        # clients' CSV directories (client derived from the path)
        specs = (*DEFAULT_COPY_SPECS[:2], CopySpec(file_type="CSV", path="*/csv"))
        # join_mode="row": multi-transaction JSON/XML documents join their
        # own lines (the reference's file-granular join fans out per file)
        self.pipe = Pipeline(ctx.spark, PipelineConfig(
            ingest_root=self.feed, warehouse=os.path.join(ctx.wh, "pipeline"),
            copy_specs=specs, join_mode="row"))

    def prepare(self, k: int) -> None:
        self.drop = next(self.drops)

    def op(self, k: int) -> tuple[int, int, list]:
        drop = self.drop
        for rel, data in drop.files.items():
            with open(os.path.join(self.feed, rel), "wb") as f:
                f.write(data)
        self.pipe.run_batch()
        return drop.records, drop.nbytes, []

    def check(self, k: int) -> tuple[list[str], dict[str, float]]:
        from pyspark.sql import functions as F

        spark, drop = self.ctx.spark, self.drop
        keys = [(r[0], r[1]) for r in self.pipe.can_txn.read(spark)
                .select("client_id", "source_txn_id").collect()]
        anomalies = {r[0]: r[1] for r in self.pipe.can_txn_anomaly.read(spark)
                     .groupBy("anomaly_code").count().collect()}
        names = set(drop.audit)
        audit, parsed, loaded = {}, 0, 0
        for r in (self.pipe.raw_load_audit.read(spark)
                  .select(F.element_at(F.split("src_file", "/"), -1).alias("f"),
                          "load_status", "rows_loaded", "rows_parsed").collect()):
            if r.f in names:
                audit[r.f] = (r.load_status, r.rows_loaded)
                parsed += r.rows_parsed
                loaded += r.rows_loaded
        fails = check_batch(drop, keys, anomalies, audit)
        return fails, {"sources.rows_loaded": loaded, "sources.rows_parsed": parsed}


class CorpusCuration:
    """Each op lands a document shard and its embedding shard, drains the
    exact-dedup, MinHash-dedup and IVF-index streams, curates and exports
    the shard, then serves a fixed batch of IVF top-k queries."""

    name = "corpus_curation"
    warmup = 1
    n_buckets = 8

    def setup(self, ctx: Ctx) -> None:
        from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
            PART_COL,
        )
        from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
            ParquetTable,
        )

        self.ctx = ctx
        self.shards = gen.iter_doc_shards(ctx.seed)
        self.docs_dir = os.path.join(ctx.inp, "docs")
        self.emb_dir = os.path.join(ctx.inp, "emb")
        os.makedirs(self.docs_dir)
        os.makedirs(self.emb_dir)
        w = ctx.wh

        def bucketed(name):
            return ParquetTable(os.path.join(w, name), partition_by=[PART_COL],
                                n_buckets=self.n_buckets)

        self.exact = bucketed("exact_survivors")
        self.sigs = bucketed("minhash_sigs")
        self.pairs = bucketed("minhash_pairs")
        self.index = bucketed("ivf_index")
        self.cents = ParquetTable(os.path.join(w, "ivf_centroids"))
        gen.write_centroids(ctx.seed, os.path.join(self.cents.path, "part-0.parquet"))
        self.ckpt = os.path.join(w, "ckpt")

    def prepare(self, k: int) -> None:
        self.shard = next(self.shards)
        self.docs = os.path.join(self.docs_dir, f"docs{k:03d}.parquet")
        self.emb = os.path.join(self.emb_dir, f"emb{k:03d}.parquet")
        self.staged = [os.path.join(self.ctx.stage, os.path.basename(p))
                       for p in (self.docs, self.emb)]
        gen.write_doc_shard(self.shard, *self.staged)

    def op(self, k: int) -> tuple[int, int, list]:
        from financial_data_ingestion_canonical_snowflake_spark.operators.curate import (
            curate_and_export,
        )
        from financial_data_ingestion_canonical_snowflake_spark.operators.similarity import (
            ivf_topk_from_index,
        )
        from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
            stream_exact_dedup, stream_minhash_dedup,
        )
        from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (
            stream_ivf_index,
        )
        from pyspark.sql import functions as F

        ctx, spark, shard, docs, emb = (self.ctx, self.ctx.spark, self.shard,
                                        self.docs, self.emb)
        nbytes = sum(os.path.getsize(p) for p in self.staged)
        for src, dst in zip(self.staged, (docs, emb)):
            os.rename(src, dst)
        ck = self.ckpt
        progress = _drain(ctx, "stream_exact_dedup", lambda: stream_exact_dedup(
            spark, self.docs_dir, self.exact, f"{ck}/exact"))
        progress += _drain(ctx, "stream_minhash_dedup", lambda: stream_minhash_dedup(
            spark, self.docs_dir, self.sigs, self.pairs, f"{ck}/minhash"))
        progress += _drain(ctx, "stream_ivf_index", lambda: stream_ivf_index(
            spark, self.emb_dir, self.index, self.cents, f"{ck}/ivf"))
        with ctx.span("curate", "curate_and_export"):
            manifest, report = curate_and_export(
                spark.read.parquet(docs), "doc_id", "text",
                os.path.join(ctx.wh, "curated", f"op{k:03d}"), num_shards=4)
            manifest.count()
        self.report = report
        with ctx.span("similarity.query", "ivf_topk_from_index"):
            queries = spark.read.parquet(emb).filter(F.col("vec_id").isin(shard.queries))
            topk = ivf_topk_from_index(self.index.read(spark), queries,
                                       self.cents.read(spark), k=5,
                                       n_probe=gen.N_PROBE)
            rows = topk.collect()
        self.topk = topk
        self.top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
        return len(shard.ids), nbytes, progress

    def check(self, k: int) -> tuple[list[str], dict[str, float]]:
        from pyspark.sql import functions as F

        from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
            LEDGER_HASH,
        )

        spark, shard, report = self.ctx.spark, self.shard, self.report
        row = (self.exact.read(spark)
               .filter(F.col("content_hash") != LEDGER_HASH)
               .agg(F.count(F.lit(1)), F.sum("dup_cnt")).first())
        ids = sorted({i for p in shard.twins for i in p})
        found = {(r.id_a, r.id_b) for r in self.pairs.read(spark)
                 .filter(F.col("id_a").isin(ids) & F.col("id_b").isin(ids)).collect()}
        fails = check_corpus(shard, row[0], int(row[1] or 0), found, report,
                             self.top1)
        extra = {"curate.input_docs": report["input_docs"],
                 "curate.survivors": report["after_dedup"],
                 "similarity.queries": len(shard.queries)}
        if self.ctx.tracer is not None:
            from .trace import filter_output_rows

            # (query, inverted list) pairs the query's probe step kept
            extra["similarity.lists_probed"] = filter_output_rows(self.topk, "crank")
            extra.update(self._pair_counts())
        return fails, extra

    def _pair_counts(self) -> dict[str, float]:
        """MinHash candidate pairs of the op's shard (any band collision) and
        those confirmed by signature agreement, recounted with the library's
        own incremental LSH (traced mode only; untimed)."""
        from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
            minhash_lsh_pairs_incremental, minhash_signatures,
        )

        spark = self.ctx.spark
        new = minhash_signatures(spark.read.parquet(self.docs), "doc_id",
                                 "text").persist()
        corpus = self.sigs.read(spark)
        cand = minhash_lsh_pairs_incremental(new, corpus, min_matching=0,
                                             persist=False).count()
        conf = minhash_lsh_pairs_incremental(new, corpus, persist=False).count()
        new.unpersist()
        return {"text_dedup.candidates": cand, "text_dedup.confirmed": conf}


WORKLOADS = {w.name: w for w in (BatchLoad, CorpusCuration)}

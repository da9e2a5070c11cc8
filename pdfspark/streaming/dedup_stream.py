"""Streaming near-dup keep-first (``neardup_stream``): drop a newly
arriving document iff it is an exact duplicate OR a Jaccard-verified
near-duplicate of a document already kept — the streaming form of
operators/textstats.curate_documents' staged exact-then-minhash
contract, and the front gate a 100 TB training-data ingest actually
runs (suppress re-crawls/re-uploads before they reach the expensive
fold).

Shape: file-source stream -> foreachBatch {exact stage, batch-internal
near stage, cross-batch near stage, publish}. The published keeper
and band tables ARE the state:

* within a micro-batch, the exact keeper is the MIN doc_id per
  normalized-content hash (a groupBy, deterministic under any
  partitioning — a bare streaming ``dropDuplicates`` keeps whichever
  row a task saw first, which is run-dependent);
* across batches, first-batch-wins falls out of the anti-joins
  against everything already written;
* across restarts, the file-source checkpoint keeps input
  exactly-once per FILE, and a crash between the anti-joins and the
  publish is self-healing: the retried batch re-runs them, so hashes
  that did land are skipped (the idempotence argument the batch
  snapshot sink makes with manifests, here bought by keying the state
  on the content hash itself).

Spark also ships a built-in stateful operator for the exact stage
(``stream.dropDuplicates(["content_hash"])``, bounded-state variant
``dropDuplicatesWithinWatermark``); it was not chosen because its
within-batch winner is nondeterministic and its state store is not
readable as a table (the keeper set here doubles as the published
dedup index downstream batch jobs anti-join against).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from pdfspark.operators.dedup import normalized_text

DOCS_SCHEMA = "doc_id long, text string"


def neardup_stream(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    bands_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming NEAR-dup keep-first: a newly arriving document is
    dropped iff it is an exact duplicate OR a Jaccard-verified
    (>= ``JACCARD_THRESHOLD``) near-duplicate of any previously KEPT
    document — the streaming form of curate_documents' staged
    exact-then-minhash contract, and what a continuously-fed training
    corpus actually needs (yesterday's crawl is state, today's is the
    batch).

    State = two published parquet tables:

    * ``out_path`` — the keeper documents (content_hash, doc_id,
      text): the dedup index downstream jobs anti-join against;
    * ``bands_path`` — the keepers' LSH band keys (doc_id, band,
      band_key): the candidate-generation index. A batch's survivors
      band-join THIS table, so cross-batch candidate search is an
      equi-join against state, never a rescan of keeper text; keeper
      shingles are recomputed only for the candidate-touched keepers
      (semi-join on the candidate ids — at 100 TB that is the
      difference between touching a few near-dup partners and
      re-shingling the whole accumulated corpus every batch).

    Within a batch the keeper is the exact/near representative under
    the same linear doc_b-drop contract as curate_documents (batch
    minhash_verified, drop every doc_b). Across batches, the
    anti-joins against state make earlier batches win. Crash
    idempotence: bands are appended BEFORE keepers — a retried batch
    re-runs the exact anti-join (the hash never landed, so the doc
    re-survives) and may re-append its band rows, which is harmless
    (self-pairs are filtered and duplicate candidates collapse in the
    verification groupBy); the reverse order would leave a keeper
    invisible to future candidate searches, a silent recall loss.
    """
    from pdfspark.operators.dedup import (
        JACCARD_THRESHOLD,
        lsh_bands,
        minhash_signatures,
        minhash_verified,
        word_shingles,
    )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(docs_dir)
    )

    def sink(batch_df, epoch_id: int) -> None:
        ss = batch_df.sparkSession
        # 1. exact stage: batch-local keep-min, then anti-join the
        # accumulated keeper hashes (first batch wins)
        firsts = (
            batch_df
            .withColumn("content_hash",
                        F.md5(normalized_text(F.col("text"))))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("text", "doc_id").alias("text"))
        )
        try:
            keepers = ss.read.parquet(out_path)
        except AnalysisException:
            keepers = None
        if keepers is not None:
            # null-safe: md5(NULL text) is NULL, and a plain anti-join
            # on NULL never matches — every null-text batch would
            # append another NULL-hash keeper, while the groupBy above
            # collapses them into ONE group. eqNullSafe keeps the
            # cross-batch gate consistent with the within-batch one.
            firsts = firsts.alias("f").join(
                keepers.select("content_hash").alias("s"),
                F.col("f.content_hash").eqNullSafe(
                    F.col("s.content_hash")),
                "left_anti")
        # 2. batch-internal near stage: linear doc_b-drop over the
        # batch's own verified pairs (curate_documents' contract)
        firsts = firsts.localCheckpoint(eager=True)
        nd = minhash_verified(firsts.select("doc_id", "text")).select(
            F.col("doc_b").alias("doc_id"))
        surv = firsts.join(nd, "doc_id", "left_anti")
        # 3. cross-batch near stage: survivors' bands equi-join the
        # state band index; verify Jaccard against only the
        # candidate-touched keepers' shingles
        surv = surv.localCheckpoint(eager=True)
        sh_b = word_shingles(surv).localCheckpoint(eager=False)
        bands_b = lsh_bands(
            minhash_signatures(surv, shingles=sh_b)
        ).localCheckpoint(eager=False)
        if keepers is not None:
            state_bands = ss.read.parquet(bands_path)
            cands = (
                state_bands.alias("s")
                .join(bands_b.alias("b"), ["band", "band_key"])
                .filter(F.col("s.doc_id") != F.col("b.doc_id"))
                .select(F.col("s.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            sh_a = word_shingles(
                keepers.select("doc_id", "text")
                .join(cands.select(F.col("doc_a").alias("doc_id"))
                      .distinct(), "doc_id", "left_semi")
            ).select(F.col("doc_id").alias("doc_a"), "shingle")
            n_a = sh_a.groupBy("doc_a").agg(F.count("*").alias("n_a"))
            n_b = sh_b.groupBy("doc_id").agg(F.count("*").alias("n_b"))
            inter = (
                cands
                .join(sh_a, "doc_a")
                .join(sh_b.withColumnRenamed("doc_id", "doc_b"),
                      ["doc_b", "shingle"])
                .groupBy("doc_a", "doc_b")
                .agg(F.count("*").alias("n_inter"))
            )
            hits = (
                inter
                .join(n_a, "doc_a")
                .join(n_b.withColumnRenamed("doc_id", "doc_b"), "doc_b")
                .filter(
                    # round exactly like minhash_verified: keep/drop
                    # of a boundary pair must not depend on whether
                    # its partner arrived in the same batch (batch-
                    # internal stage) or an earlier one (this stage)
                    F.round(
                        F.col("n_inter")
                        / (F.col("n_a") + F.col("n_b")
                           - F.col("n_inter")),
                        4,
                    )
                    >= JACCARD_THRESHOLD
                )
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            # materialize the verified survivors ONCE: both publishes
            # below scan this frame, and without the checkpoint each
            # would re-execute the whole cross-batch verification
            # subplan (keeper re-shingle, shingle-intersection join,
            # Jaccard, anti-join) — doubling the dominant per-batch
            # cost the O(batch + candidate-touched keepers) design
            # claims and bench.py measures
            surv = surv.join(hits, "doc_id", "left_anti") \
                .localCheckpoint(eager=True)
            bands_b = bands_b.join(
                surv.select("doc_id"), "doc_id", "left_semi")
        # 4. publish: band index FIRST (see idempotence note above)
        bands_b.write.mode("append").parquet(bands_path)
        (surv.select("content_hash", "doc_id", "text")
         .write.mode("append").parquet(out_path))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

"""Streaming corpus ingest: the training-data counterpart of the IPL
medallion stream (pipeline.py).

New document files land in a drop directory; each micro-batch is
deduped against everything already admitted (the incremental
batch-vs-corpus flow, operators/dedup.incremental_dedup), quality-
gated, and appended. The admitted-digest table is the only state and
it is tiny relative to the corpus (one 32-char digest per admitted
doc); at 100 TB keep it bucketed by digest so the per-batch anti-join
co-locates.

Exactly-once story: the file source tracks processed files in the
checkpoint; within a batch the digest append happens after the
document append, so a crash between the two re-admits (not loses)
documents on retry, and the admitted table is re-deduped by digest on
read if that matters downstream — same at-least-once-then-dedupe
posture as the reference's bronze layer (ex_match_rb.py:201-213).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.operators.dedup import (
    incremental_dedup,
    prefix_fingerprint,
)
from aws_ipl_data_pipeline_spark.sources.readers import local_frame, path_exists


def run_corpus_ingest(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    digest_path: str | None = None,
    min_chars: int = 1,
    available_now: bool = True,
):
    """Start the corpus ingest stream; returns the StreamingQuery.

    ``schema`` is the document schema (needs doc_id + text). Quality
    gate: length(trim(text)) >= min_chars. Admitted docs append to
    ``out_path``; their digests append to ``digest_path``.
    """
    digest_path = digest_path or f"{out_path.rstrip('/')}_digests"
    stream = spark.readStream.schema(schema).parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ok = batch_df.where(F.length(F.trim("text")) >= min_chars)
        if path_exists(spark, digest_path):
            seen = spark.read.parquet(digest_path)
        else:
            seen = local_frame(spark, "text_hash string")
        novel_ids = incremental_dedup(ok, seen)
        admitted = ok.join(novel_ids.select("doc_id"), "doc_id")
        # cut lineage so the digest write below can't observe a half-
        # appended out_path through cached file listings
        admitted = admitted.localCheckpoint(eager=True)
        admitted.write.mode("append").parquet(out_path)
        admitted.select(prefix_fingerprint("text").alias("text_hash")).write.mode(
            "append"
        ).parquet(digest_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_segment_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    seg_tokens: int = 8,
    available_now: bool = True,
):
    """Streaming segment-level dedup (the C4 line-dedup flow run
    continuously): each micro-batch's documents are cut into fixed
    ``seg_tokens``-token segments; a segment survives only if it is
    (a) first within the batch by (doc_id, position) and (b) never
    admitted by ANY earlier batch — the admitted-segment digest table
    is the only state (32 chars per unique segment; bucket by digest
    at scale so the per-batch anti-join co-locates).

    Batch-equivalence contract (tested): when files arrive in doc_id
    order, streaming output == operators/dedup.segment_dedup over the
    concatenated corpus. Crash posture mirrors run_corpus_ingest: doc
    write precedes digest write, so a retry re-excises (never loses).

    Output rows: (doc_id, text_kept, n_segments_kept, n_tokens_kept).
    """
    from aws_ipl_data_pipeline_spark.operators.chunking import chunk_documents
    from pyspark.sql import Window

    seg_digest_path = f"{out_path.rstrip('/')}_seg_digests"
    stream = spark.readStream.schema(schema).parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        segs = chunk_documents(
            batch_df, chunk_tokens=seg_tokens, overlap=0
        ).withColumn("_h", F.md5("chunk_text"))
        if path_exists(spark, seg_digest_path):
            seen = spark.read.parquet(seg_digest_path).select(
                F.col("seg_hash").alias("_h"), F.lit(True).alias("_seen")
            )
        else:
            seen = local_frame(spark, "_h string, _seen boolean")
        w = Window.partitionBy("_h").orderBy("doc_id", "chunk_id")
        # plain left join on the digest (AQE broadcasts while it fits;
        # at corpus scale the digest outgrows broadcast and this becomes
        # the bucketed shuffle join the docstring prescribes)
        marked = (
            segs.withColumn("_rk", F.row_number().over(w))
            .join(seen, "_h", "left")
            .withColumn("_keep", (F.col("_rk") == 1) & F.col("_seen").isNull())
        )
        docs_out = marked.groupBy("doc_id").agg(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_keep"),
                                    F.struct("chunk_id", "chunk_text"),
                                )
                            )
                        ),
                        lambda s: F.array(s["chunk_text"]),
                    )
                ),
            ).alias("text_kept"),
            F.sum(F.col("_keep").cast("long")).alias("n_segments_kept"),
            F.sum(
                F.when(F.col("_keep"), F.col("chunk_n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens_kept"),
        )
        docs_out = docs_out.localCheckpoint(eager=True)
        novel = (
            marked.where(F.col("_keep"))
            .select(F.col("_h").alias("seg_hash"))
            .localCheckpoint(eager=True)
        )
        docs_out.write.mode("append").parquet(out_path)
        novel.write.mode("append").parquet(seg_digest_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_near_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    available_now: bool = True,
):
    """Streaming NEAR-dup admission (the continuous form of
    operators/dedup.incremental_near_dedup): each micro-batch is
    LSH-checked against the admitted-signature table and only novel
    documents append. State is ``minhash_state`` rows — signatures,
    shingle-hash sets and band buckets, NEVER admitted text — so batch
    cost is one state scan + broadcast joins of the (small) batch side,
    exactly the daily-ingest shape at corpus scale (bucket the state
    table by doc_id when it outgrows one executor's scan share).

    Admission policy (deterministic given file order): a document is
    rejected if it is ≥ ``threshold``-similar to (a) any
    previously-ADMITTED document, or (b) a smaller-id document in its
    own batch (pairwise, via minhash_lsh_pairs on the batch). Note (b)
    is pairwise, not transitive-greedy: within one batch, if A~B and
    B~C but A≁C, both B and C are rejected against A and B
    respectively — the conservative choice (never admits two
    similar docs in one batch); a per-batch connected-components pass
    (near_dup_groups) slots in here if canonical-per-cluster admission
    is wanted instead.

    Documents too short to produce a single n-token shingle have no
    signature and can never near-dup anything — they ADMIT (rejection
    is an explicit hit, never an absence-of-signature accident), same
    as the batch `prep neardedup` CLI path.

    Crash posture mirrors run_corpus_ingest: the document append
    precedes the signature append, so a crash between the two causes a
    retry to RE-ADMIT the batch (duplicate rows in ``out_path``, which
    a digest/id dedupe on read absorbs) rather than lose documents —
    the at-least-once-then-dedupe posture. The opposite order would
    silently drop the batch: signatures present, docs absent, and the
    retry would reject everything against its own ghost signatures.
    """
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_state,
        near_dup_pairs_vs_state,
    )

    sig_path = f"{out_path.rstrip('/')}_sigs"
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    mh_args = dict(n=n, num_hashes=num_hashes, bands=bands, seed=seed)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # (b) within-batch: pairwise smaller-id-wins rejection
        pairs = minhash_lsh_pairs(
            batch_df, threshold=threshold, max_bucket_size=None, **mh_args
        )
        batch_rejects = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        survivors = batch_df.join(batch_rejects, "doc_id", "left_anti")
        new_state = minhash_state(survivors, **mh_args).localCheckpoint(eager=True)
        # (a) vs the admitted-signature state
        if path_exists(spark, sig_path):
            state = spark.read.parquet(sig_path)
        else:
            state = local_frame(spark, new_state.schema)
        hits = near_dup_pairs_vs_state(new_state, state, threshold=threshold)
        # pin the tiny REJECT set once: both writes below derive from
        # it, and without this the state scan + collision joins would
        # re-run for the signature append (the heavy lineage is `hits`)
        reject_ids = (
            hits.select(F.col("new_id").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # anti-join against explicit hits, NOT inner-join against the
        # signature frame: a doc too short to shingle has no state row
        # but is trivially novel and must admit
        admitted = survivors.join(reject_ids, "doc_id", "left_anti")
        admitted = admitted.localCheckpoint(eager=True)
        admitted.write.mode("append").parquet(out_path)
        new_state.join(reject_ids, "doc_id", "left_anti").write.mode(
            "append"
        ).parquet(sig_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

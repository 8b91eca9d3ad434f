"""Incremental index maintenance — the reference's update-query pipeline as
ordered delta segments, plus a Structured Streaming ingestion entry.

Reference semantics being preserved (SURVEY.md §2 #52-55):
- ordered update batches per index (loader.py:645-653)
- updates to absent keys silently dropped + counted
  (opensearch_client.py:317-344, doc_as_upsert=False :293-299)
- deferred visibility: writes buffered, then one explicit refresh
  (opensearch_client.py:216,308; loader.py:643,657) → here: the segment
  directory is written first, the MANIFEST flip is the atomic "refresh"

Delta-segment model: an update batch (url, warc_ts, html/text, lang) is a
mini-corpus. Docs whose url already exists keep their docID (url→docID map
join); brand-new urls get docIDs above the current max. The delta's postings
form a new segment; compaction (operators/merge.py) k-way-merges segments
with newest-wins shadowing per (term, docID).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensearch_loader_spark import BLOCK_SIZE
from opensearch_loader_spark.indexer import (
    _jvm_token_count_col,
    doc_freqs,
    extract_text,
    pack_partial_runs,
    prepare_docs,
    sampled_skew_plan,
    tokenize_partial_runs,
    with_bucket,
)
from opensearch_loader_spark.query_engine import get_reader


def build_delta_segment(
    spark: SparkSession,
    index_dir: str,
    updates: DataFrame,
    segment: str,
    upsert: bool = True,
    rows_per_run: int = 100_000,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Apply one update batch as a new LSM segment.

    upsert=True  → reference initial-load semantics (bulk_upsert): new urls
                   are inserted, existing urls re-indexed under their docID.
    upsert=False → reference update-query semantics (doc_as_upsert=False):
                   rows with unknown urls are DROPPED and counted.
    Returns the manifest dict incl. update/skip counts.

    ``segment`` must be a name MANIFEST does not list: a live segment's
    name raises ValueError before anything is written.
    """
    from pyspark.sql.window import Window

    reader = get_reader(spark, index_dir)
    if segment in reader.segments:
        raise ValueError(f"segment {segment!r} is live in {index_dir}")
    n_buckets = reader.info["n_buckets"]
    newest = reader.segments[-1]
    # url → docID map across all live segments (newest wins) via hash-agg
    # max(struct) — docIDs are stable per url across segments, so any row
    # would do; max(_r) keeps it newest. (A row_number window here sorts the
    # whole docs-sized map — the same per-group-buffer plan the build dedup
    # measured falling over at 6M+.)
    existing = (
        reader.segment_union("docs", rank_col="_r")
        .groupBy("url")
        .agg(F.max(F.struct("_r", "doc_id")).alias("_p"))
        .select("url", F.col("_p.doc_id").alias("doc_id"))
    )
    # docIDs are never reused: every manifest records the largest it holds
    max_id = reader.max_doc

    # the batch's rows, each tagged with its url's docID (null: a new url);
    # persisted, so the docs map is joined once for the counts and both
    # halves of the batch
    tagged = updates.join(existing, "url", "left").persist()
    cnt_row = tagged.agg(
        F.count_distinct(F.when(F.col("doc_id").isNotNull(), F.col("url"))).alias("u"),
        F.count_distinct(F.when(F.col("doc_id").isNull(), F.col("url"))).alias("n"),
    ).collect()[0]
    updated_count = int(cnt_row["u"])
    new_count = int(cnt_row["n"])
    skipped_count = 0 if upsert else new_count

    # re-indexed urls keep their docID: the build's extractor, its
    # last-writer-wins rule (max of warc_ts, text, lang, text_sha256 — the
    # row prepare_docs's partition sort keeps) and its doc_len expression
    matched = (
        extract_text(tagged.filter(F.col("doc_id").isNotNull()))
        .groupBy("doc_id", "url")
        .agg(F.max(F.struct("warc_ts_us", "text", "lang", "text_sha256")).alias("_p"))
        .select("doc_id", "url", "_p.*")
        .withColumn("doc_len", _jvm_token_count_col().cast("int"))
        .withColumn("warc_ts", F.timestamp_micros(F.col("warc_ts_us")))
        .drop("warc_ts_us")
    )
    delta_docs = matched
    if upsert and new_count:
        # new urls are numbered by the build's own pipeline, dense from 0 in
        # url order, then shifted above the index's largest docID
        fresh = prepare_docs(
            tagged.filter(F.col("doc_id").isNull()).drop("doc_id")
        ).withColumn("doc_id", F.col("doc_id") + F.lit(max_id + 1))
        delta_docs = matched.unionByName(fresh)
    delta_docs = delta_docs.select(
        "doc_id", "url", "warc_ts", "lang", "doc_len", "text_sha256", "text"
    ).persist()
    n_delta = delta_docs.count()
    if n_delta == 0:
        delta_docs.unpersist()
        tagged.unpersist()
        return {"segment": segment, "N": 0, "skipped": skipped_count, "empty": True}

    seg_dir = os.path.join(index_dir, "segments", segment)
    # N, avgdl and max_doc_id fold into the docs write (as in the build) —
    # no read-back job
    from pyspark.sql import Observation

    obs = Observation(f"delta-stats-{uuid.uuid4().hex[:8]}")
    delta_docs.observe(
        obs,
        F.count(F.lit(1)).alias("N"),
        F.sum("doc_len").alias("dl_sum"),
        F.max("doc_id").alias("max_doc_id"),
    ).write.mode("overwrite").parquet(os.path.join(seg_dir, "docs"))
    stats = obs.get
    n_seg = int(stats["N"])
    avgdl = float(stats["dl_sum"]) / n_seg

    # record re-indexed (pre-existing) doc_ids: older segments' postings for
    # these docs are stale and must be shadowed at query time until
    # compaction rewrites them (LSM tombstone analogue). At real scale this
    # would be a bloom filter per segment; here it's a tiny parquet. They
    # are the delta's ids up to max_id: new urls are numbered above it.
    reindexed = delta_docs.filter(F.col("doc_id") <= max_id).select("doc_id")
    reindexed.write.mode("overwrite").parquet(
        os.path.join(seg_dir, "updated_ids")
    )

    # EXACT stats under updates (round-3, VERDICT item 6): a re-indexed doc
    # still contributes its OLD postings to older segments' term_stats and
    # its OLD doc_len to their N·avgdl. Record the negatives at delta-build
    # time — per-term df of the shadowed docs' old postings (df_neg) and the
    # sum of their old doc_lens (replaced_dl_sum) — so term_dfs/
    # load_index_info can subtract and idf/avgdl stay oracle-exact BETWEEN
    # updates and compaction, not just after. Cost: one JVM tokenize pass
    # over just the re-indexed docs' old text (semi-join on doc_id), not a
    # full postings scan.
    replaced_dl_sum = 0.0
    if updated_count:
        old_all = reader.segment_union("docs", rank_col="_r").select(
            "doc_id", "doc_len", "text", "_r"
        )
        wd = Window.partitionBy("doc_id").orderBy(F.desc("_r"))
        old_docs = (
            old_all.join(reindexed, "doc_id")
            .withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_r")
            .persist()
        )
        replaced_dl_sum = float(
            old_docs.agg(F.sum("doc_len")).collect()[0][0] or 0.0
        )
        df_neg = doc_freqs(old_docs).select(
            "term",
            F.col("df").alias("df_neg"),
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket"),
        )
        df_neg.write.mode("overwrite").parquet(os.path.join(seg_dir, "df_neg"))
        old_docs.unpersist()

    # SAME single-pass postings path as the initial build (VERDICT r4 item
    # 3): sampled skew plan over the delta (docIDs here are non-dense —
    # matched docs keep old ids — so doc_id % mod is only approximately
    # uniform, fine for a soft sizing bound; small deltas get mod=1, i.e.
    # an exact plan), map-side partial packing, one (term, run) shuffle of
    # varbyte partials. Runs are doc_id % n_splits as in the build, so the
    # query-side union is unchanged.
    plan = sampled_skew_plan(delta_docs, n_delta, rows_per_run)
    partials = tokenize_partial_runs(delta_docs, plan)
    # block-max bounds use the delta's own avgdl; the scorer decodes every
    # block and reads no bound
    blocks = with_bucket(
        pack_partial_runs(partials, avgdl, block_size),
        n_buckets,
    )
    blocks.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(seg_dir, "postings")
    )
    written = spark.read.parquet(os.path.join(seg_dir, "postings"))
    term_stats = (
        written.groupBy("term")
        .agg(F.sum("n_docs").cast("long").alias("df"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
        )
    )
    term_stats.write.mode("overwrite").parquet(os.path.join(seg_dir, "term_stats"))

    manifest = {
        "segment": segment,
        "snapshot_id": f"delta:{segment}",
        "N": n_seg,
        "avgdl": avgdl,
        "max_doc_id": max(int(max_id), int(stats["max_doc_id"])),
        "n_buckets": n_buckets,
        "block_size": block_size,
        "complete": True,
        "updated": updated_count,
        "inserted": 0 if not upsert else new_count,
        "skipped": skipped_count,
        "replaced_dl_sum": replaced_dl_sum,
        "base": newest,
    }
    from opensearch_loader_spark import atomic_write_json

    atomic_write_json(os.path.join(seg_dir, "manifest.json"), manifest)
    # atomic visibility flip = the reference's explicit refresh: temp-file +
    # rename, so a crash between the segment write and this flip leaves the
    # previous index fully readable (crash-injection tested)
    top_path = os.path.join(index_dir, "MANIFEST.json")
    with open(top_path) as f:
        top = json.load(f)
    top["segments"].append(segment)
    atomic_write_json(top_path, top)
    delta_docs.unpersist()
    tagged.unpersist()
    return manifest


def stream_corpus_to_segments(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Structured Streaming ingestion: watch a directory of corpus parquet
    files; each micro-batch becomes one ordered delta segment (foreachBatch +
    merge idiom — SURVEY.md §2.8). Late/duplicate urls are handled by the
    same newest-wins shadowing as batch updates."""
    corpus_schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    stream = spark.readStream.schema(corpus_schema).parquet(source_dir)

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_delta_segment(
            spark, index_dir, batch_df, segment=f"seg-stream-{batch_id:06d}"
        )

    writer = (
        stream.writeStream.foreachBatch(_each_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

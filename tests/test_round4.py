"""Round-4 regression tests: scale-safe pid assignment, sampled skew plan,
map-side partial packing, sharded compaction bitmaps (VERDICT r3 items)."""

import datetime as dt
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

TS = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


class TestPidColumn:
    def test_udf_matches_chained_expr(self, spark):
        """pid via np.searchsorted (large boundary lists) must be identical
        to the chained-when expression (small lists) — including unicode
        urls, exact-boundary hits, and urls below the first boundary."""
        from opensearch_loader_spark.indexer import _pid_column

        rng = np.random.default_rng(7)
        urls = [
            f"https://{rng.integers(0, 10**6):06d}.example.com/p{i}"
            for i in range(2000)
        ]
        urls += ["https://zzz.test/ünïcode", "https://ÿ.test/a", "a", "zzzzz"]
        boundaries = sorted({u for u in urls[:: len(urls) // 100]})[:100]
        # include an exact boundary value among probed urls
        urls.append(boundaries[3])
        df = spark.createDataFrame([(u,) for u in urls], "url string")

        assert len(boundaries) > 32  # forces the UDF path
        got_udf = {
            r["url"]: r["pid"]
            for r in df.withColumn("pid", _pid_column(boundaries)).collect()
        }
        # reference: the chained expression evaluated in slices of ≤32
        # boundaries: pid = Σ_slices #(slice boundaries ≤ url)
        expr = F.lit(0)
        for b in boundaries:
            expr = expr + F.when(F.col("url") >= F.lit(b), 1).otherwise(0)
        got_expr = {
            r["url"]: r["pid"]
            for r in df.withColumn("pid", expr.cast("int")).collect()
        }
        assert got_udf == got_expr

    def test_docids_invariant_to_partition_count(self, spark, tiny_corpus):
        """docIDs are the global url rank — identical for ANY boundary set,
        including an n_part large enough to force the searchsorted path."""
        from opensearch_loader_spark.indexer import (
            boundaries_from_sample,
            prepare_docs,
        )

        a = {
            r["url"]: r["doc_id"]
            for r in prepare_docs(tiny_corpus, id_partitions=4)
            .select("url", "doc_id").collect()
        }
        b = {
            r["url"]: r["doc_id"]
            for r in prepare_docs(tiny_corpus, id_partitions=64)
            .select("url", "doc_id").collect()
        }
        assert a == b
        # 64 partitions still pick more than 32 boundaries over the 200
        # urls, so the searchsorted UDF path ran
        urls = sorted(a)
        assert len(boundaries_from_sample(urls, 64)) > 32
        # dense, url-ordered
        ordered = sorted(a)
        assert [a[u] for u in ordered] == list(range(len(ordered)))


class TestPartialPack:
    def test_blocks_byte_identical_to_row_shuffle_packer(self, spark, tiny_corpus):
        """Map-side partial runs merged per (term, run) must produce blocks
        BYTE-identical to the round-3 row-shuffle pack_blocks, given the
        same run plan (same docs → same sorted runs → same emit_blocks)."""
        from opensearch_loader_spark.indexer import (
            pack_blocks,
            pack_partial_runs,
            prepare_docs,
            salt_postings,
            skew_plan,
            tokenize_partial_runs,
            tokenize_postings,
        )

        docs = prepare_docs(tiny_corpus).select("doc_id", "text", "doc_len")
        docs.cache().count()
        postings = tokenize_postings(docs)
        plan_df = skew_plan(postings, rows_per_run=40)
        plan = {r["term"]: r["n_splits"] for r in plan_df.collect()}
        assert plan, "fixture must exercise head-term splitting"
        avgdl = 260.0

        old = pack_blocks(salt_postings(postings, plan_df), avgdl, 16)
        new = pack_partial_runs(
            tokenize_partial_runs(docs, plan, flush_postings=500), avgdl, 16
        )

        def snap(df):
            return {
                (r["term"], r["run"], r["block_id"]): (
                    r["first_doc_id"], r["last_doc_id"], r["n_docs"],
                    r["max_tf_norm"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
                    bytes(r["dls"]),
                )
                for r in df.collect()
            }

        assert snap(new) == snap(old)

    def test_sampled_plan_matches_exact_at_mod_1(self, spark, tiny_corpus):
        """At small corpora the sample is exhaustive (mod=1) — sampled
        n_splits must be ≥ the exact plan's (margin only inflates) and
        within ceil(margin×) of it."""
        from opensearch_loader_spark.indexer import (
            prepare_docs,
            sampled_skew_plan,
            skew_plan,
            tokenize_postings,
        )

        docs = prepare_docs(tiny_corpus).select("doc_id", "text")
        exact = {
            r["term"]: r["n_splits"]
            for r in skew_plan(tokenize_postings(docs), rows_per_run=40).collect()
        }
        sampled = sampled_skew_plan(docs, n_docs=200, rows_per_run=40)
        for term, n in exact.items():
            assert term in sampled
            assert n <= sampled[term] <= -(-int(n * 40 * 1.2) // 40) + 1


class TestShardedCompaction:
    def test_sharded_compaction_identical_to_collected(
        self, spark, tmp_path, monkeypatch
    ):
        """Compaction with sliced shadow bitmaps (forced by a tiny broadcast
        threshold) must produce byte-identical merged postings to the
        collected-bitmap path, with no driver-side whole-range bitmap."""
        from opensearch_loader_spark import query_engine as qe
        from opensearch_loader_spark.corpus import make_corpus_df
        from opensearch_loader_spark.indexer import build_index
        from opensearch_loader_spark.operators.merge import compact_segments
        from opensearch_loader_spark.query_engine import search
        from opensearch_loader_spark.streaming.incremental import (
            build_delta_segment,
        )

        a = str(tmp_path / "idx_a")
        corpus = make_corpus_df(spark, n_docs=120, seed=42)
        build_index(spark, corpus, a, n_buckets=4, block_size=16, rows_per_run=50)
        docs = spark.read.parquet(os.path.join(a, "segments", "seg-000000", "docs"))
        victims = [r["url"] for r in docs.orderBy("doc_id").limit(4).collect()]
        updates = spark.createDataFrame(
            [
                (u, TS, None, f"rewritten spark block slice {i}", "en")
                for i, u in enumerate(victims)
            ],
            CORPUS_SCHEMA,
        )
        build_delta_segment(spark, a, updates, "seg-000001")
        b = str(tmp_path / "idx_b")
        shutil.copytree(a, b)

        compact_segments(spark, a, "seg-merged", block_size=16, rows_per_run=50)

        monkeypatch.setattr(qe, "BITMAP_BROADCAST_MAX_DOC", 16)
        calls = []
        orig = qe.collect_docid_bitmap
        monkeypatch.setattr(
            qe,
            "collect_docid_bitmap",
            lambda *a_, **k: calls.append(1) or orig(*a_, **k),
        )
        compact_segments(spark, b, "seg-merged", block_size=16, rows_per_run=50)
        assert not calls, "sharded compaction must not collect driver bitmaps"

        def snap(d):
            rows = spark.read.parquet(
                os.path.join(d, "segments", "seg-merged", "postings")
            ).collect()
            return sorted(
                (
                    r["term"], r["run"], r["block_id"], r["first_doc_id"],
                    r["last_doc_id"], r["n_docs"], r["max_tf_norm"],
                    bytes(r["doc_gaps"]), bytes(r["tfs"]), bytes(r["dls"]),
                )
                for r in rows
            )

        assert snap(b) == snap(a)
        qe.drop_reader()
        ra = search(spark, a, [("q", "spark block", 10)]).collect()
        rb = search(spark, b, [("q", "spark block", 10)]).collect()
        key = lambda rows: [
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
        ]
        assert key(sorted(ra, key=lambda r: r["rank"])) == key(
            sorted(rb, key=lambda r: r["rank"])
        )


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


    def test_bucket_count_follows_input_size(self, spark, tiny_corpus, tmp_path, monkeypatch):
        """The docID stage sizes its url-range buckets from the input's row
        count: 200 docs are written as at most defaultParallelism files (not
        one per bucket of a fixed 32), while an input past
        DOCS_PER_ID_PARTITION × max(32, cores) rows keeps max(32, cores)
        buckets."""
        from opensearch_loader_spark import indexer
        from opensearch_loader_spark.indexer import prepare_docs

        cores = spark.sparkContext.defaultParallelism
        out = str(tmp_path / "docs")
        prepare_docs(tiny_corpus).write.parquet(out)
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        assert 1 <= len(files) <= cores

        monkeypatch.setattr(indexer, "DOCS_PER_ID_PARTITION", 2)
        assert prepare_docs(tiny_corpus).rdd.getNumPartitions() == max(32, cores)


class TestPartialPack:
    def test_partial_pack_matches_per_run_encoding(self, spark, tiny_corpus):
        """Map-side partial runs (flushed every 500 postings, so runs split
        over many partials) merged per (term, run) must lay out exactly the
        blocks a plain-Python per-(term, run) encoding of the same postings
        does, head terms split by the exact df plan."""
        from collections import Counter

        from test_pack_reducer import ref_blocks, row_key

        from opensearch_loader_spark.analysis import tokenize
        from opensearch_loader_spark.indexer import (
            pack_partial_runs,
            prepare_docs,
            tokenize_partial_runs,
        )

        docs = prepare_docs(tiny_corpus).select("doc_id", "text", "doc_len")
        rows = docs.collect()
        plan = _exact_plan(rows, rows_per_run=40)
        assert plan, "fixture must exercise head-term splitting"
        avgdl = 260.0

        got = pack_partial_runs(
            tokenize_partial_runs(docs, plan, flush_postings=500), avgdl, 16
        ).collect()

        runs = {}
        for r in rows:
            toks = tokenize(r["text"])
            for term, tf in Counter(toks).items():
                key = (term, r["doc_id"] % plan.get(term, 1))
                runs.setdefault(key, []).append((r["doc_id"], tf, len(toks)))
        want = []
        for (term, run), ps in runs.items():
            a = np.array(sorted(ps), dtype=np.int64)
            want += ref_blocks(term, run, a[:, 0], a[:, 1], a[:, 2], avgdl, 16)
        assert sorted(row_key(tuple(r)) for r in got) == sorted(map(row_key, want))

    def test_sampled_plan_matches_exact_at_mod_1(self, spark, tiny_corpus):
        """At small corpora the sample is exhaustive (mod=1) — sampled
        n_splits must be ≥ the exact plan's (margin only inflates) and
        within ceil(margin×) of it."""
        from opensearch_loader_spark.indexer import (
            prepare_docs,
            sampled_skew_plan,
        )

        docs = prepare_docs(tiny_corpus).select("doc_id", "text")
        exact = _exact_plan(docs.collect(), rows_per_run=40)
        sampled = sampled_skew_plan(docs, n_docs=200, rows_per_run=40)
        for term, n in exact.items():
            assert term in sampled
            assert n <= sampled[term] <= -(-int(n * 40 * 1.2) // 40) + 1


def _exact_plan(rows, rows_per_run: int) -> dict[str, int]:
    """term → ceil(df / rows_per_run) for every term needing more than one
    run, df counted in Python over the shared tokenizer."""
    from collections import Counter

    from opensearch_loader_spark.analysis import tokenize

    df = Counter(t for r in rows for t in set(tokenize(r["text"])))
    splits = {t: -(-n // rows_per_run) for t, n in df.items()}
    return {t: k for t, k in splits.items() if k > 1}


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


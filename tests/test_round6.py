"""Round-6 optimization regression tests: per-bucket LSH pair enumeration
(first-shared-band uniqueness, join-reference equality), vocabulary-adaptive
Jaccard verify (bitmask ≡ general path), dedup folded into the docID
assignment sort, the skew-plan early-out, the trailing-empty-segment encode
guard (ADVICE r5), and search-plan reuse."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _reference_band_pairs(signatures, n_hashes, rows_per_band):
    """The pre-round-6 formulation: band columns → self-join on (band,
    bucket) → distinct. Ground truth for the candidate-pair SET."""
    n_bands = n_hashes // rows_per_band
    bands = None
    for i in range(n_bands):
        cols = [
            f"sig_{j}" for j in range(i * rows_per_band, (i + 1) * rows_per_band)
        ]
        b = signatures.select(
            "doc_id", F.lit(i).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("bucket"),
        )
        bands = b if bands is None else bands.unionByName(b)
    left = bands.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    right = bands.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


class TestBandPairs:
    def _signatures(self, spark, n_docs=40, n_hashes=8):
        """Signatures with deliberate collisions: docs in the same template
        group share most sig columns, so buckets collide across bands."""
        rows = []
        for d in range(n_docs):
            grp = d % 5
            sigs = [
                f"g{grp}-s{i}" if (d + i) % 3 else f"d{d}-s{i}"
                for i in range(n_hashes)
            ]
            rows.append((d, *sigs))
        cols = "doc_id long, " + ", ".join(
            f"sig_{i} string" for i in range(n_hashes)
        )
        return spark.createDataFrame(rows, cols)

    def test_pair_set_matches_join_reference_and_is_unique(self, spark):
        from opensearch_loader_spark.operators.dedup import _band_pairs

        sigs = self._signatures(spark)
        got = _band_pairs(sigs, 8, 2).collect()
        got_pairs = [(r["doc_a"], r["doc_b"]) for r in got]
        # emitted exactly once per pair (first-shared-band guarantee): the
        # old path needed a distinct; the new one must not produce dups
        assert len(got_pairs) == len(set(got_pairs))
        want = {
            (r["doc_a"], r["doc_b"])
            for r in _reference_band_pairs(sigs, 8, 2).collect()
        }
        assert set(got_pairs) == want
        for a, b in got_pairs:
            assert a < b

    def test_ratio_prefilter_only_drops_ratio_violations(self, spark):
        """threshold + n_sh in the signatures: output = reference pairs minus
        exactly those violating min >= t*max."""
        from opensearch_loader_spark.operators.dedup import _band_pairs

        sigs = self._signatures(spark)
        # deterministic fake set sizes: doc_id-dependent spread
        sized = sigs.withColumn(
            "n_sh", (F.lit(10) + F.pmod(F.col("doc_id"), F.lit(7)) * 3).cast("long")
        )
        t = 0.8
        got = {
            (r["doc_a"], r["doc_b"])
            for r in _band_pairs(sized, 8, 2, threshold=t).collect()
        }
        sizes = {r["doc_id"]: r["n_sh"] for r in sized.collect()}
        want = {
            (a, b)
            for (a, b) in (
                (r["doc_a"], r["doc_b"])
                for r in _reference_band_pairs(sigs, 8, 2).collect()
            )
            if min(sizes[a], sizes[b]) >= t * max(sizes[a], sizes[b])
        }
        assert got == want


class TestAdaptiveJaccardVerify:
    def test_bitmask_path_equals_general_path(self, spark):
        """The small-vocab bitmask verify and the large-vocab array verify
        must produce identical rows for the same input."""
        import opensearch_loader_spark.operators.dedup as dd

        rows = [
            (0, "the quick brown fox jumps over a lazy dog"),
            (1, "the quick brown fox jumps over a lazy cat"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "completely different tokens here entirely now"),
            (4, "the quick brown fox jumps over the lazy dog today"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def run():
            return sorted(
                tuple(r) for r in dd.token_jaccard_pairs(
                    docs, threshold=0.5
                ).collect()
            )

        small_max = dd._BITMASK_VOCAB_MAX
        try:
            got_bitmask = run()          # vocab ~15 → bitmask path
            dd._BITMASK_VOCAB_MAX = 0    # force the general (array UDF) path
            got_general = run()
        finally:
            dd._BITMASK_VOCAB_MAX = small_max
        assert got_bitmask == got_general
        assert len(got_bitmask) > 0  # docs 0/2 are identical → J=1 pair

    def test_multi_chunk_bitmask(self, spark):
        """>64 vocab items exercise the multi-long mask chunks."""
        import opensearch_loader_spark.operators.dedup as dd

        vocab = [f"w{i:03d}" for i in range(150)]
        rows = [
            (0, " ".join(vocab[0:100])),
            (1, " ".join(vocab[0:95])),   # J = 95/100
            (2, " ".join(vocab[40:140])),
            (3, " ".join(vocab[0:100])),  # J = 1 with doc 0
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.token_jaccard_pairs(docs, threshold=0.9).collect()
        }
        assert got[(0, 3)] == 1.0
        assert got[(0, 1)] == 0.95
        assert (0, 2) not in got  # J = 60/140 << 0.9


class TestPrepareDocsDedupInAssign:
    def test_duplicate_urls_last_writer_wins_with_deterministic_ties(
        self, spark
    ):
        """Dedup now happens inside the sorted assignment pass; the survivor
        must be the max(struct(warc_ts, text, lang, sha)) row the old
        hash-agg picked, docIDs dense and url-ordered over the SURVIVORS."""
        from opensearch_loader_spark.indexer import prepare_docs

        rows = [
            ("u://a", "2024-01-01 00:00:00", None, "early text", "en"),
            ("u://a", "2024-01-03 00:00:00", None, "late text", "en"),
            # u://b: timestamp TIE → lexicographically larger text wins
            ("u://b", "2024-01-02 00:00:00", None, "tie aaa", "en"),
            ("u://b", "2024-01-02 00:00:00", None, "tie zzz", "en"),
            ("u://c", "2024-01-01 00:00:00", None, "only one", "de"),
        ]
        corpus = spark.createDataFrame(
            rows, "url string, warc_ts_s string, html binary, text string, lang string"
        ).selectExpr(
            "url", "CAST(warc_ts_s AS TIMESTAMP) AS warc_ts", "html", "text", "lang"
        )
        docs = {r["url"]: r for r in prepare_docs(corpus).collect()}
        assert len(docs) == 3
        assert docs["u://a"]["text"] == "late text"
        assert docs["u://b"]["text"] == "tie zzz"
        assert docs["u://c"]["text"] == "only one"
        assert sorted(r["doc_id"] for r in docs.values()) == [0, 1, 2]
        assert docs["u://a"]["doc_id"] < docs["u://b"]["doc_id"] < docs["u://c"]["doc_id"]

    def test_docids_invariant_to_partition_count_with_dups(self, spark):
        from opensearch_loader_spark.indexer import prepare_docs

        rows = []
        for i in range(300):
            rows.append((f"u://{i:04d}", "2024-01-01 00:00:00", None, f"text {i}", "en"))
            if i % 7 == 0:  # duplicates for every 7th url
                rows.append((f"u://{i:04d}", "2024-01-02 00:00:00", None, f"newer {i}", "en"))
        corpus = spark.createDataFrame(
            rows, "url string, warc_ts_s string, html binary, text string, lang string"
        ).selectExpr(
            "url", "CAST(warc_ts_s AS TIMESTAMP) AS warc_ts", "html", "text", "lang"
        )
        a = {r["url"]: r["doc_id"] for r in prepare_docs(corpus, id_partitions=3).collect()}
        b = {r["url"]: r["doc_id"] for r in prepare_docs(corpus, id_partitions=64).collect()}
        assert a == b
        assert sorted(a.values()) == list(range(300))


class TestSkewPlanEarlyOut:
    def test_small_corpus_returns_empty_plan(self, spark, tiny_corpus):
        from opensearch_loader_spark.indexer import prepare_docs, sampled_skew_plan

        docs = prepare_docs(tiny_corpus)
        # 200 docs * 1.2 margin <= 100_000 rows_per_run → provably empty
        assert sampled_skew_plan(docs, 200, 100_000) == {}

    def test_large_rows_still_plans(self, spark, tiny_corpus):
        """rows_per_run below n_docs·margin must still run the sampled plan
        (head terms split) — the early-out must not over-trigger."""
        from opensearch_loader_spark.indexer import prepare_docs, sampled_skew_plan

        docs = prepare_docs(tiny_corpus)
        plan = sampled_skew_plan(docs, 200, 40)
        assert plan  # the synthetic corpus has head terms with df >> 40
        assert all(v > 1 for v in plan.values())


class TestVarbyteTrailingEmptySegment:
    def test_encode_tolerates_trailing_empty_segment(self):
        """ADVICE r5: encode crashed when a trailing zero-length segment put
        a seg_start AT len(values); decode was already hardened."""
        from opensearch_loader_spark.functions.varbyte import (
            delta_decode_segments,
            delta_encode_segments,
        )

        vals = np.array([2, 5, 11, 3, 4], dtype=np.uint64)
        starts = np.array([0, 3, 5], dtype=np.int64)  # last segment empty
        lengths = np.array([3, 2, 0], dtype=np.int64)
        gaps = delta_encode_segments(vals, starts)  # must not raise
        assert delta_decode_segments(gaps, lengths).tolist() == vals.tolist()


def _bitmap(ids, n_docs):
    """(lo, bytes) docID bitmap over [0, n_docs] with ``ids`` set."""
    ids = np.asarray(sorted(ids), dtype=np.int64)
    bm = np.zeros((n_docs + 8) // 8, np.uint8)
    np.bitwise_or.at(bm, ids >> 3, (1 << (ids & 7)).astype(np.uint8))
    return (0, bm.tobytes())


class TestScorerMatchesReference:
    """bmw_topk against a plain-Python per-doc BM25: contributions from
    functions.bm25.bm25_term_score summed in ascending term order, ranked
    (score desc, doc asc) as oracle.py does. Scores must match exactly."""

    N_DOCS = 5000
    AVGDL = 40.0

    def _postings(self, seed=3):
        """term -> [(docs, tfs, dls)] per run: zipf-ish overlapping terms,
        "beta" split over two runs, and "tie" whose docs all have tf=2 and
        dl=30 so their scores tie."""
        rng = np.random.default_rng(seed)
        out = {}
        for term, df in [("alpha", 3000), ("beta", 1200), ("gamma", 150)]:
            docs = np.sort(rng.choice(self.N_DOCS, size=df, replace=False))
            tfs = rng.integers(1, 9, size=df)
            dls = rng.integers(10, 90, size=df)
            n_runs = 2 if term == "beta" else 1
            out[term] = [
                (docs[docs % n_runs == r], tfs[docs % n_runs == r],
                 dls[docs % n_runs == r])
                for r in range(n_runs)
            ]
        docs = np.sort(rng.choice(self.N_DOCS, size=40, replace=False))
        out["tie"] = [(docs, np.full(40, 2), np.full(40, 30))]
        return out

    def _term_blocks(self, postings, shadows):
        """Real emit_blocks 6-tuples per run; ``shadows`` maps (term, run)
        to the docIDs masked as stale in that run."""
        from opensearch_loader_spark.indexer import emit_blocks

        tb = {}
        for term, runs in postings.items():
            tb[term] = []
            for r, (docs, tfs, dls) in enumerate(runs):
                rows = emit_blocks(
                    term, r, docs.astype(np.uint64), tfs.astype(np.uint64),
                    dls.astype(np.uint64), self.AVGDL, block_size=64,
                )
                blocks = [
                    (row[3], row[4], row[6], row[7], row[8], row[9])
                    for row in rows
                ]
                shadow = shadows.get((term, r))
                tb[term].append(
                    (blocks, _bitmap(shadow, self.N_DOCS) if shadow else None)
                )
        return tb

    def _reference(self, postings, shadows, dfs, k, conjunctive=False,
                   doc_range=None, allowed=None):
        from opensearch_loader_spark.functions.bm25 import (
            bm25_idf,
            bm25_term_score,
        )

        live = {}
        for term, runs in postings.items():
            live[term] = {}
            for r, (docs, tfs, dls) in enumerate(runs):
                for d, tf, dl in zip(docs.tolist(), tfs.tolist(), dls.tolist()):
                    if d in shadows.get((term, r), ()):
                        continue
                    if doc_range and not doc_range[0] <= d < doc_range[1]:
                        continue
                    if allowed is not None and d not in allowed:
                        continue
                    live[term][d] = (tf, dl)
        doc_sets = [set(p) for p in live.values()]
        cand = set.intersection(*doc_sets) if conjunctive else set.union(*doc_sets)
        scores = {}
        for term in sorted(live):
            idf = bm25_idf(self.N_DOCS, dfs[term])
            for d, (tf, dl) in live[term].items():
                if d in cand:
                    scores[d] = scores.get(d, 0.0) + bm25_term_score(
                        tf, dl, idf, self.AVGDL
                    )
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def _check_all_masks(self, postings, conjunctive):
        from opensearch_loader_spark.query_engine import bmw_topk

        dfs = {t: sum(len(r[0]) for r in runs) for t, runs in postings.items()}
        allowed = set(range(0, self.N_DOCS, 3))
        beta_run1 = postings["beta"][1][0].tolist()
        for shadows in ({}, {("beta", 1): set(beta_run1[::4])}):
            tb = self._term_blocks(postings, shadows)
            for masks in (
                {},
                {"doc_range": (1000, 4000)},
                {"allowed": allowed},
                {"doc_range": (500, 4500), "allowed": allowed},
            ):
                kw = dict(masks)
                if "allowed" in kw:
                    kw["allowed"] = _bitmap(allowed, self.N_DOCS)
                for k in (5, 10, 100):
                    got = bmw_topk(
                        tb, dfs, self.N_DOCS, self.AVGDL, k,
                        conjunctive=conjunctive, **kw,
                    )
                    want = self._reference(
                        postings, shadows, dfs, k, conjunctive, **masks
                    )
                    assert want, (shadows, masks, k)
                    assert got == want, (shadows, masks, k)

    def test_disjunctive_all_masks(self):
        self._check_all_masks(self._postings(), conjunctive=False)

    def test_conjunctive_all_masks(self):
        p = self._postings()
        self._check_all_masks(
            {t: p[t] for t in ("alpha", "beta", "gamma")}, conjunctive=True
        )

    def test_ties_rank_by_doc_id(self):
        from opensearch_loader_spark.query_engine import bmw_topk

        p = self._postings()
        for terms, conj in (
            (("tie",), False), (("gamma", "tie"), False), (("tie",), True)
        ):
            sub = {t: p[t] for t in terms}
            dfs = {t: len(sub[t][0][0]) for t in terms}
            tb = self._term_blocks(sub, {})
            for k in (5, 10, 100):
                got = bmw_topk(
                    tb, dfs, self.N_DOCS, self.AVGDL, k, conjunctive=conj
                )
                want = self._reference(sub, {}, dfs, k, conjunctive=conj)
                assert got == want, (terms, k)
                by_score = {}
                for d, s in got:
                    by_score.setdefault(s, []).append(d)
                ties = [ds for ds in by_score.values() if len(ds) > 1]
                assert ties, (terms, k)
                assert all(ds == sorted(ds) for ds in ties), (terms, k)

    def test_term_with_empty_runs(self):
        """A term whose runs hold no blocks contributes nothing to a
        disjunctive query and empties a conjunctive one."""
        from opensearch_loader_spark.query_engine import bmw_topk

        p = self._postings()
        sub = {"alpha": p["alpha"]}
        dfs = {"alpha": len(p["alpha"][0][0]), "zeta": 1}
        tb = {**self._term_blocks(sub, {}), "zeta": [([], None)]}
        got = bmw_topk(tb, dfs, self.N_DOCS, self.AVGDL, 10)
        assert got == self._reference(sub, {}, dfs, 10)
        assert bmw_topk(
            tb, dfs, self.N_DOCS, self.AVGDL, 10, conjunctive=True
        ) == []


class TestSearchPlanReuse:
    def test_blocks_union_cached_per_reader_and_results_stable(
        self, spark, tiny_index
    ):
        from opensearch_loader_spark.query_engine import get_reader, search

        d, _ = tiny_index
        r1 = search(spark, d, [("q", "the data", 5)]).collect()
        reader = get_reader(spark, d)
        df_a = reader.blocks_union
        r2 = search(spark, d, [("q", "the data", 5)]).collect()
        df_b = get_reader(spark, d).blocks_union
        assert df_a is df_b  # plan object reused, no re-listing
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    def test_plan_cache_reuses_identical_queries_and_invalidates_on_rebuild(
        self, spark, tiny_index
    ):
        """Identical repeated searches must reuse the compiled plan (same
        DataFrame object); any index MANIFEST change must invalidate it.
        Different queries/flags must never share a plan."""
        import os

        from opensearch_loader_spark.query_engine import search

        d, _ = tiny_index
        a = search(spark, d, [("q", "the data", 5)])
        b = search(spark, d, [("q", "the data", 5)])
        assert a is b
        c = search(spark, d, [("q", "the data", 7)])
        assert c is not a
        e = search(spark, d, [("q", "the data", 5)], conjunctive=True)
        assert e is not a
        # rewrite the MANIFEST (what every build/delta/compaction does) →
        # new snapshot → fresh plan, same results
        top = os.path.join(d, "MANIFEST.json")
        with open(top) as fh:
            body = fh.read()
        with open(top, "w") as fh:
            fh.write(body + "\n")
        f = search(spark, d, [("q", "the data", 5)])
        assert f is not a
        assert sorted(map(tuple, f.collect())) == sorted(
            map(tuple, a.collect())
        )

    def test_plans_and_readers_are_per_session(self, spark, tiny_index):
        """A search from another session must not be served the plan cached
        for the first: its DataFrame belongs to the calling session and
        returns the same rows."""
        from opensearch_loader_spark.query_engine import search

        d, _ = tiny_index
        q = [("q", "the data", 5)]
        a = search(spark, d, q)
        s2 = spark.newSession()
        b = search(s2, d, q)
        assert b is not a
        assert b.sparkSession is s2
        assert sorted(map(tuple, b.collect())) == sorted(
            map(tuple, a.collect())
        )

    def test_evicted_reader_unpersists_its_shadow_slices(
        self, spark, tiny_index
    ):
        from opensearch_loader_spark.query_engine import get_reader

        d, _ = tiny_index
        reader = get_reader(spark, d)
        slices = spark.range(3).persist()
        slices.count()
        reader.__dict__["shadow_slices"] = slices  # the cached_property slot
        assert get_reader(spark.newSession(), d) is not reader
        assert not slices.storageLevel.useMemory
        assert not slices.storageLevel.useDisk

"""The index snapshot (query_engine.IndexReader): one per index version,
keyed by manifest bytes, and releasing what it persisted when replaced."""

import datetime as dt
import os

from opensearch_loader_spark import query_engine as qe
from opensearch_loader_spark.corpus import make_corpus_df
from opensearch_loader_spark.indexer import build_index
from opensearch_loader_spark.oracle import build_oracle_index, oracle_topk
from opensearch_loader_spark.query_engine import get_reader, search
from opensearch_loader_spark.streaming.incremental import build_delta_segment

TS = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
QUERIES = [("q1", "spark block", 10), ("q2", "the data", 10)]


def _build(spark, d, n_docs, seed):
    corpus = make_corpus_df(spark, n_docs=n_docs, seed=seed)
    build_index(spark, corpus, d, n_buckets=4, block_size=16, rows_per_run=50)


def _topk(spark, d, **kw):
    by_q = {}
    for r in search(spark, d, QUERIES, **kw).collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: [(doc, s) for _, doc, s in sorted(v)] for q, v in by_q.items()}


def test_same_mtime_rebuild_misses(spark, tmp_path):
    """A rebuild into the same directory whose MANIFEST keeps its old mtime
    is a new snapshot: N and the top-k follow the new corpus."""
    d = str(tmp_path / "idx")
    _build(spark, d, 120, seed=1)
    top = os.path.join(d, "MANIFEST.json")
    st = os.stat(top)
    _topk(spark, d)
    assert get_reader(spark, d).info["N"] == 120

    _build(spark, d, 60, seed=2)
    os.utime(top, ns=(st.st_atime_ns, st.st_mtime_ns))
    got = _topk(spark, d)
    assert get_reader(spark, d).info["N"] == 60
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    oracle = build_oracle_index({r["doc_id"]: r["text"] for r in docs.collect()})
    for qid, text, k in QUERIES:
        want = oracle_topk(oracle, text, k)
        assert [doc for doc, _ in got.get(qid, [])] == [doc for doc, _ in want], qid
        for (_, gs), (_, ws) in zip(got.get(qid, []), want):
            assert abs(gs - ws) < 1e-9, qid


def _upsert(spark, d, urls, segment, word):
    rows = [(u, TS, None, f"{word} spark block {i}", "en") for i, u in enumerate(urls)]
    build_delta_segment(spark, d, spark.createDataFrame(rows, CORPUS_SCHEMA), segment)


def test_replaced_snapshot_unpersists_its_frames(spark, tmp_path, monkeypatch):
    """Sharded mode: after a filtered search and a MANIFEST change, every
    frame the old snapshot persisted (shadow slices, allowed slices) holds
    no storage once the next search has run."""
    d = str(tmp_path / "idx")
    _build(spark, d, 120, seed=42)
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    urls = [r["url"] for r in docs.orderBy("doc_id").limit(6).collect()]
    _upsert(spark, d, urls[:3], "seg-000001", "rewritten")
    flt = "lang = 'en'"
    want = _topk(spark, d, doc_filter=flt)

    monkeypatch.setattr(qe, "BITMAP_BROADCAST_MAX_DOC", 16)
    qe.drop_reader()
    try:
        assert _topk(spark, d, doc_filter=flt) == want
        old = get_reader(spark, d)
        assert old.sharded
        frames = [old.shadow_slices, *old._allowed.values()]
        assert len(frames) == 2 and all(f.is_cached for f in frames)

        # a second delta rewrites the MANIFEST; the new version's frames
        # have other plans, so the storage levels below are the old ones'
        _upsert(spark, d, urls[2:], "seg-000002", "again")
        got = _topk(spark, d, doc_filter=flt)
        new = get_reader(spark, d)
        assert new is not old and new.shadow_slices.is_cached
        for f in frames:
            lvl = f.storageLevel
            assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)
    finally:
        qe.drop_reader()
    monkeypatch.undo()
    assert got == _topk(spark, d, doc_filter=flt)  # = broadcast mode
    qe.drop_reader()

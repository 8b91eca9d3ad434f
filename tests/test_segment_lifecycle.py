"""Segment lifecycle: repeated compactions under the default name, refused
delta names, reclaimed merged-from segments, manifest statistics and build
stage timings."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from opensearch_loader_spark.corpus import make_corpus_df
from opensearch_loader_spark.indexer import build_index
from opensearch_loader_spark.operators.merge import compact_segments
from opensearch_loader_spark.oracle import build_oracle_index, oracle_topk
from opensearch_loader_spark.query_engine import load_index_info, search
from opensearch_loader_spark.streaming.incremental import build_delta_segment

TS = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
QUERIES = ["spark block", "the data", "rewritten", "fresh delta", "second pass"]


def _updates(spark, rows):
    return spark.createDataFrame([(u, TS, None, t, "en") for u, t in rows], CORPUS_SCHEMA)


def _live_docs(spark, index_dir):
    docs = {}
    for m in load_index_info(index_dir)["segments"]:
        p = os.path.join(index_dir, "segments", m["segment"], "docs")
        for r in spark.read.parquet(p).select("doc_id", "text").collect():
            docs[r["doc_id"]] = r["text"]  # later segments overwrite
    return docs


def _assert_oracle(spark, index_dir):
    oracle = build_oracle_index(_live_docs(spark, index_dir))
    for q in QUERIES:
        res = search(spark, index_dir, [("q", q, 10)]).collect()
        got = [(r["doc_id"], r["score"]) for r in sorted(res, key=lambda r: r["rank"])]
        want = oracle_topk(oracle, q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, q


def _assert_stats(spark, index_dir, man):
    """Manifest N / avgdl / max_doc_id against a direct count of the
    segment's docs table (max_doc_id may stay above it after a delta that
    only re-indexes)."""
    p = os.path.join(index_dir, "segments", man["segment"], "docs")
    r = spark.read.parquet(p).agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("a"), F.max("doc_id").alias("m")
    ).collect()[0]
    assert man["N"] == r["n"]
    assert man["avgdl"] == r["a"]
    assert man["max_doc_id"] >= r["m"]
    if "merged_from" in man:
        assert man["max_doc_id"] == r["m"]


def _listed(index_dir):
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        return json.load(f)["segments"]


def _on_disk(index_dir):
    return sorted(os.listdir(os.path.join(index_dir, "segments")))


def test_repeated_compaction_keeps_index(spark, tmp_path):
    """build → delta → compact → delta → compact, default name both times:
    the second compaction must not delete the live merged segment, and each
    compaction leaves on disk only the segments MANIFEST lists."""
    d = str(tmp_path / "idx")
    build_index(spark, make_corpus_df(spark, n_docs=120, seed=42), d, n_buckets=4, block_size=16, rows_per_run=50)
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    victims = [r["url"] for r in docs.orderBy("doc_id").limit(4).collect()]

    m = build_delta_segment(
        spark, d,
        _updates(spark, [(u, f"rewritten spark block {i}") for i, u in enumerate(victims[:2])]
                 + [("https://new.example/a", "fresh spark delta page")]),
        "seg-000001",
    )
    _assert_stats(spark, d, m)
    first = compact_segments(spark, d)
    assert first["segment"] == "seg-merged"
    _assert_stats(spark, d, first)
    assert _on_disk(d) == _listed(d) == ["seg-merged"]
    _assert_oracle(spark, d)

    m = build_delta_segment(
        spark, d,
        _updates(spark, [(u, f"second pass rewritten {i}") for i, u in enumerate(victims[1:])]
                 + [("https://new.example/b", "second fresh delta")]),
        "seg-000002",
    )
    _assert_stats(spark, d, m)
    assert _on_disk(d) == sorted(_listed(d)) == ["seg-000002", "seg-merged"]
    second = compact_segments(spark, d)
    assert second["segment"] != "seg-merged"
    assert second["merged_from"] == ["seg-merged", "seg-000002"]
    assert second["N"] == 122
    _assert_stats(spark, d, second)

    assert _on_disk(d) == _listed(d) == [second["segment"]]
    assert os.path.exists(os.path.join(d, "segments", second["segment"], "manifest.json"))
    _assert_oracle(spark, d)


def test_delta_refuses_live_segment_name(spark, tmp_path):
    """A delta named after a live segment raises before writing anything,
    and the index keeps answering as before."""
    d = str(tmp_path / "idx")
    build_index(spark, make_corpus_df(spark, n_docs=60, seed=3), d, n_buckets=4, block_size=16, rows_per_run=50)
    build_delta_segment(spark, d, _updates(spark, [("https://new.example/a", "fresh spark delta page")]), "seg-000001")
    seg = os.path.join(d, "segments", "seg-000001")
    before = sorted(os.path.join(r, f) for r, _, fs in os.walk(seg) for f in fs)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        top = f.read()

    clash = _updates(spark, [("https://new.example/a", "replacement text"), ("https://new.example/z", "other")])
    for name in ("seg-000000", "seg-000001"):
        with pytest.raises(ValueError, match="live"):
            build_delta_segment(spark, d, clash, name)

    assert sorted(os.path.join(r, f) for r, _, fs in os.walk(seg) for f in fs) == before
    with open(os.path.join(d, "MANIFEST.json")) as f:
        assert f.read() == top
    _assert_oracle(spark, d)


def test_build_stage_secs_are_durations(tiny_index):
    _, man = tiny_index
    stages = man["stage_secs"]
    assert set(stages) == set(man["stage_cpu_secs"])
    assert all(v >= 0 for v in stages.values())
    assert all(v >= 0 for v in man["stage_cpu_secs"].values())
    assert sum(stages.values()) <= man["build_secs"] + 1e-9


def test_crash_after_flip_leaves_readable_index(spark, tmp_path, monkeypatch):
    """A compaction that dies deleting the merged-from segments (after the
    MANIFEST flip) leaves a readable index on the merged segment, and the
    next compaction removes the leftovers."""
    import shutil

    d = str(tmp_path / "idx")
    build_index(spark, make_corpus_df(spark, n_docs=60, seed=3), d, n_buckets=4, block_size=16, rows_per_run=50)
    build_delta_segment(spark, d, _updates(spark, [("https://new.example/a", "fresh spark delta page")]), "seg-000001")
    seg_root = os.path.join(d, "segments")
    rmtree = shutil.rmtree

    def crash(path, *a, **k):
        if os.path.dirname(path) == seg_root:
            raise OSError("injected crash after the flip")
        return rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError, match="injected"):
        compact_segments(spark, d)
    monkeypatch.undo()
    assert _listed(d) == ["seg-merged"]
    assert _on_disk(d) == ["seg-000000", "seg-000001", "seg-merged"]
    _assert_oracle(spark, d)

    build_delta_segment(spark, d, _updates(spark, [("https://new.example/b", "second fresh delta")]), "seg-000002")
    m = compact_segments(spark, d)
    assert m["merged_from"] == ["seg-merged", "seg-000002"]
    assert _on_disk(d) == _listed(d) == [m["segment"]]
    _assert_oracle(spark, d)

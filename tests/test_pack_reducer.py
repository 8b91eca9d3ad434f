"""Differential tests for the per-partition postings reducer: the segmented
block emitter, the build/delta partial-run packer and the compaction merger
must lay out exactly the bytes a per-run, per-block encoding does."""

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

from opensearch_loader_spark import BM25_B, BM25_K1
from opensearch_loader_spark.functions.varbyte import (
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode,
)
from opensearch_loader_spark.indexer import (
    PARTIAL_SCHEMA,
    blocks_batch,
    emit_blocks,
    emit_segments,
    pack_partial_runs,
)

TS = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def ref_blocks(term, run, d, t, l, avgdl, bs):
    """One run encoded block by block with the plain codecs."""
    rows = []
    for i, s in enumerate(range(0, len(d), bs)):
        bd, bt, bl = d[s : s + bs], t[s : s + bs], l[s : s + bs]
        tf, dl = bt.astype(np.float64), bl.astype(np.float64)
        part = tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        rows.append(
            (
                term, run, i, int(bd[0]), int(bd[-1]), len(bd), float(part.max()),
                varbyte_encode(delta_encode(bd)), varbyte_encode(bt), varbyte_encode(bl),
            )
        )
    return rows


def random_runs(rng, bs, n_runs):
    """Sorted random posting runs whose lengths hit the block edge cases."""
    runs = []
    for i in range(n_runs):
        n = int(rng.choice([0, 1, bs, bs + 1, 2 * bs, int(rng.integers(2, 4 * bs))]))
        d = np.sort(rng.choice(1 << 40, size=n, replace=False)).astype(np.int64)
        runs.append((f"t{i % 7}", i // 7, d, rng.integers(1, 40, n), rng.integers(1, 3000, n)))
    return runs


def row_key(r):
    return tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in r)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_segmented_emit_matches_per_block_encoding(seed):
    rng = np.random.default_rng(seed)
    for bs in (1, 4, 16, 128):
        runs = random_runs(rng, bs, 30)
        lens = [len(r[2]) for r in runs]
        starts = np.cumsum([0] + lens)[:-1]
        cols = emit_segments(
            starts, *(np.concatenate([r[k] for r in runs]) for k in (2, 3, 4)), 231.5, bs
        )
        got = blocks_batch(
            pa.array([r[0] for r in runs]),
            np.array([r[1] for r in runs]),
            cols,
        ).to_pylist()
        want = [row for r in runs for row in ref_blocks(*r, 231.5, bs)]
        assert sorted(row_key(tuple(x.values())) for x in got) == sorted(map(row_key, want))
        for r in runs:
            assert emit_blocks(*r, 231.5, bs) == ref_blocks(*r, 231.5, bs)


def partial_rows(rng, runs, max_parts):
    """Split every run's docs into disjoint partials, as map tasks emit them."""
    rows = []
    for term, run, d, t, l in runs:
        if len(d) == 0:
            continue
        owner = rng.integers(0, max_parts, len(d))
        for p in np.unique(owner):
            m = owner == p
            rows.append(
                (
                    term, int(run), int(m.sum()),
                    bytearray(varbyte_encode(delta_encode(d[m]))),
                    bytearray(varbyte_encode(t[m])),
                    bytearray(varbyte_encode(l[m])),
                )
            )
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("batch_rows", [None, 3])
def test_partial_pack_matches_per_run_emit(spark, batch_rows):
    """Head terms split into several runs, runs split into up to 9 partials;
    with 3-row Arrow batches most (term, run) groups span batches."""
    rng = np.random.default_rng(11)
    bs = 8
    runs = [r for r in random_runs(rng, bs, 60) if len(r[2])]
    df = spark.createDataFrame(partial_rows(rng, runs, 9), PARTIAL_SCHEMA)
    want = sorted(row_key(row) for r in runs for row in ref_blocks(*r, 97.0, bs))
    old = spark.conf.get(BATCH_CONF)
    try:
        if batch_rows:
            spark.conf.set(BATCH_CONF, str(batch_rows))
        got = pack_partial_runs(df, 97.0, bs).collect()
    finally:
        spark.conf.set(BATCH_CONF, old)
    assert sorted(row_key(tuple(r)) for r in got) == want


def ref_compaction(spark, index_dir, segs, rows_per_run, avgdl, bs):
    """Per-(term, run) merge of the live segments in plain Python: tombstones
    from newer segments' updated_ids, newest segment wins per (term, doc),
    head terms cut into docID ranges from the blocks' metadata."""
    blocks, updated = [], {}
    for rank, s in enumerate(segs):
        d = os.path.join(index_dir, "segments", s)
        blocks += [(rank, r) for r in spark.read.parquet(os.path.join(d, "postings")).collect()]
        if os.path.isdir(os.path.join(d, "updated_ids")):
            updated[rank] = {r["doc_id"] for r in spark.read.parquet(os.path.join(d, "updated_ids")).collect()}
    meta = {}
    for _, r in blocks:
        df, lo, hi = meta.get(r["term"], (0, r["first_doc_id"], r["last_doc_id"]))
        meta[r["term"]] = (df + r["n_docs"], min(lo, r["first_doc_id"]), max(hi, r["last_doc_id"]))
    postings = {}  # (term, doc) -> (rank, tf, dl)
    for rank, r in blocks:
        dead = set().union(*(ids for k, ids in updated.items() if k > rank))
        docs = delta_decode(varbyte_decode(bytes(r["doc_gaps"]))).astype(np.int64)
        for doc, tf, dl in zip(docs, varbyte_decode(bytes(r["tfs"])), varbyte_decode(bytes(r["dls"]))):
            key = (r["term"], int(doc))
            if int(doc) not in dead and rank >= postings.get(key, (-1,))[0]:
                postings[key] = (rank, int(tf), int(dl))
    groups = {}
    for (term, doc), (_, tf, dl) in postings.items():
        df, lo, hi = meta[term]
        run = 0
        if df > rows_per_run:
            n_splits = -(-df // rows_per_run)
            width = max(1, -(-(hi - lo + 1) // n_splits))
            run = min((doc - lo) // width, n_splits - 1)
        groups.setdefault((term, run), []).append((doc, tf, dl))
    rows = []
    for (term, run), ps in groups.items():
        a = np.array(sorted(ps), dtype=np.int64)
        rows += ref_blocks(term, run, a[:, 0], a[:, 1], a[:, 2], avgdl, bs)
    return sorted(map(row_key, rows))


@pytest.mark.parametrize("transport", ["broadcast", "sharded"])
def test_compaction_matches_per_group_merge(spark, tmp_path, monkeypatch, transport):
    """A compaction with updates, inserts and split head terms, through
    small Arrow batches, equals the per-group reference merge."""
    from opensearch_loader_spark import query_engine as qe
    from opensearch_loader_spark.corpus import make_corpus_df
    from opensearch_loader_spark.indexer import build_index
    from opensearch_loader_spark.operators.merge import compact_segments
    from opensearch_loader_spark.streaming.incremental import build_delta_segment

    d = str(tmp_path / "idx")
    build_index(spark, make_corpus_df(spark, n_docs=90, seed=5), d, n_buckets=4, block_size=16, rows_per_run=30)
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    victims = [r["url"] for r in docs.orderBy("doc_id").limit(5).collect()]
    updates = spark.createDataFrame(
        [(u, TS, None, f"the rewritten spark block {i}", "en") for i, u in enumerate(victims)]
        + [("https://fresh.example/a", TS, None, "the fresh spark page", "en")],
        CORPUS_SCHEMA,
    )
    build_delta_segment(spark, d, updates, "seg-000001", rows_per_run=30)
    segs = ["seg-000000", "seg-000001"]
    # compaction deletes the merged-from segments: the reference reads a copy
    before = str(tmp_path / "before")
    shutil.copytree(d, before)
    if transport == "sharded":
        monkeypatch.setattr(qe, "BITMAP_BROADCAST_MAX_DOC", 16)
    old = spark.conf.get(BATCH_CONF)
    try:
        spark.conf.set(BATCH_CONF, "4")
        man = compact_segments(spark, d, block_size=16, rows_per_run=30)
    finally:
        spark.conf.set(BATCH_CONF, old)
    got = sorted(
        row_key(tuple(r))
        for r in spark.read.parquet(os.path.join(d, "segments", man["segment"], "postings"))
        .drop("bucket").select(
            "term", "run", "block_id", "first_doc_id", "last_doc_id", "n_docs",
            "max_tf_norm", "doc_gaps", "tfs", "dls",
        ).collect()
    )
    want = ref_compaction(spark, before, segs, 30, man["avgdl"], 16)
    assert len({(r[0], r[1]) for r in want if r[0] == "the"}) > 1, "head term must split"
    assert got == want

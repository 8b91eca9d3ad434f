"""Per-layer measurements that need no workload state: the machine
calibration loop, the Spark framework floor, and the driver-side kernels
(analyzer, varbyte codec, top-k scorer) timed over the workload's own
corpus through the engine's public functions."""

from __future__ import annotations

import statistics
import time

import numpy as np

from checks import check_topk
from reference import BM25Ref, query_terms


def calib_ms() -> float:
    """A fixed pure-Python CPU loop: tells machine drift apart from
    program change (median of 3)."""
    out = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        out.append((time.perf_counter() - t) * 1e3)
    return statistics.median(out)


def floor_ms(spark, reps: int) -> tuple[float, float]:
    """Median ms of ``range(1).collect`` and of a trivial shuffle +
    ``applyInPandas`` over ``reps`` calls each."""
    from pyspark.sql import functions as F

    job, pandas_ = [], []
    df = spark.range(64).withColumn("g", F.col("id") % 4)
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(1).collect()
        job.append((time.perf_counter() - t) * 1e3)
        t = time.perf_counter()
        df.groupBy("g").applyInPandas(lambda p: p, "id long, g long").collect()
        pandas_.append((time.perf_counter() - t) * 1e3)
    return statistics.median(job), statistics.median(pandas_)


def _repeat(fn, min_s: float = 0.2) -> float:
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / n


def driver_kernels(ref: BM25Ref, texts: list[str], queries: list[str], k: int = 10) -> tuple[dict, list[str]]:
    """Analyzer MB/s, varbyte encode/decode MB/s (of encoded postings) and
    block-max scorer µs per posting over the postings of ``ref``'s 2000
    most frequent terms, cut into the engine's block size. The scorer's
    top-k is checked against ``ref`` over the same terms."""
    from opensearch_loader_spark import BLOCK_SIZE
    from opensearch_loader_spark.analysis import tokenize
    from opensearch_loader_spark.functions.bm25 import tf_norm_bound
    from opensearch_loader_spark.functions.varbyte import (
        delta_decode, delta_encode, varbyte_decode, varbyte_encode,
    )
    from opensearch_loader_spark.query_engine import bmw_topk

    text_mb = sum(len(t) for t in texts) / 1e6
    tok_s = _repeat(lambda: [tokenize(t) for t in texts])

    cuts = []
    for term in ref.terms_by_df()[:2000]:
        d, tf = ref.postings[term]
        for i in range(0, len(d), BLOCK_SIZE):
            cuts.append((term, d[i:i + BLOCK_SIZE], tf[i:i + BLOCK_SIZE]))

    def encode():
        return [
            (term, d, tf, varbyte_encode(delta_encode(d)), varbyte_encode(tf.astype(np.uint64)),
             varbyte_encode(ref.dl[d].astype(np.uint64)))
            for term, d, tf in cuts
        ]

    enc_s = _repeat(encode)
    encoded = encode()
    enc_mb = sum(len(g) + len(f) + len(l) for _, _, _, g, f, l in encoded) / 1e6

    def decode():
        for _, _, _, g, f, l in encoded:
            delta_decode(varbyte_decode(g))
            varbyte_decode(f)
            varbyte_decode(l)

    dec_s = _repeat(decode)

    blocks: dict[str, list] = {}
    for term, d, tf, g, f, l in encoded:
        blocks.setdefault(term, []).append(
            (int(d[0]), int(d[-1]), tf_norm_bound(tf, ref.dl[d], ref.avgdl), g, f, l)
        )
    errs, postings, score_s = [], 0, 0.0
    for qi, text in enumerate(queries):
        terms = query_terms(text)
        if not terms or any(t not in blocks for t in terms):
            continue
        tb = {t: [(blocks[t], None)] for t in terms}
        dfs = {t: len(ref.postings[t][0]) for t in terms}
        postings += sum(dfs.values())
        t0 = time.perf_counter()
        top = bmw_topk(tb, dfs, ref.N, ref.avgdl, k)
        score_s += time.perf_counter() - t0
        hits = [(r + 1, d, s) for r, (d, s) in enumerate(top)]
        errs += check_topk(f"scorer q{qi}", hits, ref.scores(text, keys=range(ref.N)), k)
    return {
        "analysis.tokenize_mb_per_s": text_mb / tok_s,
        "varbyte.encode_mb_per_s": enc_mb / enc_s,
        "varbyte.decode_mb_per_s": enc_mb / dec_s,
        "scorer.us_per_posting": score_s * 1e6 / max(1, postings),
    }, errs

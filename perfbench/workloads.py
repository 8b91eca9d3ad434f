"""The benchmark's workloads. Each is a closed loop with one client in the
driver process: it issues one call, waits for its result, then issues the
next. A workload returns its end-to-end metrics, its per-layer metrics,
the operation counts and the errors its checks found."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

import gen
import kernels
from checks import check_clusters, check_hits_satisfy, check_pairs, check_recall, check_topk
from reference import BM25Ref, components, exact_pairs, query_terms, token_sets
from tracing import Tracer

CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
CORPUS_COLS = ["url", "warc_ts", "html", "text", "lang"]
K = 10
N_BUCKETS = 4

INGEST = gen.CorpusSpec(n_docs=300, vocab=20_000, zipf_s=1.07, mean_len=60)
INGEST_BATCH_DOCS = 60
INGEST_BATCH_QUERIES = 8
DEDUP_DOCS = 800
DEDUP_WARM_DOCS = 100
JACCARD = 0.8


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    t0: float  # process start (perf_counter)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def call(self, name: str, fn, op: str | None = None):
        """One engine operation: counted, traced, timed. Returns (result,
        seconds); result is None if the call raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name, op):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t
        s = time.perf_counter() - t
        print(f"{name}: {s:.2f} s", file=sys.stderr)
        return out, s

    def warm_up(self):
        """Start the Python workers and load the classes every workload
        uses before anything is timed; traced runs repeat it to report the
        framework floor."""
        job, pandas_ = kernels.floor_ms(self.spark, 5 if self.tracer.enabled else 1)
        self.layers["floor.job_ms"] = job
        self.layers["floor.pandas_ms"] = pandas_

    def corpus_df(self, rows):
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=CORPUS_COLS), CORPUS_SCHEMA)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def live_ref(corpus: gen.WebCorpus) -> BM25Ref:
    return BM25Ref([(u, t, lang) for u, (t, lang) in sorted(corpus.live.items())])


# ------------------------------------------------------------ queries

def run_query(ctx: Ctx, index_dir: str, queries: list[gen.Query], op: str):
    """search() one request (or one batch of same-kind requests) and
    collect it. Returns ({qid: [(rank, url, score)]}, seconds)."""
    from opensearch_loader_spark.query_engine import search

    q0 = queries[0]
    args = [(q.qid, q.text, K) for q in queries]
    kw = {"conjunctive": q0.kind == "conjunctive", "doc_filter": q0.doc_filter, "hydrate": True}
    call_s = []

    def fn():
        t = time.perf_counter()
        df = search(ctx.spark, index_dir, args, **kw)
        call_s.append(time.perf_counter() - t)
        return df.collect()

    rows, total = ctx.call(op, fn, op=op)
    if rows is None:
        return None, total
    hits: dict[str, list] = {q.qid: [] for q in queries}
    for r in rows:
        hits[r["query_id"]].append((r["rank"], r["url"], r["score"]))
    if ctx.tracer.enabled:
        # fresh plan vs a re-issue of the identical request, which the
        # compiled-plan cache serves: the difference is the planning cost
        t = time.perf_counter()
        with ctx.tracer.span("query.cached", op=f"{op}_cached"):
            search(ctx.spark, index_dir, args, **kw).collect()
        ctx.layers.setdefault("_cached_collect_ms", []).append((time.perf_counter() - t) * 1e3)
        ctx.layers.setdefault("_call_ms", []).append(call_s[0] * 1e3)
        ctx.layers.setdefault("_collect_ms", []).append((total - call_s[0]) * 1e3)
    return {qid: sorted(h) for qid, h in hits.items()}, total


def same_hits(a: list, b: list) -> bool:
    return len(a) == len(b) and all(
        ra == rb and ua == ub and abs(sa - sb) <= 1e-9 * max(1.0, abs(sb))
        for (ra, ua, sa), (rb, ub, sb) in zip(a, b)
    )


def check_query(ctx: Ctx, ref: BM25Ref, q: gen.Query, hits: list, where: str):
    lang = q.doc_filter.split("'")[1] if q.doc_filter else None
    conj = q.kind == "conjunctive"
    want = ref.scores(q.text, conjunctive=conj, lang=lang)
    name = f"{where} {q.kind} '{q.text}'"
    ctx.errors += check_topk(name, hits, want, K)
    doc_terms = dict(zip(ref.keys, ref.tokens))
    doc_lang = dict(zip(ref.keys, ref.langs))
    ctx.errors += check_hits_satisfy(
        name, hits, query_terms(q.text) if conj else [], doc_terms, lang, doc_lang
    )


def query_layers(ctx: Ctx, timed: list[tuple[gen.Query, float, int]]):
    """Per-class p50s and work per query from (query, seconds, Σ df)."""
    by = {}
    for q, s, _ in timed:
        by.setdefault(q.cls, []).append(s)
        if q.kind != "plain":
            by.setdefault(q.kind, []).append(s)
    for cls in ("head", "tail", "conjunctive", "filtered"):
        if by.get(cls):
            ctx.layers[f"query.p50_ms.{cls}"] = statistics.median(by[cls]) * 1e3
    ctx.layers["query.postings_per_query"] = statistics.mean(p for _, _, p in timed)
    for key in ("reader", "call", "collect", "cached_collect"):
        vals = ctx.layers.pop(f"_{key}_ms", None)
        if vals:
            ctx.layers[f"query.{key}_ms"] = statistics.median(vals)


def sum_df(ctx: Ctx, index_dir: str) -> int:
    """Σ df over the index's term_stats (single-segment index)."""
    from opensearch_loader_spark.query_engine import load_index_info

    seg = load_index_info(index_dir)["segments"][0]["segment"]
    p = os.path.join(index_dir, "segments", seg, "term_stats")
    return int(ctx.spark.read.parquet(p).groupBy().sum("df").collect()[0][0])


def reader_ms(ctx: Ctx, index_dir: str):
    """Traced runs only: load the index reader (term stats, shadow bitmaps)
    outside the next query, so its cost is reported on its own."""
    if ctx.tracer.enabled:
        from opensearch_loader_spark.query_engine import get_reader

        t = time.perf_counter()
        with ctx.tracer.span("query.reader", op="query_reader"):
            get_reader(ctx.spark, index_dir)
        ctx.layers.setdefault("_reader_ms", []).append((time.perf_counter() - t) * 1e3)


# ------------------------------------------------------------ ingest

def pick(log: list[gen.Query], ref: BM25Ref, kind: str, cls: str | None = None) -> gen.Query:
    """The first request in ``log`` of this kind (and term class) that
    matches some document of ``ref``, so its check has hits to check."""
    for q in log:
        if q.kind == kind and cls in (None, q.cls):
            lang = q.doc_filter.split("'")[1] if q.doc_filter else None
            if ref.scores(q.text, conjunctive=kind == "conjunctive", lang=lang):
                return q
    raise ValueError(f"the query log has no matching {kind} {cls or ''} request")


def ingest(ctx: Ctx) -> dict:
    """Build, query, one upsert batch, query, compact, then the same
    queries again and one batch of distinct requests."""
    from opensearch_loader_spark.indexer import build_index
    from opensearch_loader_spark.operators.merge import compact_segments
    from opensearch_loader_spark.query_engine import load_index_info
    from opensearch_loader_spark.streaming.incremental import build_delta_segment

    corpus = gen.WebCorpus(INGEST, ctx.seed)
    log = gen.query_log(corpus.words, ctx.seed, 2000)
    # every burst has a first query after a MANIFEST change and a second
    # one; between them they cover each class the per-layer p50s name
    ref = live_ref(corpus)
    after_build = [pick(log, ref, "conjunctive"), pick(log, ref, "plain", "head")]
    after_delta = [pick(log, ref, "filtered"), pick(log, ref, "plain", "tail")]
    again = [gen.Query(q.qid + "-c", q.text, q.kind, q.cls, q.doc_filter) for q in after_delta]
    used = {q.text for q in after_build + after_delta}
    batch = gen.batches_of([q for q in log if q.text not in used], INGEST_BATCH_QUERIES)[0]
    half = INGEST_BATCH_DOCS // 2
    rows = corpus.delta_batch(half, INGEST_BATCH_DOCS - half, day0=320)
    df = ctx.corpus_df(corpus.rows)
    ddf = ctx.corpus_df(rows)
    idx = os.path.join(ctx.work, "ingest")
    shutil.rmtree(idx, ignore_errors=True)
    ctx.warm_up()
    setup_s = time.perf_counter() - ctx.t0

    lat = []
    issued = []  # (step, query, hits, live snapshot, seconds)
    writes = {}  # op -> (docs, seconds)

    def burst(step: str, queries: list[gen.Query]):
        reader_ms(ctx, idx)
        snapshot = dict(corpus.live)
        for q in queries:
            hits, s = run_query(ctx, idx, [q], "query")
            if hits is not None:
                lat.append(s)
                issued.append((step, q, hits[q.qid], snapshot, s))

    def check_counts(step: str, n: int, sum_df_too: bool):
        ref = live_ref(corpus)
        if n != ref.N or load_index_info(idx)["N"] != ref.N:
            ctx.errors.append(f"{step}: N {n} != {ref.N} live urls")
        if sum_df_too and (got := sum_df(ctx, idx)) != ref.sum_df:
            ctx.errors.append(f"{step}: Σ df {got} != Σ distinct terms per doc {ref.sum_df}")

    m, s = ctx.call("build_index", lambda: build_index(ctx.spark, df, idx, n_buckets=N_BUCKETS), op="build")
    if m is None:
        raise RuntimeError("ingest: the index build failed")
    writes["build"] = (m["N"], s)
    check_counts("build", m["N"], True)
    burst("build", after_build)

    want = corpus.apply(rows, upsert=True)
    m, s = ctx.call("build_delta_segment", lambda: build_delta_segment(ctx.spark, idx, ddf, "seg-d0", upsert=True), op="delta")
    if m is None:
        raise RuntimeError("ingest: the delta failed")
    writes["delta"] = (want["updated"] + want["inserted"], s)
    delta_bytes = dir_bytes(os.path.join(idx, "segments", "seg-d0"))
    got = {k: m.get(k) for k in want}
    if got != want:
        ctx.errors.append(f"delta: counts {got} != generated {want}")
    check_counts("delta", len(corpus.live), False)
    burst("delta", after_delta)

    compact_read = dir_bytes(os.path.join(idx, "segments"))
    m, s = ctx.call("compact_segments", lambda: compact_segments(ctx.spark, idx), op="compact")
    if m is None:
        raise RuntimeError("ingest: the compaction failed")
    writes["compact"] = (m["N"], s)
    compact_written = dir_bytes(os.path.join(idx, "segments", m["segment"]))
    check_counts("compact", m["N"], True)
    burst("compact", again)
    hits, batch_s = run_query(ctx, idx, batch, "batch")
    snapshot = dict(corpus.live)
    issued += [("batch", q, hits[q.qid], snapshot, None) for q in batch] if hits else []
    # compaction must not change a result
    res = {q.qid: h for _, q, h, _, _ in issued}
    for q, q2 in zip(after_delta, again):
        if q.qid in res and q2.qid in res and not same_hits(res[q.qid], res[q2.qid]):
            ctx.errors.append(f"compact changed the result of '{q.text}'")
    bytes_per_doc = dir_bytes(idx) / len(corpus.live)
    shutil.rmtree(idx, ignore_errors=True)

    # every query against the reference over its live snapshot
    refs, timed = {}, []
    for step, q, hits, snap, s in issued:
        ref = refs.setdefault(id(snap), BM25Ref([(u, t, lang) for u, (t, lang) in sorted(snap.items())]))
        check_query(ctx, ref, q, hits, step)
        if s is not None:
            terms = query_terms(q.text)
            timed.append((q, s, sum(len(ref.postings[t][0]) for t in terms if t in ref.postings)))

    if ctx.tracer.enabled:
        query_layers(ctx, timed)
        ctx.layers.update({
            "build.docs_per_s": writes["build"][0] / writes["build"][1],
            "delta.docs_per_s": writes["delta"][0] / writes["delta"][1],
            "compact.s": writes["compact"][1],
            "batch.qps": len(batch) / batch_s,
            "index.bytes_per_doc": bytes_per_doc,
            "delta.bytes_written": delta_bytes,
            "compact.bytes_read": compact_read,
            "compact.bytes_written": compact_written,
        })
        kernel_layers(ctx, live_ref(corpus), [t for t, _ in corpus.live.values()], [q.text for q in log[:60]])
    return {
        "setup_s": setup_s,
        "latency_ms": statistics.mean(lat) * 1e3,
        "work_per_s": sum(n for n, _ in writes.values()) / sum(s for _, s in writes.values()),
    }


# ------------------------------------------------------------ dedup

def dedup(ctx: Ctx) -> dict:
    """``dedup_clusters`` then ``token_jaccard_pairs``, once on a small
    corpus in set-up (the first calls in a session pay for warm-up), then
    once on the timed corpus."""
    from opensearch_loader_spark.operators.dedup import dedup_clusters, token_jaccard_pairs

    def run(rows, ops):
        ddf = ctx.spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]), "doc_id long, text string")
        clusters, cs = ctx.call("dedup_clusters", lambda: dedup_clusters(ddf, threshold=JACCARD).collect(), op=ops[0])
        pairs, ps = ctx.call("token_jaccard_pairs", lambda: token_jaccard_pairs(ddf, threshold=JACCARD).collect(), op=ops[1])
        return ddf, cs, ps, len(pairs or []), check_dedup(ctx, rows, clusters, pairs)

    warm_rows = gen.near_dup_corpus(ctx.seed + 1, DEDUP_WARM_DOCS)
    rows = gen.near_dup_corpus(ctx.seed, DEDUP_DOCS)
    ctx.warm_up()
    run(warm_rows, ("dedup_warm", "dedup_warm"))
    setup_s = time.perf_counter() - ctx.t0
    ddf, cluster_s, pair_s, pair_n, recall = run(rows, ("dedup_clusters", "jaccard_pairs"))
    print(f"dedup: {pair_n} pairs at J >= {JACCARD}, recall {recall}", file=sys.stderr)

    if ctx.tracer.enabled:
        dedup_layers(ctx, ddf)
        ctx.layers["dedup.verified_pairs"] = pair_n
        ctx.layers["dedup.useful_ratio"] = pair_n / max(1, ctx.layers["dedup.candidate_pairs"])
        ctx.layers["dedup.recall"] = recall
        ctx.layers["dedup_clusters.docs_per_s"] = len(rows) / cluster_s
    return {
        "setup_s": setup_s,
        "latency_ms": cluster_s * 1e3,
        # both calls verify the same pairs; one ~5 s call alone varies
        # too much with the machine's drift
        "work_per_s": 2 * pair_n / (cluster_s + pair_s),
    }


def check_dedup(ctx: Ctx, rows, clusters, pairs) -> float:
    """Check the pairs and clusters against exact all-pairs Jaccard;
    return the recall."""
    ids = [i for i, _ in rows]
    sets = dict(zip(ids, token_sets([t for _, t in rows])))
    exact = {(ids[a], ids[b]) for a, b in exact_pairs([sets[i] for i in ids], JACCARD)}
    found = set()
    if pairs is not None:
        got = [(r["doc_a"], r["doc_b"], r["inter"], r["n_a"], r["n_b"], r["jaccard"]) for r in pairs]
        ctx.errors += check_pairs(got, sets, JACCARD)
        found = {(a, b) for a, b, *_ in got}
        ctx.errors += check_recall(found, exact)
    if clusters is not None:
        ctx.errors += check_clusters([(r["doc_id"], r["rep_id"]) for r in clusters], ids, components(ids, exact))
    return len(found & exact) / max(1, len(exact))


def dedup_layers(ctx: Ctx, ddf):
    """Traced runs: MinHash signatures through the public
    ``minhash_signatures`` (token shingles, 32 hashes, as the pair search
    uses), and the candidate pairs of the step ``token_jaccard_pairs``
    verifies: the engine's ``_minhash_candidates`` with the threshold set,
    so its length-ratio prefilter applies."""
    from pyspark.sql import functions as F

    from opensearch_loader_spark.operators.dedup import _minhash_candidates, minhash_signatures

    _, s = ctx.call("minhash_signatures", lambda: minhash_signatures(ddf, n_hashes=32, shingle_n=1).localCheckpoint(eager=True), op="dedup_signatures")
    ctx.layers["dedup.signature_s"] = s
    toks = F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != "")
    sh = ddf.select("doc_id", F.explode(F.array_distinct(toks)).alias("item"))
    cand, _ = ctx.call("minhash_candidates", lambda: _minhash_candidates(sh, 32, threshold=JACCARD).count(), op="dedup_candidates")
    ctx.layers["dedup.candidate_pairs"] = cand


def kernel_layers(ctx: Ctx, ref: BM25Ref, texts: list[str], queries: list[str]):
    layers, errs = kernels.driver_kernels(ref, texts, queries, K)
    ctx.layers.update(layers)
    ctx.errors += errs


WORKLOADS = {"ingest": ingest, "dedup": dedup}

# the Spark operations each workload runs, and the per-layer metrics it
# measures; a traced run fails if one of its own is missing and reports
# the other workload's as 0
SPARK_OPS = {
    "ingest": ("build", "delta", "compact", "query", "batch"),
    "dedup": ("dedup_clusters", "jaccard_pairs"),
}
OWNS = {
    "ingest": lambda name: not name.startswith(("dedup", "jaccard_pairs.")),
    "dedup": lambda name: name.startswith(("platform.", "floor.", "dedup", "jaccard_pairs.")),
}

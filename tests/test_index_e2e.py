"""End-to-end: build the compressed index on the synthetic corpus and verify
the BMW engine is RANK-IDENTICAL (docIDs and float64 scores) to the
pure-Python golden oracle on the full reference query set (SURVEY.md §5.2.3).
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from opensearch_loader_spark.corpus import make_corpus_pdf
from opensearch_loader_spark.oracle import (
    build_oracle_index,
    oracle_topk,
    oracle_topk_conjunctive,
    reference_query_set,
)
from opensearch_loader_spark.query_engine import search


@pytest.fixture(scope="module")
def oracle_index(spark, tiny_index):
    d, _ = tiny_index
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    rows = docs.select("doc_id", "text").collect()
    return build_oracle_index({r["doc_id"]: r["text"] for r in rows})


def _assert_rank_identical(got, want, qid):
    assert len(got) == len(want), f"{qid}: {len(got)} vs {len(want)} results"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"{qid} rank {i+1}: doc {gd} != oracle {wd}"
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9), (
            f"{qid} rank {i+1}: score {gs!r} != oracle {ws!r}"
        )


def test_manifest_sane(tiny_index):
    d, m = tiny_index
    assert m["N"] == 200
    assert m["avgdl"] > 0
    assert m["complete"]


def test_docid_dense_and_url_sorted(spark, tiny_index):
    d, m = tiny_index
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    rows = docs.orderBy("doc_id").select("doc_id", "url").collect()
    ids = [r["doc_id"] for r in rows]
    urls = [r["url"] for r in rows]
    assert ids == list(range(len(ids)))
    assert urls == sorted(urls)


def test_text_byte_identity(spark, tiny_index):
    """North rule: extracted text byte-identical per url (sha256 golden)."""
    import hashlib

    d, _ = tiny_index
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    got = {r["url"]: r["text_sha256"] for r in docs.collect()}
    pdf = make_corpus_pdf(200, seed=42)
    for url, text in zip(pdf["url"], pdf["text"]):
        assert got[url] == hashlib.sha256(text.encode()).hexdigest()


def test_blocks_are_sorted_and_delta_encoded(spark, tiny_index):
    import numpy as np

    from opensearch_loader_spark.functions.varbyte import (
        delta_decode,
        varbyte_decode,
    )

    d, _ = tiny_index
    blocks = spark.read.parquet(
        os.path.join(d, "segments", "seg-000000", "postings")
    ).filter(F.col("term") == "the")
    rows = blocks.collect()
    assert rows, "head term 'the' must exist"
    for r in rows:
        docs = delta_decode(varbyte_decode(bytes(r["doc_gaps"])))
        assert np.all(np.diff(docs.astype(np.int64)) > 0)
        assert int(docs[0]) == r["first_doc_id"]
        assert int(docs[-1]) == r["last_doc_id"]
        assert len(docs) == r["n_docs"]
        tfs = varbyte_decode(bytes(r["tfs"]))
        dls = varbyte_decode(bytes(r["dls"]))
        assert len(tfs) == len(docs) == len(dls)


def test_head_term_salted_into_runs(spark, tiny_index):
    """rows_per_run=40 in the fixture → 'the' (df≈200) must split into >1 run
    (explicit skew splitting, SURVEY.md §4.2.1)."""
    d, _ = tiny_index
    blocks = spark.read.parquet(
        os.path.join(d, "segments", "seg-000000", "postings")
    )
    runs = (
        blocks.filter(F.col("term") == "the").select("run").distinct().count()
    )
    assert runs > 1


def test_bmw_rank_identical_to_oracle(spark, tiny_index, oracle_index):
    d, _ = tiny_index
    queries = reference_query_set()
    res = search(spark, d, queries).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in queries:
        want = oracle_topk(oracle_index, qtext, k)
        got = sorted(by_q.get(qid, []))
        got = [(d_, s) for _, d_, s in got]
        _assert_rank_identical(got, want, qid)


def test_bmw_conjunctive_rank_identical(spark, tiny_index, oracle_index):
    d, _ = tiny_index
    queries = [
        ("c1", "index search", 10),
        ("c2", "the data", 10),
        ("c3", "query term block", 10),
        ("c4", "the zzznotaword", 10),
    ]
    res = search(spark, d, queries, conjunctive=True).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in queries:
        want = oracle_topk_conjunctive(oracle_index, qtext, k)
        got = [(d_, s) for _, d_, s in sorted(by_q.get(qid, []))]
        _assert_rank_identical(got, want, qid)


def test_hydration(spark, tiny_index):
    d, _ = tiny_index
    res = search(spark, d, [("h1", "spark", 5)], hydrate=True).collect()
    assert len(res) == 5
    assert all(r["url"].startswith("https://site") for r in res)


def test_chunked_search_rank_identical(spark, tiny_index, oracle_index):
    """Doc-range partitioned scoring (postings_per_task tiny → many chunks)
    must merge to results bit-identical to the single-chunk path — this is
    the round-2 bound on per-task cost for head-term queries."""
    d, _ = tiny_index
    queries = reference_query_set()
    res = search(spark, d, queries, postings_per_task=40).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in queries:
        want = oracle_topk(oracle_index, qtext, k)
        got = [(d_, s) for _, d_, s in sorted(by_q.get(qid, []))]
        _assert_rank_identical(got, want, qid)


def test_chunked_search_uses_multiple_chunks(spark, tiny_index):
    """Plan-shape assertion: with a tiny postings_per_task, a head-term query
    fans out across >1 (query_id, chunk) group."""
    from opensearch_loader_spark.query_engine import get_reader

    d, _ = tiny_index
    reader = get_reader(spark, d)
    df_the = reader.term_stats["the"][0]
    assert df_the > 40, "fixture corpus should make 'the' a head term"
    # count distinct chunks actually scored by instrumenting width math
    import math as _m

    n_chunks = _m.ceil(df_the / 40)
    width = -(-(reader.max_doc + 1) // n_chunks)
    assert -(-(reader.max_doc + 1) // width) > 1


def test_chunked_conjunctive_rank_identical(spark, tiny_index, oracle_index):
    d, _ = tiny_index
    queries = [("c1", "index search", 10), ("c2", "the data", 10)]
    res = search(spark, d, queries, conjunctive=True, postings_per_task=40).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in queries:
        want = oracle_topk_conjunctive(oracle_index, qtext, k)
        got = [(d_, s) for _, d_, s in sorted(by_q.get(qid, []))]
        _assert_rank_identical(got, want, qid)


def test_filtered_search_matches_post_filter(spark, tiny_index, oracle_index):
    """Filter-context semantics: top-k AMONG docs passing the stored-field
    predicate, scores unchanged (BM25 stats stay corpus-global). Oracle =
    full ranking post-filtered."""
    d, _ = tiny_index
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    allowed = {r["doc_id"] for r in docs.filter("lang = 'en'").collect()}
    assert 0 < len(allowed) < docs.count()
    for qtext in ["the data", "spark index", "block merge the"]:
        res = search(
            spark, d, [("q", qtext, 10)], doc_filter="lang = 'en'"
        ).collect()
        got = [
            (r["doc_id"], r["score"]) for r in sorted(res, key=lambda r: r["rank"])
        ]
        full = oracle_topk(oracle_index, qtext, 10**9)
        want = [(d_, s) for d_, s in full if d_ in allowed][:10]
        _assert_rank_identical(got, want, f"filtered:{qtext}")
        assert all(d_ in allowed for d_, _ in got)


def test_filtered_search_no_matches_is_empty(spark, tiny_index):
    d, _ = tiny_index
    res = search(spark, d, [("q", "the", 5)], doc_filter="lang = 'xx'").collect()
    assert res == []


def test_search_as_you_type_bool_prefix(spark, tmp_path):
    """True SAYT (round-2): index-time edge-ngram + shingle subfields via
    sayt_analyzer; bool_prefix queries match full leading tokens AND the last
    token as an indexed prefix. Oracle: python token scan over the corpus."""
    from opensearch_loader_spark.analysis import sayt_analyzer, tokenize
    from opensearch_loader_spark.corpus import make_corpus_df
    from opensearch_loader_spark.indexer import build_index
    from opensearch_loader_spark.query_engine import sayt_search

    d = str(tmp_path / "sayt_idx")
    corpus = make_corpus_df(spark, n_docs=80, seed=3)
    build_index(spark, corpus, d, n_buckets=4, block_size=16,
                rows_per_run=10**9, analyzer=sayt_analyzer)

    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    for q in ["the da", "spark in", "block me", "qu"]:
        toks = tokenize(q)
        *full, last = toks
        want = {
            did for did, t in texts.items()
            if all(ft in tokenize(t) for ft in full)
            and any(tok.startswith(last) for tok in tokenize(t))
        }
        res = sayt_search(spark, d, q, k=10**6, operator="and").collect()
        got = {r["doc_id"] for r in res}
        assert got == want, f"{q}: {sorted(got)[:5]} vs {sorted(want)[:5]}"

    # phrase mode requires adjacency of the full leading tokens
    res = sayt_search(spark, d, "the data x", k=10**6, phrase=True).collect()
    for r in res:
        assert "the data" in texts[r["doc_id"]].lower()


def test_prepare_docs_html_branch_and_sha(spark):
    """Round-2 JVM-first docs stage: text-present rows skip Python entirely
    (sha via JVM sha2 == hashlib hexdigest); text-null rows go through the
    html-extract branch, byte-identical."""
    import hashlib

    from opensearch_loader_spark.corpus import extract_text_from_html
    from opensearch_loader_spark.indexer import prepare_docs

    html = "<html><head><title>t</title></head><body><p>from html body</p></body></html>"
    rows = [
        ("u://a", "2024-01-01 00:00:00", None, "plain text here", "en"),
        ("u://b", "2024-01-01 00:00:00", bytearray(html.encode()), None, "en"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, warc_ts_s string, html binary, text string, lang string"
    ).selectExpr("url", "CAST(warc_ts_s AS TIMESTAMP) AS warc_ts", "html", "text", "lang")
    docs = {r["url"]: r for r in prepare_docs(corpus).collect()}
    assert docs["u://a"]["text"] == "plain text here"
    assert docs["u://b"]["text"] == extract_text_from_html(html.encode())
    for r in docs.values():
        assert r["text_sha256"] == hashlib.sha256(r["text"].encode()).hexdigest()
    assert sorted(r["doc_id"] for r in docs.values()) == [0, 1]
    # url-ordered dense ids
    assert docs["u://a"]["doc_id"] < docs["u://b"]["doc_id"]

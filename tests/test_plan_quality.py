"""Physical-plan assertions — the scale contract (SURVEY.md §4):
filters/pruning must reach the parquet scans; small sides must broadcast.
"""

import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_query_blocks_pushdown(spark, tiny_index):
    """Query-term posting reads must push bucket partition pruning and the
    term IN filter down to the parquet scan."""
    from opensearch_loader_spark.query_engine import load_index_info, read_query_blocks

    d, _ = tiny_index
    info = load_index_info(d)
    df = read_query_blocks(spark, info, ["spark", "data"])
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "In(term" in plan or "EqualTo(term" in plan, plan[:2000]
    # bucket is a partition column → appears as PartitionFilters
    assert "PartitionFilters" in plan


def test_docs_scan_column_pruning(spark, tiny_index):
    """A 2-column projection must not read the full docs schema (ReadSchema
    pruned to the selected columns)."""
    d, _ = tiny_index
    docs = spark.read.parquet(os.path.join(d, "segments", "seg-000000", "docs"))
    df = docs.select("doc_id", "url").filter(F.col("doc_id") > 10)
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "url" in read_schema
    assert "text" not in read_schema, read_schema
    assert "GreaterThan(doc_id,10)" in plan


def test_hydration_broadcasts_topk(spark, tiny_index):
    """docID→url hydration must broadcast the tiny top-k side, not shuffle
    the big docs table."""
    from opensearch_loader_spark.query_engine import search

    d, _ = tiny_index
    df = search(spark, d, [("q", "spark", 5)], hydrate=True)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_salting_does_not_change_index(spark, tmp_path):
    """Byte-identity: building with aggressive salting vs none yields the
    same decoded postings (SURVEY.md M3 exit test)."""
    import numpy as np

    from opensearch_loader_spark.corpus import make_corpus_df
    from opensearch_loader_spark.functions.varbyte import delta_decode, varbyte_decode
    from opensearch_loader_spark.indexer import build_index

    corpus = make_corpus_df(spark, n_docs=100, seed=11)

    def decoded_postings(index_dir):
        blocks = spark.read.parquet(
            os.path.join(index_dir, "segments", "seg-000000", "postings")
        ).collect()
        out = {}
        for r in blocks:
            docs = delta_decode(varbyte_decode(bytes(r["doc_gaps"]))).tolist()
            tfs = varbyte_decode(bytes(r["tfs"])).tolist()
            for d_, t_ in zip(docs, tfs):
                out[(r["term"], d_)] = t_
        return out

    d1 = str(tmp_path / "salted")
    d2 = str(tmp_path / "unsalted")
    build_index(spark, corpus, d1, n_buckets=4, rows_per_run=20)   # heavy salting
    build_index(spark, corpus, d2, n_buckets=4, rows_per_run=10**9)  # none
    assert decoded_postings(d1) == decoded_postings(d2)


def test_full_search_plan_keeps_pushdown(spark, tiny_index):
    """Round-2 chunked scoring must not break scan pruning: the end-to-end
    search() plan still shows the term IN pushdown and bucket partition
    pruning below the (query_id, chunk) explode/groupBy."""
    from opensearch_loader_spark.query_engine import search

    d, _ = tiny_index
    df = search(spark, d, [("q", "spark data", 5)])
    plan = _plan(df)
    assert "In(term" in plan or "EqualTo(term" in plan
    assert "PartitionFilters" in plan

"""opensearch_loader_spark — a from-scratch PySpark-native inverted-index
builder and BM25 query engine.

Capability parity target: CBIIT/opensearch-loader (reference snapshot at
/root/reference, read-only). The reference is a Memgraph→OpenSearch ETL that
delegates all search computation (analysis, inverted index, BM25 top-k) to
OpenSearch; this package implements both the loader-side dataflow operators
(scan/project/filter/upsert/merge — reference loader.py, opensearch_client.py)
and the delegated search-side operators natively on Spark:

- ``analysis``       tokenizer contract (shared by engine and oracle)
- ``functions``      varbyte/delta-gap codecs, BM25 math, text feature fns
- ``corpus``         deterministic synthetic Common-Crawl-style corpus
- ``indexer``        postings build: tokenize → skew-salted shuffle →
                     delta-gap+varbyte block packing with block-max metadata
- ``query_engine``   BM25 top-k: naive DataFrame scorer + vectorized TAAT
- ``operators``      dedup / similarity / update-merge / multimodal plumbing
- ``plans``          mapping parse + validation (reference loader.py:281-458)
- ``oracle``         pure-Python golden BM25 scorer (stand-in for OpenSearch)
- ``loader``         spec-driven multi-index orchestration + Config precedence
- ``streaming``      delta segments / Structured Streaming ingestion;
                     per-partition lineage + resumable builds live in
                     ``indexer`` (checkpoints/ directory per segment)
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128  # docs per posting block (block-max granularity)


def atomic_write_json(path: str, obj) -> None:
    """Write JSON via temp-file + rename so readers never observe a torn
    manifest (the reference's refresh-after-bulk visibility contract,
    opensearch_client.py:216,308 + loader.py:643,657: writes become visible
    in one atomic step). os.replace is atomic on POSIX within a filesystem;
    on a real deployment this role is played by an Iceberg snapshot commit."""
    import json
    import os

    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        # never leave a partially-written tmp file behind inside index /
        # segment directories (ADVICE r3) — the target path is untouched
        # either way (os.replace is the only mutation of it)
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise

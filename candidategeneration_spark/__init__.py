"""candidategeneration_spark — a from-scratch PySpark-native inverted-index
and BM25 top-k query engine with the query/data-processing capabilities of
the reference system aalto1/candidategeneration (a Java offline index
builder + C++ online query engine; see SURVEY.md).

This is NOT a port: the reference's hand-rolled buffers, external sorts and
k-way merges are replaced wholesale by the Spark shuffle; its byte-level
forward index by Parquet; its 4 OS threads by DataFrame partitioning. The
custom work lives in vectorized NumPy kernels (codec, BM25, top-k), one
columnar streaming segment encoder, and a thin resumability manifest
layer.

Modules
-------
indexcodec   delta + variable-byte codec and block-max block structure
tokenizer    tokenization contract (built-in-function path + Arrow UDF path)
bm25         exact reference BM25 arithmetic (quantized int scores)
build        postings / stats / segment build pipeline
queryengine  exact "flash fetch" top-k: block-max-pruned kernels, one loop
oracle       brute-force pure-Python oracle for rank-identity tests
quality      quality model, budgeted top layers, LM maps (SURVEY.md §2.9)
textops      dedup family (exact/minhash/simhash/jaccard), lang-id, quality
annops       embedding similarity search (brute-force + LSH)
mmops        multimodal binary-column plumbing (stubbed decoders)
relops       relational operator demos over the TPC-H-ish tables
checkpoints  resumable per-phase manifests
sources      corpus / WARC / JSONL / HITS CSV / LM readers, segment store
streaming    structured-streaming analogues (windowed aggs, sessionization)
"""

from .config import install_lazy_zip_invalidation

install_lazy_zip_invalidation()

__version__ = "0.1.0"

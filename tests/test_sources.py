"""Source connectors: gzip CSV round-trip + HITS aggregation (S6/A6)."""

import gzip
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candidategeneration_spark.relops import HITS_SCALE  # noqa: E402
from candidategeneration_spark.sources import hitscsv  # noqa: E402


def test_gzip_csv_hits_roundtrip(spark, tmp_path):
    p = tmp_path / "hits.csv.gz"
    rows = [(1, 10), (1, 4), (2, 7), (3, 1), (3, 1), (3, 1)]
    with gzip.open(p, "wt") as f:
        for d, h in rows:
            f.write(f"{d},{h}\n")
    df = hitscsv.read_hits_csv(spark, str(p))
    assert df.count() == len(rows)
    agg = {r["doc_id"]: r["hit_score"]
           for r in hitscsv.aggregate_hits(df).collect()}
    # doc 1: 10*w1 + 4*w2 ; w1 = HITS_SCALE (log2(1)+1 == 1)
    from candidategeneration_spark.relops import hits_weights
    w = dict(hits_weights())
    assert agg[1] == 10 * w[1] + 4 * w[2]
    assert agg[2] == 7 * HITS_SCALE
    assert agg[3] == 1 * w[1] + 1 * w[2] + 1 * w[3]
    # DCG property: equal counts at deeper ranks contribute less
    assert w[1] > w[2] > w[3]


def test_corpusio_doc_id_derivation(spark, tmp_path):
    from candidategeneration_spark.sources import corpusio
    path = str(tmp_path / "corpus.parquet")
    df = spark.createDataFrame(
        [("r1", "a.py", "c" * 40, "py", "def foo(): pass"),
         ("r1", "b.py", "c" * 40, "py", "def bar(): pass"),
         ("r2", "a.py", "d" * 40, "py", "def foo(): pass")],
        "repo string, path string, commit string, lang string, content string")
    df.write.mode("overwrite").parquet(path)
    docs = corpusio.read_corpus(spark, path)
    assert "doc_id" in docs.columns
    ids1 = sorted(r["doc_id"] for r in docs.collect())
    # deterministic across re-reads and partitioning
    ids2 = sorted(r["doc_id"] for r in
                  corpusio.read_corpus(spark, path).repartition(7).collect())
    assert ids1 == ids2 and len(set(ids1)) == 3
    assert corpusio.check_doc_id_unique(docs) == 0
    # passthrough when doc_id already present
    from pyspark.sql import functions as F
    with_id = df.withColumn("doc_id", F.lit(5))
    assert corpusio.with_doc_id(with_id) is with_id


def test_corpusio_catalog_table(spark):
    from candidategeneration_spark.sources import corpusio
    df = spark.createDataFrame(
        [("r1", "x.py", "e" * 40, "py", "import os")],
        "repo string, path string, commit string, lang string, content string")
    df.createOrReplaceTempView("code_files_tmp")
    docs = corpusio.read_corpus(spark, "code_files_tmp")
    assert docs.count() == 1 and "doc_id" in docs.columns


def test_parse_typed_arrays_t5(spark):
    """T5 — string→array parsers (WWW.java:441-470 parity): ints, longs,
    doubles; malformed elements → NULL in place; empty string → []."""
    from pyspark.sql import functions as F
    from candidategeneration_spark import textops as T
    df = spark.createDataFrame(
        [("1,2,3", "9007199254740993, -4", "1.5, 2, nope", ""),
         (" 7 ", "", "-0.25", "x,8")],
        "si string, sl string, sd string, se string")
    r = df.select(T.parse_int_array(F.col("si")).alias("ai"),
                  T.parse_long_array(F.col("sl")).alias("al"),
                  T.parse_double_array(F.col("sd")).alias("ad"),
                  T.parse_int_array(F.col("se")).alias("ae")).collect()
    assert r[0]["ai"] == [1, 2, 3]
    assert r[0]["al"] == [9007199254740993, -4]
    assert r[0]["ad"] == [1.5, 2.0, None]
    assert r[0]["ae"] == []
    assert r[1]["ai"] == [7]
    assert r[1]["al"] == []
    assert r[1]["ad"] == [-0.25]
    assert r[1]["ae"] == [None, 8]


def _mini_warc() -> bytes:
    """Three-record WARC/0.18 sample shaped like ClueWeb09: warcinfo,
    a response with HTTP headers + messy HTML, and a non-response record
    that must be skipped."""
    def rec(rtype, extra, body: bytes) -> bytes:
        hdr = (f"WARC/0.18\r\nWARC-Type: {rtype}\r\n"
               + "".join(f"{k}: {v}\r\n" for k, v in extra)
               + f"Content-Length: {len(body)}\r\n\r\n").encode()
        return hdr + body + b"\r\n\r\n"
    html = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><head><style>p{color:red}</style>"
            b"<script>var x=1;</script></head>"
            b"<body><!-- hidden --><p>Fast &amp; simple</p>"
            b"<div>key  value</div></body></html>")
    return (rec("warcinfo", [("WARC-Record-ID", "<urn:uuid:0>")],
                b"software: test\r\n")
            + rec("response", [("WARC-TREC-ID", "clueweb09-en0000-00-00001"),
                               ("WARC-Target-URI", "http://example.com/a")],
                  html)
            + rec("request", [("WARC-Record-ID", "<urn:uuid:2>")],
                  b"GET / HTTP/1.1\r\n"))


def test_warc_ingestion_s5(spark, tmp_path):
    """S5 — WARC/HTML ingestion (ReadWarcSample.java:14-39 pipeline):
    gzipped WARC -> response records only -> TREC id + URI + stripped
    text."""
    import gzip as _gz
    from candidategeneration_spark.sources import warc
    raw = _mini_warc()
    (tmp_path / "00.warc.gz").write_bytes(_gz.compress(raw))
    (tmp_path / "01.warc").write_bytes(raw)   # same content, uncompressed
    rows = warc.read_warc(spark, str(tmp_path)).collect()
    assert len(rows) == 2  # one response per file; other types skipped
    for r in rows:
        assert r["doc_id"] == "clueweb09-en0000-00-00001"
        assert r["uri"] == "http://example.com/a"
        assert r["text"] == "Fast & simple key value"


def test_warc_gate_wrap_token_exact_with_apostrophes(spark):
    """The WARC-gate HTML wrap must round-trip token-exactly for ANY
    corpus text: html.escape's default turns apostrophes into &#x27;,
    which leaked a spurious 'x27' token through html_to_text (its entity
    table only decoded &#39;). The gate escapes with quote=False AND the
    entity table now decodes both forms — assert tokenize(decode(wrap(t)))
    == tokenize(t) on apostrophe/quote/entity-heavy text."""
    import html as _html
    from pyspark.sql import functions as F
    from candidategeneration_spark.sources.warc import html_to_text
    from candidategeneration_spark.tokenizer import tokens_col
    texts = [
        "don't stop the sort's merge",
        'say "hash join" & <merge> twice',
        "literal entity soup &#39; and &#x27; and &amp; here",
        "plain words no punctuation",
    ]
    wrapped = [
        "<html><head><script>var bait = 'x';</script></head>"
        f"<body><!-- c --><p>{_html.escape(t, quote=False)}</p></body></html>"
        for t in texts]
    df = spark.createDataFrame(list(zip(texts, wrapped)), "raw string, html string")
    rows = df.select(tokens_col(F.col("raw")).alias("want"),
                     tokens_col(html_to_text(F.col("html"))).alias("got")
                     ).collect()
    for r in rows:
        assert list(r["got"]) == list(r["want"]), (r["got"], r["want"])


def test_warc_record_framing_content_length_exact():
    """Framing must be Content-Length-driven: a body containing the
    'WARC/' marker must not split the record."""
    from candidategeneration_spark.sources.warc import iter_warc_records
    body = b"sneaky WARC/0.18 inside body"
    data = (f"WARC/0.18\nWARC-Type: response\n"
            f"Content-Length: {len(body)}\n\n").encode() + body + \
        b"\n\nWARC/0.18\nWARC-Type: request\nContent-Length: 2\n\nok"
    recs = list(iter_warc_records(data))
    assert len(recs) == 2
    assert recs[0][1] == body
    assert recs[1][0]["WARC-Type"] == "request"


# ---------------------------------------------------------------------------
# JSONL source (LLM-data interchange format)
# ---------------------------------------------------------------------------

def test_jsonl_roundtrip_and_field_mapping(spark, tmp_path):
    """Mixed-spelling shards parse to (doc_id, text); gz round-trip is
    identical; rows without text drop; missing ids hash from text."""
    import gzip
    import json
    from candidategeneration_spark.sources import jsonl

    d = tmp_path / "shards"
    d.mkdir()
    rows = [
        {"doc_id": 1, "text": "alpha body"},
        {"id": "2", "content": "beta body"},          # alt spellings
        {"document_id": 3, "raw_content": "gamma body"},
        {"text": "no id at all"},                     # hashed id
        {"doc_id": 9},                                # no text -> dropped
    ]
    with gzip.open(d / "part0.jsonl.gz", "wt") as f:
        for r in rows[:3]:
            f.write(json.dumps(r) + "\n")
    with open(d / "part1.jsonl", "w") as f:
        for r in rows[3:]:
            f.write(json.dumps(r) + "\n")

    got = {r["text"]: r["doc_id"]
           for r in jsonl.read_docs_jsonl(spark, str(d)).collect()}
    assert got["alpha body"] == 1
    assert got["beta body"] == 2
    assert got["gamma body"] == 3
    assert "no id at all" in got and got["no id at all"] is not None
    assert len(got) == 4  # the text-less row dropped

    out = tmp_path / "rt"
    docs = jsonl.read_docs_jsonl(spark, str(d))
    jsonl.write_docs_jsonl(docs, str(out))
    back = {r["text"]: r["doc_id"]
            for r in jsonl.read_docs_jsonl(spark, str(out)).collect()}
    assert back == got


def test_segment_store_roundtrip_serves_rank_identical(spark, docs_sf001,
                                                       tmp_path):
    """VERDICT r4 #8 — the persisted term-bucketed store must serve
    byte-identical results to the in-memory segments: build → save →
    reload (full AND partition-pruned per-term load) → Block-Max WAND,
    asserting identical (qid, rank, doc_id, score_q) rows. Proves the
    stored format round-trips rank-identity, not just row counts."""
    from candidategeneration_spark.build import build_index
    from candidategeneration_spark.queryengine import wand_topk
    from candidategeneration_spark.sources import segmentstore as S

    segments, _ = build_index(docs_sf001, dbigram_distance=None)
    segments = segments.cache()
    queries = [(0, ["fast", "key"]), (1, ["order", "sort", "merge"]),
               (2, ["dup", "stream"]), (3, ["zzznotaterm"])]
    qdf = spark.createDataFrame(queries, "qid long, terms array<string>")

    def rows_of(seg):
        return sorted((r["qid"], r["rank"], r["doc_id"], r["score_q"])
                      for r in wand_topk(seg, qdf, k=10).collect())

    want = rows_of(segments)
    assert want

    path = str(tmp_path / "segstore")
    S.save_segments(segments, path, n_buckets=8)
    got_full = rows_of(S.load_segments(spark, path).drop("bucket"))
    assert got_full == want

    # pruned load: every query term, one store read
    terms = sorted({t for _, ts in queries for t in ts})
    pruned = S.load_segments_for_terms(spark, path, terms, n_buckets=8) \
              .drop("bucket")
    got_pruned = rows_of(pruned)
    assert got_pruned == want


def test_term_buckets_jvm_only_and_match_python_rdd_scan(spark):
    """The bucket lookup of the pruned load is a JVM-only literal plan
    (no Python-RDD scan, so no package-less Python workers) and computes
    the same bucket set as the createDataFrame(list) scan it replaced."""
    from pyspark.sql import functions as F
    from candidategeneration_spark.sources import segmentstore as S

    def python_rdd_scan(terms, n):
        return {r["b"] for r in
                spark.createDataFrame([(t,) for t in terms], "term string")
                .select(S.bucket_of(F.col("term"), n).alias("b"))
                .distinct().collect()}

    def python_scan_free(df):
        qe = df._jdf.queryExecution()
        return ("LogicalRDD" not in qe.analyzed().toString()
                and "ExistingRDD" not in qe.executedPlan().toString())

    assert not python_scan_free(
        spark.createDataFrame([("t",)], "term string"))  # the probe works
    cases = [["fast", "key", "fast"], ["a\x1fb", "naïve", "", "x" * 300],
             [f"t{i}" for i in range(200)]]
    for terms in cases:
        for n in (1, 8, 64):
            got = S.term_buckets(spark, terms, n)
            assert python_scan_free(got)
            assert {r["b"] for r in got.collect()} == \
                python_rdd_scan(terms, n), (terms, n)
    empty = S.term_buckets(spark, [], 8)
    assert python_scan_free(empty)
    assert empty.collect() == []


def test_store_loads_run_no_job_before_their_action(spark, docs_sf001,
                                                    tmp_path):
    """Both store loads are planned with no Spark job (no Parquet schema
    inference, no bucket lookup) and return the rows of the inferred
    read; an empty store directory gives no rows."""
    from pyspark.sql import functions as F
    from candidategeneration_spark.build import build_index
    from candidategeneration_spark.sources import segmentstore as S

    segments, _ = build_index(docs_sf001.limit(40), dbigram_distance=None)
    path = str(tmp_path / "segstore")
    S.save_segments(segments, path, n_buckets=8)
    inferred = spark.read.parquet(path)
    terms = sorted(r["term"] for r in inferred.select("term").limit(5)
                   .collect()) + ["zzznotaterm"]

    sc = spark.sparkContext
    group = "store-load-no-job"
    sc.setJobGroup(group, "store loads, no action")
    try:
        full = S.load_segments(spark, path)
        pruned = S.load_segments_for_terms(spark, path, terms, n_buckets=8)
        none = S.load_segments_for_terms(spark, path, [], n_buckets=8)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert full.schema == inferred.schema
    assert rows(full) == rows(inferred)
    # the folded bucket literals prune partitions like the lookup plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    folded = re.search(r"PartitionFilters: \[.*?bucket#\d+ IN \(([\d,]+)\)",
                       plan)
    assert folded, plan
    assert {int(b) for b in folded.group(1).split(",")} == \
        {r["b"] for r in S.term_buckets(spark, terms, 8).collect()}
    assert rows(pruned) == rows(inferred.where(F.col("term").isin(terms)))
    assert len(rows(pruned)) == len(terms) - 1
    assert none.collect() == []

    empty = tmp_path / "empty"
    empty.mkdir()
    assert S.load_segments(spark, str(empty)).collect() == []

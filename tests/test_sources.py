"""Source connectors: gzip CSV round-trip + HITS aggregation (S6/A6)."""

import gzip
import os
import re
import sys

import pytest

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


def test_term_bucket_matches_spark_xxhash64(spark):
    """The driver-side XXH64 of the pruned load equals Spark's
    ``xxhash64`` and its bucket equals :func:`bucket_of`, on strings of
    0-80 characters with non-ASCII, astral, NUL and ``\\x1f``
    characters, at 1, 8, 16 and 64 buckets."""
    import random
    from pyspark.sql import functions as F
    from candidategeneration_spark.sources import segmentstore as S

    rng = random.Random(14)
    alphabet = "az09_'\\${} \x00\x1féß€中😀\U0010fffd"
    strings = ["", "fast", "\x1f", "naïve", "x" * 300] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        for _ in range(1200)]
    cols = [F.xxhash64("t").alias("h")] + [
        S.bucket_of(F.col("t"), n).alias(f"b{n}") for n in (1, 8, 16, 64)]
    rows = spark.createDataFrame([(s,) for s in strings], "t string") \
                .select("t", *cols).collect()
    assert len(rows) == len(strings)
    for r in rows:
        assert S.xxhash64(r["t"].encode("utf-8")) == r["h"], r["t"]
        for n in (1, 8, 16, 64):
            assert S.term_bucket(r["t"], n) == r[f"b{n}"], (r["t"], n)


def test_store_loads_run_no_job_before_their_action(spark, docs_sf001,
                                                    tmp_path):
    """Both store loads are planned with no Spark job (no Parquet schema
    inference, no bucket lookup, no partition-listing job at the default
    64 buckets) and return the rows of the inferred read; an empty store
    directory gives no rows."""
    from pyspark.sql import functions as F
    from candidategeneration_spark.build import build_index
    from candidategeneration_spark.sources import segmentstore as S

    segments, _ = build_index(docs_sf001.limit(40), dbigram_distance=None)
    # placeholder rows so that the 64-bucket store has more bucket
    # directories than Spark lists without a job (32)
    filler = _placeholder_segments(spark, [f"filler{i}" for i in range(400)])
    segments = segments.unionByName(filler).cache()
    sc = spark.sparkContext
    for n in (8, 64):
        path = str(tmp_path / f"segstore{n}")
        S.save_segments(segments, path, n_buckets=n)
        assert len([d for d in os.listdir(path)
                    if d.startswith("bucket=")]) == n
        inferred = spark.read.parquet(path)
        terms = sorted(r["term"] for r in inferred.select("term").limit(5)
                       .collect()) + ["zzznotaterm"]

        group = f"store-load-no-job-{n}"
        sc.setJobGroup(group, "store loads, no action")
        try:
            full = S.load_segments(spark, path) if n == 8 else None
            pruned = S.load_segments_for_terms(spark, path, terms,
                                               n_buckets=n)
            none = S.load_segments_for_terms(spark, path, [], n_buckets=n)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        if full is not None:
            assert full.schema == inferred.schema
            assert rows(full) == rows(inferred)
        assert pruned.schema == inferred.schema
        # the bucket literals prune partitions like Spark's own bucket_of
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        folded = re.search(
            r"PartitionFilters: \[.*?bucket#\d+ IN \(([\d,]+)\)", plan)
        assert folded, plan
        want = spark.createDataFrame([(t,) for t in terms], "term string") \
                    .select(S.bucket_of(F.col("term"), n).alias("b"))
        assert {int(b) for b in folded.group(1).split(",")} == \
            {r["b"] for r in want.collect()}
        assert rows(pruned) == rows(inferred.where(F.col("term").isin(terms)))
        assert len(rows(pruned)) == len(terms) - 1
        assert none.collect() == []
    segments.unpersist()

    empty = tmp_path / "empty"
    empty.mkdir()
    assert S.load_segments(spark, str(empty)).collect() == []


def _placeholder_segments(spark, terms):
    """One empty segment row per term (only the terms matter to loads)."""
    from candidategeneration_spark.build import SEGMENT_SCHEMA
    rows = [(t, 1, 0, b"", b"", b"", [], [], [], [], [], []) for t in terms]
    return spark.createDataFrame(rows, SEGMENT_SCHEMA)


def _fake_store(spark, path, terms, n_buckets):
    """A store of :func:`_placeholder_segments` rows."""
    from candidategeneration_spark.sources import segmentstore as S
    segs = _placeholder_segments(spark, terms)
    S.save_segments(segs, path, n_buckets=n_buckets)
    return segs


def _hostile_terms(n: int, seed: int) -> list[str]:
    import random
    rng = random.Random(seed)
    alphabet = ["a", "Z", "7", "_", "'", "\\", "$", "{", "}", "${x}",
                "\x00", "\x1f", " ", ",", ")", "é", "中", "😀",
                "\U0001f9ea", "\\u0041", "\\'", "''"]
    out = {"", "'", "\\", "${x}", "${spark.app.name}", "\x00", "\x1f",
           "😀", "\\u0041", "A", "' OR 'a' = 'a"}
    while len(out) < n:
        out.add("".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 12))))
    return sorted(out)


def test_one_predicate_filters_match_isin_on_hostile_terms(spark, tmp_path):
    """The SQL-string term filters of the pruned load and of
    ``prepare_index`` return exactly what ``Column.isin`` returns, for
    terms with quotes, backslashes, ``${...}``, NUL, ``\\x1f`` and astral
    characters (half of the asked terms are in the store)."""
    from pyspark.sql import functions as F
    from candidategeneration_spark import queryengine as Q
    from candidategeneration_spark.sources import segmentstore as S

    terms = _hostile_terms(320, seed=1)
    stored, asked = terms[::2], terms
    path = str(tmp_path / "hostile")
    segs = _fake_store(spark, path, stored, n_buckets=8)
    want = {r["term"] for r in segs.where(F.col("term").isin(asked))
            .select("term").collect()}
    assert len(want) == len(stored)
    got = {r["term"] for r in S.load_segments_for_terms(
        spark, path, asked, n_buckets=8).select("term").collect()}
    assert got == want
    prep = Q.prepare_index(segs, asked)
    try:
        assert {t for t, _ in prep.bc.value} == want
    finally:
        prep.bc.destroy()


def test_pruned_load_skips_buckets_without_directory(spark, tmp_path):
    """A pruned load reads the directories of the terms' buckets that
    exist, also when one of its two globs matches none; when none exists
    it gives no rows; a missing store raises."""
    from pyspark.errors import AnalysisException
    from candidategeneration_spark.sources import segmentstore as S

    n = 64
    stored = ["alpha", "beta", "gamma"]
    path = str(tmp_path / "sparse")
    _fake_store(spark, path, stored, n_buckets=n)
    present = {S.term_bucket(t, n) for t in stored}
    absent = [t for t in (f"absent{i}" for i in range(200))
              if S.term_bucket(t, n) not in present]
    assert len(absent) > 2

    def terms_of(df):
        return sorted(r["term"] for r in df.select("term").collect())

    # two absent buckets on one side of beta's: one glob matches nothing
    beta = S.term_bucket("beta", n)
    below = {S.term_bucket(t, n): t for t in absent
             if S.term_bucket(t, n) < beta}
    above = {S.term_bucket(t, n): t for t in absent
             if S.term_bucket(t, n) > beta}
    side = list((below if len(below) >= 2 else above).values())[:2]
    mixed = S.load_segments_for_terms(spark, path, ["beta", *side], n)
    assert terms_of(mixed) == ["beta"]
    assert {os.path.basename(os.path.dirname(f))
            for f in mixed.inputFiles()} == {f"bucket={beta}"}
    none = S.load_segments_for_terms(spark, path, absent[:3], n)
    assert terms_of(none) == []
    with pytest.raises(AnalysisException):
        S.load_segments_for_terms(spark, str(tmp_path / "nostore"),
                                  ["alpha"], n)


def test_pruned_load_logs_no_metadata_probe_stack(spark, tmp_path):
    """A pruned load's read paths are one literal bucket directory or
    two globs, so Spark's ``FileStreamSink`` does not probe a glob as a
    directory and log a WARN ``FileNotFoundException`` stack, as it does
    for one ``bucket={...}`` glob."""
    from candidategeneration_spark.sources import segmentstore as S

    n = 64
    stored = [f"t{i}" for i in range(40)]
    path = str(tmp_path / "probe")
    _fake_store(spark, path, stored, n_buckets=n)
    log4j = spark._jvm.org.apache.logging.log4j
    sink = log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
    writer = spark._jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(), None, writer,
        "probe-capture", False, True)
    appender.start()
    sink.setLevel(log4j.Level.WARN)
    sink.addAppender(appender)

    def logged(load):
        writer.getBuffer().setLength(0)
        load().count()
        return writer.toString()

    try:
        buckets = sorted({S.term_bucket(t, n) for t in stored})
        assert "FileNotFoundException" in logged(
            lambda: spark.read.schema(S.STORE_SCHEMA)
            .option("basePath", path)
            .parquet(f"{path}/bucket={{{buckets[0]},{buckets[1]}}}"))
        for k in (1, 2, 3, 40):
            assert logged(lambda: S.load_segments_for_terms(
                spark, path, stored[:k], n)) == "", k
    finally:
        sink.removeAppender(appender)
        sink.setLevel(None)
        appender.stop()


def test_store_and_prepare_plans_cost_constant_py4j_calls(
        spark, tmp_path, py4j_calls):
    """Planning a pruned load, and ``prepare_index(terms)``, makes about
    as many py4j round trips for 500 terms as for 2: their term filters
    are one SQL string, not a Column per term."""
    from candidategeneration_spark import queryengine as Q
    from candidategeneration_spark.sources import segmentstore as S

    terms = [f"t{i:04d}" for i in range(600)]
    path = str(tmp_path / "calls")
    segs = _fake_store(spark, path, terms, n_buckets=8).cache()
    segs.count()

    def calls(f):
        with py4j_calls:
            out = f()
        if isinstance(out, Q.PreparedIndex):
            out.bc.destroy()
        return py4j_calls.n

    for plan in (lambda ts: S.load_segments_for_terms(spark, path, ts, 8),
                 lambda ts: Q.prepare_index(segs, ts)):
        plan(terms[:2])  # warm: first-call imports and JVM class lookups
        few = min(calls(lambda: plan(terms[:2])) for _ in range(2))
        many = min(calls(lambda: plan(terms[:500])) for _ in range(2))
        assert many - few <= 5, (few, many)
    segs.unpersist()

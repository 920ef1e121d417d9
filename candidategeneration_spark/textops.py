"""Training-data text operations over a document corpus.

Beyond-reference capabilities a 100 TB training-data pipeline needs
(task brief): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
language ID, quality scoring, token counting, document fingerprinting.

Design rules:
- Everything is expressed in relational DataFrame ops + integer arithmetic
  so a DuckDB oracle can reproduce results bit-for-bit (no floats anywhere
  except ratios, which are quantized with truncation).
- Token IDs for the hash families are DENSE ids from a dictionary
  (row_number over sorted distinct terms). At 100 TB you build the same
  dictionary once per corpus snapshot (sort + zipWithIndex) and broadcast /
  hash-join it — the window below is the small-scale stand-in.
- MinHash/SimHash are pure column math (no UDF): the 16× / 32× row blowup
  stays JVM-side inside whole-stage codegen and shuffles only per-doc
  aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .tokenizer import tokens_col

# hash family constants — shared verbatim with the SQL oracles
MH_PRIME = 2147483647          # 2^31 - 1
MH_MULT = 2654435761           # Knuth multiplicative constant
MH_NPERM = 16                  # permutations
MH_BAND_ROWS = 2               # rows per LSH band → 8 bands
SH_BITS = 32                   # simhash bits
STOPWORDS_EN = ["the", "and", "of", "to", "in", "is", "it", "on"]
NGRAM_N = 3


def doc_tokens(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) + per-doc positions preserved in arrays upstream."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens_col(F.col(text_col)).alias("toks"))
    return (toks.select("doc_id", F.explode("toks").alias("term"))
                .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))


def clean_query_trace(raw: DataFrame, dictionary: DataFrame,
                      missing_qids: DataFrame | None = None,
                      stopwords=None) -> DataFrame:
    """Q1 — query-trace cleaning (``convertANDcleanQueryTrace``,
    ``Metadata.java:191-225``): tokenize a raw query trace with the
    index's tokenizer contract, drop queries with no ground truth
    (``missing_qids``), encode the surviving terms through the term
    dictionary — out-of-vocabulary terms (stopwords were never indexed,
    typos never occur in the corpus) silently drop out, exactly like the
    reference's ``term2IdMap.get(term) == null`` branch — and remove
    queries left empty (the reference's "stopword queries removed").

    ``raw``: (qid, text) — the raw trace. ``dictionary``: (term, tid).
    Returns (qid, pos, term, tid): one row per KEPT term occurrence,
    ``pos`` = 0-based position within the cleaned query (the reference
    writes kept terms contiguously, preserving their original order).

    Scale shape: the trace is tiny next to the dictionary, so the trace
    side broadcasts into the encode join — the 10^12-term dictionary
    never moves. The per-qid position window partitions on qid (queries
    are bounded-length, no skew possible).
    """
    toks = raw.select(
        F.col("qid").cast("long").alias("qid"),
        F.posexplode(tokens_col(F.col("text"), stopwords))
         .alias("pos0", "term"))
    if missing_qids is not None:
        toks = toks.join(F.broadcast(missing_qids.select("qid")),
                         "qid", "left_anti")
    enc = dictionary.join(F.broadcast(toks), "term")
    w = Window.partitionBy("qid").orderBy("pos0")
    return enc.select("qid", (F.row_number().over(w) - 1)
                      .cast("long").alias("pos"), "term", "tid")


def term_dictionary(doc_tf: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(term, tid) dense 1-based ids, deterministic (ordered by term).

    DISTRIBUTED id assignment (round-2 fix): round 1 used
    ``row_number().over(Window.orderBy("term"))`` — a global window with no
    partition key, i.e. one task sorts the entire vocabulary (billions of
    unique identifiers at 10^12-file scale). Now: ``repartitionByRange``
    on term + per-partition sort + a two-job zipWithIndex — job 1 counts
    rows per range partition (tiny: one long per partition), the driver
    prefix-sums the offsets, job 2 tags each row with offset + local rank
    via ``mapInPandas``. Range partitions are ordered by term, so the
    result is exactly the global dense rank by term — byte-identical to
    the window version and to the DuckDB oracle — while every partition
    sorts only its own slice. The repartitioned frame is eagerly
    ``localCheckpoint``-ed so both jobs see the same sampled range
    boundaries — and, unlike a bare ``persist()``, the blocks are
    garbage-collected with the DataFrame instead of pinning a vocab-sized
    cache entry per call in a long-lived session (the gate-loop leak
    class). The trade is lineage truncation: on a real cluster swap for a
    reliable checkpoint via checkpoints.py when executor loss must be
    survivable.
    """
    import numpy as np

    spark = doc_tf.sparkSession
    terms = doc_tf.select("term").distinct()
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    part = terms.repartitionByRange(num_partitions, "term") \
                .sortWithinPartitions("term").localCheckpoint(eager=True)
    counts = {int(r["pid"]): int(r["n"]) for r in
              part.groupBy(F.spark_partition_id().alias("pid"))
                  .agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)

    def tag(batches):
        from pyspark import TaskContext
        base = bc.value.get(TaskContext.get().partitionId(), 0)
        seen = 0
        for pdf in batches:
            n = len(pdf)
            out = pdf.copy()
            out["tid"] = np.arange(base + seen + 1, base + seen + n + 1,
                                   dtype=np.int64)
            seen += n
            yield out

    return part.mapInPandas(tag, schema="term string, tid long")


def with_tids(doc_tf: DataFrame) -> DataFrame:
    return doc_tf.join(term_dictionary(doc_tf), "term")


# ---------------------------------------------------------------------------
# Dedup 1: exact (hash groupBy)
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, canonical_doc_id, group_size).

    canonical = min doc_id of the identical-content group; at scale this is
    one hash-partitioned groupBy on md5 (no window needed: join back on the
    aggregated group table, which Spark broadcast-joins when small)."""
    h = docs.select("doc_id", F.md5("text").alias("content_hash"))
    groups = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"))
    return h.join(groups, "content_hash") \
            .select("doc_id", "content_hash", "canonical_doc_id",
                    F.col("group_size").cast("long").alias("group_size"))


# ---------------------------------------------------------------------------
# Dedup 2: MinHash signatures + banded LSH
# ---------------------------------------------------------------------------

def _perms(spark) -> DataFrame:
    """perm table: (perm, a, b) with a=(2p+1)*MULT % P, b=(p*40503+12345)%P."""
    return spark.range(MH_NPERM).select(
        F.col("id").alias("perm"),
        (((F.col("id") * 2 + 1) * F.lit(MH_MULT)) % MH_PRIME).alias("a"),
        ((F.col("id") * 40503 + 12345) % MH_PRIME).alias("b"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, perm, minhash): min over the doc's distinct token ids of
    (a*tid + b) % P. Pure column math; the 16× blowup is map-side only."""
    dt = with_tids(doc_tokens(docs)).select("doc_id", "tid").distinct()
    perms = _perms(docs.sparkSession)
    return (dt.crossJoin(F.broadcast(perms))
              .groupBy("doc_id", "perm")
              .agg(F.min((F.col("a") * F.col("tid") + F.col("b"))
                         % MH_PRIME).alias("minhash"))
              .select("doc_id", F.col("perm").cast("long").alias("perm"),
                      F.col("minhash").cast("long").alias("minhash")))


def lsh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): bands of MH_BAND_ROWS rows packed into one
    exact int64 (mh_even * 2^31 + mh_odd — both < 2^31)."""
    sig = minhash_signatures(docs)
    return (sig.withColumn("band", (F.col("perm") / MH_BAND_ROWS)
                           .cast("long"))
               .withColumn("w", F.when(F.col("perm") % 2 == 0,
                                       F.lit(2147483648)).otherwise(F.lit(1)))
               .groupBy("doc_id", "band")
               .agg(F.sum(F.col("minhash") * F.col("w")).alias("band_key")))


# Measured scale-cap defaults (BENCH/CAPS.md: skewed boilerplate corpus,
# caps bound join fan-out with no loss on the organic near-dup pairs).
# A bucket of n docs emits n^2/2 pairs — 256 caps any one bucket at ~32k
# pairs; a gram in >128 docs contributes >8k join rows while carrying no
# discriminative signal (license boilerplate).
SCALE_LSH_MAX_BUCKET = 256
SCALE_GRAM_DF_CAP = 128


def doc_band_keys(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  carry_cols: tuple = ()) -> DataFrame:
    """(doc_id, band, band_key) — the LSH band signature computed from
    HASHED terms (``pmod(xxhash64(term), P)``) instead of dictionary tids.

    Same band/packing layout as :func:`lsh_bands` (MH_NPERM perms, pairs
    packed as mh_even·2³¹ + mh_odd) but 100% stateless column math over
    the token array: no dictionary, no aggregation, no UDF — so it runs
    UNCHANGED on a Structured Streaming frame (a corpus-global dictionary
    cannot exist incrementally; hashing the term is the standard online
    MinHash posture). Batch twin for parity tests + the dictionary-free
    deployment mode; token-less docs emit no rows (as in lsh_bands).
    """
    tids = F.array_distinct(F.transform(
        tokens_col(F.col(text_col)),
        lambda t: F.pmod(F.xxhash64(t), F.lit(MH_PRIME))))
    # carry_cols: pass-through columns (e.g. the event-time column the
    # streaming TTL path expires state on) — kept out of the band math
    d = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                    tids.alias("__tids"), *[F.col(c) for c in carry_cols]) \
            .where(F.size("__tids") > 0)
    def perm_min(a: int, b: int):
        # factory: F.transform introspects the lambda's arity, so the
        # (a, b) constants must be CLOSED OVER, not default parameters
        return F.array_min(F.transform(
            F.col("__tids"),
            lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MH_PRIME)))

    mhs = []
    for p in range(MH_NPERM):
        mhs.append(perm_min(((2 * p + 1) * MH_MULT) % MH_PRIME,
                            (p * 40503 + 12345) % MH_PRIME))
    bands = [F.struct(
        F.lit(bi).cast("long").alias("band"),
        (mhs[MH_BAND_ROWS * bi] * F.lit(2147483648)
         + mhs[MH_BAND_ROWS * bi + 1]).cast("long").alias("band_key"))
        for bi in range(MH_NPERM // MH_BAND_ROWS)]
    return (d.select("doc_id", F.explode(F.array(*bands)).alias("bk"),
                     *[F.col(c) for c in carry_cols])
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key"),
                    *[F.col(c) for c in carry_cols]))


def _pairs_from_bands(b: DataFrame,
                      max_bucket_size: int | None) -> DataFrame:
    """Band-bucket self-join → distinct (doc_a < doc_b) candidate pairs,
    with the optional hot-bucket cap (buckets above the cap dropped)."""
    if max_bucket_size is not None:
        ok = (b.groupBy("band", "band_key")
               .agg(F.count("*").alias("__n"))
               .where(F.col("__n") <= max_bucket_size)
               .select("band", "band_key"))
        b = b.join(ok, ["band", "band_key"])
    b2 = b.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (b.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
             .join(b2, ["band", "band_key"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())


def lsh_candidate_pairs_hashed(docs: DataFrame,
                               max_bucket_size: int | None = None,
                               scale: bool = False) -> DataFrame:
    """Batch candidate pairs over the HASHED-term band family
    (:func:`doc_band_keys`) — the dictionary-free twin of
    :func:`lsh_candidate_pairs`, and the exact batch reference for the
    streaming path (streaming/dedup.lsh_pairs_stream)."""
    if scale and max_bucket_size is None:
        max_bucket_size = SCALE_LSH_MAX_BUCKET
    return _pairs_from_bands(doc_band_keys(docs), max_bucket_size)


def lsh_candidate_pairs(docs: DataFrame,
                        max_bucket_size: int | None = None,
                        scale: bool = False) -> DataFrame:
    """(doc_a, doc_b) distinct pairs sharing at least one LSH band bucket.

    The band self-join is the scale path: equi-join on (band, band_key)
    hash-partitions perfectly. ``max_bucket_size`` is the hot-bucket guard
    (round-2): a bucket with n docs emits n² candidate pairs, so one
    boilerplate bucket (empty files, license headers) can dominate the
    whole join at corpus scale. Buckets larger than the cap are DROPPED —
    the standard LSH posture: members of a giant bucket are near-dups of a
    huge cluster that exact dedup already collapses more cheaply, and each
    doc still meets its neighbors through its other (MH_NPERM/MH_BAND_ROWS
    - 1) bands. Default None = no cap (oracle-parity mode).

    ``scale=True``: the 100 TB preset — applies the measured default cap
    (SCALE_LSH_MAX_BUCKET) unless an explicit ``max_bucket_size`` is
    given. Oracle parity holds only with the default (exact) mode."""
    if scale and max_bucket_size is None:
        max_bucket_size = SCALE_LSH_MAX_BUCKET
    return _pairs_from_bands(lsh_bands(docs), max_bucket_size)


# ---------------------------------------------------------------------------
# Dedup 3: SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): SH_BITS-bit tf-weighted hyperplane signature.

    bit_j(tid) = ((tid * a_j + b_j) % P) % 2; doc bit j set iff
    sum(tf * (2*bit-1)) > 0. All int64 column math."""
    dt = with_tids(doc_tokens(docs))
    bits = docs.sparkSession.range(SH_BITS).select(
        F.col("id").alias("bit"),
        (((F.col("id") * 2 + 1) * F.lit(MH_MULT)) % MH_PRIME).alias("a"),
        ((F.col("id") * 48271 + 7919) % MH_PRIME).alias("b"))
    signed = (dt.crossJoin(F.broadcast(bits))
                .withColumn("sgn",
                            ((F.col("tid") * F.col("a") + F.col("b"))
                             % MH_PRIME % 2 * 2 - 1))
                .groupBy("doc_id", "bit")
                .agg(F.sum(F.col("tf") * F.col("sgn")).alias("w")))
    return (signed.groupBy("doc_id")
            .agg(F.sum(F.when(F.col("w") > 0,
                              F.expr("shiftleft(1L, cast(bit as int))"))
                       .otherwise(F.lit(0))).alias("simhash")))


# ---------------------------------------------------------------------------
# Dedup 4: word n-gram Jaccard
# ---------------------------------------------------------------------------

def _doc_ngrams(docs: DataFrame) -> DataFrame:
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(0, size(toks) - {NGRAM_N}),"
            " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
        )).alias("gram"))
    return grams.where(F.col("gram").isNotNull()).distinct()


def ngram_jaccard_pairs(docs: DataFrame, min_jacc_q: int = 100_000,
                        gram_df_cap: int | None = None,
                        scale: bool = False) -> DataFrame:
    """(doc_a, doc_b, inter, uni, jacc_q): exact word-3-gram Jaccard over
    pairs sharing >=1 gram; jacc_q = trunc(1e6 * inter / union).

    Scale path: the gram equi-join is the candidate generator (docs sharing
    no gram never meet). ``gram_df_cap`` (round-2) drops grams appearing in
    more than cap docs BEFORE the self-join — an ultra-common gram (license
    boilerplate, ``def __init__ self``) contributes df² join rows while
    carrying no discriminative signal. Capping makes inter/jacc a LOWER
    bound (doc gram-set sizes still count every gram, so union is exact) —
    the conservative direction for a dedup filter. Default None = exact
    (oracle-parity mode).

    ``scale=True``: the 100 TB preset — applies the measured default cap
    (SCALE_GRAM_DF_CAP) unless an explicit ``gram_df_cap`` is given."""
    if scale and gram_df_cap is None:
        gram_df_cap = SCALE_GRAM_DF_CAP
    g = _doc_ngrams(docs)
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    if gram_df_cap is not None:
        keep = (g.groupBy("gram").agg(F.count("*").alias("__gdf"))
                 .where(F.col("__gdf") <= gram_df_cap).select("gram"))
        g = g.join(keep, "gram")
    ga = g.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = g.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (ga.join(gb, "gram").where(F.col("doc_a") < F.col("doc_b"))
               .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (inter.join(na, "doc_a").join(nb, "doc_b")
           .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
           .withColumn("jacc_q",
                       F.floor(F.lit(1_000_000) * F.col("inter")
                               / F.col("uni")).cast("long")))
    return (out.where(F.col("jacc_q") >= min_jacc_q)
               .select("doc_a", "doc_b", F.col("inter").cast("long").alias("inter"),
                       F.col("uni").cast("long").alias("uni"), "jacc_q"))


# ---------------------------------------------------------------------------
# Text analysis: language-ID, quality, token counts, fingerprint
# ---------------------------------------------------------------------------

LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "los", "es"],
    "de": ["der", "die", "und", "das", "ist", "von"],
}


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, hits): argmax of stopword hits, ties by lang asc,
    'und' (undetermined) when zero hits."""
    dt = doc_tokens(docs)
    spark = docs.sparkSession
    rows = [(lang, w) for lang, ws in LANG_STOPWORDS.items() for w in ws]
    sw = spark.createDataFrame(rows, "lang string, term string")
    hits = (dt.join(F.broadcast(sw), "term")
              .groupBy("doc_id", "lang").agg(F.sum("tf").alias("hits")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    best = (hits.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("doc_id", F.col("lang").alias("pred_lang"),
                        F.col("hits").cast("long").alias("hits")))
    return (docs.select("doc_id").join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
                    F.coalesce("hits", F.lit(0)).cast("long").alias("hits")))


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, uniq_ratio_q, stop_ratio_q,
    mean_tok_len_q): integer-quantized quality heuristics (×1e6, floored)."""
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    base = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.size(F.filter("toks", lambda t: F.array_contains(sw, t)))
         .cast("long").alias("n_stop"),
        F.aggregate("toks", F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).alias("chars"))
    q = F.lit(1_000_000)
    return base.select(
        "doc_id", "n_tokens", "n_distinct",
        F.when(F.col("n_tokens") > 0,
               F.floor(q * F.col("n_distinct") / F.col("n_tokens")))
         .otherwise(0).cast("long").alias("uniq_ratio_q"),
        F.when(F.col("n_tokens") > 0,
               F.floor(q * F.col("n_stop") / F.col("n_tokens")))
         .otherwise(0).cast("long").alias("stop_ratio_q"),
        F.when(F.col("n_tokens") > 0,
               F.floor(q * F.col("chars") / F.col("n_tokens")))
         .otherwise(0).cast("long").alias("mean_tok_len_q"))


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws, n_re): whitespace token count + BPE-ish regex token
    count (runs of letters | runs of digits | single other non-space).

    Non-ASCII is normalized to space BEFORE the case mapping (round 4):
    engines disagree on unicode lower() (glibc/ICU vs JVM, e.g. U+0130),
    so the classed count is defined over the ASCII projection — identical
    on every engine, unchanged on ASCII text."""
    ascii_only = F.regexp_replace("text", r"[^\x20-\x7e]", " ")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_ws"),
        F.size(F.regexp_extract_all(
            F.lower(ascii_only), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
         .cast("long").alias("n_re"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): order-sensitive rolling fingerprint —
    sum over positions of tid * ((pos-1) % 64 + 1). Associative int64 sum,
    position-weighted so permuted docs differ; oracle-exact."""
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    pos = toks.select("doc_id",
                      F.posexplode("toks").alias("pos", "term"))
    dt = pos.join(term_dictionary(
        pos.select("doc_id", "term", F.lit(1).alias("tf"))), "term")
    return (dt.groupBy("doc_id")
              .agg(F.sum(F.col("tid") * (F.col("pos") % 64 + 1))
                   .alias("fp"))
              .select("doc_id", F.col("fp").cast("long").alias("fp")))


# ---------------------------------------------------------------------------
# T5 — string → typed-array parsers (round 3)
# ---------------------------------------------------------------------------

def parse_int_array(col, sep: str = ","):
    """T5 — ``string2IntArray`` (``WWW.java:446-449``) as a column
    expression: split on ``sep``, trim, cast each element to int. Malformed
    elements become NULL in-place (try_cast), mirroring the
    reference's per-line try/parse. Empty string → empty array."""
    parts = F.split(F.trim(col), sep)
    parts = F.filter(parts, lambda t: F.trim(t) != "")
    return F.transform(parts, lambda t: F.trim(t).try_cast("int"))


def parse_long_array(col, sep: str = ","):
    """T5 — ``string2LongArray`` (``WWW.java:456-459``)."""
    parts = F.filter(F.split(F.trim(col), sep), lambda t: F.trim(t) != "")
    return F.transform(parts, lambda t: F.trim(t).try_cast("long"))


def parse_double_array(col, sep: str = ","):
    """T5 — ``string2DoubleArray`` (``WWW.java:466-469``)."""
    parts = F.filter(F.split(F.trim(col), sep), lambda t: F.trim(t) != "")
    return F.transform(parts, lambda t: F.trim(t).try_cast("double"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                   max_iters: int = 50, scale: bool = False) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup candidate
    pairs; ``cluster_id`` = min doc_id of the component — the canonical
    document every member collapses to, the step that turns pairwise LSH
    candidates into an actionable dedup decision. ``scale=True`` applies
    the hot-bucket cap to the default pair generator (boilerplate
    near-cliques make the raw LSH graph quadratic — the measured sf0.1
    wall time is dominated by exactly that fan-out; capped buckets keep
    the edge list near-linear and exact dedup collapses the giant
    clusters more cheaply).

    Iterative min-label propagation: every doc starts labeled with
    itself; each round takes the min of its own label and its neighbors'
    labels, until a fixpoint (components from near-dup graphs have tiny
    diameter — boilerplate clusters are near-cliques — so this converges
    in a handful of rounds; ``max_iters`` is a runaway guard), plus a
    pointer-jumping (path-halving) self-join per round that contracts
    label chains geometrically — O(log diameter) rounds on the sparse
    thin-chain graphs that capped LSH produces. Each round's result is
    ``localCheckpoint``-ed: persist alone is NOT enough for iterative
    Spark — the logical plan still nests one self-join per round, so the
    analyzer re-walks an exponentially growing tree and planning time,
    not data movement, becomes the bottleneck. Checkpointing truncates
    the lineage so every round re-plans O(1) operators.
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(docs, scale=scale)
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = (e.unionByName(e.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"))).distinct()
             .localCheckpoint())
    labels = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                         F.col("doc_id").cast("long").alias("label")) \
                 .localCheckpoint()
    changed = 0
    for _ in range(max_iters):
        nbr_min = (edges.join(labels,
                              edges["src"] == labels["doc_id"])
                   .groupBy(F.col("dst").alias("doc_id"))
                   .agg(F.min("label").alias("nmin")))
        stepped = (labels.join(nbr_min, "doc_id", "left")
                   .select("doc_id",
                           F.least("label", F.coalesce("nmin", "label"))
                            .alias("label"))
                   .localCheckpoint())
        # pointer jumping (path halving): label <- min(label, label's
        # label). Every label IS some doc_id in the table, so the inner
        # self-join is total.
        a, b = stepped.alias("a"), stepped.alias("b")
        new_labels = (a.join(b, F.col("a.label") == F.col("b.doc_id"))
                      .select(F.col("a.doc_id").alias("doc_id"),
                              F.least(F.col("a.label"), F.col("b.label"))
                               .alias("label"))
                      .localCheckpoint())
        changed = (new_labels.join(labels.withColumnRenamed("label", "old"),
                                   "doc_id")
                   .where(F.col("label") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            break
        # EDGE CONTRACTION (the large-star/small-star spirit): rewrite
        # every edge to its endpoints' current representatives and drop
        # the (now internal) self-loops. Min propagation only needs to
        # flow BETWEEN representatives — members catch up through the
        # pointer-jumping step — so the working edge set collapses
        # geometrically as clusters merge (measured on the 200k-doc
        # stress: 34M raw edges shrink to ~thousands after two rounds)
        # instead of re-scanning the full graph every round.
        le = edges.join(labels, edges["src"] == labels["doc_id"]) \
                  .select(F.col("label").alias("src"), "dst")
        edges = (le.join(labels, le["dst"] == labels["doc_id"])
                 .select("src", F.col("label").alias("dst"))
                 .where(F.col("src") != F.col("dst")).distinct()
                 .localCheckpoint())
    if changed != 0:
        # Partially merged labels are silently WRONG components — fail
        # loudly instead. With path halving + edge contraction this needs
        # a label chain of length ~2^max_iters, i.e. it cannot trigger on
        # real near-dup graphs; hitting it means the guard is misused.
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters} "
            f"rounds ({changed} labels still changing); raise max_iters")
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# Gopher-rules bounds (Rae et al. 2021, Table A1 shape) — quantized ×1e3
# for mean word length, ×1e6 for ratios; shared with the SQL oracle.
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_WLEN_Q = 3_000        # mean word length ≥ 3
GOPHER_MAX_WLEN_Q = 10_000       # mean word length ≤ 10
GOPHER_MAX_SYMBOL_Q = 100_000    # (#-or-ellipsis)/words ≤ 0.1
GOPHER_MAX_BULLET_Q = 900_000    # ≤ 90% of lines bullet-led
GOPHER_MIN_STOP_HITS = 2         # ≥ 2 distinct required stopwords


def gopher_rules(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_wlen_q, symbol_ratio_q, bullet_ratio_q,
    stop_hits, keep): the Gopher repetition-free quality-filter signals
    (Rae et al. 2021) as exact integer columns plus the combined keep
    decision (1/0).

    All signals are pure JVM column math (tokenize contract + regexp
    counts + a line filter) — no UDF, no shuffle; the op is a projection
    and filters push to the scan. ``keep`` applies the classic bounds:
    token count in [50, 100k], mean word length in [3, 10], symbol-to-
    word ratio ≤ 0.1, bullet-led lines ≤ 90%, ≥ 2 distinct required
    stopwords (code corpora naturally fail several — the signals, not
    the verdict, are the product)."""
    toks = docs.select("doc_id", F.col("text"),
                       tokens_col(F.col("text")).alias("toks"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    base = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.aggregate("toks", F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).alias("chars"),
        (F.regexp_count(F.col("text"), F.lit("#"))
         + F.regexp_count(F.col("text"), F.lit(r"\.\.\.")))
        .cast("long").alias("n_symbols"),
        F.size(F.split(F.col("text"), "\n")).cast("long").alias("n_lines"),
        F.size(F.filter(F.split(F.col("text"), "\n"),
                        lambda x: x.rlike(r"^\s*[-*•]")))
         .cast("long").alias("n_bullets"),
        F.size(F.array_intersect(F.array_distinct("toks"), sw))
         .cast("long").alias("stop_hits"))
    q6 = F.lit(1_000_000)
    wlen = F.when(F.col("n_tokens") > 0,
                  F.floor(F.lit(1_000) * F.col("chars")
                          / F.col("n_tokens"))).otherwise(0).cast("long")
    sym = F.when(F.col("n_tokens") > 0,
                 F.floor(q6 * F.col("n_symbols") / F.col("n_tokens"))) \
           .otherwise(0).cast("long")
    bul = F.when(F.col("n_lines") > 0,
                 F.floor(q6 * F.col("n_bullets") / F.col("n_lines"))) \
           .otherwise(0).cast("long")
    out = base.select("doc_id", "n_tokens", wlen.alias("mean_wlen_q"),
                      sym.alias("symbol_ratio_q"),
                      bul.alias("bullet_ratio_q"), "stop_hits")
    keep = ((F.col("n_tokens") >= GOPHER_MIN_TOKENS)
            & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
            & (F.col("mean_wlen_q") >= GOPHER_MIN_WLEN_Q)
            & (F.col("mean_wlen_q") <= GOPHER_MAX_WLEN_Q)
            & (F.col("symbol_ratio_q") <= GOPHER_MAX_SYMBOL_Q)
            & (F.col("bullet_ratio_q") <= GOPHER_MAX_BULLET_Q)
            & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS))
    return out.withColumn("keep", keep.cast("long"))

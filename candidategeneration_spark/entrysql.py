"""Shared fixtures for the driver correctness gate (__spark_entry__.py).

Defines the fixed benchmark query set and DuckDB SQL scaffolding that
mirrors the engine's tokenization / BM25 / d-bigram contracts exactly
(tokenizer.py + bm25.py are the source of truth; every constant here must
stay in lockstep with them).

The SQL is the *oracle*: the driver runs each Spark query and its SQL twin
side-by-side on the same parquet tables and value-hashes the results.
DuckDB-specific care:
- CAST(double AS BIGINT) rounds in DuckDB but truncates in Spark — the BM25
  quantization must go through trunc() (handled by bm25.bm25_sql).
- generate_subscripts + unnest give aligned (position, token) pairs.
"""

from __future__ import annotations

from .bm25 import bm25_sql
from .tokenizer import DBIGRAM_DISTANCE, MIN_TOKEN_LEN

# Fixed query set over the synthetic `documents` vocabulary (TESTDATA.md).
# Mirrors the reference's query-trace role (Metadata.java:191-225): mixed
# lengths, one rare term ('dup'), absent terms to exercise empty lists.
QUERY_SET: list[tuple[int, tuple[str, ...]]] = [
    (0, ("fast", "key")),
    (1, ("order", "sort", "merge")),
    (2, ("spark",)),
    (3, ("window", "hash", "join", "scan")),
    (4, ("dup",)),
    (5, ("dup", "stream")),
    (6, ("the", "quick", "zzz")),          # 'quick'/'zzz' absent
    (7, ("zzznotaterm",)),                  # fully absent
    (8, ("batch", "batch", "vector")),      # duplicate term
    (9, ("customer", "table")),
    (10, ("agg", "group", "value")),
    (11, ("big", "small", "slow", "fast")),
    (12, ("column", "row")),
    (13, ("query", "filter", "line", "data")),
]

TOPK = 10

# Raw query trace for the Q1 cleaning gate (convertANDcleanQueryTrace,
# Metadata.java:191-225): deliberately dirty — case, punctuation, OOV
# terms, a fully-OOV query, an empty query, repeated terms — plus one
# qid with no ground truth (the reference's missingQueries set).
RAW_QUERY_TRACE: list[tuple[int, str]] = [
    (0, "Fast KEY!"),
    (1, "order, sort & MERGE"),
    (5, "dup stream"),                 # dropped: no ground truth
    (7, "zzznotaterm qqqqq"),          # fully OOV -> query removed
    (15, "zzznotaterm data Query"),    # partial OOV -> positions close up
    (16, ""),                          # empty -> removed
    (17, "fast fast key"),             # repeats preserved as occurrences
]
MISSING_GROUND_TRUTH_QIDS: list[int] = [5]

# ---------------------------------------------------------------------------
# SQL scaffolding
# ---------------------------------------------------------------------------

# Tokenize: identical to tokenizer.tokens_col / tokenize_text.
# _tok_cte(where) parameterizes the corpus subset (the WARC gate indexes a
# deterministic doc_id slice); _TOK_CTE is the full-corpus default.


def _tok_cte(where: str = "") -> str:
    return f"""
tok AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(trim(lower(regexp_replace(text, '[^a-zA-Z0-9.]', ' ', 'g'))), '\\s+'),
           t -> len(t) >= {MIN_TOKEN_LEN}) AS toks
  FROM documents {where}
),
stats AS (
  SELECT count(*) AS n_docs,
         COALESCE(sum(len(toks)), 0) AS total_tokens,
         COALESCE(sum(len(toks)), 0) // count(*) AS avgdl
  FROM tok
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, term
),
docmeta AS (
  SELECT doc_id, max(tf) AS maxtf, sum(tf) AS doc_len FROM tf GROUP BY doc_id
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


_TOK_CTE = _tok_cte()

_BM25_EXPR = bm25_sql("tf.tf", "docmeta.maxtf", "df.df", "docmeta.doc_len",
                      "stats.n_docs", "stats.avgdl")

_SCORED_CTE = f"""
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf, docmeta.doc_len, docmeta.maxtf, df.df,
         {_BM25_EXPR} AS score_q
  FROM tf
  JOIN docmeta USING (doc_id)
  JOIN df USING (term)
  CROSS JOIN stats
)
"""

_PAIRS_CTE = f"""
pos AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
  FROM tok
),
pairs AS (
  SELECT DISTINCT a.doc_id,
         least(a.term, b.term) AS t1,
         greatest(a.term, b.term) AS t2
  FROM pos a
  JOIN pos b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {DBIGRAM_DISTANCE}
   AND a.term <> b.term
)
"""


def _query_values() -> str:
    rows = []
    for qid, terms in QUERY_SET:
        for t in sorted(set(terms)):
            rows.append(f"({qid}, '{t}')")
    return "queries(qid, term) AS (SELECT * FROM (VALUES "\
        + ", ".join(rows) + ") v(qid, term))"


def sql_global_stats() -> str:
    return (f"WITH {_TOK_CTE.strip()} "
            "SELECT CAST(n_docs AS BIGINT) AS n_docs, "
            "CAST(total_tokens AS BIGINT) AS total_tokens, "
            "CAST(avgdl AS BIGINT) AS avgdl FROM stats")


def sql_term_stats() -> str:
    return (f"WITH {_TOK_CTE.strip()} "
            "SELECT term, CAST(count(*) AS BIGINT) AS df, "
            "CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term")


def sql_postings_unigram() -> str:
    return (f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()} "
            "SELECT term, CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(tf AS BIGINT) AS tf, CAST(doc_len AS BIGINT) AS doc_len, "
            "CAST(maxtf AS BIGINT) AS maxtf, CAST(df AS BIGINT) AS df, "
            "score_q FROM scored")


def sql_postings_dbigram() -> str:
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_PAIRS_CTE.strip()} "
        "SELECT p.t1, p.t2, CAST(p.doc_id AS BIGINT) AS doc_id, "
        "s1.score_q + s2.score_q AS score_q "
        "FROM pairs p "
        "JOIN scored s1 ON s1.doc_id = p.doc_id AND s1.term = p.t1 "
        "JOIN scored s2 ON s2.doc_id = p.doc_id AND s2.term = p.t2")


def sql_pair_streams() -> str:
    """Oracle for the separate (did, s1, s2) pair component streams (X2)."""
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_PAIRS_CTE.strip()} "
        "SELECT p.t1, p.t2, CAST(p.doc_id AS BIGINT) AS doc_id, "
        "s1.score_q AS s1, s2.score_q AS s2 "
        "FROM pairs p "
        "JOIN scored s1 ON s1.doc_id = p.doc_id AND s1.term = p.t1 "
        "JOIN scored s2 ON s2.doc_id = p.doc_id AND s2.term = p.t2")


def sql_pair_budget_index(budget: int) -> str:
    """Oracle for the J4 budget-merge pair index (BigramIndex.java:44-85):
    top-``budget`` impact prefixes of the two unigram lists, merged,
    doc-id-ascending, capped at ``budget`` reference entries (a doc in
    both prefixes counts 2; a doc straddling the cap drops whole). Pair
    set = the query trace's distinct 2-combinations."""
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_query_values()}, "
        "qp AS ("
        "  SELECT DISTINCT a.term AS t1, b.term AS t2"
        "  FROM queries a JOIN queries b"
        "    ON a.qid = b.qid AND a.term < b.term), "
        "pre AS ("
        "  SELECT s.term, s.doc_id, s.score_q,"
        "         row_number() OVER (PARTITION BY s.term"
        "                            ORDER BY s.score_q DESC, s.doc_id) AS rn"
        "  FROM scored s"
        "  WHERE s.term IN (SELECT t1 FROM qp UNION SELECT t2 FROM qp)), "
        "sides AS ("
        "  SELECT q.t1, q.t2, p.doc_id, p.score_q AS s1, 0 AS s2, 1 AS ent"
        f"  FROM qp q JOIN pre p ON p.term = q.t1 AND p.rn <= {budget}"
        "  UNION ALL"
        "  SELECT q.t1, q.t2, p.doc_id, 0 AS s1, p.score_q AS s2, 1 AS ent"
        f"  FROM qp q JOIN pre p ON p.term = q.t2 AND p.rn <= {budget}), "
        "m AS ("
        "  SELECT t1, t2, doc_id, CAST(sum(s1) AS BIGINT) AS s1,"
        "         CAST(sum(s2) AS BIGINT) AS s2, sum(ent) AS ent"
        "  FROM sides GROUP BY t1, t2, doc_id), "
        "c AS ("
        "  SELECT *, sum(ent) OVER (PARTITION BY t1, t2 ORDER BY doc_id"
        "                           ROWS UNBOUNDED PRECEDING) AS cum"
        "  FROM m) "
        "SELECT t1, t2, CAST(doc_id AS BIGINT) AS doc_id, s1, s2, "
        "CAST(s1 + s2 AS BIGINT) AS score_q "
        f"FROM c WHERE cum <= {budget}")


def sql_bm25_topk(k: int = TOPK, docs_where: str = "") -> str:
    return (
        f"WITH {_tok_cte(docs_where).strip()}, {_SCORED_CTE.strip()}, "
        f"{_query_values()}, "
        "qscore AS ("
        "  SELECT q.qid, s.doc_id, CAST(sum(s.score_q) AS BIGINT) AS score_q"
        "  FROM queries q JOIN scored s ON s.term = q.term"
        "  GROUP BY q.qid, s.doc_id) "
        "SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, score_q FROM ("
        "  SELECT qid, CAST(row_number() OVER ("
        "    PARTITION BY qid ORDER BY score_q DESC, doc_id) - 1 AS BIGINT)"
        "    AS rank, doc_id, score_q FROM qscore) "
        f"WHERE rank < {k}")


# The WARC gate (entries.q_warc_topk) indexes the doc_id % WARC_DOC_MOD = 0
# slice of the corpus after an HTML wrap → WARC framing → read_warc →
# html_to_text round trip. The wrap escapes the text, so TOKENS round-trip
# exactly (the tokenizer splits on the same characters whitespace collapse
# touches) — the oracle is therefore plain BM25 SQL over the same slice.
WARC_DOC_MOD = 8


def sql_warc_topk(k: int = TOPK) -> str:
    return sql_bm25_topk(k, docs_where=f"WHERE doc_id % {WARC_DOC_MOD} = 0")


def sql_segment_stats() -> str:
    """df + expected block count for every indexed term, pairs included.

    n_blocks = ceil(df / 128) — validates the compressed segment build
    against pure SQL. Pair terms are keyed t1||chr(31)||t2 like the engine.
    """
    return (
        f"WITH {_TOK_CTE.strip()}, {_PAIRS_CTE.strip()}, "
        "alldf AS ("
        "  SELECT term, count(*) AS df FROM tf GROUP BY term"
        "  UNION ALL"
        "  SELECT t1 || chr(31) || t2 AS term, count(*) AS df"
        "  FROM pairs GROUP BY t1, t2) "
        "SELECT term, CAST(df AS BIGINT) AS df, "
        "CAST((df + 127) // 128 AS BIGINT) AS n_blocks FROM alldf")


# ---------------------------------------------------------------------------
# Training-data ops oracles (textops.py / annops.py / mmops.py twins)
# ---------------------------------------------------------------------------

_DICT_CTE = """
dict AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS tid
  FROM (SELECT DISTINCT term FROM tf)
)
"""

_MH_PERMS = ("perms AS (SELECT range AS perm,"
             " ((2*range+1)*2654435761) % 2147483647 AS a,"
             " (range*40503+12345) % 2147483647 AS b FROM range(16))")

_SH_BITS = ("bits AS (SELECT range AS bit,"
            " ((2*range+1)*2654435761) % 2147483647 AS a,"
            " (range*48271+7919) % 2147483647 AS b FROM range(32))")

_SIG_CTE = f"""
{_MH_PERMS},
dt AS (SELECT DISTINCT tf.doc_id, dict.tid FROM tf JOIN dict USING (term)),
sig AS (
  SELECT doc_id, perm, min((a*tid+b) % 2147483647) AS minhash
  FROM dt CROSS JOIN perms GROUP BY doc_id, perm
)
"""


def sql_dedup_exact() -> str:
    return (
        "WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),"
        " g AS (SELECT content_hash, min(doc_id) AS canonical_doc_id,"
        " CAST(count(*) AS BIGINT) AS group_size FROM h GROUP BY content_hash)"
        " SELECT h.doc_id, h.content_hash, g.canonical_doc_id, g.group_size"
        " FROM h JOIN g USING (content_hash)")


def sql_minhash_signatures() -> str:
    return (f"WITH {_TOK_CTE.strip()}, {_DICT_CTE.strip()}, {_SIG_CTE.strip()} "
            "SELECT doc_id, CAST(perm AS BIGINT) AS perm,"
            " CAST(minhash AS BIGINT) AS minhash FROM sig")


def sql_lsh_candidate_pairs() -> str:
    return (
        f"WITH {_TOK_CTE.strip()}, {_DICT_CTE.strip()}, {_SIG_CTE.strip()}, "
        "bands AS ("
        "  SELECT doc_id, perm // 2 AS band,"
        "  CAST(sum(minhash * CASE WHEN perm % 2 = 0 THEN 2147483648 ELSE 1 END)"
        "       AS BIGINT) AS band_key"
        "  FROM sig GROUP BY doc_id, perm // 2) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b"
        " ON a.band = b.band AND a.band_key = b.band_key"
        " AND a.doc_id < b.doc_id")


def sql_simhash() -> str:
    return (
        f"WITH {_TOK_CTE.strip()}, {_DICT_CTE.strip()}, {_SH_BITS}, "
        "dtt AS (SELECT tf.doc_id, dict.tid, tf.tf FROM tf JOIN dict USING (term)), "
        "signed AS ("
        "  SELECT doc_id, bit,"
        "  sum(tf * (((tid*a+b) % 2147483647) % 2 * 2 - 1)) AS w"
        "  FROM dtt CROSS JOIN bits GROUP BY doc_id, bit) "
        "SELECT doc_id, CAST(sum(CASE WHEN w > 0"
        " THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END) AS BIGINT)"
        " AS simhash FROM signed GROUP BY doc_id")


def sql_ngram_jaccard(min_jacc_q: int = 100_000) -> str:
    return (
        f"WITH {_TOK_CTE.strip()}, "
        "pos AS (SELECT doc_id, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) AS pos FROM tok), "
        "grams AS (SELECT DISTINCT a.doc_id,"
        " a.term || ' ' || b.term || ' ' || c.term AS gram"
        " FROM pos a"
        " JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1"
        " JOIN pos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        " count(*) AS inter FROM grams a"
        " JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id"
        " GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,"
        " CAST(sa.n + sb.n - inter AS BIGINT) AS uni,"
        " CAST(floor(1000000 * inter / (sa.n + sb.n - inter)) AS BIGINT)"
        " AS jacc_q"
        " FROM inter"
        " JOIN sizes sa ON sa.doc_id = doc_a"
        " JOIN sizes sb ON sb.doc_id = doc_b"
        f" WHERE floor(1000000 * inter / (sa.n + sb.n - inter)) >= {min_jacc_q}")


def sql_lang_id() -> str:
    from .textops import LANG_STOPWORDS
    vals = ", ".join(f"('{lang}', '{w}')"
                     for lang, ws in LANG_STOPWORDS.items() for w in ws)
    return (
        f"WITH {_TOK_CTE.strip()}, "
        f"sw(lang, term) AS (SELECT * FROM (VALUES {vals}) v(lang, term)), "
        "hits AS (SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS hits"
        " FROM tf JOIN sw USING (term) GROUP BY doc_id, lang), "
        "best AS (SELECT doc_id, lang, hits, row_number() OVER"
        " (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn FROM hits) "
        "SELECT d.doc_id, COALESCE(b.lang, 'und') AS pred_lang,"
        " CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits"
        " FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b"
        " USING (doc_id)")


def sql_quality_score() -> str:
    from .textops import STOPWORDS_EN
    sw = "[" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + "]"
    return (
        f"WITH {_TOK_CTE.strip()}, "
        "base AS (SELECT doc_id,"
        " CAST(len(toks) AS BIGINT) AS n_tokens,"
        " CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,"
        f" CAST(len(list_filter(toks, t -> list_contains({sw}, t))) AS BIGINT)"
        " AS n_stop,"
        " CAST(COALESCE(list_sum(list_transform(toks, t -> len(t))), 0)"
        " AS BIGINT) AS chars"
        " FROM tok) "
        "SELECT doc_id, n_tokens, n_distinct,"
        " CASE WHEN n_tokens > 0 THEN CAST(floor(1000000 * n_distinct / n_tokens) AS BIGINT) ELSE 0 END AS uniq_ratio_q,"
        " CASE WHEN n_tokens > 0 THEN CAST(floor(1000000 * n_stop / n_tokens) AS BIGINT) ELSE 0 END AS stop_ratio_q,"
        " CASE WHEN n_tokens > 0 THEN CAST(floor(1000000 * chars / n_tokens) AS BIGINT) ELSE 0 END AS mean_tok_len_q"
        " FROM base")


def sql_token_counts() -> str:
    return (
        "SELECT doc_id,"
        " CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws,"
        " CAST(len(regexp_extract_all(lower(regexp_replace(text, '[^\\x20-\\x7e]', ' ', 'g')),"
        " '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re"
        " FROM documents")


def sql_fingerprint() -> str:
    return (
        f"WITH {_TOK_CTE.strip()}, {_DICT_CTE.strip()}, "
        "pos AS (SELECT doc_id, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) AS pos FROM tok) "
        "SELECT doc_id, CAST(sum(tid * ((pos - 1) % 64 + 1)) AS BIGINT) AS fp"
        " FROM pos JOIN dict USING (term) GROUP BY doc_id")


def sql_mm_extract() -> str:
    return (
        "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,"
        " CAST(strlen(text) % 640 + 1 AS BIGINT) AS width,"
        " CAST((strlen(text) * 7) % 480 + 1 AS BIGINT) AS height,"
        " CAST(strlen(text) % 30 + 1 AS BIGINT) AS n_frames"
        " FROM documents")


def sql_mm_features(bins: int = 16) -> str:
    """Byte-histogram oracle. The payload is UTF-8 text and the corpus is
    pure ASCII (verified), so byte == ord(char); 16 bins -> byte // 16."""
    return (
        "WITH chars AS ("
        "  SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS b"
        "  FROM (SELECT doc_id, text, unnest(range(1, strlen(text)+1)) AS i"
        "        FROM documents)) "
        f"SELECT doc_id, CAST(least(b // {256 // bins}, {bins - 1})"
        " AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS cnt"
        " FROM chars GROUP BY 1, 2")


def sql_frame_sample(every: int = 10) -> str:
    """Oracle for frame_sample_stats: mirrors the fake sampler exactly —
    n_frames = n%30+1, step = max(1, n // n_frames), frames at
    idx ∈ {0, every, 2·every, ...} < n_frames, frame = text[idx·step :
    (idx+1)·step]; stats = (len, byte checksum) of each frame."""
    idxs = ", ".join(str(i) for i in range(0, 30, every))
    return (
        "WITH m AS ("
        "  SELECT doc_id, text, strlen(text) AS n,"
        "         strlen(text) % 30 + 1 AS nf,"
        "         greatest(1, strlen(text) // (strlen(text) % 30 + 1)) AS step"
        "  FROM documents), "
        "f AS ("
        f"  SELECT doc_id, unnest([{idxs}]) AS frame_idx, text, nf, step"
        "  FROM m), "
        "fr AS ("
        "  SELECT doc_id, frame_idx,"
        "         substr(text, CAST(frame_idx*step + 1 AS INT),"
        "                CAST(step AS INT)) AS frame"
        "  FROM f WHERE frame_idx < nf) "
        "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,"
        " CAST(strlen(frame) AS BIGINT) AS n_bytes,"
        " CAST(COALESCE(list_sum(list_transform("
        "   range(1, strlen(frame)+1),"
        "   i -> ord(substr(frame, CAST(i AS INT), 1)))), 0) AS BIGINT)"
        " AS byte_sum"
        " FROM fr")


# ---------------------------------------------------------------------------
# ANN oracles (annops.py twins)
# ---------------------------------------------------------------------------

# x is FLOAT (float32): multiply in DOUBLE before rounding, matching
# Spark's implicit promotion. DuckDB's FLOAT*1000 stays float32, which can
# round a value like 0.3195f up through an inexact 319.5 while the exact
# double product is 319.4999…: one sf0.1 vector (vec_id 1879, dim 17)
# quantizes 320 vs 319 without the cast and near-dup pair sets diverge.
_QVEC_CTE = ("qv AS (SELECT vec_id, list_transform(embedding,"
             " x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v"
             " FROM embeddings)")


def sql_ann_brute_topk(n_probes: int = 10, k: int = 10) -> str:
    return (
        f"WITH {_QVEC_CTE}, "
        f"pr AS (SELECT vec_id AS qid, v AS pv FROM qv WHERE vec_id < {n_probes}), "
        "scored AS (SELECT pr.qid, qv.vec_id,"
        " CAST((SELECT sum(u.a*u.b) FROM (SELECT unnest(qv.v) AS a,"
        " unnest(pr.pv) AS b) u) AS BIGINT) AS score_q"
        " FROM qv CROSS JOIN pr WHERE qv.vec_id <> pr.qid) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, vec_id) - 1 AS BIGINT) AS rank,"
        " vec_id, score_q FROM scored"
        f" QUALIFY rank < {k}")


def sql_ann_lsh_buckets(n_planes: int = 8) -> str:
    return (
        f"WITH {_QVEC_CTE}, "
        "comp AS (SELECT vec_id, unnest(v) AS q,"
        " generate_subscripts(v, 1) AS i FROM qv), "
        f"planes AS (SELECT range AS plane FROM range({n_planes})), "
        "dots AS (SELECT vec_id, plane,"
        " sum(q * (((i-1)*7 + plane*13) % 11 - 5)) AS dot"
        " FROM comp CROSS JOIN planes GROUP BY vec_id, plane) "
        "SELECT vec_id, CAST(sum(CASE WHEN dot >= 0"
        " THEN CAST(1 AS BIGINT) << CAST(plane AS INT) ELSE 0 END) AS BIGINT)"
        " AS bucket FROM dots GROUP BY vec_id")


def sql_ann_lsh_topk(n_probes: int = 10, k: int = 10,
                     n_planes: int = 8) -> str:
    """Oracle for the LSH-bucketed approximate top-k: buckets + integer
    dot products composed in one query (both pieces already oracle-green
    separately)."""
    return (
        f"WITH {_QVEC_CTE}, "
        "comp AS (SELECT vec_id, unnest(v) AS q,"
        " generate_subscripts(v, 1) AS i FROM qv), "
        f"planes AS (SELECT range AS plane FROM range({n_planes})), "
        "dots AS (SELECT vec_id, plane,"
        " sum(q * (((i-1)*7 + plane*13) % 11 - 5)) AS dot"
        " FROM comp CROSS JOIN planes GROUP BY vec_id, plane), "
        "buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0"
        " THEN CAST(1 AS BIGINT) << CAST(plane AS INT) ELSE 0 END) AS BIGINT)"
        " AS bucket FROM dots GROUP BY vec_id), "
        "qb AS (SELECT qv.vec_id, qv.v, b.bucket"
        " FROM qv JOIN buckets b USING (vec_id)), "
        f"pr AS (SELECT vec_id AS qid, v AS pv, bucket FROM qb"
        f" WHERE vec_id < {n_probes}), "
        "scored AS (SELECT pr.qid, qb.vec_id,"
        " CAST((SELECT sum(u.a*u.b) FROM (SELECT unnest(qb.v) AS a,"
        " unnest(pr.pv) AS b) u) AS BIGINT) AS score_q"
        " FROM qb JOIN pr ON qb.bucket = pr.bucket"
        " WHERE qb.vec_id <> pr.qid) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, vec_id) - 1 AS BIGINT) AS rank,"
        " vec_id, score_q FROM scored"
        f" QUALIFY rank < {k}")


def _ivf_prefix(k: int, iters: int, dim: int = 64) -> str:
    """CTE chain replaying annops' deterministic integer k-means: centroid
    init from the first k vectors, `iters` unrolled Lloyd iterations
    (exact int squared-L2 assignment with (dist, cid) tie-break; update =
    floor of the component mean via double division of small int sums —
    IEEE-exact on both engines), plus a final assignment a{iters} against
    the final centroids."""
    sq = (f"list_sum(list_transform(range(1, {dim + 1}),"
          " i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))")
    parts = [_QVEC_CTE,
             f"cents0 AS (SELECT vec_id AS cid, v AS cv FROM qv"
             f" WHERE vec_id < {k})"]
    for t in range(iters + 1):
        parts.append(
            f"d{t} AS (SELECT q.vec_id, c.cid, {sq} AS dist"
            f" FROM qv q CROSS JOIN cents{t} c)")
        parts.append(
            f"a{t} AS (SELECT vec_id, cid FROM ("
            f"SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY dist, cid) AS rn FROM d{t}) WHERE rn = 1)")
        if t == iters:
            break
        parts.append(
            f"comp{t} AS (SELECT a.cid, unnest(q.v) AS x,"
            f" generate_subscripts(q.v, 1) AS i"
            f" FROM qv q JOIN a{t} a USING (vec_id))")
        parts.append(
            f"upd{t} AS (SELECT cid, i, CAST(floor(CAST(sum(x) AS DOUBLE)"
            f" / count(*)) AS BIGINT) AS cx FROM comp{t} GROUP BY cid, i)")
        parts.append(
            f"cents{t + 1} AS (SELECT cid, list(cx ORDER BY i) AS cv"
            f" FROM upd{t} GROUP BY cid)")
    return ", ".join(parts)


def sql_ann_ivf_cells(k: int = 8, iters: int = 2) -> str:
    """Oracle for annops.ivf_cells: the final inverted-file assignment."""
    return (f"WITH {_ivf_prefix(k, iters)} "
            f"SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM a{iters}")


def sql_ann_ivf_topk(n_probes: int = 10, topk: int = 10, k: int = 8,
                     iters: int = 2, nprobe: int = 2) -> str:
    """Oracle for annops.ivf_topk: probe the nprobe nearest cells, exact
    integer dot product over their members only."""
    sqp = ("list_sum(list_transform(range(1, 65),"
           " i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))")
    return (
        f"WITH {_ivf_prefix(k, iters)}, "
        "pc AS (SELECT qid, cid, v AS pv FROM ("
        f"  SELECT q.vec_id AS qid, c.cid, q.v, {sqp} AS dist,"
        "   row_number() OVER (PARTITION BY q.vec_id"
        "     ORDER BY dist, cid) AS rn"
        f"  FROM qv q CROSS JOIN cents{iters} c"
        f"  WHERE q.vec_id < {n_probes}) WHERE rn <= {nprobe}), "
        f"scored AS (SELECT pc.qid, m.vec_id,"
        " CAST((SELECT sum(u.a * u.b) FROM (SELECT unnest(mv.v) AS a,"
        " unnest(pc.pv) AS b) u) AS BIGINT) AS score_q"
        f" FROM a{iters} m JOIN pc USING (cid)"
        " JOIN qv mv ON mv.vec_id = m.vec_id"
        " WHERE m.vec_id <> pc.qid) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, vec_id) - 1 AS BIGINT) AS rank,"
        " vec_id, score_q FROM scored"
        f" QUALIFY rank < {topk}")


def sql_dedup_embedding(num: int = 49, den: int = 400, n_planes: int = 8,
                        band_bits: int = 2) -> str:
    """Oracle for annops.near_dup_pairs: banded-LSH candidates from the
    sign-signature buckets + exact integer cosine threshold
    (dot ≥ 0 AND den·dot² ≥ num·na2·nb2)."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return (
        f"WITH {_QVEC_CTE}, "
        "comp AS (SELECT vec_id, unnest(v) AS q,"
        " generate_subscripts(v, 1) AS i FROM qv), "
        f"planes AS (SELECT range AS plane FROM range({n_planes})), "
        "dots AS (SELECT vec_id, plane,"
        " sum(q * (((i-1)*7 + plane*13) % 11 - 5)) AS dot"
        " FROM comp CROSS JOIN planes GROUP BY vec_id, plane), "
        "sig AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0"
        " THEN CAST(1 AS BIGINT) << CAST(plane AS INT) ELSE 0 END) AS BIGINT)"
        " AS bucket FROM dots GROUP BY vec_id), "
        f"bands AS (SELECT range AS band FROM range({n_bands})), "
        "bb AS (SELECT vec_id, band,"
        f" (bucket >> CAST(band * {band_bits} AS INT)) & {mask} AS bkey"
        " FROM sig CROSS JOIN bands), "
        "cand AS (SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b"
        " FROM bb x JOIN bb y ON x.band = y.band AND x.bkey = y.bkey"
        " AND x.vec_id < y.vec_id), "
        "n2 AS (SELECT vec_id, sum(q*q) AS n2 FROM comp GROUP BY vec_id), "
        "dotp AS (SELECT c.vec_id_a, c.vec_id_b, sum(a.q * b.q) AS dot_q"
        " FROM cand c"
        " JOIN comp a ON a.vec_id = c.vec_id_a"
        " JOIN comp b ON b.vec_id = c.vec_id_b AND b.i = a.i"
        " GROUP BY c.vec_id_a, c.vec_id_b) "
        "SELECT d.vec_id_a, d.vec_id_b, CAST(d.dot_q AS BIGINT) AS dot_q"
        " FROM dotp d"
        " JOIN n2 na ON na.vec_id = d.vec_id_a"
        " JOIN n2 nb ON nb.vec_id = d.vec_id_b"
        f" WHERE d.dot_q >= 0 AND {int(den)} * d.dot_q * d.dot_q >="
        f" {int(num)} * na.n2 * nb.n2")


def sql_ann_cosine_topk(n_probes: int = 10, k: int = 10) -> str:
    """Rank-only oracle for the float cosine path (see q_ann_cosine_topk:
    the cos VALUE is fp-order dependent, the ranking is stable)."""
    return (
        f"WITH pr AS (SELECT vec_id AS qid, embedding AS pv"
        f" FROM embeddings WHERE vec_id < {n_probes}), "
        "scored AS (SELECT pr.qid, e.vec_id,"
        " list_cosine_similarity(e.embedding, pr.pv) AS cos"
        " FROM embeddings e CROSS JOIN pr WHERE e.vec_id <> pr.qid) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY cos DESC, vec_id) - 1 AS BIGINT) AS rank, vec_id"
        " FROM scored"
        f" QUALIFY rank < {k}")


# ---------------------------------------------------------------------------
# Relational oracles (relops.py twins)
# ---------------------------------------------------------------------------

def sql_pricing_summary() -> str:
    return (
        "SELECT l_returnflag, l_linestatus,"
        " CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)"
        " AS sum_qty_c,"
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
        " AS sum_price_c,"
        " CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)"
        " AS BIGINT)) AS BIGINT) AS sum_disc_price_c,"
        " CAST(count(*) AS BIGINT) AS count_order"
        " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'"
        " GROUP BY l_returnflag, l_linestatus")


def sql_top_orders(k: int = 10) -> str:
    return (
        "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,"
        " strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,"
        " CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)"
        " AS BIGINT)) AS BIGINT) AS revenue_c"
        " FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " GROUP BY o_orderkey, o_orderdate"
        f" ORDER BY revenue_c DESC, o_orderkey LIMIT {k}")


def sql_window_topn(n: int = 3) -> str:
    return (
        "SELECT CAST(user_id AS BIGINT) AS user_id,"
        " CAST(event_id AS BIGINT) AS event_id, CAST(rn AS BIGINT) AS rn"
        " FROM (SELECT user_id, event_id, row_number() OVER"
        " (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn"
        " FROM events)"
        f" WHERE rn <= {n}")


def sql_sessionize(gap_minutes: int = 30) -> str:
    return (
        "WITH e AS (SELECT user_id, event_id,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS sec,"
        " lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER"
        " (PARTITION BY user_id ORDER BY ts, event_id) AS prev"
        " FROM events) "
        "SELECT CAST(user_id AS BIGINT) AS user_id,"
        " CAST(sum(CASE WHEN prev IS NULL OR sec - prev >"
        f" {gap_minutes * 60} THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,"
        " CAST(count(*) AS BIGINT) AS n_events"
        " FROM e GROUP BY user_id")


def sql_bm25_topk_pairs(k: int = TOPK) -> str:
    """Oracle for the augmented d-bigram query model."""
    from itertools import combinations
    rows = []
    for qid, terms in QUERY_SET:
        uniq = sorted(set(terms))
        for a, b in combinations(uniq, 2):
            rows.append(f"({qid}, '{a}', '{b}')")
    if not rows:
        rows = ["(NULL, NULL, NULL)"]
    qvals = ("qpairs(qid, t1, t2) AS (SELECT * FROM (VALUES "
             + ", ".join(rows) + ") v(qid, t1, t2))")
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_PAIRS_CTE.strip()}, "
        f"{qvals}, "
        "pscore AS ("
        "  SELECT p.doc_id, p.t1, p.t2,"
        "         s1.score_q + s2.score_q AS score_q"
        "  FROM pairs p"
        "  JOIN scored s1 ON s1.doc_id = p.doc_id AND s1.term = p.t1"
        "  JOIN scored s2 ON s2.doc_id = p.doc_id AND s2.term = p.t2), "
        "qscore AS ("
        "  SELECT q.qid, ps.doc_id, CAST(sum(ps.score_q) AS BIGINT) AS score_q"
        "  FROM qpairs q JOIN pscore ps ON ps.t1 = q.t1 AND ps.t2 = q.t2"
        "  GROUP BY q.qid, ps.doc_id) "
        "SELECT CAST(qid AS BIGINT) AS qid,"
        " CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, doc_id) - 1 AS BIGINT) AS rank,"
        " doc_id, score_q FROM qscore"
        f" QUALIFY rank < {k}")


def sql_term_dictionary() -> str:
    return (f"WITH {_TOK_CTE.strip()} "
            "SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT)"
            " AS tid FROM (SELECT DISTINCT term FROM tf)")


def sql_access_map() -> str:
    """Oracle for the A5 access map: augmented-term query counts over the
    fixed query set (pair keys packed t1||chr(31)||t2 like the engine)."""
    return (
        f"WITH {_query_values()}, "
        "agu AS ("
        "  SELECT qid, term FROM queries"
        "  UNION ALL"
        "  SELECT a.qid, a.term || chr(31) || b.term AS term"
        "  FROM queries a JOIN queries b"
        "    ON a.qid = b.qid AND a.term < b.term) "
        "SELECT term, CAST(count(*) AS BIGINT) AS n_queries "
        "FROM agu GROUP BY term")


def sql_query_trace_clean() -> str:
    """Oracle for Q1 trace cleaning: tokenize the fixed raw trace with the
    index contract, drop no-ground-truth qids, inner-join the corpus term
    dictionary (OOV terms drop), renumber kept positions contiguously."""
    vals = ", ".join(f"({qid}, '{text}')"
                     for qid, text in RAW_QUERY_TRACE)
    missing = ", ".join(str(q) for q in MISSING_GROUND_TRUTH_QIDS)
    return (
        f"WITH {_TOK_CTE.strip()}, {_DICT_CTE.strip()}, "
        f"rawq(qid, qtext) AS (SELECT * FROM (VALUES {vals}) v(qid, qtext)), "
        "qtok AS ("
        "  SELECT qid, list_filter("
        "    string_split_regex(trim(lower(regexp_replace(qtext,"
        f"      '[^a-zA-Z0-9.]', ' ', 'g'))), '\\s+'),"
        f"    t -> len(t) >= {MIN_TOKEN_LEN}) AS toks"
        "  FROM rawq), "
        "qpos AS ("
        "  SELECT qid, unnest(toks) AS term,"
        "         generate_subscripts(toks, 1) AS pos0"
        f"  FROM qtok WHERE qid NOT IN ({missing})), "
        "kept AS ("
        "  SELECT q.qid, q.pos0, q.term, d.tid"
        "  FROM qpos q JOIN dict d USING (term)) "
        "SELECT CAST(qid AS BIGINT) AS qid, "
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY pos0) - 1 "
        "AS BIGINT) AS pos, term, tid FROM kept")


def sql_hits_rank() -> str:
    """Oracle for hitscsv.hits_rank: DCG weights embedded as exact ints from
    the same Python source (hitscsv.hits_weights) — no runtime log()."""
    from .sources.hitscsv import HITS_MAX_RANK, hits_weights
    wvals = ", ".join(f"({p}, {w})" for p, w in hits_weights())
    return (
        "WITH w(pos, weight) AS (SELECT * FROM (VALUES "
        + wvals + ") v(pos, weight)), "
        "ranked AS ("
        "  SELECT user_id, value,"
        "         row_number() OVER (PARTITION BY user_id"
        "           ORDER BY value DESC, event_id) AS pos"
        "  FROM events), "
        "scores AS ("
        "  SELECT user_id,"
        "         CAST(sum(CAST(trunc(value * weight) AS BIGINT)) AS BIGINT)"
        "           AS hit_score"
        "  FROM ranked JOIN w USING (pos)"
        f"  WHERE pos <= {HITS_MAX_RANK}"
        "  GROUP BY user_id) "
        "SELECT CAST(user_id AS BIGINT) AS user_id, hit_score,"
        " CAST(row_number() OVER (ORDER BY hit_score DESC, user_id)"
        " AS BIGINT) AS hit_rank FROM scores")


def _ranges_values(name: str, ranges) -> str:
    rows = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in ranges)
    return (f"{name}r({name}, {name}_lo, {name}_hi) AS "
            f"(SELECT * FROM (VALUES {rows}) v(b, lo, hi))")


_GOLDEN_CTE = f"""
qscore AS (
  SELECT q.qid, s.doc_id, sum(s.score_q) AS s
  FROM queries q JOIN scored s ON s.term = q.term
  GROUP BY q.qid, s.doc_id
),
golden AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS r
    FROM qscore) WHERE r <= {TOPK}
)
"""


def sql_quality_matrix() -> str:
    """Oracle for quality.quality_matrix_df (golden = exact top-10/query)."""
    from .quality import LEN_BASE, LEN_START, RANK_BASE, RANK_START, \
        geometric_ranges
    lenr = _ranges_values("lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_values("rb", geometric_ranges(RANK_BASE, RANK_START))
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_query_values()}, "
        f"{_GOLDEN_CTE.strip()}, {lenr}, {rankr}, "
        "gterms AS ("
        "  SELECT DISTINCT q.term, g.doc_id"
        "  FROM golden g JOIN queries q USING (qid)), "
        "p AS ("
        "  SELECT term, doc_id, df AS list_len,"
        "         row_number() OVER (PARTITION BY term"
        "           ORDER BY score_q DESC, doc_id) - 1 AS pos"
        "  FROM scored), "
        "pb AS ("
        "  SELECT p.term, p.doc_id, lbr.lb, rbr.rb"
        "  FROM p"
        "  JOIN lbr ON p.list_len >= lbr.lb_lo AND p.list_len < lbr.lb_hi"
        "  JOIN rbr ON p.pos >= rbr.rb_lo AND p.pos < rbr.rb_hi), "
        "acc AS (SELECT lb, rb, count(*) AS accesses FROM pb GROUP BY lb, rb), "
        "hits AS ("
        "  SELECT pb.lb, pb.rb, count(*) AS hits"
        "  FROM pb JOIN gterms g ON g.term = pb.term AND g.doc_id = pb.doc_id"
        "  GROUP BY pb.lb, pb.rb) "
        "SELECT CAST(acc.lb AS INT) AS lb, CAST(acc.rb AS INT) AS rb,"
        " CAST(acc.accesses AS BIGINT) AS accesses,"
        " CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits"
        " FROM acc LEFT JOIN hits ON acc.lb = hits.lb AND acc.rb = hits.rb")


def _class_case(col: str, boundaries, nums) -> str:
    """X11 class table as SQL — generated from the SAME Python constants
    the Spark side uses (quality.class_lens), so the tables cannot
    diverge."""
    whens = " ".join(
        f"WHEN {col} >= {int(lo)} THEN {int(n)}"
        for lo, n in zip(boundaries[-2::-1], nums[::-1]))
    return f"least({col}, CASE {whens} ELSE {int(nums[0])} END)"


def _online_greedy_ctes(budget: int, boundaries, nums) -> str:
    """Shared WITH-fragment for the Q8 family: matrix training + class-
    table depths + per-query greedy grant → ``cut`` (qid, term, cutoff)
    and ``p`` (impact-ordered positions), composed by the Q8 and X3
    oracles."""
    from .quality import LEN_BASE, LEN_START, RANK_BASE, RANK_START, \
        geometric_ranges
    lenr = _ranges_values("lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_values("rb", geometric_ranges(RANK_BASE, RANK_START))
    depth_expr = _class_case("ql.list_len", boundaries, nums)
    return (
        f"{_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_query_values()}, "
        f"{_GOLDEN_CTE.strip()}, {lenr}, {rankr}, "
        "gterms AS ("
        "  SELECT DISTINCT q.term, g.doc_id"
        "  FROM golden g JOIN queries q USING (qid)), "
        "p AS ("
        "  SELECT term, doc_id, score_q, df AS list_len,"
        "         row_number() OVER (PARTITION BY term"
        "           ORDER BY score_q DESC, doc_id) - 1 AS pos"
        "  FROM scored), "
        "pb AS ("
        "  SELECT p.term, p.doc_id, lbr.lb, rbr.rb"
        "  FROM p"
        "  JOIN lbr ON p.list_len >= lbr.lb_lo AND p.list_len < lbr.lb_hi"
        "  JOIN rbr ON p.pos >= rbr.rb_lo AND p.pos < rbr.rb_hi), "
        "acc AS (SELECT lb, rb, count(*) AS accesses FROM pb GROUP BY lb, rb), "
        "hitsc AS ("
        "  SELECT pb.lb, pb.rb, count(*) AS hits"
        "  FROM pb JOIN gterms g ON g.term = pb.term AND g.doc_id = pb.doc_id"
        "  GROUP BY pb.lb, pb.rb), "
        "dens AS ("
        "  SELECT acc.lb, acc.rb,"
        "         CAST(COALESCE(hitsc.hits, 0) AS DOUBLE)"
        "           / CAST(acc.accesses AS DOUBLE) AS density"
        "  FROM acc LEFT JOIN hitsc ON acc.lb = hitsc.lb AND acc.rb = hitsc.rb), "
        "tdf AS (SELECT term, count(*) AS list_len FROM scored GROUP BY term), "
        "qlists AS ("
        "  SELECT ql.qid, ql.term, ql.list_len,"
        f"         {depth_expr} AS depth"
        "  FROM (SELECT DISTINCT q.qid, q.term, tdf.list_len"
        "        FROM queries q JOIN tdf USING (term)) ql), "
        "cells0 AS ("
        "  SELECT ql.qid, ql.term, ql.depth, rbr.rb, rbr.rb_lo, rbr.rb_hi,"
        "         dens.density"
        "  FROM qlists ql"
        "  JOIN lbr ON ql.list_len >= lbr.lb_lo AND ql.list_len < lbr.lb_hi"
        "  JOIN rbr ON rbr.rb_lo < ql.depth"
        "  LEFT JOIN dens ON dens.lb = lbr.lb AND dens.rb = rbr.rb), "
        "cells1 AS ("
        "  SELECT *, min(CASE WHEN COALESCE(density, 0) > 0 THEN 1 ELSE 0"
        "    END) OVER (PARTITION BY qid, term ORDER BY rb"
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS alive"
        "  FROM cells0), "
        "cells AS ("
        "  SELECT qid, term, rb, density * 1.0 AS value,"
        "         least(rb_hi, depth) - rb_lo AS space"
        "  FROM cells1 WHERE alive = 1), "
        "gr AS ("
        "  SELECT qid, term, space,"
        "         COALESCE(sum(space) OVER (PARTITION BY qid"
        "           ORDER BY value DESC, term, rb"
        "           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "           AS before"
        "  FROM cells), "
        "cut AS ("
        "  SELECT qid, term, CAST(sum(greatest(0,"
        f"           least(space, {budget} - before))) AS BIGINT) AS cutoff"
        "  FROM gr GROUP BY qid, term HAVING cutoff > 0)")


def sql_online_greedy_topk(budget: int, boundaries, nums,
                           k: int = TOPK) -> str:
    """Oracle for Q8+X11 (quality.online_greedy_topk): replays matrix
    training, the class-table depth assignment, the per-query chunk walk
    (stop at the first zero-density cell), the value-ordered greedy grant
    with a partial remainder for the first overflowing cell, and the
    TAAT merge over granted prefixes. The only floats are the density
    int/int division and its ×1.0 weight — IEEE-identical both sides."""
    return (
        f"WITH {_online_greedy_ctes(budget, boundaries, nums)}, "
        "look AS ("
        "  SELECT c.qid, p.doc_id, p.score_q"
        "  FROM cut c JOIN p ON p.term = c.term AND p.pos < c.cutoff), "
        "qscore2 AS ("
        "  SELECT qid, doc_id, CAST(sum(score_q) AS BIGINT) AS score_q"
        "  FROM look GROUP BY qid, doc_id) "
        "SELECT CAST(qid AS BIGINT) AS qid,"
        " CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, doc_id) - 1 AS BIGINT) AS rank,"
        " doc_id, score_q FROM qscore2"
        f" QUALIFY rank < {k}")


def sql_selection_lookup_topk(budget: int, boundaries, nums,
                              k: int = TOPK) -> str:
    """Oracle for X3 + selection lookups (quality.selection_lookup_topk):
    on top of the Q8 cutoffs, assign per-query term bits (list length asc,
    term tie-break — decide_termbits_new), accumulate reference-convention
    kbits per candidate (0xFF minus the covered bits), look up each
    candidate's uncovered terms in the full scored lists and add their
    scores. Pure integer bit arithmetic — exact both sides."""
    return (
        f"WITH {_online_greedy_ctes(budget, boundaries, nums)}, "
        "bits AS ("
        "  SELECT qid, term, row_number() OVER (PARTITION BY qid"
        "    ORDER BY list_len, term) - 1 AS bit"
        "  FROM qlists), "
        "pref AS ("
        "  SELECT c.qid, p.doc_id, p.score_q, b.bit"
        "  FROM cut c"
        "  JOIN p ON p.term = c.term AND p.pos < c.cutoff"
        "  JOIN bits b ON b.qid = c.qid AND b.term = c.term), "
        "cand AS ("
        "  SELECT qid, doc_id, sum(score_q) AS partial,"
        "         255 - sum(1 << bit) AS kbits"
        "  FROM pref GROUP BY qid, doc_id), "
        "miss AS ("
        "  SELECT c.qid, c.doc_id, b.term"
        "  FROM cand c JOIN bits b ON b.qid = c.qid"
        "  WHERE ((c.kbits >> b.bit) & 1) = 1), "
        "fills AS ("
        "  SELECT m.qid, m.doc_id, sum(s.score_q) AS fill"
        "  FROM miss m JOIN scored s"
        "    ON s.term = m.term AND s.doc_id = m.doc_id"
        "  GROUP BY m.qid, m.doc_id), "
        "fulls AS ("
        "  SELECT c.qid, c.doc_id, CAST(c.kbits AS BIGINT) AS kbits,"
        "         CAST(c.partial + COALESCE(f.fill, 0) AS BIGINT) AS score_q"
        "  FROM cand c LEFT JOIN fills f"
        "    ON f.qid = c.qid AND f.doc_id = c.doc_id) "
        "SELECT CAST(qid AS BIGINT) AS qid,"
        " CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, doc_id) - 1 AS BIGINT) AS rank,"
        " doc_id, kbits, score_q FROM fulls"
        f" QUALIFY rank < {k}")


def sql_lm_probabilities(scale: int) -> str:
    """Oracle for Q9 LM maps (quality.lm_probability_maps): unigram
    P = Σtf/total_tokens, pair P = pair df / total pair postings, both as
    exact integers via BIGINT floor division."""
    return (
        f"WITH {_TOK_CTE.strip()}, {_PAIRS_CTE.strip()}, "
        "ptot AS (SELECT greatest(count(*), 1) AS n FROM pairs), "
        "uni AS ("
        "  SELECT term, CAST(0 AS BIGINT) AS is_pair,"
        "         CAST(sum(tf) AS BIGINT) AS cf"
        "  FROM tf GROUP BY term), "
        "pairlm AS ("
        "  SELECT t1 || chr(31) || t2 AS term, CAST(1 AS BIGINT) AS is_pair,"
        "         CAST(count(*) AS BIGINT) AS cf"
        "  FROM pairs GROUP BY t1, t2) "
        "SELECT term, is_pair, cf,"
        f" CAST(cf * {int(scale)} // stats.total_tokens AS BIGINT) AS p_q"
        " FROM uni CROSS JOIN stats"
        " UNION ALL "
        "SELECT term, is_pair, cf,"
        f" CAST(cf * {int(scale)} // ptot.n AS BIGINT) AS p_q"
        " FROM pairlm CROSS JOIN ptot")


def sql_toplayer_topk(budget: int = 4000, k: int = TOPK) -> str:
    """Oracle for the quality-model-driven budgeted top-layer path: trains
    the quality matrix, replays the cell-greedy selection (density-ranked
    cells under a posting budget, per-term chunks-in-order), extracts the
    selected prefixes and answers the query set over them — the full
    Q4→Q6→Q7→X1 pipeline in one SQL statement, matching
    quality.cell_greedy_prefixes + extract_top_layers_df exactly (the only
    float op is the density int/int division, IEEE-exact both sides)."""
    from .quality import LEN_BASE, LEN_START, RANK_BASE, RANK_START, \
        geometric_ranges
    lenr = _ranges_values("lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_values("rb", geometric_ranges(RANK_BASE, RANK_START))
    return (
        f"WITH {_TOK_CTE.strip()}, {_SCORED_CTE.strip()}, {_query_values()}, "
        f"{_GOLDEN_CTE.strip()}, {lenr}, {rankr}, "
        "gterms AS ("
        "  SELECT DISTINCT q.term, g.doc_id"
        "  FROM golden g JOIN queries q USING (qid)), "
        "p AS ("
        "  SELECT term, doc_id, score_q, df AS list_len,"
        "         row_number() OVER (PARTITION BY term"
        "           ORDER BY score_q DESC, doc_id) - 1 AS pos"
        "  FROM scored), "
        "pb AS ("
        "  SELECT p.term, p.doc_id, lbr.lb, rbr.rb"
        "  FROM p"
        "  JOIN lbr ON p.list_len >= lbr.lb_lo AND p.list_len < lbr.lb_hi"
        "  JOIN rbr ON p.pos >= rbr.rb_lo AND p.pos < rbr.rb_hi), "
        "acc AS (SELECT lb, rb, count(*) AS accesses FROM pb GROUP BY lb, rb), "
        "hitsc AS ("
        "  SELECT pb.lb, pb.rb, count(*) AS hits"
        "  FROM pb JOIN gterms g ON g.term = pb.term AND g.doc_id = pb.doc_id"
        "  GROUP BY pb.lb, pb.rb), "
        "dens AS ("
        "  SELECT acc.lb, acc.rb, acc.accesses,"
        "         CAST(COALESCE(hitsc.hits, 0) AS DOUBLE)"
        "           / CAST(acc.accesses AS DOUBLE) AS density"
        "  FROM acc LEFT JOIN hitsc ON acc.lb = hitsc.lb AND acc.rb = hitsc.rb), "
        "cum AS ("
        "  SELECT lb, rb, sum(accesses) OVER (ORDER BY density DESC, lb, rb"
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum"
        "  FROM dens), "
        f"sel AS (SELECT lb, rb FROM cum WHERE cum <= {budget}), "
        "tdf AS (SELECT term, count(*) AS df FROM scored GROUP BY term), "
        "tl AS ("
        "  SELECT tdf.term, tdf.df, lbr.lb FROM tdf"
        "  JOIN lbr ON tdf.df >= lbr.lb_lo AND tdf.df < lbr.lb_hi), "
        "ch AS ("
        "  SELECT tl.term, tl.df, tl.lb, rbr.rb, rbr.rb_hi"
        "  FROM tl JOIN rbr ON rbr.rb_lo < tl.df), "
        "flg AS ("
        "  SELECT ch.term, ch.df, ch.rb, ch.rb_hi,"
        "         CASE WHEN sel.lb IS NOT NULL THEN 1 ELSE 0 END AS s"
        "  FROM ch LEFT JOIN sel ON sel.lb = ch.lb AND sel.rb = ch.rb), "
        "okk AS ("
        "  SELECT term, df, rb, rb_hi, min(s) OVER (PARTITION BY term"
        "    ORDER BY rb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "    AS ok FROM flg), "
        "keepq AS ("
        "  SELECT term, max(CASE WHEN ok = 1 THEN least(rb_hi, df)"
        "                   ELSE 0 END) AS keep"
        "  FROM okk GROUP BY term HAVING keep > 0), "
        "top AS ("
        "  SELECT p.term, p.doc_id, p.score_q"
        "  FROM p JOIN keepq USING (term) WHERE p.pos < keepq.keep), "
        "qscore2 AS ("
        "  SELECT q.qid, t.doc_id, CAST(sum(t.score_q) AS BIGINT) AS score_q"
        "  FROM queries q JOIN top t ON t.term = q.term"
        "  GROUP BY q.qid, t.doc_id) "
        "SELECT CAST(qid AS BIGINT) AS qid,"
        " CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, doc_id) - 1 AS BIGINT) AS rank,"
        " doc_id, score_q FROM qscore2"
        f" QUALIFY rank < {k}")


def sql_lm_doc_scores(log_scale: int) -> str:
    """CCNet-style unigram-LM NLL/token — lockstep with
    quality.lm_doc_scores: lp_q = floor(scale*ln(cf/total)) (DuckDB's
    ln is glibc log, the same function CPython math.log wraps — the BM25
    determinism posture), then exact integer sums and floor division."""
    return (
        f"WITH {_TOK_CTE.strip()}, "
        "cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term), "
        "tot AS (SELECT sum(cf) AS total FROM cf), "
        f"lm AS (SELECT term, CAST(floor({log_scale} *"
        " ln(CAST(cf AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT)"
        " AS lp_q FROM cf, tot), "
        "per AS (SELECT doc_id, sum(tf.tf * (-lp_q)) AS snll,"
        " sum(tf.tf) AS n_tokens FROM tf JOIN lm USING (term)"
        " GROUP BY doc_id) "
        "SELECT t.doc_id,"
        " CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,"
        " CAST(CASE WHEN COALESCE(n_tokens, 0) > 0"
        " THEN snll // n_tokens ELSE 0 END AS BIGINT) AS nll_q"
        " FROM tok t LEFT JOIN per USING (doc_id)")


# ---------------------------------------------------------------------------
# Product-quantization oracles (annops PQ twins)
# ---------------------------------------------------------------------------

def _pq_prefix(m_count: int = 4, dsub: int = 16, ksub: int = 8,
               iters: int = 2) -> str:
    """CTE chain replaying annops' per-subspace deterministic k-means:
    identical recipe to _ivf_prefix with the subspace id ``m`` added to
    every key (init from the first ksub vectors' slices, unrolled Lloyd
    iterations, (dist, cid) tie-break, floor-mean updates)."""
    parts = [
        _QVEC_CTE,
        f"ms AS (SELECT range AS m FROM range({m_count}))",
        ("sub AS (SELECT q.vec_id, ms.m,"
         f" list_transform(range(1, {dsub + 1}),"
         f" i -> q.v[CAST(ms.m * {dsub} AS BIGINT) + i]) AS sv"
         " FROM qv q CROSS JOIN ms)")]
    parts += _pq_lloyd_parts(dsub, ksub, iters)
    return ", ".join(parts)


def _pq_lloyd_parts(dsub: int, ksub: int, iters: int) -> list:
    """The per-subspace Lloyd-iteration CTEs over an existing ``sub``
    (vec_id, m, sv) CTE — shared by the flat-PQ prefix (sub = raw slices)
    and the IVF-PQ prefix (sub = residual slices)."""
    sq = (f"list_sum(list_transform(range(1, {dsub + 1}),"
          " i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))")
    parts = [(f"pc0 AS (SELECT m, vec_id AS cid, sv AS cv FROM sub"
              f" WHERE vec_id < {ksub})")]
    for t in range(iters + 1):
        parts.append(
            f"pd{t} AS (SELECT s.vec_id, s.m, c.cid, {sq} AS dist"
            f" FROM sub s JOIN pc{t} c USING (m))")
        parts.append(
            f"pa{t} AS (SELECT vec_id, m, cid FROM ("
            "SELECT vec_id, m, cid, row_number() OVER"
            " (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn"
            f" FROM pd{t}) WHERE rn = 1)")
        if t == iters:
            break
        parts.append(
            f"pcomp{t} AS (SELECT a.m, a.cid, unnest(s.sv) AS x,"
            " generate_subscripts(s.sv, 1) AS i"
            f" FROM sub s JOIN pa{t} a ON a.vec_id = s.vec_id"
            " AND a.m = s.m)")
        parts.append(
            f"pupd{t} AS (SELECT m, cid, i,"
            " CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)"
            f" AS cx FROM pcomp{t} GROUP BY m, cid, i)")
        parts.append(
            f"pc{t + 1} AS (SELECT m, cid, list(cx ORDER BY i) AS cv"
            f" FROM pupd{t} GROUP BY m, cid)")
    return parts


def sql_ann_pq_codes(m_count: int = 4, dsub: int = 16, ksub: int = 8,
                     iters: int = 2) -> str:
    return (f"WITH {_pq_prefix(m_count, dsub, ksub, iters)} "
            "SELECT vec_id, CAST(m AS BIGINT) AS m,"
            f" CAST(cid AS BIGINT) AS code FROM pa{iters}")


def sql_ann_pq_adc_topk(n_probes: int = 10, topk: int = 10,
                        m_count: int = 4, dsub: int = 16, ksub: int = 8,
                        iters: int = 2) -> str:
    dot = (f"list_sum(list_transform(range(1, {dsub + 1}),"
           " i -> pr.qsv[i] * c.cv[i]))")
    return (
        f"WITH {_pq_prefix(m_count, dsub, ksub, iters)}, "
        "pr AS (SELECT s.vec_id AS qid, s.m, s.sv AS qsv FROM sub s"
        f" WHERE s.vec_id < {n_probes}), "
        f"adc AS (SELECT pr.qid, pr.m, c.cid AS code, {dot} AS t"
        f" FROM pr JOIN pc{iters} c USING (m)), "
        "scored AS (SELECT a.qid, k.vec_id,"
        " CAST(sum(a.t) AS BIGINT) AS score_q"
        f" FROM pa{iters} k JOIN adc a ON a.m = k.m AND a.code = k.cid"
        " WHERE k.vec_id <> a.qid GROUP BY a.qid, k.vec_id) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, vec_id) - 1 AS BIGINT) AS rank,"
        " vec_id, score_q FROM scored"
        f" QUALIFY rank < {topk}")


# ---------------------------------------------------------------------------
# IVF-PQ composite oracles (annops.ivfpq_* twins)
# ---------------------------------------------------------------------------

def _ivfpq_prefix(k: int = 8, iters: int = 2, m_count: int = 4,
                  dsub: int = 16, ksub: int = 8, pq_iters: int = 2,
                  dim: int = 64) -> str:
    """IVF coarse-quantizer CTEs (cents{iters}, a{iters}) + residual
    vectors + the per-subspace Lloyd loop over RESIDUAL slices — the
    training chain behind annops.ivfpq_codes/ivfpq_topk."""
    parts = [_ivf_prefix(k, iters, dim)]
    parts.append(
        f"res AS (SELECT q.vec_id, list_transform(range(1, {dim + 1}),"
        " i -> q.v[i] - c.cv[i]) AS rv"
        f" FROM qv q JOIN a{iters} a USING (vec_id)"
        f" JOIN cents{iters} c USING (cid))")
    parts.append(f"ms AS (SELECT range AS m FROM range({m_count}))")
    parts.append(
        "sub AS (SELECT r.vec_id, ms.m,"
        f" list_transform(range(1, {dsub + 1}),"
        f" i -> r.rv[CAST(ms.m * {dsub} AS BIGINT) + i]) AS sv"
        " FROM res r CROSS JOIN ms)")
    parts += _pq_lloyd_parts(dsub, ksub, pq_iters)
    return ", ".join(parts)


def sql_ann_ivfpq_codes(k: int = 8, iters: int = 2, m_count: int = 4,
                        dsub: int = 16, ksub: int = 8,
                        pq_iters: int = 2) -> str:
    """Oracle for annops.ivfpq_codes: coarse cell id + M residual codes."""
    return (f"WITH {_ivfpq_prefix(k, iters, m_count, dsub, ksub, pq_iters)} "
            "SELECT p.vec_id, CAST(a.cid AS BIGINT) AS cid,"
            " CAST(p.m AS BIGINT) AS m, CAST(p.cid AS BIGINT) AS code"
            f" FROM pa{pq_iters} p JOIN a{iters} a USING (vec_id)")


def sql_ann_ivfpq_topk(n_probes: int = 10, topk: int = 10, k: int = 8,
                       iters: int = 2, nprobe: int = 2, m_count: int = 4,
                       dsub: int = 16, ksub: int = 8,
                       pq_iters: int = 2, dim: int = 64) -> str:
    """Oracle for annops.ivfpq_topk: probe nprobe nearest cells; score =
    dot(q, centroid) + Σ_m ADC(query slice, residual codebook entry)."""
    sqp = (f"list_sum(list_transform(range(1, {dim + 1}),"
           " i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))")
    dotp = (f"list_sum(list_transform(range(1, {dim + 1}),"
            " i -> q.v[i] * c.cv[i]))")
    adot = (f"list_sum(list_transform(range(1, {dsub + 1}),"
            " i -> qs.qsv[i] * c.cv[i]))")
    return (
        f"WITH {_ivfpq_prefix(k, iters, m_count, dsub, ksub, pq_iters)}, "
        "pcell AS (SELECT qid, cid, term1 FROM ("
        f"  SELECT q.vec_id AS qid, c.cid, {sqp} AS dist, {dotp} AS term1,"
        "   row_number() OVER (PARTITION BY q.vec_id"
        "     ORDER BY dist, cid) AS rn"
        f"  FROM qv q CROSS JOIN cents{iters} c"
        f"  WHERE q.vec_id < {n_probes}) WHERE rn <= {nprobe}), "
        "qsub AS (SELECT q.vec_id AS qid, ms.m,"
        f" list_transform(range(1, {dsub + 1}),"
        f" i -> q.v[CAST(ms.m * {dsub} AS BIGINT) + i]) AS qsv"
        f" FROM qv q CROSS JOIN ms WHERE q.vec_id < {n_probes}), "
        f"adc AS (SELECT qs.qid, qs.m, c.cid AS code, {adot} AS t"
        f" FROM qsub qs JOIN pc{pq_iters} c USING (m)), "
        "cand AS (SELECT p.qid, a.vec_id, p.term1"
        f" FROM a{iters} a JOIN pcell p USING (cid)"
        " WHERE a.vec_id <> p.qid), "
        "scored AS (SELECT cd.qid, cd.vec_id,"
        " CAST(max(cd.term1) + sum(ad.t) AS BIGINT) AS score_q"
        f" FROM cand cd JOIN pa{pq_iters} pk ON pk.vec_id = cd.vec_id"
        " JOIN adc ad ON ad.qid = cd.qid AND ad.m = pk.m"
        " AND ad.code = pk.cid"
        " GROUP BY cd.qid, cd.vec_id) "
        "SELECT qid, CAST(row_number() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, vec_id) - 1 AS BIGINT) AS rank,"
        " vec_id, score_q FROM scored"
        f" QUALIFY rank < {topk}")


def sql_dedup_clusters() -> str:
    """Oracle for textops.dedup_clusters: connected components over the
    LSH candidate pairs as a recursive label closure — (doc, label) pairs
    grow along edges until fixpoint; min(label) per doc = component min."""
    return (
        f"WITH RECURSIVE {_TOK_CTE.strip()}, {_DICT_CTE.strip()},"
        f" {_SIG_CTE.strip()}, "
        "bands AS ("
        "  SELECT doc_id, perm // 2 AS band,"
        "  CAST(sum(minhash * CASE WHEN perm % 2 = 0 THEN 2147483648 ELSE 1 END)"
        "       AS BIGINT) AS band_key"
        "  FROM sig GROUP BY doc_id, perm // 2), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        " FROM bands a JOIN bands b"
        " ON a.band = b.band AND a.band_key = b.band_key"
        " AND a.doc_id < b.doc_id), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand"
        " UNION SELECT doc_b, doc_a FROM cand), "
        "cc AS ("
        "  SELECT doc_id, doc_id AS label FROM documents"
        "  UNION"
        "  SELECT e.dst AS doc_id, cc.label FROM cc"
        "  JOIN edges e ON e.src = cc.doc_id) "
        "SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id"
        " FROM cc GROUP BY doc_id")


def sql_gopher_rules() -> str:
    """Oracle for textops.gopher_rules (length() = characters on both
    engines; the corpus is ASCII so char == byte never matters). The
    bounds and stopword list are imported from textops so a tuning
    change cannot silently diverge the two engines."""
    from .textops import (
        GOPHER_MAX_BULLET_Q, GOPHER_MAX_SYMBOL_Q, GOPHER_MAX_TOKENS,
        GOPHER_MAX_WLEN_Q, GOPHER_MIN_STOP_HITS, GOPHER_MIN_TOKENS,
        GOPHER_MIN_WLEN_Q, STOPWORDS_EN,
    )
    sw = "[" + ",".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
    return (
        f"WITH {_TOK_CTE.strip()}, "
        "base AS (SELECT d.doc_id, t.toks, d.text"
        " FROM documents d JOIN tok t USING (doc_id)), "
        "sig AS (SELECT doc_id,"
        " CAST(len(toks) AS BIGINT) AS n_tokens,"
        " COALESCE(list_sum(list_transform(toks, s -> length(s))), 0)"
        "   AS chars,"
        " len(regexp_extract_all(text, '#'))"
        "   + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols,"
        " len(string_split(text, chr(10))) AS n_lines,"
        " len(list_filter(string_split(text, chr(10)),"
        "   x -> regexp_matches(x, '^\\s*[-*•]'))) AS n_bullets,"
        f" len(list_intersect(list_distinct(toks), {sw})) AS stop_hits"
        " FROM base), "
        "qs AS (SELECT doc_id, n_tokens,"
        " CASE WHEN n_tokens > 0 THEN CAST(floor(1000 * chars / n_tokens)"
        "   AS BIGINT) ELSE CAST(0 AS BIGINT) END AS mean_wlen_q,"
        " CASE WHEN n_tokens > 0 THEN CAST(floor(1000000 * n_symbols"
        "   / n_tokens) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        "   AS symbol_ratio_q,"
        " CASE WHEN n_lines > 0 THEN CAST(floor(1000000 * n_bullets"
        "   / n_lines) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        "   AS bullet_ratio_q,"
        " CAST(stop_hits AS BIGINT) AS stop_hits FROM sig) "
        "SELECT doc_id, n_tokens, mean_wlen_q, symbol_ratio_q,"
        " bullet_ratio_q, stop_hits,"
        f" CAST(CASE WHEN n_tokens BETWEEN {GOPHER_MIN_TOKENS}"
        f" AND {GOPHER_MAX_TOKENS}"
        f"   AND mean_wlen_q BETWEEN {GOPHER_MIN_WLEN_Q}"
        f" AND {GOPHER_MAX_WLEN_Q}"
        f"   AND symbol_ratio_q <= {GOPHER_MAX_SYMBOL_Q}"
        f" AND bullet_ratio_q <= {GOPHER_MAX_BULLET_Q}"
        f"   AND stop_hits >= {GOPHER_MIN_STOP_HITS}"
        " THEN 1 ELSE 0 END AS BIGINT) AS keep"
        " FROM qs")


def sql_events_rollup() -> str:
    """Oracle for relops.events_rollup (GROUPING SETS twin; lvl =
    grouping_id over (event_type, day) — same bit order both engines)."""
    return (
        "WITH ev AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,"
        " CAST(round(value * 1000) AS BIGINT) AS vq FROM events) "
        "SELECT COALESCE(event_type, 'ALL') AS event_type,"
        " COALESCE(day, 'ALL') AS day,"
        " CAST(count(*) AS BIGINT) AS n,"
        " CAST(sum(vq) AS BIGINT) AS sum_value_q,"
        " CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS lvl"
        " FROM ev GROUP BY ROLLUP (event_type, day)")


def sql_value_percentiles() -> str:
    """Oracle for relops.value_percentiles (lower nearest-rank)."""
    def sel(p, name):
        return (f"p{p} AS (SELECT event_type, vq AS {name} FROM r"
                f" WHERE rn = CAST(floor((n - 1) * {p} / 100.0) AS BIGINT)"
                " + 1)")
    return (
        "WITH ev AS (SELECT event_type,"
        " CAST(round(value * 1000) AS BIGINT) AS vq FROM events), "
        "r AS (SELECT event_type, vq,"
        " row_number() OVER (PARTITION BY event_type ORDER BY vq) AS rn,"
        " count(*) OVER (PARTITION BY event_type) AS n FROM ev), "
        "cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n"
        " FROM ev GROUP BY event_type), "
        f"{sel(50, 'p50_q')}, {sel(90, 'p90_q')}, {sel(99, 'p99_q')} "
        "SELECT c.event_type, c.n, p50_q, p90_q, p99_q FROM cnt c"
        " JOIN p50 USING (event_type) JOIN p90 USING (event_type)"
        " JOIN p99 USING (event_type)")


def sql_events_cube() -> str:
    """Oracle for relops.events_cube. DuckDB dayofweek: Sunday=0 vs
    Spark's Sunday=1, so the oracle shifts by +1 to match Spark's
    1..7 convention."""
    return (
        "WITH ev AS (SELECT event_type,"
        " CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,"
        " CAST(round(value * 1000) AS BIGINT) AS vq FROM events) "
        "SELECT COALESCE(event_type, 'ALL') AS event_type,"
        " CAST(COALESCE(dow, -1) AS BIGINT) AS dow,"
        " CAST(count(*) AS BIGINT) AS n,"
        " CAST(sum(vq) AS BIGINT) AS sum_value_q,"
        " CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS lvl"
        " FROM ev GROUP BY CUBE (event_type, dow)")

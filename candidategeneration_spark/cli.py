"""spark-submit entrypoints (the north star's deployment mode).

On a cluster:

    python -m candidategeneration_spark.cli zip           # emit py-files zip
    spark-submit --py-files cg.zip -m ... build \
        --corpus s3://bucket/corpus --out s3://bucket/index \
        --dbigram 5
    spark-submit --py-files cg.zip ... query \
        --index s3://bucket/index --queries queries.tsv --out results

The master is the CLI's own ``--master``, else the one spark-submit was
given, else ``local[SPARK_GRAFT_CPUS]``, where the same commands run
against local parquet paths. The build writes the term-bucketed segment
store (partition-pruned reads: a query touches at most |query terms|
buckets). ``--resume-root DIR`` checkpoints every build phase there, so
a re-run after a crash skips the finished ones.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .config import get_spark
    return get_spark(master=args.master)


def _load_docs(spark, path: str):
    """Corpus parquet with the (doc_id, text) contract: 'content' is the
    north-star column name, aliased here once for every subcommand."""
    docs = spark.read.parquet(path)
    if "text" not in docs.columns and "content" in docs.columns:
        docs = docs.withColumnRenamed("content", "text")
    return docs


def _stopwords(args):
    if getattr(args, "stopwords_web", False):
        from .tokenizer import STOPWORDS_WEB
        return STOPWORDS_WEB
    return None


def cmd_zip(args) -> int:
    from .config import package_zip
    print(package_zip(args.out))
    return 0


def cmd_build(args) -> int:
    from .build import build_index, release_build_caches
    from .sources.segmentstore import save_segments
    spark = _spark(args)
    docs = spark.read.parquet(args.corpus)
    id_col = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
    text_col = "content" if "content" in docs.columns else "text"
    checkpoint = None
    if args.resume_root:
        from .checkpoints import Checkpointer
        checkpoint = Checkpointer(args.resume_root, spark)
    segments, stats = build_index(docs, id_col, text_col,
                                  args.dbigram or None,
                                  checkpoint=checkpoint,
                                  stopwords=_stopwords(args))
    save_segments(segments, args.out, n_buckets=args.buckets)
    # the store write above materialized the segments: the build's pinned
    # intermediates are no longer needed (also pops the non-JSON "cached"
    # handle list from stats before the dump below)
    release_build_caches(stats)
    print(json.dumps({"out": args.out, **stats}))
    return 0


def cmd_query(args) -> int:
    from pyspark.sql import functions as F
    from .queryengine import wand_topk
    from .sources.segmentstore import load_segments
    from .tokenizer import tokens_col
    spark = _spark(args)
    segments = load_segments(spark, args.index)
    # apply the tokenizer contract to query text (lowercase, [a-z0-9.],
    # min length) — raw uppercase/punctuated terms would silently miss
    # the lowercased index
    qdf = (spark.read.option("sep", "\t").csv(args.queries)
           .select(F.col("_c0").cast("long").alias("qid"),
                   tokens_col(F.col("_c1")).alias("terms")))
    res = wand_topk(segments, qdf, k=args.k)
    res.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "rows": n}))
    return 0


def cmd_dedup(args) -> int:
    from . import textops
    spark = _spark(args)
    docs = _load_docs(spark, args.corpus)
    if args.method == "lsh":
        pairs = textops.lsh_candidate_pairs(
            docs, max_bucket_size=args.max_bucket_size or None,
            scale=args.scale)
    else:
        pairs = textops.ngram_jaccard_pairs(
            docs, gram_df_cap=args.gram_df_cap or None, scale=args.scale)
    pairs.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    n_clusters = None
    if args.clusters:
        clusters = textops.dedup_clusters(
            docs, pairs=spark.read.parquet(args.out))
        clusters.write.mode("overwrite").parquet(args.clusters)
        n_clusters = (spark.read.parquet(args.clusters)
                      .select("cluster_id").distinct().count())
    print(json.dumps({"out": args.out, "method": args.method,
                      "pairs": n, "scale": args.scale,
                      "clusters_out": args.clusters,
                      "n_clusters": n_clusters}))
    return 0


def cmd_quality(args) -> int:
    from . import textops
    spark = _spark(args)
    docs = _load_docs(spark, args.corpus)
    out = textops.gopher_rules(docs)
    if args.keep_only:
        out = out.where(out.keep == 1)
    out.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    print(json.dumps({"out": args.out, "rows": res.count(),
                      "kept": res.where(res.keep == 1).count()}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="candidategeneration_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    z = sub.add_parser("zip", help="write the --py-files zip")
    z.add_argument("--out", default=None)
    z.set_defaults(fn=cmd_zip)

    b = sub.add_parser("build", help="build the segment store")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--dbigram", type=int, default=0,
                   help="d-bigram window distance (0 = unigrams only)")
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--resume-root", default=None, dest="resume_root",
                   help="checkpoint dir: each build phase is written there "
                        "and a re-run skips the finished ones")
    b.add_argument("--stopwords-web", action="store_true",
                   dest="stopwords_web",
                   help="drop the standard English web stopword list at "
                        "tokenize time (reference T2 capability; default "
                        "off for code corpora)")
    b.set_defaults(fn=cmd_build)

    d = sub.add_parser("dedup", help="near-dup candidate pairs over a "
                                     "corpus (LSH or n-gram Jaccard)")
    d.add_argument("--corpus", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--method", choices=("lsh", "ngram"), default="lsh")
    d.add_argument("--scale", action="store_true",
                   help="100 TB preset: apply the measured hot-bucket / "
                        "gram-df caps (BENCH/CAPS.md) that bound join "
                        "fan-out on boilerplate-skewed corpora; off = "
                        "exact oracle-parity mode")
    d.add_argument("--max-bucket-size", type=int, default=0,
                   dest="max_bucket_size",
                   help="explicit LSH hot-bucket cap (overrides --scale "
                        "default)")
    d.add_argument("--gram-df-cap", type=int, default=0, dest="gram_df_cap",
                   help="explicit n-gram document-frequency cap (overrides "
                        "--scale default)")
    d.add_argument("--clusters", default=None,
                   help="also write (doc_id, cluster_id) connected "
                        "components over the pairs to this path "
                        "(cluster_id = canonical min doc_id)")
    d.set_defaults(fn=cmd_dedup)

    qa = sub.add_parser("quality", help="Gopher-rules quality signals + "
                                        "keep decision per document")
    qa.add_argument("--corpus", required=True)
    qa.add_argument("--out", required=True)
    qa.add_argument("--keep-only", action="store_true", dest="keep_only",
                    help="write only rows passing every bound")
    qa.set_defaults(fn=cmd_quality)

    q = sub.add_parser("query", help="run a query file against an index")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True,
                   help="TSV: qid<TAB>query text (tokenized with the "
                        "index's contract: lowercase, [a-z0-9.], len>=2)")
    q.add_argument("--out", required=True)
    q.add_argument("--k", type=int, default=10)
    q.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads: set-up, one request, and output checks.

Each workload is driven by one client in a closed loop: the runner
(run.py) sends the next request only when the previous one returned.
Checks run outside every timed region.

- ``build``: ``build.build_index`` d-bigram requests (the north star
  operator); the traced run first adds one crash-and-resume cycle of
  ``checkpoints.build_index_resumable``.
- ``serve``: each request is a 500-query batch against a prepared
  (collected and broadcast) unigram index,
  ``queryengine.wand_topk_prepared``, then a 10-query ad-hoc batch over
  fresh terms whose lists are loaded from the on-disk store and answered
  with ``queryengine.wand_topk(mode="join")``.
"""

from __future__ import annotations

import os
import pickle
import shutil
import threading
import time
from contextlib import nullcontext

import numpy as np

import inputs
import metrics

K = 10
DBIGRAM_DISTANCE = 5
CHECKPOINT_PHASES = ("stats", "postings", "scored", "pairs", "segments")

# layer metrics the workloads measure without Spark spans: name, unit,
# which direction is better. A workload reports 0 for layers it never runs.
OTHER_LAYERS = tuple(
    [(f"checkpoints.{p}.{m}", u, "lower") for p in CHECKPOINT_PHASES
     for m, u in (("wall_s", "s"), ("mb_written", "MB"))]
    + [("checkpoints.resume.wall_s", "s", "lower"),
       ("checkpoints.bytes_written_per_posting", "B", "lower"),
       ("queryengine.prepare.wall_s", "s", "lower"),
       ("queryengine.prepare.broadcast_mb", "MB", "lower"),
       ("queryengine.kernel.p50_us", "us", "lower"),
       ("queryengine.kernel.p99_us", "us", "lower"),
       ("queryengine.kernel.exhaustive_p50_us", "us", "lower"),
       ("indexcodec.decode.postings_per_s", "1/s", "higher"),
       ("segmentstore.load.buckets_read_frac", "ratio", "lower"),
       ("segmentstore.save.wall_s", "s", "lower"),
       ("queryengine.join.rows_per_result", "ratio", "lower")])


def _decode_rows(rows) -> dict:
    from candidategeneration_spark.indexcodec import segment_from_row
    return {r["term"]: segment_from_row(r) for r in rows}


def _expected_topk(local: dict, queries) -> list[tuple]:
    """(qid, rank, doc_id, score_q) of ``topk_exhaustive`` over locally
    decoded segments — the reference every served row is checked against."""
    from candidategeneration_spark.queryengine import topk_exhaustive
    out = []
    for qid, terms in queries:
        segs = [local[t] for t in dict.fromkeys(terms) if t in local]
        dids, scores = topk_exhaustive(segs, K)
        out += [(qid, r, int(d), int(s))
                for r, (d, s) in enumerate(zip(dids, scores))]
    return out


def _fingerprint(df, cols) -> tuple:
    """(rows, sum of df, sum of 64-bit row hashes over ``cols``) of a
    segment table: equal for tables holding the same rows byte for byte,
    in any order."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return tuple(df.agg(F.count("*"), F.sum("df"), F.sum(h)).collect()[0])


def _result_tuples(rows) -> list[tuple]:
    return sorted((int(r["qid"]), int(r["rank"]), int(r["doc_id"]),
                   int(r["score_q"])) for r in rows)


def _oracle_failures(oracle, queries, got: list[tuple], n: int,
                     seed: int) -> list[str]:
    """Compare a seeded sample of queries with ``OracleIndex.topk``."""
    rng = np.random.default_rng([seed, 7])
    by_qid: dict[int, list] = {}
    for qid, rank, did, score in got:
        by_qid.setdefault(qid, []).append((rank, did, score))
    bad = []
    for i in rng.choice(len(queries), size=min(n, len(queries)),
                        replace=False):
        qid, terms = queries[int(i)]
        want = oracle.topk(terms, K)
        have = [(d, s) for _, d, s in sorted(by_qid.get(qid, []))]
        if have != want:
            bad.append(f"query {qid} {terms}: oracle {want[:3]}... "
                       f"served {have[:3]}...")
    return bad


class Workload:
    """Base: subclasses define setup/teardown/prepare/request/check."""
    name = ""
    n_docs = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.outputs: list = []   # per request, what check() verifies
        self.layer: dict[str, float] = {}   # non-Spark layer metrics
        self.extra: dict[str, tuple] = {}   # printed metrics: (value, unit)

    def before_requests(self, traced: bool) -> int:
        """One-off work before the request loop; returns the number of
        extra operations check() verifies."""
        return 0

    def finish_layers(self) -> None:
        """Fold per-request layer samples into ``self.layer``."""

    def corpus(self):
        docs = inputs.corpus(self.spark, self.n_docs, self.seed).cache()
        docs.count()
        return docs

    def span(self, name, traced=True):
        return self.ctx.tracer.span(name) if traced else nullcontext()


# --------------------------------------------------------------------------

class Build(Workload):
    name = "build"
    # a build request is ≈5 s of per-job Spark and Python-worker cost
    # whatever the size below a few hundred docs; 200 docs keep it near
    # that floor, so a run fits its three timed requests
    n_docs = 200
    # one store bucket per task's worth of data: the default 64 buckets
    # would write a thousand tiny files for a corpus this small
    store_buckets = 8

    def setup(self):
        self.docs = self.corpus()

    def teardown(self):
        self.docs.unpersist()

    def prepare(self):
        from candidategeneration_spark.oracle import OracleIndex
        rows = inputs.corpus_rows(self.docs)
        self.oracle = OracleIndex(rows, DBIGRAM_DISTANCE)
        self.n_postings = sum(self.oracle.df.values()) + sum(
            len(v) for v in self.oracle.pair_docs.values())
        return rows, []

    def request(self, i, traced):
        from candidategeneration_spark import build
        sw = metrics.Stopwatch()
        if traced:
            seg, cached = self._traced_build()
        else:
            seg, stats = build.build_index(self.docs, text_col="content",
                                           dbigram_distance=DBIGRAM_DISTANCE)
            seg = seg.persist()
            seg.count()
            cached = stats.pop("cached")
        for df in cached:
            df.unpersist()
        sw.stop()
        # checked now and released: a later request with the same plan
        # would otherwise be answered from this one's cache
        if not self.outputs:
            self.columns = seg.columns
            self.sample_failures = self._sample_failures(seg)
        self.outputs.append(_fingerprint(seg, self.columns))
        seg.unpersist()
        return sw, self.n_postings

    def _traced_build(self):
        """build_index's d-bigram plan, one public call per span, each
        materialized on its own."""
        from candidategeneration_spark import build
        docs, n = self.docs, self.docs.count()
        sc = self.spark.sparkContext
        with self.span("tokenizer.tokenize"):
            tok_parts = min(sc.defaultParallelism,
                            max(1, -(-n // build.DOCS_PER_TOKENIZE_TASK)))
            tokd = build.tokenize_docs(docs, text_col="content",
                                       input_partitions=tok_parts).persist()
            tokd.count()
        with self.span("build.postings"):
            postings = build.build_postings_from_tokens(tokd).persist()
            postings.count()
        with self.span("build.stats"):
            stats = build.global_stats_from_postings(postings, n)
        with self.span("build.score"):
            scored = build.score_postings(postings, stats["n_docs"],
                                          stats["avgdl"]).persist()
            scored.count()
        with self.span("build.pairs"):
            parts = min(sc.defaultParallelism * 4, max(
                1, -(-stats["total_tokens"] // build.TOKENS_PER_PAIR_TASK)))
            pairs = build.build_pair_postings_from_tokens(
                tokd, scored, DBIGRAM_DISTANCE, num_partitions=parts).persist()
            pairs.count()
        with self.span("build.encode"):
            hint = stats["n_postings"] \
                + DBIGRAM_DISTANCE * stats["total_tokens"]
            seg = build.build_segments(build.pair_segment_input(scored, pairs),
                                       n_postings_hint=hint).persist()
            seg.count()
        return seg, [tokd, postings, scored, pairs]

    def before_requests(self, traced):
        """Traced run only: one crash-and-resume cycle. The resumable build
        is killed once its pair phase starts (every Spark job cancelled),
        then called again on the same root, which must finish the build
        from the checkpoints."""
        from candidategeneration_spark.checkpoints import build_index_resumable
        self.resumed = None
        if not traced:
            return 0
        root = os.path.join(self.ctx.work, "checkpoints")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        crashed = self._killed_during_pairs(root)
        killed_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        resumed, _, cp = build_index_resumable(
            self.docs, root, dbigram_distance=DBIGRAM_DISTANCE,
            n_store_buckets=self.store_buckets)
        resume_s = time.perf_counter() - t0
        self.resumed, self.crashed = resumed, crashed

        def nbytes(m):
            return sum(p["bytes"] for p in m["partitions"])
        manifests = {p: cp.manifest(p) for p in CHECKPOINT_PHASES}
        for p, m in manifests.items():
            self.layer[f"checkpoints.{p}.wall_s"] = m["wall_s"]
            self.layer[f"checkpoints.{p}.mb_written"] = nbytes(m) / 1e6
        self.layer["checkpoints.resume.wall_s"] = resume_s
        self.layer["checkpoints.bytes_written_per_posting"] = sum(
            nbytes(m) for m in manifests.values()) / self.n_postings
        self.extra["killed_build_s"] = (killed_s, "s")
        self.extra["resume_s"] = (resume_s, "s")
        self.extra["store_bytes_per_posting"] = (
            nbytes(manifests["segments"]) / self.n_postings, "B")
        return 1   # the resumed build is one more checked operation

    def _killed_during_pairs(self, root) -> bool:
        """Run the resumable build and cancel all jobs from the moment the
        scored checkpoint is committed. True if the build was interrupted."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException
        from candidategeneration_spark.checkpoints import build_index_resumable
        sc = self.spark.sparkContext
        marker = os.path.join(root, "scored.manifest.json")
        done = threading.Event()

        def killer():
            while not done.is_set():
                if os.path.exists(marker):
                    sc.cancelAllJobs()
                done.wait(0.05)
        thread = threading.Thread(target=killer, daemon=True)
        thread.start()
        try:
            build_index_resumable(self.docs, root,
                                  dbigram_distance=DBIGRAM_DISTANCE,
                                  n_store_buckets=self.store_buckets)
            return False
        except (Py4JJavaError, PySparkException):
            return True
        finally:
            done.set()
            thread.join()

    def check(self) -> list[list[str]]:
        """Every build must hold the oracle's posting count and the same
        rows as the first, whose sampled lists must equal the oracle's;
        the resumed build must be byte-identical to them."""
        first = self.outputs[0]
        fails = []
        for i, fp in enumerate(self.outputs):
            bad = [] if fp[1] == self.n_postings else [
                f"sum(df) {fp[1]} != oracle postings {self.n_postings}"]
            if fp != first:
                bad.append("segments differ from the first build's")
            fails.append(bad + (self.sample_failures if i == 0 else []))
        if self.resumed is not None:
            bad = [] if self.crashed else [
                "the killed build was not interrupted"]
            if _fingerprint(self.resumed, self.columns) != first:
                bad.append("resumed segments differ from build_index's")
            fails.append(bad)
        return fails

    def _sample_failures(self, seg, n: int = 25) -> list[str]:
        """Compare n seeded unigram and n pair lists with the oracle."""
        from pyspark.sql import functions as F
        from candidategeneration_spark.build import PAIR_SEP as sep
        rng = np.random.default_rng([self.seed, 3])
        uni = sorted(self.oracle.df)
        pairs = sorted(self.oracle.pair_docs)
        terms = {uni[int(i)]: None for i in rng.choice(len(uni), n, False)}
        for i in rng.choice(len(pairs), n, replace=False):
            t1, t2 = pairs[int(i)]
            terms[t1 + sep + t2] = (t1, t2)
        got = _decode_rows(seg.where(F.col("term").isin(list(terms)))
                           .collect())
        bad = []
        for term, pair in terms.items():
            if term not in got:
                bad.append(f"list {term!r} missing")
                continue
            dids, scores, tfs = got[term].decode_all()
            if pair is None:
                want = self.oracle.postings(term)
                have = list(zip(dids.tolist(), tfs.tolist(),
                                scores.tolist()))
            else:
                want = self.oracle.pair_postings(*pair)
                have = list(zip(dids.tolist(), scores.tolist()))
            if have != want:
                bad.append(f"list {term!r} differs from the oracle")
        return bad


# --------------------------------------------------------------------------

class Serve(Workload):
    """Each request is one client's serving round: a large batch against
    the prepared index, then a small ad-hoc batch answered from the store."""
    name = "serve"
    n_docs = 400
    batch_queries = 500
    adhoc_queries = 10
    # the default 64 buckets would split this store into files of a few
    # hundred postings, and a load would open dozens of them
    store_buckets = 16

    def setup(self):
        from candidategeneration_spark import build, queryengine
        from candidategeneration_spark.sources.segmentstore import \
            save_segments
        self.docs = self.corpus()
        seg, stats = build.build_index(self.docs, text_col="content",
                                       dbigram_distance=None)
        seg = seg.persist()
        seg.count()
        build.release_build_caches(stats)
        t0 = time.perf_counter()
        self.prep = queryengine.prepare_index(seg)
        self.layer["queryengine.prepare.wall_s"] = time.perf_counter() - t0
        self.store = os.path.join(self.ctx.work, "store")
        t0 = time.perf_counter()
        save_segments(seg, self.store, n_buckets=self.store_buckets)
        self.layer["segmentstore.save.wall_s"] = time.perf_counter() - t0
        seg.unpersist()

    def teardown(self):
        self.prep.bc.destroy()
        self.docs.unpersist()

    def prepare(self):
        from candidategeneration_spark.indexcodec import Segment
        from candidategeneration_spark.oracle import OracleIndex
        rows = inputs.corpus_rows(self.docs)
        payload = self.prep.bc.value
        self.layer["queryengine.prepare.broadcast_mb"] = \
            len(pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6
        self.local = {t: Segment(**d) for t, d in payload}
        self.n_postings = sum(s.df for s in self.local.values())
        self.oracle = OracleIndex(rows, None)
        self.vocab = inputs.Vocabulary(rows)
        self.bucket_fracs: list[float] = []
        self.shipped = self.results = 0
        batch, adhoc = self.queries(0)
        return rows, batch + adhoc

    def queries(self, i):
        """(prepared batch, ad-hoc batch) of request ``i``."""
        return (inputs.serving_batch(self.vocab, self.batch_queries,
                                     self.seed, i + 1),
                inputs.adhoc_batch(self.vocab, self.adhoc_queries,
                                   self.seed, i + 1))

    def request(self, i, traced):
        from candidategeneration_spark.queryengine import (
            wand_topk, wand_topk_prepared)
        from candidategeneration_spark.sources.segmentstore import \
            load_segments_for_terms
        batch, adhoc = self.queries(i)
        schema = "qid long, terms array<string>"
        qdf = self.spark.createDataFrame(batch, schema)
        adf = self.spark.createDataFrame(adhoc, schema)
        terms = sorted({t for _, ts in adhoc for t in ts})
        sw = metrics.Stopwatch()
        with self.span("queryengine.prepared_batch", traced):
            rows = wand_topk_prepared(self.prep, qdf, k=K).collect()
        with self.span("segmentstore.load", traced):
            segs = load_segments_for_terms(self.spark, self.store, terms,
                                           n_buckets=self.store_buckets)
            if traced:
                segs = segs.persist()
                segs.count()
        with self.span("queryengine.join_batch", traced):
            arows = wand_topk(segs, adf, k=K, mode="join").collect()
        sw.stop()
        if traced:
            segs.unpersist()
            if "queryengine.kernel.p50_us" not in self.layer:
                self._kernel_layers(batch)
            self._join_layers(terms, adhoc, len(arows))
        self.outputs.append((batch + adhoc, _result_tuples(rows + arows)))
        return sw, len(batch) + len(adhoc)

    def _kernel_layers(self, queries):
        """Per-query kernel and decode timings over locally decoded
        segments (no Spark), for the queries of one batch."""
        from candidategeneration_spark.queryengine import (topk_auto,
                                                           topk_exhaustive)
        auto, exh = [], []
        for _, terms in queries:
            segs = [self.local[t] for t in dict.fromkeys(terms)
                    if t in self.local]
            t0 = time.perf_counter()
            topk_auto(segs, K)
            t1 = time.perf_counter()
            topk_exhaustive(segs, K)
            auto.append(t1 - t0)
            exh.append(time.perf_counter() - t1)
        self.layer["queryengine.kernel.p50_us"] = np.percentile(auto, 50) * 1e6
        self.layer["queryengine.kernel.p99_us"] = np.percentile(auto, 99) * 1e6
        self.layer["queryengine.kernel.exhaustive_p50_us"] = \
            np.percentile(exh, 50) * 1e6
        served = {t for _, terms in queries for t in terms if t in self.local}
        n, t0 = 0, time.perf_counter()
        for t in served:
            self.local[t].decode_ds()
            n += self.local[t].df
        self.layer["indexcodec.decode.postings_per_s"] = n / (time.perf_counter() - t0)

    def _join_layers(self, terms, queries, n_rows):
        from pyspark.sql import functions as F
        from candidategeneration_spark.sources.segmentstore import bucket_of
        buckets = (self.spark.createDataFrame([(t,) for t in terms],
                                              "term string")
                   .select(bucket_of(F.col("term"), self.store_buckets))
                   .distinct().count())
        self.bucket_fracs.append(buckets / self.store_buckets)
        self.shipped += sum(len({t for t in ts if t in self.local})
                            for _, ts in queries)
        self.results += n_rows

    def finish_layers(self):
        if self.bucket_fracs:
            self.layer["segmentstore.load.buckets_read_frac"] = \
                float(np.median(self.bucket_fracs))
            self.layer["queryengine.join.rows_per_result"] = \
                self.shipped / max(1, self.results)

    def check(self):
        fails = []
        for queries, got in self.outputs:
            want = sorted(_expected_topk(self.local, queries))
            bad = [] if got == want else [
                f"{len(set(got) ^ set(want))} rows differ from "
                "topk_exhaustive"]
            bad += _oracle_failures(self.oracle, queries, got, 10, self.seed)
            fails.append(bad)
        return fails


WORKLOADS = {w.name: w for w in (Build, Serve)}

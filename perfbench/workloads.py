"""The workloads. Each runs a fixed list of engine operations on
seeded inputs: ``make_inputs`` writes the corpus and tokenizes it for the
oracle before the session starts, ``prepare`` builds the oracle and the
request pools (neither is timed), ``setup`` does the engine set-up that
``setup_s`` reports, ``warmup`` runs untimed operations of each timed
kind, and ``measure`` runs the fixed timed work and returns the end-to-end
metrics. ``measure`` runs a second time, traced, in a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from harness import Oracle, PssSampler, dir_bytes, median, tail, term_counts
from inputs import batch_queries, doc_ids, request_pool, write_corpus

K = 10
# Corpus sizes. bulk_build's is small enough for 2 untimed and 3 timed
# builds in one run. search_serve's grows with the shard count so that a
# three-stopword request carries ~18k postings per shard, above the
# engine's WAND_FALLBACK_POSTINGS (16384): search(mode="auto") then runs
# the block-max WAND kernel for the head class.
BUILD_DOCS = 3000
SERVE_DOCS_PER_SHARD = 9000
N_SALTS = 4
# Build and batch-call walls keep falling for the first few calls in a
# process (JIT); this many untimed calls come first.
WARM_BUILDS = 2
WARM_BATCH_CALLS = 3
# search_batch calls per pass of the batch phase
BATCH_CALLS = 6


class Failures:
    def __init__(self, log):
        self.attempted = 0
        self.failed = 0
        self.log = log

    def ok(self, what, problem=None):
        """Count one operation; ``problem`` (a string) marks it failed."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.log(f"FAILED {what}: {problem}")


class Workload:
    name: str
    # nominal seconds of timed work per pass on a 4-core host; --seconds
    # only decides how many whole passes run
    pass_s: float
    build_source: str  # which builds index_build.write_s is taken from

    def __init__(self, work, facts, seed, seconds, scale, log):
        self.spark = None  # set by prepare(), once the session has started
        self.work = work
        self.seed = seed
        self.scale = scale
        self.log = log
        self.passes = max(1, round(seconds / self.pass_s))
        self.n_shards = facts["cores"]
        self.fails = Failures(log)
        self.setup_parts = {}
        self.build_walls = []  # full-corpus builds (per-layer write_s)

    # --- helpers --------------------------------------------------------
    def size(self, n):
        return max(50, int(n * self.scale))

    def docs_df(self, path):
        return self.docs_df_of(self.spark.read.parquet(path))

    @staticmethod
    def docs_df_of(df):
        from fluent_plugin_elasticsearch_spark.operators.index_build import with_doc_id

        return with_doc_id(df, "url")

    def build(self, docs, out, tracer):
        from fluent_plugin_elasticsearch_spark.operators.index_build import build_index

        t0 = time.perf_counter()
        with tracer.span("index_build.build_index", jobs=True, out=out):
            res = build_index(self.spark, docs, out, id_col="doc_id", html_col="html",
                              text_col=None, url_col="url", tokenizer="unicode",
                              n_shards=self.n_shards, n_salts=N_SALTS,
                              run_id=f"pb-{os.path.basename(out)}")
        return time.perf_counter() - t0, res

    def open_index(self, path, tracer, warm=False):
        from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

        t0 = time.perf_counter()
        with tracer.span("search.open", jobs=True):
            idx = InvertedIndex(self.spark, path, cache_term_stats=True)
        if warm:
            with tracer.span("search.warm", jobs=True):
                idx.warm()
        return idx, time.perf_counter() - t0

    def request(self, idx, req, tracer):
        t0 = time.perf_counter()
        with tracer.span("search.request", jobs=True, q=req["q"], op=req["op"]):
            rows = idx.search(req["q"], k=K, mode="auto", operator=req["op"]).collect()
        return time.perf_counter() - t0, [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def batch(self, idx, queries, tracer):
        t0 = time.perf_counter()
        with tracer.span("search.search_batch", jobs=True, n=len(queries)):
            rows = idx.search_batch(queries, k=K).collect()
        wall = time.perf_counter() - t0
        got = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
        return wall, got

    def check_request(self, oracle, req, got):
        self.fails.ok(f"request {req['q']!r}", oracle.check(req["q"], got, K, req["op"]))

    def check_batch(self, oracle, queries, got):
        problems = [p for qid, q in queries.items()
                    if (p := oracle.check(q, got.get(qid, []), K))]
        self.fails.ok("search_batch", "; ".join(problems[:3]) if problems else None)

    def check_index(self, path, oracle):
        """Exact build check, outside Spark: doc count, token count and
        every term's df against the oracle."""
        import pyarrow.parquet as pq

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        problem = None
        if meta["n_docs"] != len(oracle.dl) or meta["total_tokens"] != oracle.total:
            problem = (f"n_docs {meta['n_docs']} / tokens {meta['total_tokens']}, oracle "
                       f"{len(oracle.dl)} / {oracle.total}")
        else:
            ts = pq.read_table(os.path.join(path, "term_stats")).to_pydict()
            got = dict(zip(ts["term"], ts["df"]))
            want = {t: len(p) for t, p in oracle.post.items()}
            if got != want:
                bad = [t for t in set(got) | set(want) if got.get(t) != want.get(t)]
                problem = f"df differs on {len(bad)} terms, e.g. {bad[:3]}"
        self.fails.ok(f"index {os.path.basename(path)}", problem)
        return meta

    def warm_serving(self, idx, tracer):
        """Untimed calls of each timed kind: every third pool request (all
        classes) and WARM_BATCH_CALLS batch calls."""
        for req in self.pool[::3]:
            self.request(idx, req, tracer)
        for _ in range(WARM_BATCH_CALLS):
            self.batch(idx, self.batch_set, tracer)

    def serve(self, idx, tracer, m, source, passes):
        """The two timed phases, never interleaved: ``passes`` whole passes
        of single requests over the pool, then ``passes`` x BATCH_CALLS
        search_batch calls over the batch set. Every distinct request and
        the first batch call are checked against the oracle, after the
        timed phases."""
        lat, answers = [], {}
        t0 = time.perf_counter()
        for _ in range(passes):
            for i, req in enumerate(self.pool):
                dt, got = self.request(idx, req, tracer)
                lat.append(dt)
                answers.setdefault(i, got)
        phase = time.perf_counter() - t0
        calls, first = BATCH_CALLS * passes, None
        t0 = time.perf_counter()
        for _ in range(calls):
            wall, got = self.batch(idx, self.batch_set, tracer)
            self.log(f"info batch_call_s={wall:.3f}")
            if first is None:
                first = got
        batch_wall = time.perf_counter() - t0
        for i, req in enumerate(self.pool):
            self.check_request(self.oracle, req, answers[i])
        self.check_batch(self.oracle, self.batch_set, first)
        self.query_metrics(m, lat, phase, f"request phase, {source}")
        m["batch_qps"] = (calls * len(self.batch_set) / batch_wall, calls,
                          f"{len(self.batch_set)} queries per call, {source}")

    @staticmethod
    def query_metrics(m, lat, phase_wall, source):
        ms = [x * 1000.0 for x in lat]
        t, p = tail(ms)
        m["query_p50_ms"] = (median(ms), len(ms), source)
        m["query_tail_ms"] = (t, len(ms), f"p{p}, {source}")
        m["query_qps"] = (len(lat) / phase_wall, len(lat), source)

    def make_inputs(self):
        """The seeded corpus and its term counts; runs before the session."""
        self.n_docs = self.size(self.corpus_docs())
        self.path, pdf = write_corpus(self.work, "corpus", self.n_docs, self.seed)
        self.html_bytes = int(sum(len(h) for h in pdf["html"]))
        self.urls = list(pdf["url"])
        self.counts = term_counts(list(pdf["html"]), self.n_shards)

    def prepare(self, spark):
        """The oracle and the request pools, keyed by the engine's doc ids."""
        self.spark = spark
        ids = doc_ids(spark, self.path)
        self.oracle = Oracle()
        for url, (n, counts) in zip(self.urls, self.counts):
            self.oracle.add(ids[url], n, counts)
        del self.urls, self.counts
        self.pool = request_pool(self.oracle, self.seed)
        self.batch_set = batch_queries(self.oracle, self.seed)

    def opens(self, path, tracer, warm=False):
        """Open the index three times (set-up, reported as a median);
        returns the last handle."""
        walls, idx = [], None
        for _ in range(3):
            if idx is not None and warm:
                self.spark.catalog.clearCache()  # drops the last warm() cache
            idx, wall = self.open_index(path, tracer, warm=warm)
            walls.append(wall)
        self.setup_parts["open" + ("+warm" if warm else "")] = median(walls)
        return idx


class BulkBuild(Workload):
    """Write path alone: repeated full builds, no queries while builds are
    timed. The last build is then served by the same two phases as
    search_serve, which checks it and gives the read metrics."""

    name = "bulk_build"
    pass_s = 2.5
    build_source = "timed builds"

    def corpus_docs(self):
        return BUILD_DOCS

    def setup(self, tracer):
        pass  # the session only; the warm-up build's index is opened below

    def warmup(self, tracer):
        for i in range(WARM_BUILDS):
            out = os.path.join(self.work, f"idx_warm{i}")
            wall, _ = self.build(self.docs_df(self.path), out, tracer)
            self.log(f"info warmup_build_s={wall:.3f}")
            if i == 0:
                self.opens(out, tracer)
            shutil.rmtree(out)

    def measure(self, tracer):
        m = {}
        docs = self.docs_df(self.path)
        walls, last = [], None
        rss = PssSampler()
        rss.start()
        for i in range(self.passes):
            if last is not None:
                shutil.rmtree(last)  # outside the build wall: disk use stays flat
            last = os.path.join(self.work, f"idx_{tracer.enabled:d}_{i}")
            wall, _ = self.build(docs, last, tracer)
            self.log(f"info build_s={wall:.3f}")
            walls.append(wall)
            self.fails.ok(f"build {i}")
            self.check_index(last, self.oracle)
        self.build_walls += walls
        self.index_dir = last
        idx, _ = self.open_index(last, tracer, warm=True)
        self.warm_serving(idx, tracer)
        self.serve(idx, tracer, m, "on the last timed build", passes=1)
        rss.stop()
        self.spark.catalog.clearCache()
        m["build_docs_per_s"] = (self.n_docs / median(walls), len(walls), "timed builds")
        m["index_bytes_per_input_byte"] = (dir_bytes(last) / self.html_bytes, 1, "exact")
        m["peak_rss_mb"] = (rss.peak_mb, rss.samples, "builds and serving phases")
        return m


class SearchServe(Workload):
    """Warm serving: a closed loop of single requests (bound by the job
    floor), then search_batch calls over a larger batch set (bound by
    posting fetch and scoring), never interleaved."""

    name = "search_serve"
    pass_s = 5.0
    build_source = "set-up build"

    def corpus_docs(self):
        return SERVE_DOCS_PER_SHARD * self.n_shards

    def setup(self, tracer):
        out = os.path.join(self.work, "idx_serving")
        wall, _ = self.build(self.docs_df(self.path), out, tracer)
        self.build_walls.append(wall)
        self.setup_parts["build"] = wall
        self.check_index(out, self.oracle)
        self.index_dir = out
        self.serving = self.opens(out, tracer, warm=True)

    def warmup(self, tracer):
        self.warm_serving(self.serving, tracer)

    def measure(self, tracer):
        m = {}
        rss = PssSampler()
        rss.start()
        self.serve(self.serving, tracer, m, "own", self.passes)
        rss.stop()
        m["build_docs_per_s"] = (self.n_docs / self.setup_parts["build"], 1,
                                 "the set-up build, the process's first")
        m["index_bytes_per_input_byte"] = (dir_bytes(self.index_dir) / self.html_bytes, 1, "exact")
        m["peak_rss_mb"] = (rss.peak_mb, rss.samples, "request and batch phases")
        return m


WORKLOADS = {w.name: w for w in (BulkBuild, SearchServe)}

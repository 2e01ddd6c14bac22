"""Per-layer metrics for a traced run. Spans around the workload's own calls
give the session and build/request figures; probes run after the timed
work, on the workload's corpus and index, for the layers the workload does
not load (each probe calls one module's public functions from outside).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import dir_bytes, median

# name -> unit; BENCHMARK.json lists the same names (checked by selftest.py)
PER_LAYER = {
    "session.jobs_per_request": "count",
    "session.jobs_per_build": "count",
    "session.tasks_per_build": "count",
    "session.gc_s": "s",
    "extraction.busy_s": "s",
    "index_build.compute_s": "s",
    "index_build.write_s": "s",
    "index_build.staging_bytes_per_input_byte": "ratio",
    "index_build.postings": "count",
    "index_build.blocks": "count",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "codec.bytes_per_posting": "ratio",
    "search.dispatch_ms": "ms",
    "search.fetch_ms": "ms",
    "search.cold_fetch_ms": "ms",
    "search.fetched_postings_per_request": "count",
    "search.warm_s": "s",
    "wand.request_kernel_ms": "ms",
    "wand.request_kernel_share": "ratio",
    "wand.batch_kernel_ms_per_query": "ms",
    "ingest.transform_ms": "ms",
    "ingest.generation_build_s": "s",
    "cow_table.commit_ms": "ms",
    "cow_table.commit_attempts": "count",
    "cow_table.bytes_written_per_user_byte": "ratio",
    "cow_table.buckets_touched_per_batch": "count",
    "merge.busy_s": "s",
    "merge.bytes_rewritten_per_user_byte": "ratio",
}
# end-to-end metrics measured in the timed work, whose traced/untraced
# ratio is reported as trace_overhead.<name>
OVERHEAD_OF = ("build_docs_per_s", "query_p50_ms", "query_tail_ms", "query_qps",
               "batch_qps", "peak_rss_mb")
PER_LAYER.update({f"trace_overhead.{k}": "ratio" for k in OVERHEAD_OF})

FETCH_PER_CLASS = 2  # pool requests per class the fetch and kernel probes replay
CODEC_RUNS = 300  # seeded (shard, term) posting runs the codec probe decodes
ABSENT = "zq-absent-term-xj"


def timed(tracer, name, fn, **attrs):
    t0 = time.perf_counter()
    with tracer.span(name, jobs=True, **attrs):
        out = fn()
    return time.perf_counter() - t0, out


def manifest_sums(index_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "_manifest")).to_pydict()
    return sum(t["n_postings"]), sum(t["n_blocks"]), sum(t["enc_bytes"])


def build_probes(wl, tracer, r):
    from fluent_plugin_elasticsearch_spark.operators.index_build import (
        build_compute_only,
        tokens_df,
    )

    docs = wl.docs_df(wl.path)
    busy, _ = timed(tracer, "extraction.tokens_df", lambda: tokens_df(
        docs, "doc_id", html_col="html").write.format("noop").mode("overwrite").save())
    r["extraction.busy_s"] = (busy, 1, "tokens_df(html) -> noop")
    avgdl = wl.oracle.total / len(wl.oracle.dl)
    compute, _ = timed(tracer, "index_build.build_compute_only", lambda: build_compute_only(
        wl.spark, docs, id_col="doc_id", text_col=None, html_col="html",
        n_shards=wl.n_shards, n_salts=4, avgdl=avgdl))
    r["index_build.compute_s"] = (compute, 1, "build_compute_only -> noop")
    walls = wl.build_walls
    r["index_build.write_s"] = (median(walls) - compute, len(walls),
                                f"median build_index wall ({wl.build_source}) - compute_s")
    staging = dir_bytes(os.path.join(wl.index_dir, "_tokenized"))
    r["index_build.staging_bytes_per_input_byte"] = (staging / wl.html_bytes, 1, "exact")
    postings, blocks, enc = manifest_sums(wl.index_dir)
    r["index_build.postings"] = (postings, 1, "_manifest, exact")
    r["index_build.blocks"] = (blocks, 1, "_manifest, exact")
    r["codec.bytes_per_posting"] = (enc / postings, 1, "_manifest enc_bytes / postings, exact")


def codec_probes(wl, r):
    """encode_blocks / decode_block outside Spark, on a seeded sample of the
    index's own (shard, term) posting runs."""
    import numpy as np
    import pyarrow.parquet as pq

    from fluent_plugin_elasticsearch_spark import BM25_B, BM25_K1
    from fluent_plugin_elasticsearch_spark.operators.codec import (
        decode_block,
        encode_blocks,
        varint_decode,
    )

    t = pq.read_table(os.path.join(wl.index_dir, "postings"),
                      columns=["shard", "term", "first_doc", "n_docs", "docs_enc",
                               "tfs_enc", "dls_enc"]).to_pandas()
    t = t.sort_values(["shard", "term", "first_doc"], kind="stable")
    runs = list(t.groupby(["shard", "term"], sort=True, observed=True).groups.items())
    runs = random.Random(wl.seed).sample(runs, min(CODEC_RUNS, len(runs)))
    blocks = [t.loc[ix] for _, ix in runs]
    dec_n, t0 = 0, time.perf_counter()
    decoded = []
    for b in blocks:
        parts = [decode_block(d, f, int(n)) for d, f, n in
                 zip(b["docs_enc"], b["tfs_enc"], b["n_docs"])]
        decoded.append(parts)
        dec_n += int(b["n_docs"].sum())
    dec_s = time.perf_counter() - t0
    r["codec.decode_postings_per_s"] = (dec_n / dec_s, dec_n, f"decode_block on {len(runs)} runs")
    avgdl = wl.oracle.total / len(wl.oracle.dl)
    inputs = []
    for b, parts in zip(blocks, decoded):
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts]).astype(np.float64)
        dls = np.concatenate([varint_decode(d, int(n)) for d, n in
                              zip(b["dls_enc"], b["n_docs"])]).astype(np.float64)
        tfn = (BM25_K1 + 1) * tfs / (tfs + BM25_K1 * (1 - BM25_B + BM25_B * dls / avgdl))
        inputs.append((ids, tfs.astype(np.uint64), tfn))
    t0 = time.perf_counter()
    for ids, tfs, tfn in inputs:
        encode_blocks(ids, tfs, tfn)
    enc_s = time.perf_counter() - t0
    r["codec.encode_postings_per_s"] = (dec_n / enc_s, dec_n, f"encode_blocks on {len(runs)} runs")


def search_probes(wl, tracer, r, query_p50_ms):
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.operators import wand
    from fluent_plugin_elasticsearch_spark.operators.search import (
        WAND_FALLBACK_POSTINGS,
        InvertedIndex,
    )
    from fluent_plugin_elasticsearch_spark.textproc import bm25_idf

    idx, _ = wl.open_index(wl.index_dir, tracer, warm=True)
    r["search.warm_s"] = (tracer.walls("search.warm")[-1], 1, "warm() span")
    disp = [timed(tracer, "search.dispatch", lambda: idx.postings().filter(
        F.col("term") == ABSENT).collect())[0] for _ in range(10)]
    r["search.dispatch_ms"] = (median(disp) * 1000, len(disp),
                               "postings().filter(term == absent).collect(), warmed")
    cold = InvertedIndex(wl.spark, wl.index_dir, cache_term_stats=True)
    meta = idx.meta
    def dfs_of(terms):  # the oracle's df equals the index's (check_index)
        return {t: len(wl.oracle.post[t]) for t in terms if t in wl.oracle.post}

    reqs, per_class = [], {}
    for req in wl.pool:
        dfs = dfs_of(idx.query_terms(req["q"]))
        if dfs and per_class.get(req["cls"], 0) < FETCH_PER_CLASS:
            per_class[req["cls"]] = per_class.get(req["cls"], 0) + 1
            reqs.append((req, dfs))
    warm_ms, cold_ms, fetched, kern, n_wand, n_scored = [], [], [], [], 0, 0
    for req, dfs in reqs:
        terms = sorted(dfs)
        dt, pdf = timed(tracer, "search.fetch", lambda: idx.postings().filter(
            F.col("term").isin(terms)).toPandas())
        warm_ms.append(dt * 1000)
        dt, _ = timed(tracer, "search.cold_fetch", lambda: cold.postings().filter(
            F.col("term").isin(terms)).toPandas())
        cold_ms.append(dt * 1000)
        fetched.append(int(pdf["n_docs"].sum()))
        idfs = {t: bm25_idf(df, meta["n_docs"]) for t, df in dfs.items()}
        n_terms = len(idx.query_terms(req["q"]))
        per_shard = []
        for _, shard in pdf.groupby("shard"):
            args = (shard.reset_index(drop=True), idfs, 10, meta["avgdl"], meta["k1"], meta["b"])
            t0 = time.perf_counter()
            if req["op"] == "and" and n_terms > 1:
                wand.score_shard_exhaustive_msm(*args, n_terms)
            elif int(shard["n_docs"].sum()) >= WAND_FALLBACK_POSTINGS:
                wand.score_shard_wand(*args)
                n_wand += 1
            else:
                wand.score_shard_exhaustive(*args)
            per_shard.append(time.perf_counter() - t0)
            n_scored += 1
        kern.append(max(per_shard) * 1000)
    n = len(reqs)
    r["search.fetch_ms"] = (median(warm_ms), n, "request's blocks filtered + collected, warmed")
    r["search.cold_fetch_ms"] = (median(cold_ms), n, "same, unwarmed handle")
    r["search.fetched_postings_per_request"] = (median(fetched), n, "sum n_docs of fetched blocks")
    r["wand.request_kernel_ms"] = (median(kern), n, "kernel search() picks, max over shards; "
                                   f"block-max WAND on {n_wand} of {n_scored} shard calls")
    r["wand.request_kernel_share"] = (median(kern) / query_p50_ms, n,
                                      "request_kernel_ms / untraced query_p50_ms")
    queries = wl.batch_set
    qterms = {qid: idx.query_terms(q) for qid, q in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    dfs = dfs_of(all_terms)
    qidfs = {qid: {t: bm25_idf(dfs[t], meta["n_docs"]) for t in ts if t in dfs}
             for qid, ts in qterms.items()}
    qidfs = {q: m for q, m in qidfs.items() if m}
    pdf = idx.postings().filter(F.col("term").isin(list(dfs))).toPandas()
    total = 0.0
    for _, shard in pdf.groupby("shard"):
        t0 = time.perf_counter()
        wand.score_shard_batch(shard.reset_index(drop=True), qidfs, 10, meta["avgdl"],
                               meta["k1"], meta["b"])
        total += time.perf_counter() - t0
    r["wand.batch_kernel_ms_per_query"] = (total * 1000 / len(queries), len(queries),
                                           "score_shard_batch summed over shards / queries")
    wl.spark.catalog.clearCache()  # drops the warmed postings


def ingest_probes(wl, tracer, r):
    """One batch through the write path: a copy-on-write doc store seeded
    from a corpus slice, a batch of new docs plus re-deliveries committed
    with the create op, the accepted rows indexed as a generation, and that
    generation merged into the workload's index."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.corpus import generate_corpus
    from fluent_plugin_elasticsearch_spark.operators.merge import merge_indexes
    from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable
    from fluent_plugin_elasticsearch_spark.streaming.ingest import (
        IngestPipeline,
        incremental_index_update,
    )

    from inputs import write_frame

    spark, work = wl.spark, wl.work
    store = os.path.join(work, "probe_store")
    shutil.rmtree(store, ignore_errors=True)

    def pipeline(run_id):
        return IngestPipeline(store, id_keys=["url"], table_format="cow", write_op="create",
                              run_id=run_id, event_time_col="warc_ts")

    base = spark.read.parquet(wl.path)
    n_base = min(wl.n_docs, wl.size(1000))
    pipeline("base").run_batch(base.limit(n_base), epoch_id=0)
    n_base = CowTable(spark, os.path.join(store, "docs")).read().count()
    new = generate_corpus(wl.size(400), seed=wl.seed + 7, avg_len=120, start_idx=10**7)
    redo = base.limit(max(1, len(new) // 10)).toPandas()
    batch_pdf = pd.concat([new, redo], ignore_index=True)
    user_bytes = int(sum(len(h) for h in batch_pdf["html"]))
    batch = spark.read.parquet(write_frame(work, "probe_batch", batch_pdf))

    dt, _ = timed(tracer, "ingest.transform", lambda: pipeline("t").transform(
        batch).write.format("noop").mode("overwrite").save())
    r["ingest.transform_ms"] = (dt * 1000, 1, "IngestPipeline.transform -> noop")
    data = os.path.join(store, "docs", "data")
    before = set(os.listdir(data))
    dt, stats = timed(tracer, "cow_table.run_batch",
                      lambda: pipeline("b1").run_batch(batch, epoch_id=1))
    staged = set(os.listdir(data)) - before
    r["cow_table.commit_ms"] = (dt * 1000, 1, "run_batch span (create op)")
    r["cow_table.commit_attempts"] = (len(staged), 1, "new staging dirs; 1 = no retry")
    r["cow_table.buckets_touched_per_batch"] = (len(stats.get("touched_buckets", [])), 1,
                                                "run_batch stats, exact")
    written = sum(dir_bytes(os.path.join(data, d)) for d in staged)
    r["cow_table.bytes_written_per_user_byte"] = (written / user_bytes, 1,
                                                  "new bucket files / batch html bytes, exact")
    docs = CowTable(spark, os.path.join(store, "docs"))
    n_store = docs.read().count()
    wl.fails.ok("probe store absorbs re-deliveries",
                None if n_store == n_base + len(new) else
                f"store rows {n_store}, want {n_base + len(new)}")
    accepted = docs.read().filter(F.col("chunk_id").startswith("b1-")).select("url", "html")
    gens = os.path.join(work, "probe_gens")
    dt, _ = timed(tracer, "ingest.generation_build", lambda: incremental_index_update(
        spark, wl.docs_df_of(accepted), gens, id_col="doc_id", html_col="html",
        text_col=None, url_col="url", tokenizer="unicode", n_shards=wl.n_shards, n_salts=4))
    r["ingest.generation_build_s"] = (dt, 1, "incremental_index_update span")
    (gen,) = os.listdir(gens)
    gen = os.path.join(gens, gen)
    out = os.path.join(work, "probe_merged")
    dt, res = timed(tracer, "merge.merge_indexes",
                    lambda: merge_indexes(spark, [wl.index_dir, gen], out))
    r["merge.busy_s"] = (dt, 1, "merge_indexes span")
    read = sum(dir_bytes(os.path.join(d, t)) for d in (wl.index_dir, gen)
               for t in ("postings", "doc_stats"))
    new_bytes = int(sum(len(h) for h in new["html"]))
    r["merge.bytes_rewritten_per_user_byte"] = (
        (read + dir_bytes(out)) / new_bytes, 1,
        "source postings+doc_stats read + output written / new docs' html bytes, exact")
    wl.fails.ok("probe merge doc count",
                None if res["meta"]["n_docs"] == wl.n_docs + len(new) else
                f"merged n_docs {res['meta']['n_docs']}, want {wl.n_docs + len(new)}")
    for p in (store, gens, out):
        shutil.rmtree(p)


def session_metrics(wl, tracer, r, gc_s):
    def spans(name):
        return [s for s in tracer.named(name) if "jobs" in s]

    reqs = spans("search.request")
    r["session.jobs_per_request"] = (median([s["jobs"] for s in reqs]), len(reqs),
                                     "job groups of traced requests")
    builds, src = spans("index_build.build_index"), "traced timed builds"
    if not builds:
        builds, src = spans("ingest.generation_build"), "probe generation build"
    r["session.jobs_per_build"] = (median([s["jobs"] for s in builds]), len(builds), src)
    r["session.tasks_per_build"] = (median([s["tasks"] for s in builds]), len(builds), src)
    r["session.gc_s"] = (gc_s, 1, "GC MXBeans over the traced timed work")


def per_layer(wl, tracer, m, mt, gc_s, log):
    """``m``/``mt``: end-to-end metrics of the untraced and traced passes."""
    r = {}
    build_probes(wl, tracer, r)
    codec_probes(wl, r)
    search_probes(wl, tracer, r, m["query_p50_ms"][0])
    ingest_probes(wl, tracer, r)
    session_metrics(wl, tracer, r, gc_s)
    for k in OVERHEAD_OF:
        r[f"trace_overhead.{k}"] = (mt[k][0] / m[k][0], mt[k][1], "traced / untraced pass")
    result = {}
    for name, unit in PER_LAYER.items():
        value, n, src = r[name]
        log(f"metric {name} = {value:.6g} {unit} (n={n}, source={src})")
        result[name] = {"value": float(value), "unit": unit}
    return result

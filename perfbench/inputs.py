"""Seeded inputs: the html corpus and the request pool. The engine sees
only what these functions write."""

from __future__ import annotations

import os
import random

# Requests per class, and why each class is there. No public query log
# backs these shares; they are chosen so that every search path the engine
# has gets the same number of samples (see README "Request pool").
POOL_SHARES = (
    ("head", 4),      # three stopwords: the one class whose per-shard posting
                      # mass crosses WAND_FALLBACK_POSTINGS, so auto picks WAND
    ("head_mid", 4),  # stopword plus a mid-Zipf term
    ("mid", 4),       # one or two mid-Zipf terms
    ("tail", 4),      # one or two rare terms (df 2..8)
    ("unicode", 4),   # CJK / accented tokens
    ("multi", 4),     # three or four mixed terms
    ("and", 4),       # operator="and": the exhaustive_msm kernel
    ("absent", 2),    # answered before any Spark job; kept small so the
                      # request phase stays a phase of Spark requests
)
# search_batch has no operator, so the batch set is drawn from the OR
# classes only, this many times their pool share.
BATCH_COPIES = 6


def write_corpus(work, name, n_docs, seed):
    """Generate ``n_docs`` html docs and write them as parquet. Returns
    (path, pandas frame)."""
    from fluent_plugin_elasticsearch_spark.corpus import generate_corpus

    pdf = generate_corpus(n_docs, seed=seed, avg_len=120)
    return write_frame(work, name, pdf), pdf


def write_frame(work, name, pdf):
    path = os.path.join(work, "inputs", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups so the scan splits across cores
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True, row_group_size=1024)
    return path


def doc_ids(spark, path):
    """url -> engine doc id (``with_doc_id``), for the oracle."""
    from fluent_plugin_elasticsearch_spark.operators.index_build import with_doc_id

    rows = with_doc_id(spark.read.parquet(path)).select("url", "doc_id").collect()
    return {r["url"]: int(r["doc_id"]) for r in rows}


def request_pool(oracle, seed, copies=1, classes=None):
    """Distinct (query, operator) requests drawn from the corpus's own
    term statistics: ``copies`` times the POOL_SHARES of ``classes``
    (default all)."""
    from fluent_plugin_elasticsearch_spark.corpus import _UNICODE_TOKENS, STOPWORDS

    rng = random.Random(seed * 104729 + 3 + copies)
    by_df = sorted(((len(p), t) for t, p in oracle.post.items()), key=lambda x: (-x[0], x[1]))
    stops = set(STOPWORDS)
    unis = set(_UNICODE_TOKENS)
    head = [t for _, t in by_df if t in stops][:20]
    uni = [t for _, t in by_df if t in unis]
    words = [(df, t) for df, t in by_df if t not in stops and t not in unis]
    mid = [t for _, t in words[10:300]]
    rare = [t for df, t in words if 2 <= df <= 8] or [t for _, t in words[-50:]]

    def pick(xs, n):
        return rng.sample(xs, min(n, len(xs)))

    gen = {
        "head": lambda: (pick(head, 3), "or"),
        "head_mid": lambda: (pick(head, 1) + pick(mid, 1), "or"),
        "mid": lambda: (pick(mid, rng.randint(1, 2)), "or"),
        "tail": lambda: (pick(rare, rng.randint(1, 2)), "or"),
        "unicode": lambda: (pick(uni, rng.randint(1, 2)) + pick(mid, rng.randint(0, 1)), "or"),
        "multi": lambda: (pick(head, 1) + pick(mid, 2) + pick(rare, rng.randint(0, 1)), "or"),
        "and": lambda: (pick(head, 1) + pick(mid, rng.randint(1, 2)), "and"),
        "absent": lambda: ([f"zq{rng.randrange(16**6):06x}xj"], "or"),
    }
    pool, seen = [], set()
    for cls, share in POOL_SHARES:
        if classes is not None and cls not in classes:
            continue
        for _ in range(share * copies):
            for _attempt in range(50):
                terms, op = gen[cls]()
                q = " ".join(terms)
                if (q, op) not in seen:
                    break
            seen.add((q, op))
            pool.append({"q": q, "op": op, "cls": cls})
    return pool


def batch_queries(oracle, seed):
    """The search_batch set: {query_id: query}, distinct OR queries."""
    classes = {cls for cls, _ in POOL_SHARES if cls not in ("and", "absent")}
    reqs = request_pool(oracle, seed, copies=BATCH_COPIES, classes=classes)
    return {i: r["q"] for i, r in enumerate(reqs)}

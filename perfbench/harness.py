"""Shared machinery for the fixed-work benchmark: scratch directory, Spark
session sizing and teardown, process-tree memory sampling, in-memory
tracing spans, summary statistics and the BM25 oracle.

Nothing here is timed by itself; the workloads decide what is timed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


# --- statistics ---------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it
    (falls back to the median below 20 samples). Returns (value, p)."""
    n = len(xs)
    p = max(50, math.floor(100.0 * (1.0 - 10.0 / n))) if n >= 20 else 50
    return percentile(xs, p), p


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# --- scratch directory and Spark session --------------------------------

def make_workdir(name):
    path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    # Python-side temp files (driver and the workers the JVM forks) stay
    # inside the checkout.
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    return path


def remove_workdir(path):
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def host_facts():
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of RAM, 1-2 GiB: the engine's 48g default over-commits
    # small hosts, and the benchmark's inputs need far less
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    return {"cores": cores, "ram_mb": mem_kb // 1024, "heap_mb": heap_mb}


def start_session(work, facts):
    """Returns (spark, seconds). The heap goes through get_spark's
    SPARK_DRIVER_MEM hook; every scratch path points into ``work``."""
    os.environ["SPARK_DRIVER_MEM"] = f"{facts['heap_mb']}m"
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    tmp = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included, keeps its files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = f"-XX:ErrorFile={work}/hs_err_%p.log"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    from fluent_plugin_elasticsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=facts["cores"],
                      shuffle_partitions=2 * facts["cores"], extra_conf=conf)
    return spark, time.perf_counter() - t0


def descendants(pid):
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark):
    """Stop Spark, then the JVM, and wait for every process they started."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class PssSampler:
    """Peak proportional set size of this process and all its descendants
    (driver Python, JVM, Python workers), sampled on a thread between
    start() and stop()."""

    INTERVAL_S = 1.0  # a JVM smaps_rollup read costs ~25 ms

    def __init__(self):
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None

    def _sample(self):
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)
        self.samples += 1

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self):
        return self.peak_kb / 1024.0


# --- tracing ------------------------------------------------------------

LISTENER_DRAIN_MS = 10_000


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    A span with ``jobs=True`` runs its Spark work under its own job group;
    since the benchmark has one client thread, jobs that start during the
    span outside any group (the engine's helper threads) are its jobs too.
    Disabled tracers yield a dummy record and touch nothing."""

    def __init__(self, spark, enabled):
        self.spark = spark
        self.enabled = enabled
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name, jobs=False, **attrs):
        rec = {"name": name, "attrs": dict(attrs)}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        rec["id"] = f"pb{len(self.spans)}"
        rec["parent"] = self._stack[-1]["id"] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec)
        if jobs:
            ungrouped = set(st.getJobIdsForGroup(None))
            sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if jobs:
                # statusTracker is fed by the asynchronous listener bus:
                # wait until it has seen every event of the span's jobs
                sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_DRAIN_MS)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                ids = set(st.getJobIdsForGroup(rec["id"]))
                ids |= set(st.getJobIdsForGroup(None)) - ungrouped
                rec["jobs"] = len(ids)
                rec["tasks"] = self._tasks(st, ids)
            self._stack.pop()

    @staticmethod
    def _tasks(st, job_ids):
        n = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    n += sinfo.numCompletedTasks
        return n

    def named(self, name):
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def walls(self, name):
        return [s["end"] - s["start"] for s in self.named(name)]

    def dump(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)


def gc_seconds(spark):
    """Total JVM garbage-collection time so far, from the GC MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


# --- oracle -------------------------------------------------------------

def _term_counts(html):
    from fluent_plugin_elasticsearch_spark.textproc import extract_text, tokenize_unicode

    toks = tokenize_unicode(extract_text(html))
    return len(toks), Counter(toks)


def term_counts(htmls, processes):
    """[(n_tokens, Counter of terms)] per html doc, through the pinned
    extractor and tokenizer, in a pool of forked processes. Call it before
    the Spark session starts: the children are forked from a process with
    no JVM and no threads."""
    import multiprocessing

    pool = multiprocessing.get_context("fork").Pool(processes)
    try:
        return pool.map(_term_counts, htmls, chunksize=256)
    finally:
        pool.close()
        pool.join()


class Oracle:
    """``textproc.bm25_topk_oracle`` semantics, with postings kept per term
    so each check scores only its query terms. Docs come in as the term
    counts of ``term_counts``; each term's per-doc scores come from
    ``bm25_term_score`` and are cached, so the stopwords most requests
    share are scored once."""

    def __init__(self):
        from fluent_plugin_elasticsearch_spark.textproc import tokenize_unicode

        self._tokenize = tokenize_unicode
        self.post = defaultdict(dict)
        self.dl = {}
        self.total = 0
        self._terms = {}

    def add(self, doc_id, n_tokens, counts):
        self.dl[doc_id] = n_tokens
        self.total += n_tokens
        for t, c in counts.items():
            self.post[t][doc_id] = c
        self._terms.clear()

    def _term(self, t):
        """(doc ids, BM25 scores) of one term's postings."""
        import numpy as np

        from fluent_plugin_elasticsearch_spark.textproc import bm25_idf, bm25_term_score

        if t not in self._terms:
            p = self.post[t]
            avgdl = self.total / len(self.dl)
            idf = bm25_idf(len(p), len(self.dl))
            self._terms[t] = (
                np.fromiter(p.keys(), np.int64, len(p)),
                np.fromiter((bm25_term_score(tf, self.dl[d], avgdl, idf)
                             for d, tf in p.items()), np.float64, len(p)))
        return self._terms[t]

    def scores(self, query, operator="or"):
        """(sorted doc ids, their scores) of the docs the query matches."""
        import numpy as np

        terms = sorted(set(self._tokenize(query)))
        parts = [self._term(t) for t in terms if t in self.post]
        if not parts:
            return np.zeros(0, np.int64), np.zeros(0)
        docs, inv = np.unique(np.concatenate([d for d, _ in parts]), return_inverse=True)
        # bincount adds in posting order, i.e. term by term, as a loop would
        scores = np.bincount(inv, weights=np.concatenate([v for _, v in parts]))
        if operator == "and":
            keep = np.bincount(inv) == len(terms)
            docs, scores = docs[keep], scores[keep]
        return docs, scores

    def check(self, query, got, k, operator="or"):
        """``got``: [(doc_id, score)] in rank order. Oracle-tied docs may
        come in either order. Returns None or a mismatch description."""
        import numpy as np

        docs, scores = self.scores(query, operator)
        want = np.sort(scores)[::-1][:k]
        if len(got) != len(want):
            return f"{query!r}: {len(got)} hits, oracle {len(want)}"
        seen = set()
        for i, (d, s) in enumerate(got):
            if d in seen:
                return f"{query!r}: doc {d} returned twice"
            seen.add(d)
            j = int(np.searchsorted(docs, d))
            if (not _close(s, want[i]) or j == len(docs) or docs[j] != d
                    or not _close(scores[j], s)):
                return f"{query!r}: rank {i} doc {d} score {s}, oracle {want[i]}"
        return None


def _close(a, b):
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))

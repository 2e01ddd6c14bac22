"""Fixed-work benchmark for the sparksearch engine.

    python3 perfbench/run.py --workload {bulk_build,search_serve}
                             --seed N --seconds S --trace {0,1} [--scale F]

Run from the root of a checkout. Info lines go to stdout; the last line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics, measured untraced;
with ``--trace 1`` the timed work runs untraced, then again traced, then
the per-layer probes run, and the metrics are the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# name -> unit; BENCHMARK.json lists the same names (checked by selftest.py)
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "query_qps": "1/s",
    "batch_qps": "1/s",
    "peak_rss_mb": "MB",
}


def log(msg):
    print(msg, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_build", "search_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size factor (the self-test uses a small one)")
    return p.parse_args(argv)


def import_engine():
    """Fail fast, before any result, when the engine is not in the checkout."""
    sys.path.insert(0, harness.ROOT)
    try:
        import fluent_plugin_elasticsearch_spark.operators.search  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def print_metric(name, value, unit, n, source):
    log(f"metric {name} = {value:.6g} {unit} (n={n}, source={source})")


def end_to_end(wl, m, setup_s):
    parts = "".join(f" + {k} {v:.3f}s" for k, v in wl.setup_parts.items())
    out = dict(m, setup_s=(setup_s, 1, "session" + parts))
    result = {}
    for name, unit in END_TO_END.items():
        value, n, src = out[name]
        print_metric(name, value, unit, n, src)
        result[name] = {"value": value, "unit": unit}
    return result


def main(argv=None):
    args = parse_args(argv)
    import_engine()
    from workloads import WORKLOADS

    facts = harness.host_facts()
    work = harness.make_workdir(args.workload)
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, facts, args.seed, args.seconds, args.scale, log)
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0
        spark, session_s = harness.start_session(work, facts)
        log(f"info host cores={facts['cores']} ram_mb={facts['ram_mb']} "
            f"driver_heap_mb={facts['heap_mb']} master=local[{facts['cores']}]")
        off = harness.Tracer(spark, enabled=False)

        t0 = time.perf_counter()
        wl.prepare(spark)
        log(f"info inputs_and_oracle_s={inputs_s + time.perf_counter() - t0:.3f} "
            f"docs={wl.n_docs} html_bytes={wl.html_bytes} shards={wl.n_shards} "
            f"pool={len(wl.pool)} batch_set={len(wl.batch_set)} passes={wl.passes}")
        wl.setup(off)
        t0 = time.perf_counter()
        wl.warmup(off)
        log(f"info warmup_s={time.perf_counter() - t0:.3f}")
        # bulk_build opens its first warm-up build, so set-up parts are
        # complete only after the warm-up
        setup_s = session_s + sum(wl.setup_parts.values())
        log(f"info setup_s={setup_s:.3f} session_s={session_s:.3f} "
            + " ".join(f"{k}_s={v:.3f}" for k, v in wl.setup_parts.items()))

        gc0 = harness.gc_seconds(spark)
        t0 = time.perf_counter()
        m = wl.measure(off)
        log(f"info measured_s={time.perf_counter() - t0:.3f} gc_s={harness.gc_seconds(spark) - gc0:.3f}")
        if not args.trace:
            metrics = end_to_end(wl, m, setup_s)
        else:
            import probes

            tracer = harness.Tracer(spark, enabled=True)
            gc0 = harness.gc_seconds(spark)
            mt = wl.measure(tracer)
            gc_s = harness.gc_seconds(spark) - gc0
            metrics = probes.per_layer(wl, tracer, m, mt, gc_s, log)
            spans = os.path.join(harness.WORK_ROOT, "spans")
            os.makedirs(spans, exist_ok=True)
            tracer.dump(os.path.join(spans, f"{args.workload}-seed{args.seed}.json"))
        result = {"correct": wl.fails.failed == 0, "attempted": wl.fails.attempted,
                  "failed": wl.fails.failed, "metrics": metrics}
    except Exception:
        traceback.print_exc()
        print("perfbench: run failed", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.remove_workdir(work)
    log(f"info attempted={result['attempted']} failed={result['failed']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""KG-construction benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--size full|smoke]

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, sets up a host-sized Spark session,
times one write op and then one read op (one closed-loop client),
checks every op's output, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The measured work is fixed by the workload and ``--size``, so that what
is measured never depends on how fast the program runs; at full size it
takes about the ``run_seconds`` of ``BENCHMARK.json`` on a 4-core host.
``--seconds`` is accepted for the benchmark interface and does not
change the work. A metric whose op raised is left out of the result,
which then reports ``"correct": false``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's layer calls (``tracer.py``) and reports the per-layer metrics
instead, writing the spans to ``.bench_work/spans-<workload>.jsonl``.
``--size smoke`` shrinks every input for the benchmark's own tests.
See METRICS.md for what each metric means and which it should move.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pipeline_incremental", "extract_global")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    # test hook: alter one expected row per check, so every op must fail
    ap.add_argument("--corrupt-expected", action="store_true",
                    help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def e2e_metrics(setup_s: float, ops, peak_rss_mb: float) -> dict:
    done = [o for o in ops if o.seconds is not None]
    writes = [o for o in done if o.kind == "write"]
    lookups = [o for o in done if o.kind == "lookup"]
    m = {"setup_s": (setup_s, "s")}
    if writes:
        m["write_s_p50"] = (statistics.median(o.seconds for o in writes),
                            "s")
        m["rows_per_s"] = (sum(o.rows for o in writes)
                           / sum(o.seconds for o in writes), "rows/s")
    if lookups:
        m["lookup_s_p50"] = (statistics.median(o.seconds for o in lookups),
                             "s")
    m["peak_rss_mb"] = (peak_rss_mb, "MB")
    return m


LAYERS = ("pipeline", "pages", "materialize", "local_extract", "extract",
          "linking", "closure", "bgp")


def layer_metrics(tr, ops) -> dict:
    """Per-layer metrics over the traced ops."""
    T = tr.layer_totals()
    C = tr.counts

    def self_s(name):
        return T[name]["self_s"] if name in T else 0.0

    def stat(name, key):
        return T[name][key] if name in T else 0.0

    def cnt(key):
        return C.get(key, 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "pages.parse_s": (self_s("pages"), "s"),
        "pages.triples_out": (cnt("pages.triples_out"), "count"),
        "materialize.write_s": (self_s("materialize"), "s"),
        "materialize.read_s": (self_s("materialize.read"), "s"),
    }
    for table in ("raw_triples", "links", "entities", "triples"):
        m[f"materialize.{table}_s"] = (self_s(f"materialize.{table}"), "s")
    m.update({
        "materialize.files_written": (cnt("materialize.files_written"),
                                      "count"),
        "materialize.bytes_written": (cnt("materialize.bytes_written"),
                                      "bytes"),
        "materialize.bytes_per_triple": (
            ratio(C.get("materialize.bytes_written", 0),
                  C.get("materialize.rows_written", 0)), "bytes"),
        "materialize.data_dirs_last": (
            C.get("materialize.data_dirs_last", 0.0), "count"),
        "local_extract.s": (self_s("local_extract"), "s"),
        "local_extract.tasks": (stat("local_extract", "tasks"), "count"),
        "local_extract.quads_out": (cnt("local_extract.quads_out"), "count"),
        "local_extract.s_per_task": (
            ratio(self_s("local_extract"), stat("local_extract", "tasks")),
            "s"),
        "extract.s": (self_s("extract"), "s"),
        "extract.spark_jobs": (stat("extract", "jobs"), "count"),
        "extract.spark_stages": (stat("extract", "stages"), "count"),
        "extract.tasks": (stat("extract", "tasks"), "count"),
        "extract.quads_out": (cnt("extract.quads_out"), "count"),
        "linking.s": (self_s("linking"), "s"),
        "linking.mentions_in": (cnt("linking.mentions_in"), "count"),
        "linking.links_out": (cnt("linking.links_out"), "count"),
        "linking.link_ratio": (ratio(C.get("linking.links_out", 0),
                                     C.get("linking.mentions_in", 0)),
                               "ratio"),
        "closure.s": (self_s("closure"), "s"),
        "closure.edges_in": (cnt("closure.edges_in"), "count"),
        "closure.components": (cnt("closure.components"), "count"),
        "bgp.describe_s": (self_s("bgp"), "s"),
        "bgp.solutions": (cnt("bgp.solutions"), "count"),
        "bgp.spark_jobs": (stat("bgp", "jobs"), "count"),
        "pipeline.unaccounted_s": (self_s("pipeline"), "s"),
    })
    for layer in LAYERS:
        failed = sum(T[k]["failed_tasks"] for k in T
                     if k == layer or k.startswith(layer + "."))
        m[f"{layer}.failed_tasks"] = (failed, "count")
    m["trace.overhead_s"] = (tr.overhead_s(), "s")
    m["ops.failed_share"] = (
        ratio(sum(not o.ok for o in ops), len(ops)), "ratio")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "extract_cbd_shape_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import session
    import tracer as tracing
    import verify
    import workloads

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        with session.RssSampler() as rss:
            spark = session.build_spark(work, ROOT)
            checker = verify.Checker(work, workloads.DICT_SIZE,
                                     corrupt=args.corrupt_expected)
            wl = workloads.WORKLOADS[args.workload](
                spark, work, args.seed, checker, args.size)
            ops = wl.setup()
            setup_s = time.perf_counter() - T_START

            tr = tracing.NullTracer()
            if args.trace:
                tr = tracing.Tracer(spark, f"{args.workload}-{args.seed}")
                tr.install()
            for kind, op in wl.ops(tr):
                try:
                    ops.append(op())
                except Exception:
                    traceback.print_exc()
                    ops.append(workloads.Op(kind, None, 0, False))
            if args.trace:
                tr.uninstall()
        failed = sum(not o.ok for o in ops)
        if args.trace:
            metrics = layer_metrics(tr, ops)
            tr.write(os.path.join(ROOT, ".bench_work",
                                  f"spans-{args.workload}.jsonl"))
        else:
            metrics = e2e_metrics(setup_s, ops, rss.peak_mb)
        for o in ops:
            print(f"perfbench: {'ok' if o.ok else 'WRONG OUTPUT'} {o}",
                  file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

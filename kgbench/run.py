"""KG build-path benchmark: one command, two seeded workloads.

    python3 kgbench/run.py --workload crawl_shard --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Set-up starts a ``local[nproc]`` Spark
session, writes the workload's seeded inputs to disk and runs
the workload's untimed warm-up passes; the timed passes then repeat until
``--seconds`` have passed (at least ``MIN_PASSES``), each output checked.

``--trace 0`` reports the end-to-end metrics every workload has
(``setup_s``, and per timed pass the median ``cpu_s`` of the whole
process tree and ``py_peak_rss_mb`` of its Python processes); the median
pass wall ``pass_s``, the whole tree's ``peak_rss_mb``, the workload's
own throughput and latency figures and ``failed_share`` go on the
detail line.
``--trace 1`` reports every per-layer metric, timing each layer's public
call from outside (a layer the workload's passes do not run is timed on
a small probe input), and writes its spans to ``.kgbench_out/``.

The detail line (second to last) also carries the 1-minute loadavg
before and after each pass and a fixed single-thread calibration loop
timed before and after the run: diagnostics of a busy machine, not
metrics.  The last line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The command exits non-zero without a result when there is no program to
measure, and non-zero after its result when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench.common import (OUT, ROOT, WORK, BenchError, JobCounter, cleanup,  # noqa: E402
                            calibrate, median, metric, ncpu, prepare_env,
                            start_spark, stop_spark, storage_held)

#: timed passes per run, at least: a run costs ~50-70 s, most of it the
#: session start, the inputs and the warm-up
MIN_PASSES = 2


def _workload(name: str):
    if name == "crawl_shard":
        from kgbench.crawl_shard import CrawlShard
        return CrawlShard
    if name == "store_query":
        from kgbench.store_query import StoreQuery
        return StoreQuery
    raise SystemExit(f"unknown workload {name!r}")


def measure(wl, seconds: float) -> list[dict]:
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        passes.append(wl.run_pass())
    return passes


def end_to_end(wl, setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
    """(gated metrics, the workload's own figures incl. failed_share).

    Wall-clock figures go with the workload's own: on a shared 4-core box
    a whole run's wall time moves by 25-30% with the neighbours' load,
    while the process tree's CPU time per pass moves by about half that.
    So does the whole tree's peak RSS: the driver JVM's heap (8g by
    default) grows with the collector's timing, not with the work, by
    20-35% between runs; the Python processes' peak moves by 2%."""
    med = lambda k: median([p[k] for p in passes])  # noqa: E731
    gated = {
        "setup_s": metric(setup_s, "s"),
        "cpu_s": metric(med("cpu_s"), "CPU-s"),
        "py_peak_rss_mb": metric(med("py_peak_rss_mb"), "MB"),
    }
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    extra = {"pass_s": metric(med("wall_s"), "s"),
             "peak_rss_mb": metric(med("peak_rss_mb"), "MB"),
             **wl.summary(passes),
             "failed_share": metric(failed / attempted, "ratio")}
    return gated, extra


def traced(wl, seconds: float, run_id: str):
    """Per-layer metrics, the passes run and the spans."""
    from kgbench.spans import Tracer

    sc = wl.spark.sparkContext
    tr = Tracer(run_id, JobCounter(sc))
    # interleaved untraced / traced passes, alternating which goes first
    # (later passes in a session run faster): the difference is the
    # tracing overhead
    plain, spanned = [], []

    def traced_pass():
        with tr.span("pass", index=len(spanned)):
            spanned.append(wl.run_pass(tracer=tr))

    t_end = time.perf_counter() + seconds
    while not plain or time.perf_counter() < t_end:
        if len(plain) % 2:
            traced_pass()
            plain.append(wl.run_pass())
        else:
            plain.append(wl.run_pass())
            traced_pass()
    e2e_wall = median([p["wall_s"] for p in plain])
    m = {"trace.overhead_share": metric(
        median([p["wall_s"] for p in spanned]) / e2e_wall - 1.0, "ratio"),
        "jvm.gc_s": metric(median([p["jvm_gc_s"] for p in plain]), "s"),
        "jvm.heap_used_mb": metric(median([p["jvm_heap_used_mb"] for p in plain]),
                                   "MB")}
    last = tr.find("pass")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = metric(last[k], "count")
    n_rdds, nbytes = storage_held(sc)
    m["spark.persisted_rdds_after"] = metric(n_rdds, "count")
    m["spark.cached_bytes_after"] = metric(nbytes, "B")

    m.update(wl.layers(tr))
    m["trace.unattributed_share"] = metric(wl.unattributed_share(tr, e2e_wall), "ratio")
    m["spark.scaling_eff"] = metric(wl.scaling_eff(tr, e2e_wall), "ratio")
    return m, spanned + plain, tr


def check_names(metrics: dict, trace: bool) -> None:
    """A run reports exactly the metrics BENCHMARK.json lists for its kind,
    each in its unit: every end-to-end metric untraced, every per-layer
    metric traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"]
                for m in json.load(f)["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise BenchError("metrics differ from BENCHMARK.json: "
                         f"want {sorted(set(want.items()) - set(got.items()))}, "
                         f"got {sorted(set(got.items()) - set(want.items()))}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cls = _workload(args.workload)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    try:
        prepare_env(run_dir)
        import rdf_spark  # noqa: F401
    except (BenchError, ImportError) as e:
        cleanup(run_dir)
        print(f"kgbench: cannot run: {e}", file=sys.stderr)
        return 2

    cores = ncpu()
    calib_before = calibrate()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores)
        session_s = time.perf_counter() - t0
        wl = cls(spark, run_dir, args.seed, cores, bool(args.trace))
        t1 = time.perf_counter()
        sizes = wl.setup()
        inputs_s = time.perf_counter() - t1
        warm = wl.warm_up()
        setup_s = session_s + time.perf_counter() - t1
        if args.trace:
            metrics, passes, tr = traced(wl, args.seconds, run_id)
            tr.dump(os.path.join(OUT, run_id + ".spans.jsonl"))
            extra = {}
        else:
            passes = measure(wl, args.seconds)
            metrics, extra = end_to_end(wl, setup_s, passes)
        spark = wl.spark
        check_names(metrics, bool(args.trace))
    finally:
        if spark is not None:
            stop_spark(spark)
        cleanup(run_dir)

    checked = warm + passes + getattr(wl, "checks", [])
    attempted = sum(p["attempted"] for p in checked)
    failed = sum(p["failed"] for p in checked)
    errors = sorted({e for p in checked for e in p["errors"]})
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "calib_s": [calib_before, calibrate()],
        "session_s": session_s, "inputs_s": inputs_s, "setup_s": setup_s,
        "sizes": sizes,
        "warm_passes": [{k: v for k, v in p.items() if k != "latencies_ms"}
                        for p in warm],
        "passes": [{k: v for k, v in p.items() if k != "latencies_ms"}
                   for p in passes],
        "workload_metrics": extra, "errors": errors,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

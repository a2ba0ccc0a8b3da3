#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (see README.md). Per-batch detail and, when traced, the raw spans go
to ``.bench_out/``. ``--curve N`` runs N batches with no warm-up cut and
prints each batch's latency instead (how ``warmup.json`` was measured).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "incremental_etl_on_lakehouse_spark"

# name -> (workload function, its sizes); README.md says why each exists
WORKLOADS = {
    "cdc_trickle": ("cdc", {"preload": 10_000, "batch_size": 1_000}),
    "corpus_curation": ("corpus", {"batch_size": 250}),
}


def warmup_cut(name: str) -> int:
    """Warm-up batches of a workload, as measured by warmup.py."""
    with open(os.path.join(HERE, "warmup.json")) as f:
        return json.load(f)["workloads"][name]["cut"]

E2E_UNITS = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "records_per_s": "1/s",
    "read_p50_s": "s",
    "lookup_p50_s": "s",
    "peak_rss_mb": "MiB",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--driver-mem", default="2g")
    ap.add_argument("--curve", type=int, default=0)
    return ap.parse_args(argv)


def start_spark(work: str, cores: int, mem: str, events: str | None):
    from incremental_etl_on_lakehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms = -Xmx: a heap that never resizes, so peak RSS does not
        # depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if events:
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest of p50/p90/p99 that has at least
    ten samples above it, or None when there are too few samples."""
    for q in (99, 90, 50):
        if len(xs) * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
    return None


def end_to_end(run, timed) -> dict:
    lat = [b.latency_s for b in timed]
    return {
        "setup_s": _p50(run.setups_s),
        "batch_p50_s": _p50(lat),
        # busy time: landing -> final commit plus the timed reads; input
        # generation and oracle checks fall outside it
        "records_per_s": sum(b.records for b in timed)
        / sum(b.latency_s + sum(b.read_s) + sum(b.lookup_s) for b in timed),
        "read_p50_s": _p50([t for b in timed for t in b.read_s]),
        "lookup_p50_s": _p50([t for b in timed for t in b.lookup_s]),
        "peak_rss_mb": run.peak_rss_mb,
    }


def per_layer(run, timed, extra: dict, shuffle: dict[str, int]) -> tuple[dict, dict]:
    """Per-layer metrics (p50 over traced batches) and a detail record
    with every span name's calls and times and the count spreads."""
    from layers import LAYER_METRICS

    traced = [b for b in timed if b.traced]
    plain = [b for b in timed if not b.traced]
    spans = run.tracer.per_batch()
    # the batch's own tree (landing -> final commit); reads are separate roots
    per = {b.index: spans.get((b.index, "batch"), {}) for b in traced}

    def span_p50(name, key="s"):
        return _p50([per[b.index].get(name, {}).get(key, 0.0) for b in traced])

    def self_p50(prefix):
        return _p50(
            [
                sum(v["self"] for n, v in per[b.index].items() if _layer(n) == prefix)
                for b in traced
            ]
        )

    vals = {}
    for name, (kind, arg, _unit) in LAYER_METRICS.items():
        if kind == "span":
            vals[name] = span_p50(arg)
        elif kind == "calls":
            vals[name] = span_p50(arg, "calls")
        elif kind == "read":
            vals[name] = _p50(
                [spans.get((b.index, arg), {}).get(arg, {}).get("s", 0.0) for b in traced]
            )
        elif kind == "self":
            vals[name] = self_p50(arg)
        elif kind == "batch":
            vals[name] = _p50([arg(b) for b in traced])
        elif kind == "shuffle":
            vals[name] = _p50([shuffle.get(f"b{b.index}", 0) for b in traced])
        elif kind == "end":
            vals[name] = arg(extra)
        elif kind == "trace":
            on, off = _p50([b.latency_s for b in traced]), _p50([b.latency_s for b in plain])
            vals[name] = {True: on, False: off, None: on / off - 1.0 if off else 0.0}[arg]
    names = sorted({n for d in per.values() for n in d})
    detail = {
        "spans": {
            n: {
                "calls_per_batch": span_p50(n, "calls"),
                "inclusive_p50_s": span_p50(n),
                "self_p50_s": span_p50(n, "self"),
            }
            for n in names
        },
        "count_spread": {
            k: {"min": min(v), "max": max(v), "varying": min(v) != max(v)}
            for k, v in {
                "session.py4j_calls_per_batch": [b.py4j_calls for b in traced],
                "session.jobs_per_batch": [b.jobs[0] for b in traced],
                # per MERGE commit of the timed window; Silver grows, so
                # each commit rewrites more rows than the one before
                "lake.table.rows_written_per_row_changed": extra["merge_ratios"],
            }.items()
            if v
        },
    }
    return vals, detail


def _layer(span_name: str) -> str:
    """Layer of a span: its name without the function part
    (``lake.log.write_commit`` -> ``lake.log``); the benchmark's own
    ``batch`` root span is the ``bench`` layer."""
    parts = span_name.split(".")
    if len(parts) == 1:
        return "bench"
    if parts[0] in ("lake", "operators"):
        return ".".join(parts[:2])
    return parts[0]


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found next to {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    fn_name, sizes = WORKLOADS[args.workload]
    warmup = 0 if args.curve else warmup_cut(args.workload)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    events = os.path.join(work, "events") if args.trace else None
    spark = None
    try:
        spark = start_spark(work, args.cores, args.driver_mem, events)
        run = workloads.Run(spark, work, args.seed, args.seconds, warmup, bool(args.trace))
        try:
            extra = getattr(workloads, fn_name)(run, **sizes, max_batches=args.curve or None)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.check(False, "the workload ran to its end")
            extra = None
        import probe

        run.peak_rss_mb = probe.peak_rss_mb(probe.process_tree())
        stop_spark(spark)
        spark = None
        shuffle = probe.shuffle_bytes_by_group(events) if events else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.curve:
        curve = [round(b.latency_s, 4) for b in run.batches]
        with open(os.path.join(out_dir, f"curve-{tag}.json"), "w") as f:
            json.dump(curve, f)
        print(json.dumps({"workload": args.workload, "latency_s": curve}))
        return 0

    timed = [b for b in run.batches if b.index >= warmup and b.ok]
    failed = sum(not b.ok for b in run.batches) + len(run.failed_checks)
    attempted = len(run.batches) + run.final_checks
    detail = {
        "batches": [b.__dict__ for b in run.batches],
        "failed_checks": run.failed_checks,
        "setups_s": run.setups_s,
        "process_marks_s": {**run.marks, "first_timed_batch_s": run.first_timed_s},
        "extra": extra,
    }
    lat = [b.latency_s for b in timed if not b.traced]
    t = tail(lat)
    detail["batch_tail"] = (
        {"percentile": t[0], "value_s": t[1], "n": len(lat)} if t else {"n": len(lat), "omitted": "fewer than 20 batches"}
    )
    if extra is None or not timed:
        vals, units = {}, {}
    elif args.trace:
        from layers import LAYER_METRICS

        vals, d = per_layer(run, timed, extra, shuffle)
        detail.update(d)
        units = {k: u for k, (_, _, u) in LAYER_METRICS.items()}
        run.tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
    else:
        vals, units = end_to_end(run, timed), E2E_UNITS
    with open(os.path.join(out_dir, f"detail-{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=list)
    print(f"batch tail: {detail['batch_tail']}", file=sys.stderr)
    for k in detail.get("count_spread", {}):
        if detail["count_spread"][k]["varying"]:
            print(f"{k} varies across batches: {detail['count_spread'][k]}", file=sys.stderr)
    result = {
        "correct": failed == 0 and bool(vals),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

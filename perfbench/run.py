"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed into a scratch directory under the root (removed at exit), starts
one SparkSession on ``local[nproc]``, runs the workload's set-up and its
timed closed loop, checks the outputs, and prints a detail line
(``{"report": ...}``: every metric with unit and sample count, the run's
settings and input properties; traced: the spans and the per-op-type
time accounting) followed, as the LAST line, by the result
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans and a Spark
event log and reports the per-layer metrics.  Exits non-zero when any
op or check fails.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest")
WORKLOAD_CHECKS = {"serve": 2, "ingest": 2}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or (None, None) when there are ten or fewer."""
    n = len(xs)
    if n <= 10:
        return None, None
    p = 100.0 * (n - 10) / n
    return p, sorted(xs)[n - 11]


def metric(value, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def end_to_end(ctx, workload: str, session_s: float, rss: float) -> dict:
    """The workload's end-to-end figures: every one named in the README,
    with unit and sample count."""
    ops = ctx.ops
    walls = lambda kind: [o["wall"] for o in ops if o["kind"] == kind]  # noqa: E731
    m = {
        "setup_s": metric(session_s + ctx.setup_s, "s", 1),
        "peak_rss_mb": metric(rss, "MB", 1),
    }
    runs = walls("run")
    p, v = tail(runs)
    m["run_p50_s"] = metric(median(runs), "s", len(runs))
    m["run_tail_s"] = dict(metric(v, "s", len(runs)), percentile=p)
    if workload == "serve":
        ev = [o for o in ops if o["kind"] == "evaluate"]
        m["evaluate_qps"] = metric(sum(o["n"] for o in ev) / sum(o["wall"] for o in ev), "queries/s", len(ev))
        m["store_bytes_per_text_byte"] = metric(ctx.extra["snapshot_bytes"] / ctx.props["text_bytes"], "ratio", 1)
    else:
        batches = walls("batch")
        m["ingest_docs_per_s"] = metric(ctx.extra["docs_ingested"] / ctx.extra["ingest_wall"], "docs/s", len(batches))
        m["freshness_p50_s"] = metric(median(walls("freshness")), "s", len(walls("freshness")))
        m["pipeline_docs_per_s"] = metric(
            sum(o["docs"] for o in ops if o["kind"] == "batch") / sum(o["pipeline_s"] for o in ops if o["kind"] == "batch"),
            "docs/s", len(batches))
        m["store_bytes_per_text_byte"] = metric(
            ctx.extra["store_bytes_after_compact"] / ctx.extra["text_bytes_at_compact"], "ratio", 1)
    return m


def contract_metrics(workload: str, e2e: dict) -> dict:
    """The BENCHMARK.json end-to-end metrics: the figures both workloads
    have, under one name each.  ``items_per_s`` is the workload's
    throughput: labeled queries evaluated per second on serve
    (evaluate_qps), docs appended and made servable per second on
    ingest (ingest_docs_per_s)."""
    items = {"serve": "evaluate_qps", "ingest": "ingest_docs_per_s"}[workload]
    out = {k: metric(e2e[k]["value"], e2e[k]["unit"]) for k in ("setup_s", "run_p50_s", "peak_rss_mb")}
    out["items_per_s"] = metric(e2e[items]["value"], "1/s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "beyond_vector_search_spark")):
        print(f"perfbench: package beyond_vector_search_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=root)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:  # another run still uses it
            pass


def _run(args, work: str) -> int:
    # everything the run writes (Spark scratch, JVM and Python temp
    # files) stays under the work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    import gen
    import workloads as wl
    from spans import Tracer, per_layer, read_event_log
    from checks import validate

    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    props = gen.GENERATORS[args.workload](inputs, args.seed)

    from beyond_vector_search_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: the JVM's resident size then does not
        # depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(bool(args.trace), spark.sparkContext)
    ctx = wl.Ctx(spark=spark, tracer=tracer, work=work, inputs=inputs, props=props,
                 seconds=args.seconds, traced=bool(args.trace))
    errors: list[str] = []
    failed_ops = 0
    try:
        wl.WORKLOADS[args.workload](ctx)
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        failed_ops, errors = validate(args.workload, ctx)
    except Exception:
        traceback.print_exc()
        errors.append("exception: " + traceback.format_exc().strip().splitlines()[-1])
        rss = 0.0
    versions = dict(spark=spark.version, java=spark.sparkContext._jvm.System.getProperty("java.version"),
                    python=platform.python_version())
    gateway = spark.sparkContext._gateway
    spark.stop()
    # end the JVM (it exits when its stdin closes) and wait for it
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    # ops plus the workload-level checks (telemetry totals, and on ingest
    # the one-shot rebuild comparison)
    attempted = sum(o["kind"] in ("run", "evaluate", "batch") for o in ctx.ops) + WORKLOAD_CHECKS[args.workload]
    failed = max(failed_ops, 1) if errors else 0
    correct = not errors
    report = dict(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  nproc=nproc, master=f"local[{nproc}]", shuffle_partitions=nproc, versions=versions,
                  inputs=props, errors=errors[:20])
    metrics: dict = {}
    if correct:
        e2e = end_to_end(ctx, args.workload, session_s, rss)
        report["end_to_end"] = e2e
        e2e["failed_ratio"] = metric(failed / attempted, "ratio", attempted)
        contract = contract_metrics(args.workload, e2e)
        if args.trace:
            metrics, report["accounting"] = per_layer(ctx, session_s, read_event_log(events), nproc)
            report["spans"] = tracer.spans
            metrics.update({f"traced.{k}": v for k, v in contract.items()})
        else:
            metrics = contract
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

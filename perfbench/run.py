"""Layered benchmark of chunker_spark: verified CDC ingest (bulk and
trickle) and the fully evaluated query suite, with a traced per-layer run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (both closed loop, one process at local[4]):

* ``ingest``       GenSpec change events through ``IngestStream.run_available``:
                   a bulk phase (1-15 KiB content, 2 micro-batches of
                   1000 events) and a trickle phase (1 KiB content, 5
                   micro-batches of 100 events, the 5th compacting).
                   See ingest.py.
* ``query_suite``  15 registered queries over the committed sf0.01
                   tables, each planned and fully evaluated. See suite.py.

Every output is verified (ingest: final-state digest against the
single-threaded replay oracle; queries: row count and digest of the
non-floating columns against ``expected/``). Human-readable metrics go
to stdout; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).

A traced run reports every per-layer metric whatever its workload: it
makes one traced pass of its own workload (``trace.pass_s``), then
sets up the other workload and makes one traced pass of it, and takes the ``cdc``,
``kernel`` and ``functions`` metrics from the ingest pass and the
``query`` and ``suite`` metrics from the query pass. It writes its
spans to ``.perfbench/spans-<workload>-<seed>.json``.

``--seconds``: ``ingest`` repeats its pass until this many seconds are
spent (at least one pass); ``query_suite`` always makes one pass.
``--record-expectations`` re-records the expectations of all queries.
The exit code is non-zero when any output is wrong, when a traced run
misses one of its per-layer metrics, or when a metric that must be
positive reads <= 0.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

WORKLOADS = ("ingest", "query_suite")
SETUP_REPEATS = 3


def _checkout() -> str:
    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py", "chunker_spark") if not os.path.exists(os.path.join(root, p))]
    if missing:
        sys.exit(f"perfbench: run from the root of a chunker_spark checkout (missing {missing})")
    return root


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


class _Workload:
    """Set-up, measured pass and summary of one workload in a running
    session; ``run`` returns (end-to-end, extras, attempted, failed,
    problems, per-layer metrics)."""

    def __init__(self, name: str, spark, seed: int, work, repeats: int) -> None:
        self.name, self.spark, self.work = name, spark, work
        if name == "ingest":
            from perfbench import ingest

            self.inputs, self.timings = ingest.setup(spark, seed, work, repeats)
        else:
            from perfbench import suite

            self.expected, self.timings = suite.setup(spark, work, repeats)

    def run(self, seconds: float, tracer) -> tuple:
        from perfbench import ingest, suite

        if self.name == "ingest":
            if tracer is None:
                return (*ingest.summarize(ingest.measure(self.spark, self.inputs, self.work, seconds)), {})
            passes, layer = ingest.trace(self.spark, self.inputs, self.work, tracer)
            return (*ingest.summarize(passes), layer)
        results = suite.run_pass(self.spark, suite.MEASURED, tracer)
        return suite.summarize(results, self.expected, tracer is not None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="ingest")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expectations", action="store_true")
    args = ap.parse_args(argv)

    checkout = _checkout()
    sys.path.insert(0, checkout)
    from perfbench import harness, ingest, suite

    work = harness.WorkDir(checkout)
    harness.hermetic_env(work)
    labels = harness.host_labels(checkout)
    traced = bool(args.trace)
    repeats = 1 if traced else SETUP_REPEATS  # a traced run does not report setup_s
    spark = None
    try:
        harness.rebase_fixture_paths(work)
        from chunker_spark.kernel import native

        t0 = time.perf_counter()
        native.provider()  # compile the native kernel once, before the workers need it
        native_s = time.perf_counter() - t0
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = harness.start_spark(work, cores=4, ui=traced)
            session_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            harness.warm_spark(spark, 4)  # one Python worker per core, so the worker count is fixed
            warm_s = time.perf_counter() - t0
            if args.record_expectations:
                suite.setup(spark, work, 1)  # fixtures
                import __spark_entry__ as entry

                rec = suite.record(suite.run_pass(spark, list(entry.queries()), None))
                with open(suite.EXPECTED, "w") as fh:
                    json.dump({"data": "sf0.01", "queries": rec}, fh, indent=1, sort_keys=True)
                print(f"recorded {len(rec)} query expectations to {suite.EXPECTED}")
                return 0
            own = _Workload(args.workload, spark, args.seed, work, repeats)
            timings = {"session_s": session_s, "warmup_s": warm_s + own.timings["warmup_s"],
                       "prepare_s": own.timings["prepare_s"]}
            tracer = harness.Tracer(args.workload) if traced else None
            e2e, extra, attempted, failed, problems, layer_metrics = own.run(args.seconds, tracer)
            if traced:
                layer_metrics["trace.pass_s"] = e2e["pass_s"]
                other = _Workload(next(w for w in WORKLOADS if w != args.workload), spark, args.seed, work, 1)
                _, _, o_attempted, o_failed, o_problems, o_layers = other.run(args.seconds, tracer)
                attempted, failed = attempted + o_attempted, failed + o_failed
                problems.update({f"{other.name}.{k}": v for k, v in o_problems.items()})
                layer_metrics.update(o_layers)
        e2e["setup_s"] = native_s + sum(timings.values())
        e2e["peak_rss_mb"] = rss.peak_mb
        if tracer is not None:
            tracer.write(os.path.join(work.base, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            spark.stop()
        harness.stop_gateway()
        work.close()

    correct = failed == 0
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} host={json.dumps(labels)}")
    print(f"#   setup: {json.dumps({k: round(v, 4) for k, v in timings.items()})}")
    for name, (value, unit) in extra.items():
        print(f"  {name:<28} {_fmt(value):>12} {unit}")
    print(f"  {'failed_share':<28} {_fmt(failed / attempted):>12} ratio ({failed} of {attempted} operations)")
    units = {"pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    if traced:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layer_metrics.items()}
    for name, m in metrics.items():
        print(f"  {name:<40} {_fmt(m['value']):>12} {m['unit']}")
    for name, problem in problems.items():
        print(f"  FAILED {name}: {problem}")
    bad = [k for k, m in metrics.items() if not (m["value"] > 0) and _must_be_positive(k, traced)]
    if bad:
        print(f"  FAILED metrics that read <= 0: {bad}")
        correct = False
    layer_keys = ingest.LAYER_KEYS + suite.LAYER_KEYS + ("trace.pass_s",)
    missing = [k for k in layer_keys if k not in metrics] if traced else []
    if missing:
        print(f"  FAILED per-layer metrics not reported: {missing}")
        correct = False
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_mb_s", "MB/s"), ("_mb_per_commit", "MB"), ("_ms_p50", "ms"),
        ("_s_p50", "s"), ("_s", "s"), ("_share", "ratio"), ("_kb", "KiB"), ("_mb", "MB"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def _must_be_positive(name: str, traced: bool) -> bool:
    """End-to-end metrics and every query or pass time must read > 0 (a
    zero there is a lost measurement). Other per-layer figures may be 0:
    a share of commits that compacted, for one."""
    return not traced or name.startswith("query.") or name in ("suite.all_s", "trace.pass_s")


if __name__ == "__main__":
    sys.exit(main())

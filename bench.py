"""Headline benchmark: times every implemented query at a given scale.

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] cores (default 32)

Prints the full record (cold pass, rows, protocol) first, also written
to BENCH/last_run.json, then the steady timings as compact JSON lines
of at most 1900 characters each, every query at its measured 3-decimal
time (-1.0 marks a failed query):
  {"queries":{name:sec,...}}            (zero or more lines)
  {"metric":"total_query_sec","value":N,"unit":"sec","sf":0.1,
   "queries":{name:sec,...}}
The headline comes last and carries as many of the last queries as fit
on its line. A reader that keeps only the last 2000 characters of the
output and parses its last line (the BENCH_r*.json recorder) sees the
headline and about 80 of the 92 queries: 92 names at even 2-decimal times
take ~2100 characters, so the whole map is only in the earlier lines
and BENCH/last_run.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from pyspark.sql import SparkSession


def _host_probe() -> dict | None:
    """Label the run with the host's DRAM regime (BENCH/BASELINE.md:
    co-tenant bandwidth saturation inflates absolute times up to 2-3x
    and is invisible to CPU-steal counters). Never fails the bench."""
    try:
        # by path: the `bench/` dir is shadowed by this very file's
        # module name, so `import bench.bw_probe` cannot resolve
        import importlib.util

        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench", "bw_probe.py"
        )
        spec = importlib.util.spec_from_file_location("_bw_probe", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.probe()
    except Exception:
        return None


def _compact_lines(head: dict, timings: dict, limit: int = 1900) -> list[str]:
    """``head`` plus ``timings`` as compact JSON lines of at most
    ``limit`` chars, every query at its measured time. The last line is
    ``head`` with a ``queries`` map of as many of the last queries as
    fit; the lines before it hold the rest as ``{"queries":{...}}``."""

    def dump(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    items = list(timings.items())
    lines: list[str] = []
    rec = head  # filled from the end: the last line is the fullest
    while items or not lines:
        i = max(len(items) - 1, 0)
        while i > 0 and len(dump({**rec, "queries": dict(items[i - 1 :])})) <= limit:
            i -= 1
        lines.insert(0, dump({**rec, "queries": dict(items[i:])}))
        items, rec = items[:i], {}
    return lines


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    probe_start = _host_probe()

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("chunker-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no stage-progress \r spam on stderr: the driver's output
        # capture is a tail window shared with stdout, and the final
        # compact JSON line must survive in it intact
        .config("spark.ui.showConsoleProgress", "false")
        # sized like a production executor, not the whole host: sf0.1
        # fits in ~2g, and oversized lazy heaps are actively harmful on
        # this sandbox — the hypervisor faults fresh multi-GB mappings
        # at ~0.03 GB/s (measured), so every heap expansion stalls
        .config("spark.driver.memory", "12g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the session (JVM codegen, python workers, parquet footers)
    # so the first timed query isn't charged cold-start costs; the
    # warmup fans one Arrow task to every core so ALL python workers
    # exist before timing starts (a 1-partition warmup would leave 31
    # cold workers to be paid for by the first pandas-UDF query)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()
    # one string-keyed shuffle warms the exchange + hash-agg codepaths
    from pyspark.sql import functions as _F

    spark.range(0, 100_000).groupBy(
        (_F.col("id") % 97).cast("string").alias("k")
    ).count().count()

    # Two passes per query. Pass 1 (cold) charges each query its
    # first-execution costs — Catalyst planning, whole-stage codegen,
    # JVM JIT of the generated classes (measured at up to tens of
    # seconds for the first string-key aggregate in a fresh JVM on this
    # sandbox). Pass 2 (steady) measures the recurring cost, which is
    # what sustained 100 TB throughput is made of — compile cost
    # amortizes to zero over a long-running job. Both totals are
    # reported; "value" is the steady-state total, the cold pass is in
    # cold_sec / cold_total_sec. Queries are re-planned from scratch on
    # every call (fresh DataFrame lineage; no .cache() anywhere in the
    # query set), so pass 2 re-runs the full scan+shuffle pipeline —
    # only JVM-level compilation is reused, never data or results.
    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    row_counts: dict[str, int] = {}
    for passno, sink in ((1, cold), (2, timings)):
        for name, fn in entrymod.queries().items():
            t0 = time.time()
            try:
                n = fn(spark, sf_dir).count()
            except Exception as ex:  # keep the bench alive; report the failure
                sink[name] = -1.0
                row_counts[name] = -1
                print(f"query {name} failed (pass {passno}): {ex}", file=sys.stderr)
                continue
            sink[name] = round(time.time() - t0, 3)
            row_counts[name] = n

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    cold_total = round(sum(t for t in cold.values() if t >= 0), 3)
    verbose = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "protocol": "steady-state: pass 2 of 2 identical passes; "
        "pass-1 (cold: planning+codegen+JIT) in cold_sec",
        "cold_sec": cold,
        "cold_total_sec": cold_total,
        "sf": sf,
        "cpus": cpus,
        "rows": row_counts,
        # DRAM-regime labels (healthy fresh ~2.3 GB/s; sick 0.01-0.2):
        # absolute times from a sick window are inflated up to 2-3x
        "host_probe_start": probe_start,
        "host_probe_end": _host_probe(),
    }
    print(json.dumps(verbose))
    try:  # full record also on disk (the stdout tail window is small)
        outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(outdir, exist_ok=True)
        with open(os.path.join(outdir, "last_run.json"), "w") as fh:
            json.dump(verbose, fh)
    except OSError:
        pass
    spark.stop()  # before the final line: stop-time logs must not trail it
    head = {"metric": "total_query_sec", "value": total, "unit": "sec", "sf": sf}
    for line in _compact_lines(head, timings):
        print(line, flush=True)


if __name__ == "__main__":
    main()

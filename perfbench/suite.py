"""``query_suite``: registered queries of ``__spark_entry__.queries()``
over the committed sf0.01 tables, in a warmed session, each one planned
and fully evaluated.

A run times the 15 queries of ``MEASURED`` (every sixth query of the
registry as recorded, from the third; one pass over all 92 does not fit
the benchmark's run-time budget). The list is fixed, so a query added to
the registry later does not change what the benchmark measures.

A query's time is plan building (the ``fn(spark, sf_dir)`` call) plus
full evaluation (``collect()``: every output column of every row is
computed and delivered to this process; ``.count()`` would let Spark prune
columns and UDFs). Correctness is checked afterwards, untimed: the row
count and an order-insensitive digest of the non-floating columns must
equal the expectations in ``expected/queries_sf0.01.json``.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import shutil
import time

from .harness import JobGroup, Tracer, median, shuffle_bytes, tail

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "queries_sf0.01.json")
#: the queries a run times, in this order
MEASURED = (
    "last_order_per_customer", "events_windowed", "doc_sha256", "dedup_clusters", "doc_manifest",
    "lang_id", "cdc_compact", "canal_parse", "toast_fill", "events_asof_next",
    "user_approx_distinct", "doc_mixture", "doc_stratified", "value_approx_quantiles",
    "doc_substring_dedup",
)
#: every per-layer metric ``summarize`` returns for a traced pass
LAYER_KEYS = tuple(f"query.{n}_s" for n in MEASURED) + (
    "suite.all_s", "suite.plan_build_s", "suite.jobs", "suite.shuffle_mb",
)


# ---------------------------------------------------------------------
# order-insensitive digest of the non-floating columns
# ---------------------------------------------------------------------


def _has_float(dtype) -> bool:
    from pyspark.sql import types as T

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_float(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_float(dtype.keyType) or _has_float(dtype.valueType)
    if isinstance(dtype, T.StructType):
        return any(_has_float(f.dataType) for f in dtype.fields)
    return False


def _canon(v):
    from pyspark.sql import Row

    if isinstance(v, Row):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return sorted((repr(_canon(k)), _canon(x)) for k, x in v.items())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def digest(schema, rows) -> tuple[list[str], str]:
    """(checked column names, digest over the rows of those columns)."""
    keep = [i for i, f in enumerate(schema.fields) if not _has_float(f.dataType)]
    row_hashes = sorted(
        hashlib.sha256(repr([_canon(r[i]) for i in keep]).encode()).hexdigest() for r in rows
    )
    h = hashlib.sha256()
    for rh in row_hashes:
        h.update(rh.encode())
    return [schema.fields[i].name for i in keep], h.hexdigest()


# ---------------------------------------------------------------------
# set-up: fixtures the queries read, expectations
# ---------------------------------------------------------------------


def build_fixtures(work) -> None:
    """Write every fixture the suite reads into the (rebased) fixture
    dir, with the arguments the queries pass, so no query pays for it."""
    import __spark_entry__ as entry
    from chunker_spark.cdc import dblog, envelopes, keychange, outbox, toast
    from chunker_spark.functions import manifest
    from chunker_spark.ops import multimodal

    fixtures = os.path.join(work.path, "fixtures")
    shutil.rmtree(fixtures, ignore_errors=True)
    os.makedirs(fixtures)
    for fn in (
        envelopes.canal_fixture_path, envelopes.debezium_fixture_path,
        envelopes.dms_fixture_path, envelopes.goldengate_fixture_path,
        envelopes.maxwell_fixture_path, envelopes.mongo_fixture_path,
        envelopes.wal2json_fixture_path, envelopes.wal2json_txn_fixture_path,
        dblog.dblog_fixture_paths, outbox.outbox_fixture_path,
        keychange.rename_fixture_path, toast.toast_fixture_path,
    ):
        fn()
    multimodal.media_fixture_path(n=48)
    manifest.manifest_expected_fixture_path(extra_dirs=(DATA_DIR,))
    entry._ensure_replay_fixture()


def load_expected() -> dict:
    """Recorded expectations; empty (so every check fails) if none exist."""
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)["queries"]


# ---------------------------------------------------------------------
# the measured pass
# ---------------------------------------------------------------------


def run_pass(spark, names, tracer: Tracer | None) -> dict:
    """Plan and fully evaluate each named query once, in order."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    queries = entry.queries()
    out = {}
    for name in names:
        fn = queries[name]
        rec = {"plan_s": 0.0, "eval_s": 0.0, "rows": None, "schema": None, "error": ""}
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, DATA_DIR)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            else:
                with tracer.span(f"query.{name}"), JobGroup(sc, f"q-{name}") as group:
                    with tracer.span("query.plan"):
                        t0 = time.perf_counter()
                        df = fn(spark, DATA_DIR)
                        t1 = time.perf_counter()
                    with tracer.span("query.eval"):
                        rows = df.collect()
                        t2 = time.perf_counter()
                rec["jobs"] = group.jobs
                rec["stage_ids"] = group.stage_ids
            rec.update(plan_s=t1 - t0, eval_s=t2 - t1, rows=rows, schema=df.schema)
        except Exception as ex:  # one failing query must not hide the others
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        out[name] = rec
    if tracer is not None:
        per_query = shuffle_bytes(sc, [r.get("stage_ids", []) for r in out.values()])
        for rec, b in zip(out.values(), per_query):
            rec["shuffle_bytes"] = b
    return out


def check(results: dict, expected: dict) -> dict[str, str]:
    """Untimed output check; returns {query: problem} for every failure."""
    problems = {}
    for name, rec in results.items():
        exp = expected.get(name)
        if rec["error"]:
            problems[name] = rec["error"]
        elif exp is None:
            problems[name] = "no expectation recorded"
        else:
            cols, dig = digest(rec["schema"], rec["rows"])
            if len(rec["rows"]) != exp["rows"]:
                problems[name] = f"rows {len(rec['rows'])} != expected {exp['rows']}"
            elif cols != exp["columns"]:
                problems[name] = f"checked columns {cols} != expected {exp['columns']}"
            elif dig != exp["digest"]:
                problems[name] = "digest differs from the expectation"
        rec["rows"] = None  # results are not kept past the check
    return problems


def record(results: dict) -> dict:
    out = {}
    for name, rec in results.items():
        if rec["error"]:
            raise RuntimeError(f"{name} failed while recording: {rec['error']}")
        cols, dig = digest(rec["schema"], rec["rows"])
        out[name] = {"rows": len(rec["rows"]), "columns": cols, "digest": dig}
    return out


def setup(spark, work, repeats: int) -> tuple[dict, dict]:
    """Write the fixtures and load the expectations ``repeats`` times,
    then warm the session with one untimed pass over ``MEASURED``.
    Returns the expectations and the set-up timings (the median
    preparation time).

    The warm-up pass makes the measured pass time steady per-query
    times: without it the first queries paid the session's first-time
    costs. On a shared 4-core host the first query then took up to 2.7x
    its warm time, and the pass time spread 0.16 (IQR/median) over ten
    runs."""
    timings: dict = {}
    prep_s, expected = [], {}
    for _ in range(repeats):
        t0 = time.perf_counter()
        build_fixtures(work)
        expected = load_expected()
        prep_s.append(time.perf_counter() - t0)
    timings["prepare_s"] = median(prep_s)
    t0 = time.perf_counter()
    run_pass(spark, MEASURED, None)
    timings["warmup_s"] = time.perf_counter() - t0
    return expected, timings


def summarize(results: dict, expected: dict, traced: bool) -> tuple[dict, dict, int, int, dict, dict]:
    """(end-to-end values, readable extras, attempted, failed, problems,
    per-layer metrics). The per-layer metrics are empty unless ``traced``."""
    import __spark_entry__ as entry

    problems = check(results, expected)
    registry = entry.queries()
    missing = sorted(set(expected) - set(registry))
    problems.update({n: "expected query missing from the registry" for n in missing})
    times = {n: r["plan_s"] + r["eval_s"] for n, r in results.items() if not r["error"]}
    ops = list(times.values())
    t_val, t_pct, t_beyond = tail(ops) if ops else (0.0, 100, 0)
    suite_s = sum(ops)
    e2e = {"pass_s": suite_s}
    extra = {
        "suite_s": (suite_s, f"s ({len(ops)} queries, plan building + full evaluation)"),
        "query_p50_s": (median(ops) if ops else 0.0, "s"),
        "query_tail_s": (t_val, f"s (p{t_pct} of {len(ops)} queries, {t_beyond} beyond)"),
    }
    attempted = 2 * len(results) + len(missing)  # queries + output checks
    failed = sum(1 for r in results.values() if r["error"]) + len(problems)
    layers = {}
    if traced:
        for n, t in times.items():
            layers[f"query.{n}_s"] = t
        layers["suite.all_s"] = suite_s
        layers["suite.plan_build_s"] = sum(r["plan_s"] for r in results.values())
        layers["suite.jobs"] = sum(r.get("jobs", 0) for r in results.values())
        layers["suite.shuffle_mb"] = sum(r.get("shuffle_bytes", 0) for r in results.values()) / 1e6
    return e2e, extra, attempted, failed, problems, layers

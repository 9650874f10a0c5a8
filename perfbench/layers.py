"""In-process replay of the ``kernel`` and ``functions`` layers.

The manifest UDF runs in Spark's Python workers, which wrappers in the
benchmark process cannot reach. The traced run therefore replays both
layers in this process on the workload's own documents, in
Arrow-batch-sized groups:
``kernel.vectorized.chunk_many`` with the native provider and with the
numpy path, and ``manifest_udf(SOURCE_PARAMS).func`` on pandas batches.
"""

from __future__ import annotations

import time

import pandas as pd

from .harness import median

#: Spark's default ``spark.sql.execution.arrow.maxRecordsPerBatch``
ARROW_BATCH_ROWS = 10_000
#: each timed replay repeats its pass for at least this long (and at least 3 times)
MIN_SECONDS = 0.5
#: the per-layer metrics ``replay`` returns
KEYS = (
    "kernel.native_mb_s", "kernel.numpy_mb_s", "kernel.hashed_share", "kernel.chunks",
    "functions.manifest_batch_ms_p50", "functions.manifest_mb_s", "functions.kernel_share",
)


def _groups(docs: list[bytes], rows: int) -> list[list[bytes]]:
    return [docs[i:i + rows] for i in range(0, len(docs), rows)]


def _timed_passes(fn) -> float:
    """Median seconds of ``fn()`` over repeated passes (at least 3, and
    at least ``MIN_SECONDS`` in total)."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < 3 or time.perf_counter() - start < MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def replay(docs: list[str], params) -> dict:
    """Per-layer figures for ``kernel`` and ``functions`` on ``docs``."""
    from chunker_spark.functions import manifest as manifest_mod
    from chunker_spark.kernel import native
    from chunker_spark.kernel.vectorized import chunk_many

    raw = [d.encode("utf-8") for d in docs]
    total = sum(len(b) for b in raw)
    mb = total / 1e6
    groups = _groups(raw, ARROW_BATCH_ROWS)

    def run_kernel() -> int:
        return sum(len(c) for g in groups for c in chunk_many(g, params))

    chunks = run_kernel()
    native_s = _timed_passes(run_kernel)
    saved = native.provider()
    try:
        native.set_provider(None)
        numpy_s = _timed_passes(run_kernel)
    finally:
        native.set_provider(saved)

    # functions: the UDF body on pandas batches, with its kernel calls timed
    udf = manifest_mod.manifest_udf(params).func
    series = [pd.Series(g) for g in _groups(docs, ARROW_BATCH_ROWS)]
    kernel_time = [0.0]
    inner = manifest_mod.chunk_many

    def timed_chunk_many(*a, **kw):
        t0 = time.perf_counter()
        try:
            return inner(*a, **kw)
        finally:
            kernel_time[0] += time.perf_counter() - t0

    batch_ms: list[float] = []
    passes = 0
    manifest_mod.chunk_many = timed_chunk_many
    try:
        start = time.perf_counter()
        while passes < 3 or time.perf_counter() - start < MIN_SECONDS:
            for s in series:
                t0 = time.perf_counter()
                out = udf(s)
                batch_ms.append((time.perf_counter() - t0) * 1e3)
                if len(out) != len(s):
                    raise RuntimeError("manifest UDF returned a wrong row count")
            passes += 1
    finally:
        manifest_mod.chunk_many = inner
    manifest_s = sum(batch_ms) / 1e3 / passes

    hashed = sum(len(b) for b in raw if len(b) >= params.min_size)
    return {
        "kernel.native_mb_s": mb / native_s,
        "kernel.numpy_mb_s": mb / numpy_s,
        "kernel.hashed_share": hashed / total if total else 0.0,
        "kernel.chunks": chunks,
        "functions.manifest_batch_ms_p50": median(batch_ms),
        "functions.manifest_mb_s": mb / manifest_s,
        "functions.kernel_share": kernel_time[0] / passes / manifest_s,
    }

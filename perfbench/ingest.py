"""``ingest``: verified CDC ingest through ``IngestStream.run_available``
with its default options, in two phases per pass.

* bulk: content of 1-15 KiB (mean 8 KiB, mostly above
  ``SOURCE_PARAMS.min_size``), consumed in 2 micro-batches of 1000
  events. Almost all content bytes go through the kernel, the manifest
  UDF and the content exchange, but the ~16 MB of a pass take the
  native kernel well under a second: per-commit and per-row Spark work
  dominates this phase too, so a kernel or UDF regression barely moves
  the pass time (the traced run's ``kernel``/``functions`` replay is
  where it shows).
* trickle: content of 1 KiB (below ``min_size``, so the kernel hashes
  nothing), consumed in 5 micro-batches of 100 events. The per-commit
  floor dominates. Its lake compacts a bucket once it holds more than 4
  files (the default is 8), so the 5th commit compacts every bucket.
  The bulk lake keeps the default: a bulk commit writes about 2 files
  per bucket, so with 4 whether the 2nd bulk commit compacted, and took
  ~2 s longer, depended on the seed.

Each phase is a fresh lake and checkpoint draining binlog segments that
were written during set-up, closed loop (the next micro-batch starts
when the previous one has committed). After each phase the final state
is read through ``LakeTable.read()`` and its digest is checked, untimed,
against ``state_digest(state_rows(replay(gen_events_local(spec, n))))``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass

from .harness import JobGroup, Tracer, median, shuffle_bytes, tail
from . import layers

DIGEST_COLS = ("repo", "path", "commit", "language", "branch", "content_sha256")


@dataclass(frozen=True)
class Shape:
    mean_blocks: int  # mean content size in KiB (GenSpec)
    events: int
    keys: int
    segments: int  # binlog segment files
    files_per_trigger: int
    compact_threshold: int  # LakeTable: compact a bucket holding more files than this


PHASES = {
    "bulk": Shape(mean_blocks=8, events=2000, keys=500, segments=8, files_per_trigger=4, compact_threshold=8),
    "trickle": Shape(mean_blocks=1, events=500, keys=300, segments=5, files_per_trigger=1, compact_threshold=4),
}
#: every per-layer metric ``trace`` returns
LAYER_KEYS = tuple(
    f"cdc.{k}" for k in (
        "apply_batch_s_p50", "trigger_overhead_s_p50", "jobs_per_commit", "stages_per_commit",
        "tasks_per_commit", "compacted_commit_share", "compact_commit_s_p50", "live_files",
        "commit_json_kb", "state_read_s", "shuffle_mb_per_commit", "bulk.apply_batch_s_p50",
        "bulk.jobs_per_commit",
    )
) + layers.KEYS
#: three throwaway micro-batches after ``warm_spark``: an insert, a merge
#: into existing state and a compaction run the streaming, merge, compaction
#: and UDF code paths before anything is timed. With one insert only, the
#: first measured merge and compaction still paid first-time costs.
WARM = Shape(mean_blocks=8, events=90, keys=30, segments=3, files_per_trigger=1, compact_threshold=2)


@dataclass
class Input:
    events: int
    segments_dir: str
    expected_digest: str
    docs: list  # upsert contents, for the kernel/functions replay


def prepare(shape: Shape, seed: int, out_dir: str) -> Input:
    """Write the phase's binlog segments and load the expected digest."""
    from chunker_spark.cdc import GenSpec, gen_events_local, replay, state_digest, state_rows
    from chunker_spark.cdc.events import write_segments

    n = shape.events
    spec = GenSpec(
        seed=seed, n_keys=shape.keys, mean_blocks=shape.mean_blocks,
        schema_ver_plan=((n // 3, 2), (2 * n // 3, 3)),
    )
    events = list(gen_events_local(spec, n))
    expected = state_digest(state_rows(replay(events)))
    write_segments(None, spec, n, out_dir, n_segments=shape.segments)
    docs = [e["content"] for e in events if e["content"] is not None]
    return Input(n, out_dir, expected, docs)


def _stream_class():
    from chunker_spark.cdc import IngestStream

    class TimedStream(IngestStream):
        """Records when each micro-batch ends; in traced phases also a
        span and the Spark jobs, stages and tasks it launched."""

        recorder: "Phase"

        def _handle_batch(self, df, batch_id: int) -> None:
            rec = self.recorder
            if rec.tracer is not None:
                sc = self.spark.sparkContext
                with rec.tracer.span("cdc.micro_batch", batch=int(batch_id), parent=rec.span_id), JobGroup(
                    sc, f"{rec.tag}-b{batch_id}"
                ) as group:
                    super()._handle_batch(df, batch_id)
                rec.groups.append(group)
            else:
                super()._handle_batch(df, batch_id)
            rec.ends.append(time.perf_counter())

    return TimedStream


@dataclass
class Phase:
    name: str
    tag: str
    inp: Input
    tracer: Tracer | None
    ends: list
    groups: list
    t0: float = 0.0
    pass_s: float = 0.0
    read_s: float = 0.0
    ok: bool = False  # the final-state digest matched
    batch_failed: bool = False  # a micro-batch raised and ended the phase
    error: str = ""
    commits: list | None = None  # commit JSONs (traced phases)
    final_commit_bytes: int = 0
    apply_s: list | None = None
    span_id: int | None = None  # the phase's span, parent of its micro-batches

    @property
    def op_s(self) -> list[float]:
        return [b - a for a, b in zip([self.t0] + self.ends[:-1], self.ends)]


def _maybe_span(tracer: Tracer | None, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else contextlib.nullcontext()


def run_phase(spark, name: str, inp: Input, root: str, tag: str, shape: Shape,
              tracer: Tracer | None) -> Phase:
    from chunker_spark.cdc import LakeTable, state_digest

    lake = LakeTable(spark, f"{root}/lake", compact_threshold=shape.compact_threshold)
    rec = Phase(name=name, tag=tag, inp=inp, tracer=tracer, ends=[], groups=[])
    stream = _stream_class()(
        spark, lake, inp.segments_dir, f"{root}/checkpoint",
        max_files_per_trigger=shape.files_per_trigger,
    )
    stream.recorder = rec
    n_apply = len(tracer.durations("cdc.apply_batch")) if tracer else 0
    try:
        with _maybe_span(tracer, "cdc.phase", phase=name) as span:
            rec.span_id = getattr(span, "id", None)
            rec.t0 = time.perf_counter()
            stream.run_available()
            rec.pass_s = time.perf_counter() - rec.t0
        with _maybe_span(tracer, "cdc.state_read", phase=name):
            t0 = time.perf_counter()
            rows = lake.read().select(*DIGEST_COLS).collect()
            rec.read_s = time.perf_counter() - t0
        got = state_digest(
            sorted((r.asDict() for r in rows), key=lambda r: (r["repo"], r["path"]))
        )
        rec.ok = got == inp.expected_digest
        if not rec.ok:
            rec.error = f"state digest {got[:16]} != expected {inp.expected_digest[:16]}"
    except Exception as ex:  # a failed micro-batch ends the phase; count it
        rec.batch_failed = True
        rec.error = f"{type(ex).__name__}: {str(ex)[:300]}"
    if tracer is not None:
        meta = f"{root}/lake/meta"
        names = sorted(f for f in os.listdir(meta) if f.startswith("commit-") and f.endswith(".json"))
        rec.commits = []
        for fname in names:
            with open(f"{meta}/{fname}") as fh:
                rec.commits.append(json.load(fh))
        rec.final_commit_bytes = os.path.getsize(f"{meta}/{names[-1]}") if names else 0
        rec.apply_s = tracer.durations("cdc.apply_batch")[n_apply:]
    return rec


def _commit_figures(ph: Phase) -> dict:
    """Per-commit figures of one traced phase."""
    ops = ph.op_s
    compact = [o for c, o in zip(ph.commits, ops) if "compact" in c.get("kind", "")]
    n = len(ph.groups)
    out = {
        "apply_batch_s_p50": median(ph.apply_s),
        "trigger_overhead_s_p50": median([o - a for o, a in zip(ops, ph.apply_s)]),
        "jobs_per_commit": sum(g.jobs for g in ph.groups) / n,
        "stages_per_commit": sum(g.stages for g in ph.groups) / n,
        "tasks_per_commit": sum(g.tasks for g in ph.groups) / n,
        "compacted_commit_share": len(compact) / len(ph.commits),
        "live_files": sum(len(v) for v in ph.commits[-1]["files"].values()),
        "commit_json_kb": ph.final_commit_bytes / 1024,
        "state_read_s": ph.read_s,
    }
    if compact:
        out["compact_commit_s_p50"] = median(compact)
    return out


def _layers(phases: dict[str, Phase], shuffle_mb: float) -> dict:
    """Per-layer metrics of the traced pass. The per-commit floor figures
    come from the trickle phase, the volume figures from the bulk phase."""
    from chunker_spark.cdc.events import SOURCE_PARAMS

    trickle, bulk = _commit_figures(phases["trickle"]), _commit_figures(phases["bulk"])
    out = {f"cdc.{k}": v for k, v in trickle.items()}
    out["cdc.shuffle_mb_per_commit"] = shuffle_mb / len(phases["bulk"].groups)
    out["cdc.bulk.apply_batch_s_p50"] = bulk["apply_batch_s_p50"]
    out["cdc.bulk.jobs_per_commit"] = bulk["jobs_per_commit"]
    with phases["bulk"].tracer.span("kernel_functions.replay"):
        out.update(layers.replay(phases["bulk"].inp.docs, SOURCE_PARAMS))
    return out


def run_pass(spark, inputs: dict[str, Input], work, tag: str, tracer: Tracer | None) -> dict[str, Phase]:
    out = {}
    for name, shape in PHASES.items():
        ph = run_phase(spark, name, inputs[name], work.sub(f"{tag}{name}"), f"{tag}{name}", shape, tracer)
        out[name] = ph
        if ph.error:
            break
    return out


def setup(spark, seed: int, work, repeats: int) -> tuple[dict[str, Input], dict]:
    """Warm the ingest code paths with throwaway micro-batches, then
    write the phases' inputs ``repeats`` times. Returns the inputs and
    the set-up timings (the median preparation time)."""
    timings: dict = {}
    t0 = time.perf_counter()
    inp = prepare(WARM, seed + 991, work.sub("warm-seg"))
    run_phase(spark, "warm", inp, work.sub("warm"), "warm", WARM, None)
    timings["warmup_s"] = time.perf_counter() - t0
    prep_s, inputs = [], {}
    for i in range(repeats):
        t0 = time.perf_counter()
        inputs = {n: prepare(s, seed, work.sub(f"segments-{i}-{n}")) for n, s in PHASES.items()}
        prep_s.append(time.perf_counter() - t0)
    timings["prepare_s"] = median(prep_s)
    return inputs, timings


def measure(spark, inputs: dict[str, Input], work, seconds: float) -> list[dict[str, Phase]]:
    """Passes of (bulk, trickle) until ``seconds`` are spent, at least one."""
    passes: list[dict[str, Phase]] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        passes.append(run_pass(spark, inputs, work, f"p{len(passes)}-", None))
        if any(ph.error for ph in passes[-1].values()):
            break
    return passes


def trace(spark, inputs: dict[str, Input], work, tracer: Tracer) -> tuple[list[dict[str, Phase]], dict]:
    """One traced pass; returns it (as a list of one pass) and its
    per-layer metrics (none if a phase failed)."""
    import chunker_spark.cdc.streaming as streaming_mod
    from chunker_spark.cdc import LakeTable

    tracer.wrap(streaming_mod, "apply_batch", "cdc.apply_batch")
    tracer.wrap(LakeTable, "read", "cdc.lake_read")
    with tracer.span("ingest.pass"):
        p = run_pass(spark, inputs, work, "t-", tracer)
    if any(ph.error for ph in p.values()):
        return [p], {}
    stage_ids = [s for g in p["bulk"].groups for s in g.stage_ids]
    shuffle_mb = shuffle_bytes(spark.sparkContext, [stage_ids])[0] / 1e6
    return [p], _layers(p, shuffle_mb)


def summarize(passes: list[dict[str, Phase]]) -> tuple[dict, dict, int, int, dict]:
    """(end-to-end values, readable extras, attempted, failed, problems).

    ``pass_s`` is the wall time of bulk + trickle, from the first
    trigger until drained."""
    phases = [ph for p in passes for ph in p.values()]
    # operations: micro-batches (a failed one ends its phase) + output checks
    attempted = sum(len(ph.ends) + ph.batch_failed + 1 for ph in phases)
    failed = sum(ph.batch_failed + (not ph.ok) for ph in phases)
    problems = {ph.tag: ph.error for ph in phases if ph.error}
    good = [p for p in passes if all(ph.ok for ph in p.values())] or passes
    e2e = {"pass_s": median([sum(ph.pass_s for ph in p.values()) for p in good])}
    extra = {}
    for name in PHASES:
        ph_list = [p[name] for p in good if name in p and p[name].ends]
        if not ph_list:
            continue
        ph_ops = [o for ph in ph_list for o in ph.op_s]
        pv, pp, pb = tail(ph_ops)
        pass_s = median([ph.pass_s for ph in ph_list])
        extra[f"{name}.events_per_s"] = (ph_list[0].inp.events / pass_s, "events/s")
        extra[f"{name}.commit_p50_s"] = (median(ph_ops), "s")
        extra[f"{name}.commit_tail_s"] = (pv, f"s (p{pp} of {len(ph_ops)} micro-batches, {pb} beyond)")
        extra[f"{name}.state_read_s"] = (median([ph.read_s for ph in ph_list]), "s")
    extra["passes"] = (len(good), "passes of bulk + trickle")
    return e2e, extra, attempted, failed, problems

"""Per-layer metrics of a traced run (``--trace 1``).

Every name in ``PER_LAYER`` (the ``per_layer`` list of BENCHMARK.json) is
reported on every workload; a layer a workload never enters reads 0. After
the measured window a traced run makes one pass of its workload's layer
probe (``cdc`` on migrate, ``curate`` on validate) in a window of its own,
reported under ``probe.*``, ``streaming.*``, ``plans.curate.*`` and
``analytics.*``. How each value is measured is documented in
perfbench/README.md.
"""

from __future__ import annotations

import bisect
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen
from tracing import (
    Tracer, attribute_jobs, frame_lines, job_totals, merge_intervals, parse_event_log, self_times,
    tail_percentile, task_skew, timeline,
)

SELF_LAYERS = (
    "sources", "operators", "sinks", "savepoints", "plans.migrate", "plans.validate", "other", "perfbench",
)
JOB_LAYERS = SELF_LAYERS[:-1]  # the benchmark's own work submits no Spark job
PROBE_SELF_LAYERS = (
    "streaming.cdc", "plans.curate", "analytics.text", "analytics.dedup", "sources", "sinks", "other", "perfbench",
)
PROBE_JOB_LAYERS = PROBE_SELF_LAYERS[:-1]
CURATE_STAGES = (
    "stage00_input", "stage01_length_filter", "stage02_pii_redact", "stage03_repetition_filter",
    "stage04_exact_dedup", "stage05_near_dedup", "stage06_kn_perplexity_filter",
)

PER_LAYER = (
    [
        ("session.get_spark_s", "s"), ("session.warmup_s", "s"), ("session.cold_start_s", "s"),
        ("process.peak_rss_mb", "MB"),
        ("sources.list_files_s", "s"), ("sources.files_listed", "count"), ("sources.input_bytes", "bytes"),
        ("plans.migrate.build_plan_s", "s"), ("plans.migrate.write_s", "s"), ("plans.migrate.chunks", "count"),
        ("plans.migrate.chunk_s_p50", "s"), ("plans.migrate.null_pk_dropped", "count"),
        ("operators.explode_timestamps.rows_out_per_row_in", "ratio"),
        ("operators.content_hash.shuffle_bytes_ratio", "ratio"),
        ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"), ("sinks.rows_written", "count"),
        ("savepoints.dumps", "count"), ("savepoints.dump_s", "s"),
    ]
    + [
        (f"plans.validate.{mode}.{m}", unit)
        for mode in ("direct", "hash")
        for m, unit in (("diff_s", "s"), ("extra_rows_s", "s"), ("repair_s", "s"), ("shuffle_bytes_per_row", "bytes"))
    ]
    + [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.jvm_gc_s", "s"),
        ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
        ("spark.slot_utilization", "ratio"), ("spark.no_job_s", "s"), ("spark.catalyst_s", "s"),
        ("spark.python_data_bytes", "bytes"), ("spark.task_skew", "ratio"),
    ]
    + [(f"layer.{name}.self_s", "s") for name in SELF_LAYERS]
    + [("layer.unattributed_s", "s")]
    + [(f"layer.{name}.executor_run_s", "s") for name in JOB_LAYERS]
    + [
        ("trace.wall_s", "s"), ("trace.primary_items_per_s", "1/s"), ("trace.sampler_cpu_s", "s"),
        ("trace.samples", "count"), ("trace.event_log_bytes", "bytes"),
    ]
    + [("probe.wall_s", "s")]
    + [(f"probe.layer.{name}.self_s", "s") for name in PROBE_SELF_LAYERS]
    + [("probe.layer.unattributed_s", "s")]
    + [(f"probe.layer.{name}.executor_run_s", "s") for name in PROBE_JOB_LAYERS]
    + [
        ("streaming.cdc.events_per_s", "1/s"), ("streaming.cdc.batches", "count"),
        ("streaming.cdc.batch_p50_ms", "ms"), ("streaming.cdc.batch_tail_ms", "ms"),
        ("streaming.cdc.batch_tail_pct", "pct"), ("streaming.cdc.apply_batch_s_p50", "s"),
        ("streaming.cdc.op_count_s_p50", "s"), ("streaming.cdc.compact_write_s_p50", "s"),
        ("streaming.cdc.state_swap_s_p50", "s"), ("streaming.cdc.rows_rewritten_per_event", "ratio"),
        ("streaming.cdc.bytes_written_per_event", "bytes"), ("streaming.cdc.batch_ms_per_100k_state_rows", "ms"),
        ("streaming.trigger_overhead_ms_p50", "ms"),
        ("plans.curate.docs_per_s", "1/s"), ("plans.curate.build_s", "s"), ("plans.curate.write_s", "s"),
        ("analytics.dedup.lsh_candidate_precision", "ratio"),
    ]
    + [(f"plans.curate.survivors.{stage}", "count") for stage in CURATE_STAGES]
)

# per-layer metrics where a larger value is better; for all others smaller is
HIGHER_IS_BETTER = {
    "spark.slot_utilization", "trace.primary_items_per_s", "trace.samples",
    "streaming.cdc.events_per_s", "plans.curate.docs_per_s", "analytics.dedup.lsh_candidate_precision",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _timed_median(fn, repeat: int = 3) -> tuple[float, object]:
    times, out = [], None
    for _ in range(repeat):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def live_metrics(wl, spark) -> dict[str, float]:
    """Measurements that call public program functions directly; they need
    the session, so they run after the measured window and before it stops."""
    from scylla_migrator_spark.plans.migrate import build_plan
    from scylla_migrator_spark.sources.parquet import list_parquet_files

    m: dict[str, float] = {}
    m["sources.list_files_s"], files = _timed_median(lambda: list_parquet_files(wl.source_dir), 5)
    m["sources.files_listed"] = len(files)
    m["sources.input_bytes"] = wl.input_bytes()
    if wl.plan_config is not None:
        m["plans.migrate.build_plan_s"], _ = _timed_median(lambda: build_plan(spark, wl.plan_config))
    return m


@dataclass
class Probe:
    wl: object  # the probe's Workload
    t0: float = 0.0
    t1: float = 0.0
    calls: list = field(default_factory=list)
    live: dict = field(default_factory=dict)
    sampler_cpu_before: float = 0.0  # the sampler's CPU time up to the probe


def run_probe(name: str, spark, con, cache: str, seed: int, work: str, tracer) -> Probe:
    """One pass of workload ``name`` at its ``gen.SIZES`` after an untimed
    pass on its tiny inputs, sampled by ``tracer`` in a window of its own."""
    from workloads import WORKLOADS

    cls = WORKLOADS[name]
    tiny, _ = gen.ensure_inputs(cache, name, seed, gen.TINY[name])
    truth, _ = gen.ensure_inputs(cache, name, seed)
    warm = cls(tiny, os.path.join(work, "warmup"), con)
    warm.prepare(spark)
    warm.iteration(spark, Tracer("warmup", tracer.pkg_root), phases=("primary",))
    probe = Probe(cls(truth, os.path.join(work, "run"), con))
    probe.wl.prepare(spark)
    probe.sampler_cpu_before = tracer.sampler_cpu_s
    tracer.start_sampler()
    probe.t0 = time.time()
    probe.calls = probe.wl.iteration(spark, tracer)
    probe.t1 = time.time()
    tracer.stop_sampler()
    if name == "curate":
        probe.live["analytics.dedup.lsh_candidate_precision"] = probe.wl.lsh_candidate_precision(spark)
    return probe


def _phase_seconds(segments, span_prefix: str, spans, classify) -> dict[int, dict[str, float]]:
    """Seconds per class for each span (by index) whose name starts with
    ``span_prefix``, from the timeline segments that start inside it."""
    ranges = [(i, s.start, s.end) for i, s in enumerate(spans) if s.name.startswith(span_prefix) and s.end is not None]
    out: dict[int, dict[str, float]] = {}
    for a, b, _label, sample in segments:
        if sample is None:
            continue
        for i, start, end in ranges:
            if start <= a < end:
                cls = classify(sample)
                if cls is not None:
                    d = out.setdefault(i, {})
                    d[cls] = d.get(cls, 0.0) + (min(b, end) - a)
    return out


def _validate_class(sample) -> str | None:
    """Which step of ``validate()`` the sample is in, from the line of its
    ``validate`` frame (the repair writer is the ``repair`` closure)."""
    lines = frame_lines(sample, os.path.join("plans", "validate.py"))
    if not lines:
        return None
    for func, text in lines:
        if func == "repair":
            return "repair_s"
        if func == "validate":
            if "extra_target_rows" in text:
                return "extra_rows_s"
            if "missing" in text or "repair" in text:
                return "repair_s"
    return "diff_s"


def _cdc_class(sample) -> str | None:
    for func, text in frame_lines(sample, os.path.join("streaming", "cdc.py")):
        if "collect()" in text:
            return "op_count"
        if text.startswith("compact.write"):
            return "compact_write"
        if "final" in text:
            return "state_swap"
    return None


def _curate_class(sample) -> str | None:
    """Building the plan (``curate()``) or running its write action."""
    for func, text in frame_lines(sample, os.path.join("plans", "curate.py")):
        if func == "curate":
            return "build_s"
        if func == "run_curation" and ".write" in text:
            return "write_s"
    return None


def _self_seconds(m, prefix: str, segments, listed) -> None:
    """Add each label's self time to ``<prefix><label>.self_s`` (unlisted
    labels to ``other``) or ``<prefix>unattributed_s``."""
    for label, seconds in self_times(segments).items():
        if label == "unattributed":
            m[f"{prefix}unattributed_s"] += seconds
        else:
            m[f"{prefix}{label if label in listed else 'other'}.self_s"] += seconds


def _probe_metrics(m, probe: Probe, tracer, jobs, per_stage) -> None:
    pw = probe.wl
    segments = timeline(tracer, probe.t0, probe.t1)
    m["probe.wall_s"] = probe.t1 - probe.t0
    _self_seconds(m, "probe.layer.", segments, PROBE_SELF_LAYERS)
    jobs = [j for j in jobs if probe.t0 <= j.submit < probe.t1]
    for layer in PROBE_JOB_LAYERS:
        m[f"probe.layer.{layer}.executor_run_s"] = job_totals([j for j in jobs if j.layer == layer], per_stage).run_s
    m.update(probe.live)
    primary = next(c for c in probe.calls if c.phase == "primary")
    facts = pw.facts
    if pw.name == "cdc":
        m["streaming.cdc.events_per_s"] = primary.items / primary.seconds
        bs = facts["batch_s"]
        m["streaming.cdc.batches"] = len(bs)
        m["streaming.cdc.batch_p50_ms"] = _median(bs) * 1000.0
        if len(bs) >= 11:
            pct, value = tail_percentile(bs)
            m["streaming.cdc.batch_tail_pct"], m["streaming.cdc.batch_tail_ms"] = pct, value * 1000.0
        m["streaming.cdc.apply_batch_s_p50"] = _median(facts["apply_s"])
        per_batch = _phase_seconds(segments, "streaming.cdc.apply_batch.", tracer.spans, _cdc_class)
        per_batch = {i: v for i, v in per_batch.items() if not tracer.spans[i].name.endswith(".-1")}
        for cls in ("op_count", "compact_write", "state_swap"):
            m[f"streaming.cdc.{cls}_s_p50"] = _median(d.get(cls, 0.0) for d in per_batch.values())
        m["streaming.cdc.batch_ms_per_100k_state_rows"] = _median(facts["batch_ms_per_100k"])
        m["streaming.trigger_overhead_ms_p50"] = _median(facts["trigger_overhead_ms"])
        # batch -1 is the snapshot copy; the others are micro-batches
        stream = [j for j in jobs if (j.phase or "").startswith("streaming.cdc.apply_batch.") and not j.phase.endswith(".-1")]
        agg = job_totals(stream, per_stage)
        m["streaming.cdc.rows_rewritten_per_event"] = agg.out_records / primary.items
        m["streaming.cdc.bytes_written_per_event"] = agg.out_bytes / primary.items
    elif pw.name == "curate":
        m["plans.curate.docs_per_s"] = primary.items / primary.seconds
        phases = _phase_seconds(segments, "plans.curate.", tracer.spans, _curate_class)
        for cls in ("build_s", "write_s"):
            m[f"plans.curate.{cls}"] = sum(d.get(cls, 0.0) for d in phases.values())
        for stage, count in facts["survivors"].items():
            m[f"plans.curate.survivors.{stage}"] = count


def per_layer(wl, tracer, calls, setups, t0, t1, cores, event_log, live, primary, probe: Probe) -> dict:
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m.update(live)
    warm = setups[1:]
    m["session.get_spark_s"] = _median(a for a, _ in warm)
    m["session.warmup_s"] = _median(b for _, b in warm)
    m["session.cold_start_s"] = sum(setups[0])
    facts = wl.facts

    segments = timeline(tracer, t0, t1)
    _self_seconds(m, "layer.", segments, SELF_LAYERS)

    def in_module(fragment):  # time with a frame of the given module on the stack
        return lambda s: "x" if any(fragment in p for p, _f, _l in s.frames) else None

    def migrate_seconds(fragment) -> float:
        phases = _phase_seconds(segments, "plans.migrate.", tracer.spans, in_module(fragment))
        return sum(d.get("x", 0.0) for d in phases.values())

    if wl.name == "migrate":
        m["plans.migrate.write_s"] = migrate_seconds(os.sep + "sinks" + os.sep)
        m["savepoints.dump_s"] = migrate_seconds(os.sep + "savepoints.py")
        m["plans.migrate.chunks"] = facts["chunks"]
        m["plans.migrate.chunk_s_p50"] = _median(facts["chunk_s"])
        m["savepoints.dumps"] = facts["dumps"]
        # rows kept by `where` minus rows the copy wrote; the explosion's input
        # is the same kept, non-null-PK rows the copy wrote
        m["plans.migrate.null_pk_dropped"] = wl.rows_after_where() - facts["copy_rows"]
        m["operators.explode_timestamps.rows_out_per_row_in"] = facts["exploded_rows"] / facts["copy_rows"]
    elif wl.name == "validate":
        phases = _phase_seconds(segments, "plans.validate.", tracer.spans, _validate_class)
        n = {mode: sum(1 for s in tracer.spans if s.name == f"plans.validate.{mode}") for mode in ("direct", "hash")}
        for mode in ("direct", "hash"):
            for cls in ("diff_s", "extra_rows_s", "repair_s"):
                total = sum(d.get(cls, 0.0) for i, d in phases.items() if tracer.spans[i].name == f"plans.validate.{mode}")
                m[f"plans.validate.{mode}.{cls}"] = total / max(1, n[mode])

    m["sinks.files_written"] = wl.written_files()
    m["trace.wall_s"] = t1 - t0
    m["trace.primary_items_per_s"] = _median(primary)
    m["trace.sampler_cpu_s"] = probe.sampler_cpu_before
    m["trace.samples"] = sum(1 for s in tracer.samples if t0 <= s.t < t1)
    m["trace.event_log_bytes"] = os.path.getsize(event_log)

    all_jobs, per_stage = parse_event_log(event_log)
    attribute_jobs(all_jobs, tracer)
    _probe_metrics(m, probe, tracer, all_jobs, per_stage)
    jobs = [j for j in all_jobs if t0 <= j.submit < t1]
    total = job_totals(jobs, per_stage)
    wall = t1 - t0
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len({sid for j in jobs for sid in j.stage_ids if sid in per_stage})
    m["spark.tasks"] = total.tasks
    m["spark.executor_run_s"] = total.run_s
    m["spark.executor_cpu_s"] = total.cpu_s
    m["spark.jvm_gc_s"] = total.gc_s
    m["spark.shuffle_write_bytes"] = total.shuffle_write
    m["spark.shuffle_read_bytes"] = total.shuffle_read
    m["spark.spill_bytes"] = total.spill
    m["spark.python_data_bytes"] = total.python_bytes
    m["spark.slot_utilization"] = total.run_s / (wall * cores)
    intervals = [(j.submit, j.end or t1) for j in jobs]
    m["spark.no_job_s"] = wall - sum(min(b, t1) - max(a, t0) for a, b in merge_intervals(intervals) if b > t0 and a < t1)
    m["spark.task_skew"] = task_skew(total.durations)
    m["sinks.rows_written"] = total.out_records
    m["sinks.bytes_written"] = total.out_bytes

    # driver JVM time with no job running: Catalyst analysis, optimisation
    # and planning, plus file listing and commit, measured as sampled time
    # the program spends inside a py4j call while no Spark job is running
    busy = merge_intervals(intervals)
    starts = [a for a, _ in busy]

    def running(t: float) -> bool:
        i = bisect.bisect_right(starts, t) - 1
        return i >= 0 and t < busy[i][1]

    m["spark.catalyst_s"] = sum(b - a for a, b, _l, s in segments if s is not None and s.in_jvm and not running(a))

    for layer in JOB_LAYERS:
        m[f"layer.{layer}.executor_run_s"] = job_totals([j for j in jobs if j.layer == layer], per_stage).run_s
    if wl.name == "validate":
        shuffle = {
            mode: job_totals([j for j in jobs if j.phase == f"plans.validate.{mode}"], per_stage).shuffle_write
            for mode in ("direct", "hash")
        }
        n_calls = {mode: max(1, sum(1 for s in tracer.spans if s.name == f"plans.validate.{mode}")) for mode in shuffle}
        for mode in shuffle:
            m[f"plans.validate.{mode}.shuffle_bytes_per_row"] = shuffle[mode] / n_calls[mode] / wl.truth["rows"]
        if shuffle["direct"]:
            m["operators.content_hash.shuffle_bytes_ratio"] = shuffle["hash"] / shuffle["direct"]

    print(
        "perfbench: self time by layer (s): "
        + ", ".join(f"{k}={v:.2f}" for k, v in sorted(self_times(segments).items()))
        + "; probe: "
        + ", ".join(f"{k}={v:.2f}" for k, v in sorted(self_times(timeline(tracer, probe.t0, probe.t1)).items())),
        file=sys.stderr,
    )
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER}

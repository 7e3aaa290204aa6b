"""Turn timed passes and a trace into the benchmark's metrics.

End-to-end metrics come from untraced passes. Per-layer metrics come
from the traced passes of a ``--trace 1`` run: spans give self times,
the Spark event log gives task counters, keyed by the job description
each span sets. Every metric is reported on every workload; a layer a
workload does not reach reads 0.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench.trace import JobStats, Span, Tracer, jobs_by_span, read_event_log, task_skew
from perfbench.workloads import CATALOG_QUERIES

MB = 1e6


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(wl, cold: dict, measured: list[dict], setup_s: float) -> dict:
    """Failed passes are left out of the timings unless every pass failed;
    they count in the result line's ``failed``."""
    wall = statistics.median(p["wall_s"] for p in ([p for p in measured if not p["errors"]] or measured))
    return {
        "wall_s": _m(wall, "s"),
        "rows_per_s": _m(wl.rows / wall, "rows/s"),
        "setup_s": _m(setup_s, "s"),
        "cold_pass_s": _m(cold["wall_s"], "s"),
    }


LAYER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("scan.tasks", "count"), ("scan.spread", "flag"), ("scan.amplification", "ratio"),
    ("pipeline.plan_s", "s"), ("pipeline.exchanges", "count"),
    ("windows.self_s", "s"), ("windows.shuffle_write_mb", "MB"), ("windows.spill_mb", "MB"),
    ("windows.task_skew", "ratio"),
    ("io.write_s", "s"), ("io.bytes_written", "bytes"), ("io.files", "count"), ("io.readback_s", "s"),
    ("checkpoint.partition_s.p50", "s"), ("checkpoint.partition_s.max", "s"),
    ("checkpoint.verify_s", "s"), ("checkpoint.jobs", "count"),
    ("asof.self_s", "s"), ("asof.shuffle_write_mb", "MB"), ("asof.match_frac", "ratio"),
    ("evaluation.fit_s", "s"), ("evaluation.metrics_s", "s"), ("evaluation.jobs", "count"),
    ("evaluation.fit_agg_exprs", "count"),
    ("text.lang_s", "s"), ("text.quality_s", "s"), ("text.repetition_s", "s"), ("text.pii_s", "s"),
    ("text.chunk_s", "s"),
    ("dedup.exact_s", "s"), ("dedup.minhash_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.verify_yield", "ratio"), ("dedup.max_bucket", "count"),
    ("packing.self_s", "s"), ("packing.fill", "ratio"),
    ("curate.jobs", "count"),
    ("similarity.self_s", "s"), ("similarity.python_s", "s"),
    *[(f"catalog.{q}_s", "s") for q in CATALOG_QUERIES],
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_s", "s"), ("spark.task_busy_s", "s"), ("spark.python_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]


class _Pass:
    """One traced pass: its spans and the event-log jobs each span ran."""

    def __init__(self, tr: Tracer, pass_id: str, by_span: dict):
        self.tr = tr
        self.spans = [s for s in tr.spans if s.pass_id == pass_id]
        self.jobs = {s.id: by_span.get((pass_id, s.id), []) for s in self.spans}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        return sum(self.tr.self_time(s) for s in self.named(name))

    def dur(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def counts(self, name: str, key: str) -> list:
        return [s.counts[key] for s in self.named(name) if s.counts.get(key) is not None]

    def own(self, name: str, field: str) -> float:
        """A span's own job counter less its prefix span's: the prefix's
        work is recomputed by the span's materialisation."""
        total = 0.0
        for s in self.named(name):
            total += sum(getattr(j, field) for j in self.jobs[s.id])
            if s.prefix is not None:
                total -= sum(getattr(j, field) for j in self.jobs.get(s.prefix, []))
        return max(total, 0.0)

    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [], [root.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [s.id for s in kids]
        return [root] + out

    def program_jobs(self, spans: list[Span]) -> list[JobStats]:
        """Jobs the program ran (not the tracer's materialisations or its
        dedup statistics)."""
        skip = {x.id for s in self.spans if s.name == "dedup.stats" for x in self.subtree(s)}
        return [j for s in spans if s.id not in skip for j in self.jobs[s.id]
                if not j.description.endswith("|m")]


def layer_metrics(wl, tr: Tracer, passes: list[dict], eventlog: Path, session_s: float,
                  peak_rss_mb: float, state: dict) -> dict:
    jobs = read_event_log(eventlog)
    by_span = jobs_by_span(jobs)
    traced = [p for p in passes if p["traced"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    per_pass = [_one_pass(wl, _Pass(tr, f"p{p['i']}", by_span), state.get(f"counts-p{p['i']}", {}), state)
                for p in traced]
    out = {}
    for name, unit in LAYER_METRICS:
        vals = [m.get(name, 0.0) for m in per_pass] or [0.0]
        out[name] = _m(statistics.median(vals), unit)
    out["session.start_s"] = _m(session_s, "s")
    out["memory.peak_rss_mb"] = _m(peak_rss_mb, "MB")
    out["trace.overhead_s"] = _m(statistics.median([p["wall_s"] for p in traced])
                                 - statistics.median(untraced), "s")
    return out


def _one_pass(wl, p: _Pass, counts: dict, state: dict) -> dict:
    m: dict[str, float] = dict(counts)
    program = p.program_jobs(p.spans)
    rows_read = sum(j.records_read for j in program)
    m.update({
        "scan.tasks": max(p.counts("scan", "tasks"), default=0),
        "scan.spread": max(p.counts("scan", "spread"), default=0),
        "scan.amplification": rows_read / wl.rows if wl.rows else 0.0,
        "pipeline.plan_s": p.dur("pipeline.plan"),
        "pipeline.exchanges": sum(p.counts("pipeline.plan", "exchanges")),
        "windows.self_s": p.self_s("windows"),
        "windows.shuffle_write_mb": p.own("windows", "shuffle_write") / MB,
        "windows.spill_mb": p.own("windows", "spill") / MB,
        "windows.task_skew": task_skew([j for s in p.named("windows") for j in p.jobs[s.id]])
        if p.named("windows") else 0.0,
        "io.write_s": p.self_s("io.write"),
        "io.readback_s": p.dur("io.readback"),
        "checkpoint.verify_s": p.dur("checkpoint.verify"),
        "asof.self_s": p.self_s("asof"),
        "asof.shuffle_write_mb": p.own("asof", "shuffle_write") / MB,
        "evaluation.metrics_s": p.dur("evaluation.metrics"),
        "evaluation.fit_agg_exprs": max(p.counts("evaluation.fit", "fit_agg_exprs"), default=0),
        "text.lang_s": p.self_s("text.lang"),
        "text.quality_s": p.self_s("text.quality"),
        "text.repetition_s": p.self_s("text.repetition"),
        "text.pii_s": p.self_s("text.pii"),
        "text.chunk_s": p.self_s("text.chunk"),
        "dedup.exact_s": p.self_s("dedup.exact"),
        "dedup.minhash_s": p.self_s("dedup.minhash") + p.self_s("dedup.incremental"),
        "packing.self_s": p.self_s("packing"),
        "similarity.self_s": p.self_s("similarity"),
        "similarity.python_s": sum(j.python_s for s in p.named("similarity") for j in p.jobs[s.id]),
        "spark.jobs": len(program),
        "spark.tasks": sum(j.tasks for j in program),
        "spark.shuffle_write_mb": sum(j.shuffle_write for j in program) / MB,
        "spark.spill_mb": sum(j.spill for j in program) / MB,
        "spark.gc_s": sum(j.gc_s for j in program),
        "spark.task_busy_s": sum(j.run_s for j in program),
        "spark.python_s": sum(j.python_s for j in program),
    })
    parts = [x for xs in p.counts("checkpoint", "partition_s") for x in xs]
    if parts:
        m["checkpoint.partition_s.p50"] = statistics.median(parts)
        m["checkpoint.partition_s.max"] = max(parts)
        m["checkpoint.jobs"] = sum(len(p.program_jobs(p.subtree(s))) for s in p.named("checkpoint"))
    fits = p.named("evaluation.fit")
    if fits:
        # the first fit also computes the CV input the fold checkpoint pins;
        # that is the last as-of span's work, taken out here
        asof = p.named("asof")
        m["evaluation.fit_s"] = max(sum(s.dur for s in fits) - (asof[-1].dur if asof else 0.0), 0.0)
        m["evaluation.jobs"] = sum(len(p.program_jobs(p.subtree(s))) for s in p.named("evaluation"))
    if "match_frac" in state:
        m["asof.match_frac"] = state["match_frac"]
    cand = sum(p.counts("dedup.minhash", "candidate_pairs"))
    if cand:
        m["dedup.candidate_pairs"] = cand
        m["dedup.verify_yield"] = sum(p.counts("dedup.minhash", "verified_pairs")) / cand
        m["dedup.max_bucket"] = max(p.counts("dedup.minhash", "max_bucket"))
    if "fill" in state:
        m["packing.fill"] = state["fill"]
    if wl.name == "curate":
        m["curate.jobs"] = len(program)
    for q in CATALOG_QUERIES:
        spans = p.named(f"catalog.{q}")
        if spans:
            m[f"catalog.{q}_s"] = sum(p.tr.self_time(s) for s in spans)
    return m

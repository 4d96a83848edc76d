"""Per-layer metrics of a traced run, folded from its spans.

A metric is the median over traced passes of the per-pass total of one
span field (a span may occur more than once in a pass, e.g. the two
``store.commit`` calls of a cut_tile pass).  Read spans (viewport, store
reads) are medians per read.  A layer the workload never calls reads 0."""

from __future__ import annotations

from collections import defaultdict

from measure import median

# metric -> (span name, field, unit); field "s" is the span's duration
PER_PASS = {
    "extract.busy_s": ("extract", "s", "s"),
    "extract.rows_out": ("extract", "rows", "count"),
    "extract.jobs": ("extract", "jobs", "count"),
    "cells.encode_s": ("cells.encode", "s", "s"),
    "join.cover_s": ("join.cover", "s", "s"),
    "join.cover_cells": ("join.cover", "cells", "count"),
    "join.candidate_rows": ("join.candidates", "rows", "count"),
    "join.match_rows": ("join", "rows", "count"),
    "join.busy_s": ("join", "s", "s"),
    "join.jobs": ("join", "jobs", "count"),
    "geometry.segment_tests": ("join.candidates", "segment_tests", "count"),
    "tiles.explode_s": ("tiles.explode", "s", "s"),
    "tiles.pyramid_rows": ("tiles.explode", "rows", "count"),
    "tiles.histogram_s": ("tiles.histogram", "s", "s"),
    "sources.tile_write_s": ("sources.tile_write", "s", "s"),
    "sources.tile_write_tasks": ("sources.tile_write", "last_stage_tasks", "count"),
    "sources.tile_files": ("sources.tile_write", "files", "count"),
    "sources.tile_bytes": ("sources.tile_write", "bytes", "B"),
    "sources.xml_parse_s": ("sources.xml", "s", "s"),
    "sources.xml_elements": ("sources.xml", "rows", "count"),
    "sources.poly_read_s": ("sources.poly", "s", "s"),
    "closure.semijoin_s": ("closure.semijoin", "s", "s"),
    "closure.clip_s": ("closure.clip", "s", "s"),
    "closure.fixpoint_s": ("closure.fixpoint", "s", "s"),
    "closure.fixpoint_jobs": ("closure.fixpoint", "jobs", "count"),
    "store.commit_s": ("store.commit", "s", "s"),
    "store.commit_jobs": ("store.commit", "jobs", "count"),
    "jobs.cut_s": ("jobs.cut", "s", "s"),
    "jobs.tile_s": ("jobs.tile", "s", "s"),
}
PER_READ = {
    "sources.viewport_s": ("sources.viewport", "s", "s"),
    "sources.viewport_rows": ("sources.viewport", "rows", "count"),
    "store.read_s": ("store.read", "s", "s"),
}
PER_RUN_MAX = {
    "store.live_files": ("store.read", "live_files", "count"),
    "store.retained_bytes": ("store.read", "retained_bytes", "B"),
}
DERIVED_UNITS = {
    "join.refine_hit_ratio": "ratio",
    "geometry.refine_pairs_per_s": "1/s",
    "closure.rows_out": "count",
    "store.bytes_written": "B",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "memory.largest_process_pss_mb": "MB",
}


def _field(span: dict, field: str) -> float:
    if field == "s":
        return span["end"] - span["start"]
    if field in ("jobs", "failed_tasks", "last_stage_tasks"):
        return span[field]
    return span["counts"].get(field, 0)


def layer_metrics(tr, traced_pass: list[float], untraced_ops: list[float], largest_pss_mb: float) -> dict:
    per_pass: dict[tuple[str, str], dict[int, float]] = defaultdict(lambda: defaultdict(float))
    per_read: dict[tuple[str, str], list[float]] = defaultdict(list)
    for s in tr.spans:
        for table, sink in ((PER_PASS, None), (PER_READ, per_read), (PER_RUN_MAX, per_read)):
            for span_name, field, _ in table.values():
                if s["name"] != span_name:
                    continue
                if sink is None:
                    per_pass[(span_name, field)][s["pass"]] += _field(s, field)
                else:
                    sink[(span_name, field)].append(_field(s, field))

    def pass_median(span_name, field) -> float:
        got = per_pass.get((span_name, field))
        return median(list(got.values())) if got else 0.0

    out = {}
    for name, (span_name, field, unit) in PER_PASS.items():
        out[name] = {"value": pass_median(span_name, field), "unit": unit}
    for name, (span_name, field, unit) in PER_READ.items():
        vals = per_read.get((span_name, field))
        out[name] = {"value": median(vals) if vals else 0.0, "unit": unit}
    for name, (span_name, field, unit) in PER_RUN_MAX.items():
        vals = per_read.get((span_name, field))
        out[name] = {"value": max(vals) if vals else 0, "unit": unit}

    cand = out["join.candidate_rows"]["value"]
    refine = [s for s in tr.spans if s["name"] == "geometry.refine"]
    by_pass_bytes: dict[int, float] = defaultdict(float)
    by_pass_closure: dict[int, float] = defaultdict(float)
    for s in tr.spans:
        if s["name"] == "store.commit":
            by_pass_bytes[s["pass"]] += s["counts"].get("bytes", 0)
        if s["name"] in ("closure.semijoin", "closure.clip", "closure.fixpoint"):
            by_pass_closure[s["pass"]] += s["counts"].get("rows", 0)
    derived = {
        "join.refine_hit_ratio": out["join.match_rows"]["value"] / cand if cand else 0.0,
        "geometry.refine_pairs_per_s": median(
            [s["counts"]["pairs"] / (s["end"] - s["start"]) for s in refine]
        ) if refine else 0.0,
        "closure.rows_out": median(list(by_pass_closure.values())) if by_pass_closure else 0.0,
        "store.bytes_written": median(list(by_pass_bytes.values())) if by_pass_bytes else 0.0,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in tr.spans),
        "trace.overhead_s": (
            median(traced_pass) - median(untraced_ops) if traced_pass and untraced_ops else 0.0
        ),
        "memory.largest_process_pss_mb": largest_pss_mb,
    }
    for name, v in derived.items():
        out[name] = {"value": v, "unit": DERIVED_UNITS[name]}
    return out

"""Metric names, units and their computation from a run's ops and spans.

``END_TO_END`` and ``PER_LAYER`` are the metric lists of
``BENCHMARK.json``: a run of a listed workload prints every metric of its
list, a layer the workload never enters reading 0. dedup_ingest, which is
kept out of ``BENCHMARK.json``, also prints its own layers,
``EXTRA_LAYERS``.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Tracer, self_times

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("throughput_per_s", "1/s"),
    ("write_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]

# metric -> (span name, how): "incl" sums span durations per op,
# "self" sums their self time, "calls" counts them
_SPANS = {
    "plans.sync.diff_s": ("plans.sync.diff", "incl"),
    "plans.outbox.s": ("plans.outbox", "incl"),
    "sources.fetch_s": ("sources.fetch", "incl"),
    "extraction.analyze_s": ("extraction.analyze", "incl"),
    "plans.sync.store_s": ("plans.sync.store", "incl"),
    "plans.sync.links_s": ("plans.sync.links", "incl"),
    "plans.sync.discovery_s": ("plans.sync.discovery", "incl"),
    "plans.search_documents.build_s": ("plans.search_documents.build", "incl"),
    "plans.sinks.write_s": ("plans.sinks.write", "incl"),
    "streaming.retrieval_index.query_s": ("streaming.retrieval_index.query", "incl"),
    "streaming.retrieval_index.apply_s": ("streaming.retrieval_index.apply", "incl"),
    "plans.bucketed_state.merge_s": ("plans.bucketed_state.merge", "incl"),
    "plans.bucketed_state.merge_calls": ("plans.bucketed_state.merge", "calls"),
    "plans.bucketed_state.touched_buckets_s": ("plans.bucketed_state.touched_buckets", "incl"),
    "plans.bucketed_state.touched_buckets_calls": (
        "plans.bucketed_state.touched_buckets", "calls"),
    # layers of dedup_ingest, which is kept out of BENCHMARK.json
    "streaming.dedup_pipeline.self_s": ("streaming.dedup_pipeline", "self"),
    "streaming.minhash_index.apply_s": ("streaming.minhash_index.apply", "incl"),
    "streaming.components_index.apply_s": ("streaming.components_index.apply", "incl"),
}
_SPARK = ("jobs", "stages", "tasks")

PER_LAYER = (
    [
        ("plans.sync.diff_s", "s"),
        ("plans.sync.diff_useful_ratio", "ratio"),
        ("plans.outbox.s", "s"),
        ("sources.fetch_s", "s"),
        ("sources.fetch_found_ratio", "ratio"),
        ("extraction.analyze_s", "s"),
        ("plans.sync.store_s", "s"),
        ("plans.sync.links_s", "s"),
        ("plans.sync.discovery_s", "s"),
        ("plans.search_documents.build_s", "s"),
        ("plans.sinks.write_s", "s"),
        ("streaming.retrieval_index.query_s", "s"),
        ("streaming.retrieval_index.apply_s", "s"),
        ("plans.bucketed_state.merge_s", "s"),
        ("plans.bucketed_state.merge_calls", "count"),
        ("plans.bucketed_state.touched_buckets_s", "s"),
        ("plans.bucketed_state.touched_buckets_calls", "count"),
        ("plans.bucketed_state.buckets_touched_per_op", "count"),
        ("plans.bucketed_state.bytes_rewritten_per_input_byte", "ratio"),
        ("plans.bucketed_state.buckets_read_per_query", "count"),
    ]
    + [(f"spark.{c}_per_{k}", "count") for k in ("op", "query", "write") for c in _SPARK]
    + [("trace.overhead_ratio", "ratio"), ("trace.self_charged_ratio", "ratio")]
)

EXTRA_LAYERS = {
    "dedup_ingest": [
        ("streaming.dedup_pipeline.self_s", "s"),
        ("streaming.minhash_index.apply_s", "s"),
        ("streaming.components_index.apply_s", "s"),
    ],
}

# the op kind a workload's latency metrics describe; the others are writes
PRIMARY = {"cycle", "batch", "query"}
WRITES = {"cycle", "batch", "write"}


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(ops, busy: float, setup_s: float, rss_mb: float) -> dict:
    lat = [dt for _, op, dt, _ in ops if op.kind in PRIMARY]
    writes = [dt for _, op, dt, _ in ops if op.kind in WRITES]
    useful = sum(op.useful for _, op, _, _ in ops)
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "throughput_per_s": useful / busy,
        "write_p50_s": statistics.median(writes),
        "peak_rss_mb": rss_mb,
    }
    return {name: _metric(values[name], unit) for name, unit in END_TO_END}


def per_layer(workload: str, tracer: Tracer, ops) -> dict:
    """Per-layer medians over the traced ops (those with counts). A layer
    entered by the workload's primary op is reported over those ops, any
    other layer over the ops that enter it.

    ``trace.overhead_ratio`` is the median latency of the traced primary
    ops over that of the untraced ones of the same run, minus 1 (noise
    can make it negative). ``trace.self_charged_ratio`` is the tracer's
    own time inside an op over the rest of the op's time."""
    selfs = self_times(tracer.spans)
    traced = [(i, op, counts) for i, op, _, counts in ops if counts is not None]
    by_op: dict[int, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)

    def per_op(fn) -> dict[int, float | None]:
        return {i: fn(i, op, by_op.get(i, [])) for i, op, _ in traced}

    def pick(values: dict[int, float | None]) -> float:
        kinds = {i: op.kind for i, op, _ in traced}
        primary = [v for i, v in values.items() if v is not None and kinds[i] in PRIMARY]
        rest = [v for v in values.values() if v is not None]
        return median_or_zero(primary or rest)

    out: dict[str, float] = {}
    for metric, (name, how) in _SPANS.items():
        def agg(i, op, spans, name=name, how=how):
            hit = [s for s in spans if s.name == name]
            if not hit:
                return None
            if how == "calls":
                return float(len(hit))
            return sum(selfs[s.span_id] if how == "self" else s.seconds for s in hit)
        out[metric] = pick(per_op(agg))

    def merge_attr(key):
        def agg(i, op, spans):
            hit = [s for s in spans if s.name == "plans.bucketed_state.merge"]
            return sum(s.attrs[key] for s in hit) if hit else None
        return agg

    out["plans.bucketed_state.buckets_touched_per_op"] = pick(per_op(merge_attr("buckets")))
    rewritten = per_op(merge_attr("rewritten_bytes"))
    out["plans.bucketed_state.bytes_rewritten_per_input_byte"] = median_or_zero(
        [rewritten[i] / op.input_bytes for i, op, _ in traced
         if rewritten[i] is not None and op.input_bytes])
    out["plans.bucketed_state.buckets_read_per_query"] = median_or_zero(
        [sum(s.attrs.get("buckets_read", 0) for s in by_op.get(i, []))
         for i, op, _ in traced if op.kind == "query"])
    for key in ("plans.sync.diff_useful_ratio", "sources.fetch_found_ratio"):
        out[key] = median_or_zero([c[key] for _, _, c in traced if key in c])
    for c in _SPARK:
        out[f"spark.{c}_per_op"] = median_or_zero([n[c] for _, _, n in traced])
        for kind in ("query", "write"):
            out[f"spark.{c}_per_{kind}"] = median_or_zero(
                [n[c] for _, op, n in traced if op.kind == kind])

    def primary_p50(was_traced: bool) -> float:
        return median_or_zero([dt for _, op, dt, c in ops
                               if op.kind in PRIMARY and (c is not None) == was_traced])

    out["trace.overhead_ratio"] = primary_p50(True) / primary_p50(False) - 1
    out["trace.self_charged_ratio"] = median_or_zero(
        [c["overhead_s"] / (dt - c["overhead_s"]) for _, _, dt, c in ops if c is not None])
    names = PER_LAYER + EXTRA_LAYERS.get(workload, [])
    return {name: _metric(out[name], unit) for name, unit in names}

"""Turn op records and spans into the reported metrics.

An op record is ``{"i", "dt", "traced", "rows", "errors"}`` plus, for
traced ops, ``"jvm_cpu"`` and ``"py_cpu"`` (CPU seconds spent during it).
"""

from __future__ import annotations

from perfbench.trace import Span, median, self_times

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "ok_ratio": "ratio",
    "peak_rss_mb": "MiB", "disk_mb": "MiB",
}

# per-layer metrics measured on every workload in BENCHMARK.json; these
# form the last line of a traced run
SHARED_LAYER = {
    "session.start_s": "s",
    "merge.self_s": "s", "merge.jobs": "count", "merge.tasks": "count",
    "merge.files_written": "count", "merge.bytes_written": "B", "merge.write_amp": "ratio",
    "merge.rows_rewritten_per_changed": "ratio", "merge.conflicts": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.failed_tasks": "count",
    "jvm.cpu_s_per_op": "s", "jvm.cpu_util": "ratio", "python.cpu_s_per_op": "s",
    "trace.overhead_ratio": "ratio",
}

# name -> (unit, span, how). how: "self"/"total" = median over traced ops
# of the op's summed span time; another key = median of the op's summed
# count; "a/b" = run total of a over run total of b.
SPAN_METRICS = {
    "staging.read_s": ("s", "staging.read", "total"),
    "staging.rows": ("count", "staging.read", "rows"),
    "ingest.gate_s": ("s", "ingest.gate", "total"),
    "ingest.gate_pass_ratio": ("ratio", "ingest.gate", "passed/links"),
    "ingest.clean_hash_s": ("s", "ingest.clean_hash", "total"),
    "ingest.watermark_s": ("s", "ingest.watermark", "total"),
    "merge.self_s": ("s", "merge", "self"),
    "merge.jobs": ("count", "merge", "jobs"),
    "merge.tasks": ("count", "merge", "tasks"),
    "merge.files_written": ("count", "merge", "files"),
    "merge.bytes_written": ("B", "merge", "bytes"),
    "merge.write_amp": ("ratio", "merge", "bytes/source_bytes"),
    "merge.rows_rewritten_per_changed": ("ratio", "merge", "rows_written/changed"),
    "rag.chunk_s": ("s", "rag.chunk", "total"),
    "rag.features_s": ("s", "rag.features", "total"),
    "rag.retrieve_self_s": ("s", "rag.retrieve", "self"),
    "rag.feature_rows": ("count", "rag.features", "rows_out"),
    "documents.embed_changed_s": ("s", "documents.embed_changed", "total"),
    "documents.hash_skip_ratio": ("ratio", "documents.embed_changed", "skipped/submitted"),
}

UNITS = {**END_TO_END, **SHARED_LAYER, **{k: v[0] for k, v in SPAN_METRICS.items()}}


def end_to_end(ops: list[dict], setup_s: float, rss_mb: float,
               disk_mb: float) -> tuple[dict, dict]:
    times = [o["dt"] for o in ops]
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(times),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(times),
        "ok_ratio": sum(1 for o in ops if not o["errors"]) / len(ops),
        "peak_rss_mb": rss_mb,
        "disk_mb": disk_mb,
    }
    return metrics, {"op_samples": len(times)}


def per_op_spans(spans: list[Span]) -> dict[int, dict[str, dict]]:
    """op -> span name -> {"self", "total", counts...} summed over the op."""
    out: dict[int, dict[str, dict]] = {}
    for s, own in zip(spans, self_times(spans)):
        if s.op is None:
            continue
        acc = out.setdefault(s.op, {}).setdefault(s.name, {"self": 0.0, "total": 0.0})
        acc["self"] += own
        acc["total"] += s.duration
        for k, v in s.counts.items():
            acc[k] = acc.get(k, 0) + v
    return out


def per_layer(spans: list[Span], ops: list[dict], session_s: float,
              nproc: int) -> tuple[dict, dict]:
    """(shared per-layer metrics, info with the workload's own layers)."""
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    if not traced or not plain:
        raise ValueError("a traced run needs both traced and untraced ops")
    per_op = per_op_spans(spans)
    for layers in per_op.values():
        emb = layers.get("documents.embed_changed")
        if emb is not None:
            emb["skipped"] = emb["submitted"] - emb["changed"]

    def over_ops(span: str, key: str) -> list[float]:
        return [per_op[o["i"]][span][key] for o in traced
                if key in per_op.get(o["i"], {}).get(span, {})]

    found = {}
    for name, (_unit, span, how) in SPAN_METRICS.items():
        num, _, den = how.partition("/")
        xs = over_ops(span, num)
        if not xs:
            continue  # the layer did not run in this workload
        if den:
            d = sum(over_ops(span, den))
            found[name] = sum(xs) / d if d else 0.0
        else:
            found[name] = median(xs)
    conflicts = over_ops("merge", "conflicts")
    if conflicts:
        found["merge.conflicts"] = sum(conflicts)

    def op_total(o: dict, key: str) -> int:
        return sum(v.get(key, 0) for v in per_op.get(o["i"], {}).values())

    shared = {name: found.get(name, 0.0) for name in SHARED_LAYER}
    shared.update({
        "session.start_s": session_s,
        "spark.jobs_per_op": median([op_total(o, "jobs") for o in traced]),
        "spark.stages_per_op": median([op_total(o, "stages") for o in traced]),
        "spark.tasks_per_op": median([op_total(o, "tasks") for o in traced]),
        "spark.failed_tasks": sum(op_total(o, "failed_tasks") for o in traced),
        "jvm.cpu_s_per_op": median([o["jvm_cpu"] for o in traced]),
        "jvm.cpu_util": sum(o["jvm_cpu"] for o in traced) / (sum(o["dt"] for o in traced) * nproc),
        "python.cpu_s_per_op": median([o["py_cpu"] for o in traced]),
        "trace.overhead_ratio": median([o["dt"] for o in traced]) / median([o["dt"] for o in plain]),
    })
    layers = {k: v for k, v in found.items() if k not in SHARED_LAYER}
    return shared, {"traced_ops": len(traced), "untraced_ops": len(plain), "layers": layers}

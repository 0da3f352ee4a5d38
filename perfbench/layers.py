"""Spans around the program's layer entry points for the traced run.

The benchmark's own code calls ``read_staging_envelope``, the gate, the
cleaners, ``bump_watermark`` and the plans directly and spans those calls
itself. Calls the plans make into the RAG stages and the merge table
happen inside the program, so this module
swaps those module attributes for wrappers while the traced run lasts:
each wrapper opens a span, forces the returned DataFrame inside it and
records the layer's counts. Only the benchmark's files change; the
program is untouched on disk and restored on exit.
"""

from __future__ import annotations

import contextlib
import os

from perfbench.workloads import dir_bytes


def _wrap_frame(tracer, fn, name: str):
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name) as sp:
            out = tracer.force(fn(*args, **kwargs))
        sp.counts["rows_out"] = out.count()
        return out

    return wrapper


def _wrap_merge(tracer, merge):
    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ConcurrentWriteError

    def wrapper(self, source, keys, **kwargs):
        if not tracer.enabled:
            return merge(self, source, keys, **kwargs)
        with tracer.span("merge") as sp:
            try:
                stats = merge(self, source, keys, **kwargs)
            except ConcurrentWriteError:
                sp.counts["conflicts"] = 1
                raise
        snapshot = os.path.join(self.root, self.current_version())
        sp.counts.update(
            conflicts=0,
            files=sum(1 for f in os.listdir(snapshot) if f.endswith(".parquet")),
            bytes=dir_bytes(snapshot),
            rows_written=sum(stats.values()),
            changed=stats["inserted"] + stats["updated"] + stats["soft_deleted"],
        )

        def source_bytes():
            # the source rows as UTF-8 JSON: a format-neutral size for
            # "bytes written per byte of user data"; measured after the op
            row = F.octet_length(F.to_json(F.struct(*source.columns)))
            sp.counts["source_bytes"] = source.select(F.sum(row)).first()[0] or 0

        tracer.after_op.append(source_bytes)
        return stats

    return wrapper


@contextlib.contextmanager
def traced_layers(tracer):
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans import rag

    patches = [
        (rag, "chunk_corpus", "rag.chunk"),
        (rag, "hash_features", "rag.features"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    saved_merge = ParquetMergeTable.merge
    try:
        for mod, attr, name in patches:
            setattr(mod, attr, _wrap_frame(tracer, getattr(mod, attr), name))
        ParquetMergeTable.merge = _wrap_merge(tracer, saved_merge)
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        ParquetMergeTable.merge = saved_merge

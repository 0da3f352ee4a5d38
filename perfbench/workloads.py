"""The workloads: set-up, one op, and the op's correctness check.

Each workload is a closed loop with one client: ``prepare`` delivers the
next generated input (untimed), ``run`` is the timed op, ``check``
compares what the op returned and left behind with the reference
(untimed). Every call into a program layer sits inside a tracer span;
untraced, spans are no-ops.
"""

from __future__ import annotations

import contextlib
import json
import os
from dataclasses import dataclass

import duckdb

from perfbench import gen, oracles

# input sizes (recorded in the report's info line and in README.md)
SIZES = {
    "ingest_sync": {"providers": len(gen.PROVIDERS), "listings_per_provider": 500},
    "rag_query": {"docs": 200, "upsert_every": 8, "queries_per_request": 5,
                  "docs_per_upsert": "3-8"},
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    root: str  # the run's table directory
    seed: int


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(base, f))
    return total


class Workload:
    name = ""
    cycle = 1  # the measured loop stops only after a whole number of these
    warmup = 1  # untimed, checked ops run before the measured loop
    # the loop runs at least this many ops (a traced run at least two
    # cycles): on a slower host a run still measures the same positions
    # on the JIT's warm-up curve
    min_ops = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.duck = duckdb.connect()

    def table_dirs(self) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        self.duck.close()


# ---------------------------------------------------------------------------
class IngestSync(Workload):
    """One provider sync per op: staging envelope → incremental gate →
    clean + hash → hash-gated merge with scoped soft-delete → watermark."""

    name = "ingest_sync"
    # the first sync in a fresh JVM takes 2-3x a later one; the JIT keeps
    # compiling after it (the JVM spends ~25, 15, 12 and 10 CPU-seconds
    # on the first four syncs, ~5 from the tenth), so measured syncs still
    # speed up through a run
    warmup = 1
    min_ops = 7

    def setup(self) -> None:
        from etl_stack_spark.operators.merge import ParquetMergeTable
        from etl_stack_spark.plans.ingest import clean_and_hash

        size = SIZES[self.name]
        self.feed = gen.ListingFeed(self.ctx.seed, size["listings_per_provider"])
        self.table = ParquetMergeTable(self.spark, os.path.join(self.ctx.root, "lead_properties"))
        self.config = ParquetMergeTable(self.spark, os.path.join(self.ctx.root, "sources_config"))
        self.staging = os.path.join(self.ctx.root, "staging")
        initial = os.path.join(self.staging, "initial")
        os.makedirs(initial)
        rows = self.feed.initial_rows()
        for p in gen.PROVIDERS:
            with open(os.path.join(initial, f"{p}.json"), "w", encoding="utf-8") as f:
                json.dump(gen.envelope(p, [r for q, r in rows if q == p], 0), f)
        staged = self._staged(initial)
        self.table.overwrite(self._with_updated_at(clean_and_hash(staged), staged))
        self.config.overwrite(self.spark.createDataFrame(
            [(p, p, None) for p in gen.PROVIDERS],
            "client_id string, name string, last_run_at timestamp"))
        self.model = oracles.MergeModel()
        by_client: dict[str, dict] = {}
        for p, r in rows:
            by_client.setdefault(p, {})[r["external_id"]] = (
                gen.listing_hash(r), self._epoch(r["modified_gmt"]))
        for p, src in by_client.items():
            self.model.merge(p, src)
        self.synced: set[str] = set()
        self.n_ops = 0

    @staticmethod
    def _epoch(text: str) -> int:
        from datetime import datetime, timezone

        return int(datetime.strptime(text, "%Y-%m-%d %H:%M:%S")
                   .replace(tzinfo=timezone.utc).timestamp())

    def _staged(self, path: str):
        from pyspark.sql import functions as F

        from etl_stack_spark.sources.staging import read_staging_envelope

        with self.tr.span("staging.read") as sp:
            staged = self.tr.force(read_staging_envelope(self.spark, path))
            if sp is not None:
                sp.counts["rows"] = staged.count()
        # JSON inference reads the features object as a struct; the
        # cleaners hash it as the map the reference serialises
        return staged.withColumn(
            "features", F.from_json(F.to_json("features"), "map<string,string>"))

    @staticmethod
    def _with_updated_at(cleaned, staged):
        """The table's watermark column is the listing's source
        ``modified_gmt`` (what the reference stores), not load time."""
        from pyspark.sql import functions as F

        stamps = staged.select(
            "client_id", "external_id", F.to_timestamp("modified_gmt").alias("updated_at"))
        return cleaned.join(stamps, ["client_id", "external_id"])

    def prepare(self):
        provider, rows = self.feed.sync(self.n_ops)
        path = os.path.join(self.staging, f"sync_{self.n_ops:05d}_{provider}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(gen.envelope(provider, rows, self.n_ops), f)
        self.n_ops += 1
        return provider, rows, path

    def run(self, payload):
        from pyspark.sql import functions as F

        from etl_stack_spark.plans.ingest import (
            bump_watermark, clean_and_hash, incremental_gate, load_to_lead_properties)

        provider, rows, path = payload
        tr = self.tr
        staged = self._staged(path)
        with tr.span("ingest.gate") as sp:
            known = (self.table.read().filter(F.col("client_id") == provider)
                     .select("external_id", "updated_at"))
            links = staged.select("external_id", "modified_gmt")
            passed = {r[0] for r in incremental_gate(links, known).select("external_id").collect()}
            if sp is not None:
                sp.counts.update(passed=len(passed), links=len(rows))
        with tr.span("ingest.clean_hash"):
            cleaned = tr.force(self._with_updated_at(clean_and_hash(staged), staged))
        stats = load_to_lead_properties(cleaned, self.table, provider)
        with tr.span("ingest.watermark"):
            bump_watermark(self.config, provider)
        return {"passed": passed, "stats": stats}

    def check(self, payload, result) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        provider, rows, _path = payload
        errors = []
        links = {r["external_id"]: self._epoch(r["modified_gmt"]) for r in rows}
        want_pass = self.model.gate_passes(provider, links)
        if result["passed"] != want_pass:
            errors.append(f"gate passed {len(result['passed'])} ids, expected {len(want_pass)}")
        source = {
            r["external_id"]: (gen.listing_hash(r), links[r["external_id"]])
            for r in rows if r["status"].lower() in ("publish", "active", "published")
        }
        want = self.model.merge(provider, source)
        if result["stats"] != want:
            errors.append(f"merge counters {result['stats']} != {want}")
        digest = F.conv(F.substring(F.sha2(F.concat_ws(
            "|", "client_id", "external_id", "content_hash", "status",
            F.unix_timestamp("updated_at").cast("string")), 256), 1, 10), 16, 10).cast("long")
        got = self.table.read().agg(F.sum(digest), F.count(F.lit(1))).first()
        if (got[0], got[1]) != self.model.digest():
            errors.append(f"table digest {tuple(got)} != model {self.model.digest()}")
        self.synced.add(provider)
        stamped = {r[0] for r in self.config.read().filter("last_run_at IS NOT NULL")
                   .select("client_id").collect()}
        if stamped != self.synced:
            errors.append(f"watermark set for {sorted(stamped)}, expected {sorted(self.synced)}")
        return len(source), errors

    def table_dirs(self) -> list[str]:
        return [self.table.root, self.config.root]


# ---------------------------------------------------------------------------
class RagQuery(Workload):
    """Retrieval requests over the current corpus snapshot, with periodic
    upserts: hash-gated merge of edited docs, then page explode and
    embedding of only the changed chunks."""

    name = "rag_query"
    cycle = SIZES["rag_query"]["upsert_every"]  # same read/write mix in every run
    # the first upsert and the first query: each kind's first op in a
    # fresh JVM takes ~2x a later one
    warmup = 2
    min_ops = cycle

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from etl_stack_spark.ai import mock_embed
        from etl_stack_spark.operators.merge import ParquetMergeTable
        from etl_stack_spark.plans.documents_flow import explode_pages

        size = SIZES[self.name]
        self.corpus_gen = gen.Corpus(self.ctx.seed, size["docs"])
        self.requests = gen.rag_requests(
            self.ctx.seed, size["upsert_every"], size["queries_per_request"])
        self.corpus = ParquetMergeTable(self.spark, os.path.join(self.ctx.root, "corpus"))
        self.vectors = ParquetMergeTable(self.spark, os.path.join(self.ctx.root, "vectors"))
        docs = self._docs_frame(sorted(self.corpus_gen.docs))
        self.corpus.overwrite(docs)
        # bulk-load the vectors the way embed_changed_chunks would
        # first write them: every chunk hashed and embedded once
        chunks = explode_pages(self._pages_input(docs))
        hashed = chunks.withColumn("content_hash", F.sha2("chunk_text", 256))
        self.vectors.overwrite(hashed.withColumn("embedding", mock_embed(F.col("chunk_text"))))
        self.model = {d: self.corpus_gen.text(d) for d in self.corpus_gen.docs}

    def _docs_frame(self, ids: list[int]):
        from pyspark.sql import functions as F

        frame = self.spark.createDataFrame(
            [(d, self.corpus_gen.text(d)) for d in ids], "doc_id bigint, text string")
        return frame.withColumn("content_hash", F.sha2("text", 256))

    @staticmethod
    def _pages_input(docs):
        from pyspark.sql import functions as F

        return docs.select(F.col("doc_id").cast("string").alias("content_id"), "text")

    def prepare(self):
        kind, n = next(self.requests)
        if kind == "query":
            return kind, n, None
        ids = self.corpus_gen.edit(n)
        return kind, n, (ids, self._docs_frame(ids))

    def run(self, payload):
        from etl_stack_spark.plans.documents_flow import embed_changed_chunks, explode_pages
        from etl_stack_spark.plans.rag import rag_retrieval_pipeline

        kind, n, edit = payload
        if kind == "query":
            with self.tr.span("rag.retrieve"):
                docs = self.corpus.read().select("doc_id", "text")
                out = rag_retrieval_pipeline(docs, n_queries=n).collect()
            return [tuple(int(v) for v in r) for r in out]
        ids, frame = edit
        docs_stats = self.corpus.merge(frame, keys=["doc_id"])
        with self.tr.span("documents.embed_changed") as sp:
            chunks = explode_pages(self._pages_input(frame))
            if sp is not None:
                sp.counts["submitted"] = chunks.count()
            _embedded, vec_stats = embed_changed_chunks(chunks, self.vectors)
            if sp is not None:
                sp.counts["changed"] = vec_stats["inserted"] + vec_stats["updated"]
        return docs_stats, vec_stats

    def check(self, payload, result) -> tuple[int, list[str]]:
        kind, n, edit = payload
        if kind == "query":
            want = oracles.rag_oracle(self.duck, self.model, n)
            return n, ([] if result == want else [f"{n}-query retrieval differs from the oracle"])
        ids, _frame = edit
        errors = []
        docs_stats, vec_stats = result
        if (docs_stats["updated"], docs_stats["inserted"]) != (len(ids), 0):
            errors.append(f"corpus merge {docs_stats}, expected {len(ids)} updates")
        before = {d: self.model[d].split("\n\n") for d in ids}
        for d in ids:
            self.model[d] = self.corpus_gen.text(d)
        changed = sum(
            1 for d in ids for a, b in zip(before[d], self.model[d].split("\n\n")) if a != b)
        if vec_stats["updated"] != changed or vec_stats["inserted"] != 0:
            errors.append(f"vectors merge {vec_stats}, expected {changed} updated chunks")
        return 0, errors

    def table_dirs(self) -> list[str]:
        return [self.corpus.root, self.vectors.root]


WORKLOADS = {w.name: w for w in (IngestSync, RagQuery)}

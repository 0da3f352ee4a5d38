"""Reference results each op is checked against, outside the timed interval.

- ``MergeModel``: a pure-Python model of the hash-gated MERGE with scoped
  soft-delete — the counters it must return and the table it must leave.
- ``rag_oracle``: the ``rag2_retrieval_pipeline`` DuckDB oracle over the
  model's copy of the corpus.
"""

from __future__ import annotations

import hashlib

import pandas as pd

ACTIVE, DELETED = "active", "deleted"


def row_digest(*fields) -> int:
    """40-bit digest of one row; a table's digest is the sum over rows, so
    it is order-free and a Spark ``sum`` of 40-bit values cannot overflow."""
    line = "|".join(str(f) for f in fields)
    return int(hashlib.sha256(line.encode("utf-8")).hexdigest()[:10], 16)


class MergeModel:
    """``(client_id, external_id) -> [content_hash, status, updated_at]``."""

    def __init__(self):
        self.rows: dict[tuple[str, str], list] = {}

    def merge(self, client: str, source: dict[str, tuple[str, int]]) -> dict:
        """Apply one client-scoped merge; returns the counters the program
        must report (``unchanged`` includes out-of-scope rows kept as is)."""
        ins = upd = unch = soft = keep = 0
        for ext, (h, ts) in source.items():
            row = self.rows.get((client, ext))
            if row is None:
                ins += 1
                self.rows[(client, ext)] = [h, ACTIVE, ts]
            elif row[0] != h or row[1] == DELETED:
                upd += 1
                self.rows[(client, ext)] = [h, ACTIVE, ts]
            else:
                unch += 1
        for (c, ext), row in self.rows.items():
            if ext in source and c == client:
                continue
            if c == client:
                soft += 1
                row[1] = DELETED
            else:
                keep += 1
        return {"inserted": ins, "updated": upd, "unchanged": unch + keep, "soft_deleted": soft}

    def gate_passes(self, client: str, links: dict[str, int], tolerance_s: int = 60) -> set[str]:
        """External ids the incremental gate must let through."""
        out = set()
        for ext, modified in links.items():
            row = self.rows.get((client, ext))
            if row is None or modified > row[2] + tolerance_s:
                out.add(ext)
        return out

    def digest(self) -> tuple[int, int]:
        return (
            sum(row_digest(c, e, h, s, ts) for (c, e), (h, s, ts) in self.rows.items()),
            len(self.rows),
        )


def rag_oracle(con, docs: dict[int, str], n_queries: int) -> list[tuple]:
    """(query_id, doc_id, chunk_idx, rrf_micros, fused_rank) rows."""
    from etl_stack_spark.queries import all_oracles

    sql = all_oracles()["rag2_retrieval_pipeline"]
    pick = "WHERE doc_id < 5 AND chunk_idx = 0"
    if pick not in sql:
        raise RuntimeError("rag2 oracle no longer has the expected shape")
    sql = sql.replace(pick, f"WHERE doc_id < {int(n_queries)} AND chunk_idx = 0")
    frame = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    frame["doc_id"] = frame["doc_id"].astype("int64")
    con.register("documents", frame)
    return [tuple(int(v) for v in r) for r in con.execute(sql).fetchall()]

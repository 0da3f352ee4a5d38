"""Volume A/B for the map-side ADC fuse (round-10 session 6): old
(explode -> (sub,code)-join -> groupBy) vs new (flat-LUT pivot +
map-side element_at sum) ivfpq_topk search at the 1M-vector class,
where the removed candidates x m exchange actually carries volume —
the sf0.1 A/B (~12k vectors) could only show ~4% because the exchange
there moved ~50k rows.

Corpus: 1M 64-d vectors, 64 implicit clusters (the r9 audit's shape),
generated distributed + deterministically (no driver loop, no RNG):
dim d of vec i = sin(7*(i%64) + d) + 0.1*sin(1.37*i + d). Queries =
every 10,000th vector (100 queries). Dials: n_cells=64, m=4/k=8,
n_probe=2, k=10, exact refine x4 — candidates/query = n_probe/n_cells
= ~31k, so the OLD form's groupBy exchange carries ~100 x 31k x 4 =
12.5M rows; the NEW form shuffles only the top-k window's partial
winners.

Usage: python tools/audit_adc_fuse_1m.py [n_vecs]
Prints per-form alternating timings + medians; both forms must return
identical rows (asserted on a sorted sample) before timing counts.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old_src = subprocess.run(
        ["git", "-C", repo, "show", "2a2769d^:etl_stack_spark/operators/similarity.py"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    td = tempfile.mkdtemp()
    with open(os.path.join(td, "old_similarity.py"), "w") as f:
        f.write(old_src)
    sys.path.insert(0, td)

    from pyspark.sql import functions as F

    import old_similarity as old
    from etl_stack_spark.operators import similarity as new
    from etl_stack_spark.session import get_spark

    spark = get_spark("adc-fuse-1m")
    spark.sparkContext.setLogLevel("ERROR")

    d_idx = F.sequence(F.lit(0), F.lit(63))
    emb = F.transform(
        d_idx,
        lambda d: F.sin(F.lit(7.0) * (F.col("vec_id") % 64).cast("double") + d)
        + F.lit(0.1) * F.sin(F.lit(1.37) * F.col("vec_id").cast("double") + d),
    )
    cn = (
        spark.range(0, n, 1, 64)
        .select(F.col("id").alias("vec_id"), emb.alias("embedding"))
        .localCheckpoint(eager=True)
    )
    t0 = time.perf_counter()
    cents, books = old.ivfpq_train(cn, dim=64, n_cells=64, m=4, k=8, n_iter=5)
    t_train = time.perf_counter() - t0
    t0 = time.perf_counter()
    index = old.ivfpq_encode(cn, cents, books, dim=64).localCheckpoint(eager=True)
    n_idx = index.count()
    t_enc = time.perf_counter() - t0
    print(f"# train {t_train:.1f}s, encode {n_idx} rows {t_enc:.1f}s "
          f"({n_idx / max(t_enc, 1e-9):,.0f} vecs/s)")

    queries = cn.filter(F.col("vec_id") % 10_000 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)

    def run(fn):
        t0 = time.perf_counter()
        fn(
            index, queries, cents, books, dim=64, k=10, n_probe=2,
            refine=cn, refine_factor=4,
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # identity first: the A/B is meaningless if the forms diverge
    a = old.ivfpq_topk(index, queries, cents, books, dim=64, k=10, n_probe=2,
                       refine=cn, refine_factor=4).orderBy("query_id", "rank", "vec_id").collect()
    b = new.ivfpq_topk(index, queries, cents, books, dim=64, k=10, n_probe=2,
                       refine=cn, refine_factor=4).orderBy("query_id", "rank", "vec_id").collect()
    assert a == b, "old and new forms diverged at volume"
    print(f"# identity: {len(a)} rows identical across forms")

    run(old.ivfpq_topk)  # JIT warm, both forms share most codegen
    run(new.ivfpq_topk)
    olds, news = [], []
    n_pairs = int(os.environ.get("ADC_AUDIT_PAIRS", "5"))
    for _ in range(n_pairs):
        olds.append(run(old.ivfpq_topk))
        news.append(run(new.ivfpq_topk))
    print(f"# old search: {[round(x, 2) for x in olds]} -> median {statistics.median(olds):.2f}s")
    print(f"# new search: {[round(x, 2) for x in news]} -> median {statistics.median(news):.2f}s")
    # adjacent-pair ratios cancel slow box drift: each new run is timed
    # right after its paired old run
    ratios = [n_ / o_ for o_, n_ in zip(olds, news)]
    print(f"# pairwise new/old: {[round(r, 2) for r in ratios]} "
          f"-> median {statistics.median(ratios):.2f}")


if __name__ == "__main__":
    main()

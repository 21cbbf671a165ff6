"""One honest scaling point for the heavy queries (r7 verdict stretch
#7): replicate the sf0.1 documents/embeddings tables K× (default 10) so
per-replica STRUCTURE is preserved, time the heaviest queries at 1x and
Kx, and print measured wall-time scaling exponents
(log(t_K / t_1) / log(K) — 1.0 = linear, <1 = sublinear).

Structure preservation matters: naive replication with id offsets keeps
TEXTS identical across replicas, so every doc near-dups its 9 copies
and the pair graph scales ~K² with giant cross-replica clusters — a
different workload, not a bigger one. Instead each replica is salted
out of the others' similarity space:

* documents: every TOKEN is prefixed with the replica tag, so
  cross-replica shingle overlap is zero and the near-dup graph is K
  independent copies of the base graph (pairs scale exactly Kx);
* embeddings: each replica's vectors are circularly shifted by
  (7*replica) mod dim dimensions — norm-preserving, nonzero and
  pairwise-distinct for k <= 10 on 64-dim vectors, and on
  near-uniform vectors the shifted copy decorrelates, so cosine
  near-dup pairs stay within replicas.

Usage: python tools/scaling_probe.py [--k 10] [--out /tmp/sfprobe]
Prints one JSON line per query: {"query", "t_base", "t_big", "exponent"}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

QUERIES = [
    "dedup_clusters",
    "embedding_dedup_clusters",
    "cluster_split",
    "dedup_canonical",
    "table_profile",
]

# control queries timed at BASE scale before and after the probed list:
# their floors adjudicate whether an exponent was measured on a quiet
# or contended box (the BARS protocol, r8 verdict stretch #8);
# single-sourced floors — see benchcontrols.py provenance
from lightcurvesclassifier_spark.benchcontrols import (  # noqa: E402
    CONTROL_FLOORS as CONTROLS,
)


def _probe_extras():
    """Probe-only query variants that are not ``queries()`` entries:

    * semantic_dedup_auto — semantic_dedup with the auto n_cells knob.
      At the fixture scales the auto rule resolves to the 16-cell floor
      (value-identical to the oracled fixed-16 query), so it adds no
      correctness information as a suite entry — but at probe scale
      (K×) it is exactly the occupancy-constant profile the knob exists
      for.
    """
    from lightcurvesclassifier_spark.operators import similarity as sim_ops
    from lightcurvesclassifier_spark.sources import testdata

    def semantic_dedup_auto(spark, sf_dir):
        emb = testdata.load_table(spark, sf_dir, "embeddings")
        return sim_ops.semantic_dedup(emb, tau=0.42, n_cells="auto")

    return {"semantic_dedup_auto": semantic_dedup_auto}


def _salted_documents(docs: DataFrame, k: int) -> DataFrame:
    reps = []
    for r in range(k):
        tag = F.lit(f"r{r}_")
        reps.append(
            docs.select(
                (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(tag, t),
                    ),
                    " ",
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


def _shifted_embeddings(emb: DataFrame, k: int) -> DataFrame:
    dim = len(emb.select("embedding").first()[0])
    reps = []
    for r in range(k):
        s = (7 * r) % dim
        # gcd(7, dim)=1 ⇒ the shift wraps to 0 every `dim` replicas
        # (first hit at r=64 for dim=64, i.e. any K > 64). Each wrap
        # additionally applies a norm-preserving alternating sign mask
        # with a wrap-specific period — a shifted+masked copy of a
        # near-uniform vector decorrelates from every shift-only copy,
        # so cross-replica cosine near-dups stay absent at any K.
        p = r // dim
        if s == 0 and p == 0:
            if r > 0:
                # dim divisible by 7 ⇒ the shift wraps to 0 before the
                # sign mask kicks in; appending emb verbatim here would
                # duplicate vec_ids and plant exact-dup vectors in the
                # replicated probe set (r9 advice) — refuse loudly.
                raise ValueError(
                    f"shift collapses to identity at r={r} for dim={dim}"
                    " (dim divisible by 7); pick a different dim or K"
                )
            reps.append(emb)
            continue
        arr = F.col("embedding")
        shifted = (
            F.concat(F.slice(arr, s + 1, dim - s), F.slice(arr, 1, s))
            if s
            else arr
        )
        if p:

            def _mask(per):
                return lambda x, i: F.when((i % per) == 0, -x).otherwise(x)

            shifted = F.transform(shifted, _mask(p + 1))
        reps.append(
            emb.select(
                (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
                shifted.alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    out = reps[0]
    for rdf in reps[1:]:
        out = out.unionByName(rdf)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sfprobe")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--queries", nargs="*", default=None,
        help="override the probed query list (names from queries()); "
        "only documents/embeddings/lineitem are replicated, so pick "
        "queries on those tables",
    )
    args = ap.parse_args()
    queries = args.queries if args.queries else QUERIES

    base_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from lightcurvesclassifier_spark.session import get_spark
    from lightcurvesclassifier_spark.sources.testdata import TABLES, load_table

    # fail fast on a typo'd --queries name BEFORE the (expensive)
    # replicated-dataset build (r8 advice item)
    extras = _probe_extras()
    known = set(entry_mod.queries()) | set(extras)
    unknown = [n for n in queries if n not in known]
    if unknown:
        ap.error(
            "unknown --queries name(s): " + ", ".join(sorted(unknown))
        )

    spark = get_spark("lcc-scaling-probe")

    big_dir = os.path.join(args.out, f"k{args.k}")
    marker = os.path.join(big_dir, "_READY")
    if not os.path.exists(marker):
        os.makedirs(big_dir, exist_ok=True)
        docs = load_table(spark, base_sf, "documents")
        emb = load_table(spark, base_sf, "embeddings")
        _salted_documents(docs, args.k).write.mode("overwrite").parquet(
            os.path.join(big_dir, "documents.parquet")
        )
        _shifted_embeddings(emb, args.k).write.mode("overwrite").parquet(
            os.path.join(big_dir, "embeddings.parquet")
        )
        # the remaining tables are read by some queries' plans
        # (table_profile scans lineitem); replicate lineitem too, link
        # the rest at 1x (they are not on the probed queries' hot path)
        li = load_table(spark, base_sf, "lineitem")
        big_li = li
        for _r in range(1, args.k):
            big_li = big_li.unionByName(li)
        big_li.write.mode("overwrite").parquet(
            os.path.join(big_dir, "lineitem.parquet")
        )
        # events: id-offset replicas = K independent copies of the star
        # catalog (each star's curve is identical per replica, so
        # per-star kernels and the periodogram/PDM expansion scale
        # exactly Kx — the work is |obs| x |grid| with bounded per-star
        # state, no cross-star interaction to distort)
        ev = load_table(spark, base_sf, "events")
        big_ev = None
        for r in range(args.k):
            leg = ev.withColumn(
                "user_id", F.col("user_id") + F.lit(r * 10_000_000)
            )
            big_ev = leg if big_ev is None else big_ev.unionByName(leg)
        big_ev.write.mode("overwrite").parquet(
            os.path.join(big_dir, "events.parquet")
        )
        import shutil

        for t in TABLES:
            dst = os.path.join(big_dir, f"{t}.parquet")
            if not os.path.exists(dst):
                src = os.path.join(base_sf, f"{t}.parquet")
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy(src, dst)
        open(marker, "w").write("ok")

    for t in TABLES:
        load_table(spark, base_sf, t).count()
        load_table(spark, big_dir, t).count()

    qs = {**entry_mod.queries(), **extras}

    def _reclaim():
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def _best(fn, sf_dir):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(args.runs):
            _reclaim()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return min(samples)

    import math

    def _controls_line(tag: str) -> None:
        cs = {n: round(_best(qs[n], base_sf), 3) for n in CONTROLS}
        ratio = sum(cs[n] / CONTROLS[n] for n in CONTROLS) / len(CONTROLS)
        print(
            json.dumps(
                {
                    "controls": tag,
                    **cs,
                    "contention_ratio": round(ratio, 3),
                }
            ),
            flush=True,
        )

    _controls_line("before")
    for name in queries:
        fn = qs[name]
        t1 = _best(fn, base_sf)
        tk = _best(fn, big_dir)
        print(
            json.dumps(
                {
                    "query": name,
                    "k": args.k,
                    "t_base_sec": round(t1, 3),
                    "t_big_sec": round(tk, 3),
                    "exponent": round(math.log(tk / t1) / math.log(args.k), 3),
                }
            ),
            flush=True,
        )
    _controls_line("after")
    spark.stop()


if __name__ == "__main__":
    main()

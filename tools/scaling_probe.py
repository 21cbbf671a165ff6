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
import json
import math
import os
import shutil
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

QUERIES = [
    "dedup_clusters",
    "embedding_dedup_clusters",
    "cluster_split",
    "dedup_canonical",
    "table_profile",
]


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
    return reduce(DataFrame.unionByName, reps)


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
    return reduce(DataFrame.unionByName, reps)


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
    from lightcurvesclassifier_spark import harness
    from lightcurvesclassifier_spark.sources.testdata import TABLES, load_table

    # fail fast on bad arguments BEFORE the (expensive) replicated-dataset
    # build (r8 advice item): the exponent divides by log(k)
    if args.k < 2:
        ap.error(f"--k must be at least 2, got {args.k}")
    extras = _probe_extras()
    harness.check_names(queries, extras)

    spark = harness.open_session("lcc-scaling-probe", base_sf)

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
        reduce(DataFrame.unionByName, [li] * args.k).write.mode(
            "overwrite"
        ).parquet(os.path.join(big_dir, "lineitem.parquet"))
        # events: id-offset replicas = K independent copies of the star
        # catalog (each star's curve is identical per replica, so
        # per-star kernels and the periodogram/PDM expansion scale
        # exactly Kx — the work is |obs| x |grid| with bounded per-star
        # state, no cross-star interaction to distort)
        ev = load_table(spark, base_sf, "events")
        legs = [
            ev.withColumn("user_id", F.col("user_id") + F.lit(r * 10_000_000))
            for r in range(args.k)
        ]
        reduce(DataFrame.unionByName, legs).write.mode("overwrite").parquet(
            os.path.join(big_dir, "events.parquet")
        )
        for t in TABLES:
            dst = os.path.join(big_dir, f"{t}.parquet")
            if not os.path.exists(dst):
                src = os.path.join(base_sf, f"{t}.parquet")
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy(src, dst)
        with open(marker, "w") as fh:
            fh.write("ok")

    # no table warm-up at big_dir: best_of's untimed run of each query
    # reads its tables there before any timed run
    qs = {**entry_mod.queries(), **extras}

    def _best(fn, sf_dir):
        return harness.best_of(spark, fn, sf_dir, args.runs)["best"]

    # control queries timed at BASE scale before and after the probed
    # list: their floors adjudicate whether an exponent was measured on
    # a quiet or contended box (the BARS protocol, r8 verdict stretch #8)
    def _controls_line(tag: str) -> None:
        cs = {n: _best(qs[n], base_sf) for n in harness.control_floors()}
        ratio = harness.contention_ratio(cs)
        print(json.dumps({"controls": tag, **cs, "contention_ratio": ratio}), flush=True)

    _controls_line("before")
    for name in queries:
        fn = qs[name]
        t1 = _best(fn, base_sf)
        tk = _best(fn, big_dir)
        exponent = round(math.log(tk / t1) / math.log(args.k), 3)
        rec = {"query": name, "k": args.k, "t_base_sec": t1, "t_big_sec": tk}
        print(json.dumps({**rec, "exponent": exponent}), flush=True)
    _controls_line("after")
    spark.stop()


if __name__ == "__main__":
    main()

"""Physical-plan assertions for the headline queries — the scale claims
("filter pushed to the scan", "single shuffle", "dim broadcast", "no
Python in the JVM path") checked against the actual executed plans, so
a regression that silently adds a shuffle or unpushes a filter fails a
test rather than a plan audit."""

import re

from pyspark.sql import functions as F

import __spark_entry__ as em
from lightcurvesclassifier_spark.cli.descriptors import featurize
from lightcurvesclassifier_spark.functions import curves
from lightcurvesclassifier_spark.operators.cone_search import cone_search
from lightcurvesclassifier_spark.operators.crossmatch import crossmatch
from lightcurvesclassifier_spark.plans.query_compiler import apply_queries
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_SMOKE


def _plan(spark, name):
    return (
        em.queries()[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_query_dsl_predicates_reach_the_scan(spark):
    plan = _plan(spark, "query_dsl")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "p_brand" in pushed and "p_size" in pushed, pushed
    assert "p_retailprice" in pushed, pushed
    assert plan.count("Exchange") == 0  # scan + filter, no shuffle


def test_apply_queries_predicate_reaches_the_stars_scan(spark):
    stars = testdata.stars(spark, SF_SMOKE)
    df = apply_queries(stars, [{"star_class": "BUILDING", "acctbal": ">=100.5"}])
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    pushed = scan.metadata().apply("PushedFilters")
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed, pushed
    assert "GreaterThanOrEqual(c_acctbal,100.5)" in pushed, pushed


def test_cone_search_box_stays_in_the_scan(spark):
    # dec_deg is derived from c_custkey, so the box is not a parquet
    # PushedFilter; it must still reach the scan as a DataFilter
    df = cone_search(testdata.stars(spark, SF_SMOKE), 10.0, 20.0, 5.0)
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    data = re.sub(r"#\d+L?", "", scan.dataFilters().toString())
    dec = "(((cast(c_custkey as double) * 61.803) % 180.0) - 90.0)"
    assert f"{dec} >= 15.0" in data and f"{dec} <= 25.0" in data, data


def test_crossmatch_is_one_zone_equi_join_on_the_exploded_right(spark):
    df = crossmatch(
        testdata.stars(spark, SF_SMOKE), testdata.detections(spark, SF_SMOKE),
        right_cols=["det_id", "star_id"],
    )
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Join") == 1, executed
    assert re.search(r"Join \[_zone#\d+L\], \[_zone#\d+L\], Inner", executed), executed
    join = df._jdf.queryExecution().optimizedPlan()
    while join.nodeName() != "Join":
        join = join.children().head()
    assert "Generate explode" in join.right().toString()
    assert "Generate" not in join.left().toString()


def test_custom_decider_range_pushdown_no_shuffle(spark):
    plan = _plan(spark, "custom_decider")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_quantity" in pushed and "l_discount" in pushed, pushed
    assert plan.count("Exchange") == 0
    assert "Python" not in plan


def test_curve_stats_single_shuffle(spark):
    # per-star features: one hash aggregate, one Exchange, JVM-only
    plan = _plan(spark, "curve_stats")
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_abbe_value_single_shuffle(spark):
    # window lag + power sums share the star_id partitioning: 1 Exchange
    plan = _plan(spark, "abbe_value")
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_curve_stats_and_moments_prune_the_lag_window(spark):
    # projections of the per-curve aggregate that read no abbe plan as
    # one hash aggregate: Catalyst prunes the lag window and unused sums
    obs = testdata.observations(spark, SF_SMOKE)
    for df in (
        curves.lc_stats(obs),
        curves.lc_stats(obs, keys=["star_id", "band"]),
        curves.skewness_kurtosis(obs),
    ):
        plan = _optimized(df)
        assert plan.count("Aggregate [") == 1 and "Window" not in plan, plan


def test_cli_curve_descriptors_are_one_aggregate(spark):
    # Abbe, density, skewness and kurtosis: one aggregate, no join
    obs = testdata.observations(spark, SF_SMOKE).drop("band")
    feats, cols = featurize(
        obs,
        ["AbbeValueDescr", "CurveDensityDescr", "SkewnessDescr", "KurtosisDescr"],
    )
    assert cols == ["abbe", "curve_density", "skewness", "kurtosis"]
    plan = _optimized(feats)
    assert plan.count("Aggregate [") == 1 and "Join" not in plan, plan


def test_phase_fold_broadcasts_period_dim(spark):
    plan = _plan(spark, "phase_fold")
    assert "BroadcastHashJoin" in plan
    # the big observation side never shuffles: only the broadcast
    # exchange appears
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_text_features_stay_jvm_side(spark):
    plan = _plan(spark, "text_features")
    assert plan.count("Exchange") == 0
    assert "Python" not in plan


def test_pii_redact_is_map_only(spark):
    # PII scrub: pure filter/projection — zero Exchange, no Python
    plan = _plan(spark, "pii_redact")
    assert plan.count("Exchange") == 0
    assert "Python" not in plan


def test_mixture_sample_is_pure_filter(spark):
    plan = _plan(spark, "mixture_sample")
    assert plan.count("Exchange") == 0
    assert "Python" not in plan


def test_sequence_packing_single_shard_exchange(spark):
    # one shuffle on the shard key feeds the running-sum window
    plan = _plan(spark, "sequence_packing")
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_decontamination_broadcasts_eval_side(spark):
    # the corpus side hash-joins against a broadcast eval shingle table:
    # every non-broadcast exchange is keyed by corpus aggregation, and
    # the eval tables arrive via BroadcastExchange
    plan = _plan(spark, "decontamination")
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_periodogram_grid_broadcast_single_agg_exchange(spark):
    # obs × grid is a broadcast nested-loop product; the shuffles are the
    # (star, freq) trig aggregation and the (much smaller) per-star
    # moment aggregation, whose result joins back via broadcast — the
    # freq-independent sums must NOT ride in the wide aggregate (that
    # would redo them once per grid frequency)
    plan = _plan(spark, "periodogram")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 2, plan
    assert "Python" not in plan


def test_shingle_paths_split_once_per_row(spark):
    """No-CSE-in-lambda regression pin: Catalyst does not eliminate
    common subexpressions inside higher-order-function lambdas, so the
    token split() must be materialized into a column BEFORE the
    transform — an inlined split would re-split the document once per
    shingle/span/bigram position (~2x measured at sf0.1). One split per
    consumed text column in the whole plan."""
    from lightcurvesclassifier_spark.operators import dedup, text
    from lightcurvesclassifier_spark.sources import testdata

    docs = testdata.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    for df in (
        dedup.shingles_hashed(docs),
        dedup.shingles(docs),
        dedup.shingles_md5(docs),
        text.rolling_fingerprint(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") == 1, plan


def test_unit_rows_norm_not_inlined_into_lambda(spark):
    """The embedding norm must be computed once per row: without the
    double-reference CollapseProject barrier, sqrt(aggregate(...)) gets
    inlined into the transform lambda and normalization silently becomes
    O(d^2) per row. Exactly one SQRT in the plan (the filter's aggregate
    is the only other O(d) pass)."""
    from lightcurvesclassifier_spark.operators.similarity import _unit_rows
    from lightcurvesclassifier_spark.sources import testdata

    emb = testdata.load_table(spark, SF_SMOKE, "embeddings")
    plan = (
        _unit_rows(emb, "vec_id", "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SQRT") == 1, plan


def test_lsh_topk_corpus_never_shuffles_before_candidates(spark):
    """SRP-LSH scale shape: bucket columns are a map-only projection over
    the corpus scan; the query bucket table and query arrays arrive via
    BroadcastExchange. No MLlib fit (driver-blocking) anywhere."""
    plan = _plan(spark, "embedding_lsh_topk")
    assert "BroadcastExchange" in plan
    assert "Python" not in plan


def test_ivf_assignment_one_exchange_cells_broadcast(spark):
    """BOTH IVF variants share the _ivf_assign shape: the bounded cell
    table and the probe rows arrive via BroadcastExchange, the corpus
    crosses exactly ONE corpus-keyed hash exchange (the max_by
    assignment groupBy), and everything else partitions by query_id
    (probe windows / top-k). No Python anywhere."""
    from lightcurvesclassifier_spark.operators import similarity
    from lightcurvesclassifier_spark.sources import testdata
    from tests.conftest import SF_ORACLE

    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    for df in (
        similarity.ivf_flat_topk(emb, q, k=5, n_cells=8, n_probe=3),
        similarity.ivf_topk(emb, q, k=5, n_lists=8, n_probe=3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert "Python" not in plan
        # every non-probe exchange must be either THE one corpus-keyed
        # assignment groupBy (vec_id) or part of the bounded in-plan
        # training chain (sample-keyed _sid / n_cells-keyed cell_idx —
        # ≤ train_size rows by contract, r6's zero-collect Lloyd graph)
        corpus_keyed = []
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" not in ln or "query_id" in ln:
                continue
            if "_sid" in ln or "cell_idx" in ln:
                continue  # bounded training exchange
            corpus_keyed.append(ln)
        assert len(corpus_keyed) == 1, plan


def test_stetson_single_shuffle(spark):
    # moment window + lag window + final agg share star_id: 1 Exchange
    plan = _plan(spark, "stetson_variability")
    assert plan.count("Exchange") == 1, plan
    assert "pythonUDF" not in plan


def test_embedding_profile_single_shuffle(spark):
    # posexplode → d-group partial agg: one Exchange carrying ≤64 groups
    plan = _plan(spark, "embedding_profile")
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_pdm_grid_broadcast_wide_shuffle_only_once(spark):
    # ONE exchange total since r6: the expansion-aware spread
    # repartitions the (locally single-partition) scan by star_id, and
    # HashPartitioning(star_id) SATISFIES both the (star, freq)
    # aggregate's clustered distribution and the per-star window — so
    # the aggregate runs complete (no second exchange, no partial
    # merge) and the argmin window sorts in place. The phase bins live
    # as 2·n_bins+1 conditional aggregate buffers, NOT in the key
    # (the (star,freq,pbin) key was measured slower at sf0.1), and
    # since r5 the per-star totals are recovered from the same buffers
    # (no totals aggregate/join). Grid arrives via broadcast.
    plan = _plan(spark, "period_pdm")
    assert "BroadcastExchange" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan
    assert "star_id" in exchanges[0] and "pbin" not in exchanges[0]


def test_ivf_topk_job_budget(spark):
    """Regression guard for the r7 plan-construction fix (the 2.6->1.9s
    win was py4j/planning overhead no value oracle can see): one
    embedding_ivf_topk call must stay within a pinned Spark-job budget.
    Measured 13 jobs (stable across runs) after the scoped-AQE eager
    checkpoint + expr-string folds; 11 after the r9 map-side
    assignment/probe folds (the corpus max_by exchange and the probe
    window exchange both gone). A refactor that reintroduces the
    per-call planning storm (e.g. an extra Lloyd materialization per
    iteration, or AQE re-planning the bounded training chain) blows
    well past the 15 allowed here."""
    from tests.conftest import SF_ORACLE

    sc = spark.sparkContext
    q = em.queries()["embedding_ivf_topk"]
    q(spark, SF_ORACLE).write.format("noop").mode("overwrite").save()  # warm
    sc.setJobGroup("ivf_budget", "job-count pin")
    try:
        q(spark, SF_ORACLE).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("ivf_budget"))
    assert 0 < n_jobs <= 15, n_jobs


def test_star_cc_job_budget(spark):
    """Same guard for the r8 fused star-CC rounds: the in-round
    star-forest fixpoint test converges the text graph in ONE action
    (under AQE every exchange query stage still surfaces as its own
    Spark job). Measured 15 jobs, stable across runs, for
    dedup_clusters at sf0.01. Budget 19 catches a reintroduced confirm
    round or separate per-round diff action (+3 or more each)."""
    from tests.conftest import SF_ORACLE

    sc = spark.sparkContext
    q = em.queries()["dedup_clusters"]
    q(spark, SF_ORACLE).write.format("noop").mode("overwrite").save()  # warm
    sc.setJobGroup("cc_budget", "job-count pin")
    try:
        q(spark, SF_ORACLE).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_budget"))
    assert 0 < n_jobs <= 19, n_jobs


def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """ngram_jaccard_pairs dropped its shingle-table checkpoint in r8:
    the two self-join sides are the identical subtree, so exchange
    reuse must serve the second side from the first's shuffle files.
    AQE only marks the reuse in the FINAL plan, so execute first. If
    plan drift ever breaks the reuse, the corpus scan + shingle explode
    would silently run twice — fail here instead."""
    df = em.queries()["dedup_ngram"](spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan

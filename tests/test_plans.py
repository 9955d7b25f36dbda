"""Plan-shape regression guards: the SCALE.md physical-plan claims, pinned
mechanically. These tests read `.explain`-style plan strings and assert the
shapes that make the engine survive a 100 TB scale-up — per-level tables as
plan literals, or broadcast past the inline cap (never a big-side
shuffle), filters/pruning reaching the parquet scan, a
single exchange on the aggregation paths, and no window functions on
production binning. A refactor that silently degrades a plan (broadcast →
sort-merge join, lost pushdown) fails here long before a benchmark would
catch it."""

import re

import pytest

from dbreg_spark.api import build_plan


def _n_nodes(plan: str, name: str) -> int:
    """Count physical nodes of a type in formatted explain output (the tree
    and the detail section both mention each node; the detail header
    "(k) Name" appears exactly once per node)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def _formatted(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


FML = "l_tax ~ l_quantity + l_discount | l_returnflag + l_linestatus"


@pytest.fixture
def past_inline_cap(monkeypatch):
    """Every per-level table past the inline cap: broadcast joins."""
    monkeypatch.setattr("dbreg_spark.plans.levels.INLINE_VALUES", 0)


def test_moments_plan_single_exchange_pushdown(tables):
    df, _sql = build_plan(
        "l_tax ~ l_quantity + l_discount", tables["lineitem"], strategy="moments"
    )
    plan = _formatted(df)
    assert _n_nodes(plan, "Exchange") == 1  # one single-row aggregation shuffle
    assert "PushedFilters: [IsNotNull" in plan  # missing-filter reached the scan
    # column pruning: the scan reads only the model variables
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_tax" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_filter_missing_pushes_every_not_null_to_scan(spark, tmp_path):
    """``filter_missing`` hands Spark one SQL predicate string; each of its
    IS NOT NULL terms must still reach the parquet scan as a pushed
    filter, including a column whose name needs quoting."""
    from dbreg_spark.plans.common import filter_missing

    path = str(tmp_path / "nulls.parquet")
    spark.createDataFrame(
        [(1.0, None, 3.0, 4.0), (None, 2.0, 3.0, 4.0), (1.0, 2.0, 3.0, 4.0)],
        "a double, b double, `x col` double, unused double",
    ).write.parquet(path)
    df = filter_missing(spark.read.parquet(path), ["a", "b", "x col"])
    plan = _formatted(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("a", "b", "`x col`"):
        assert f"IsNotNull({col})" in pushed, pushed
    assert "unused" not in pushed
    assert df.count() == 1


def test_demean_plan_float_key_joins_grouping_sets(tables):
    """A double FE key has no literal form: the plan broadcast-joins the
    grouping-sets means table itself, not a re-uploaded copy of its rows."""
    import pyspark.sql.functions as F

    li = tables["lineitem"].withColumn("ln", F.col("l_linenumber").cast("double"))
    df, _sql = build_plan(
        "l_tax ~ l_quantity + l_discount | ln", li, strategy="demean"
    )
    plan = _formatted(df)
    assert _n_nodes(plan, "BroadcastHashJoin") == 1
    assert _n_nodes(plan, "Expand") == 1  # the grouping-sets aggregation
    assert "ExistingRDD" not in plan and "LocalTableScan" not in plan
    assert "SortMergeJoin" not in plan


def test_demean_plan_inlines_means(tables):
    df, _sql = build_plan(FML, tables["lineitem"], strategy="demean")
    plan = _formatted(df)
    assert "Join" not in plan  # the means ride in the plan as literals
    assert "Window" not in plan


def test_demean_plan_broadcasts_means(tables, past_inline_cap):
    df, _sql = build_plan(FML, tables["lineitem"], strategy="demean")
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan  # mean tables broadcast to the scan side
    assert "SortMergeJoin" not in plan  # the big table is never shuffled
    assert "Window" not in plan


def test_mundlak_plan_inlines_means(tables):
    df, _sql = build_plan(FML, tables["lineitem"], strategy="mundlak")
    plan = _formatted(df)
    assert "Join" not in plan


def test_mundlak_plan_broadcasts_means(tables, past_inline_cap):
    df, _sql = build_plan(FML, tables["lineitem"], strategy="mundlak")
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compress_plan_single_exchange(tables):
    df, _sql = build_plan(FML, tables["lineitem"], strategy="compress")
    plan = _formatted(df)
    # partial agg → one exchange on the cell keys → final agg
    assert _n_nodes(plan, "Exchange") == 1
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_binscatter_assignment_no_window(tables):
    """Production bin assignment is a literal CASE ladder — the NTILE window
    exists only as a correctness oracle, never in the fitted plan."""
    from dbreg_spark.operators.binning import assign_bins, compute_breaks

    li = tables["lineitem"]
    bi = compute_breaks(li, "l_extendedprice", nbins=10, method="quantile")
    binned = assign_bins(li, "l_extendedprice", "l_tax", bi.breaks)
    plan = _formatted(binned)
    assert "Window" not in plan
    assert _n_nodes(plan, "Exchange") == 0  # embarrassingly parallel projection


def test_compress_predict_plan_inline_luts(tables):
    from dbreg_spark import dbreg

    li = tables["lineitem"]
    m = dbreg(FML, li, strategy="compress")
    plan = _formatted(m.predict(li))
    assert "Join" not in plan  # level→β lookups are plan literals


def test_compress_predict_plan_broadcast_luts(tables, past_inline_cap):
    from dbreg_spark import dbreg

    li = tables["lineitem"]
    m = dbreg(FML, li, strategy="compress")
    out = m.predict(li)
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan  # level→β lookup tables broadcast
    assert "SortMergeJoin" not in plan


def test_stats_scan_is_one_pass(tables):
    """The compressed-iteration stats collection is ONE scan: grouping-sets
    Expand feeding partial aggregation, a single exchange of tiny rows."""
    import pyspark.sql.functions as F

    from dbreg_spark.plans.frames import COMPRESSED_ITER_NMAX  # noqa: F401

    li = tables["lineitem"]
    fe = ["l_returnflag", "l_linestatus", "l_linenumber"]
    sets = [[f] for f in fe] + [[]]
    gs = li.groupingSets(sets, *fe).agg(
        F.grouping_id(*fe).alias("g"), F.count(F.lit(1)).alias("n")
    )
    plan = _formatted(gs)
    assert _n_nodes(plan, "Exchange") == 1
    assert "Expand" in plan
    assert _n_nodes(plan, "Scan parquet") <= 1


def test_partition_pruning_reaches_scan(tables, tmp_path):
    """SCALE.md claims hive-partitioned reads prune at the source: write the
    events table partitioned by event_type via write_parquet, read with a
    partition predicate, and assert the scan's PartitionFilters carries it
    (and only the matching directory is listed)."""
    from dbreg_spark.sources.io import write_parquet

    ev = tables["events"].select("event_id", "user_id", "value", "event_type")
    out = str(tmp_path / "events_part")
    write_parquet(ev, out, partition_by=["event_type"], target_file_mb=1)
    spark = ev.sparkSession
    back = spark.read.parquet(out).where("event_type = 'purchase'")
    plan = _formatted(back)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, "scan shows no PartitionFilters section"
    assert any("event_type" in ln for ln in pf_lines)
    # the predicate is partition-pruned, not a post-scan row filter on the
    # partition column
    assert "purchase" in "".join(pf_lines)
    n = back.count()
    assert n == tables["events"].where("event_type = 'purchase'").count()


def test_topk_operators_use_take_ordered(tables):
    """The ranked operators claim distributed top-k (TakeOrdered), not a
    global sort: pin the plan shape for BM25, DSIR sampling, and capped
    vocabulary."""
    from dbreg_spark.operators import text as tx

    docs = tables["documents"]
    plans = {
        "bm25": tx.bm25_topk(docs, "spark window join", k=25),
        "dsir": tx.importance_sample(
            tx.importance_weights(docs, docs.where("source = 'src0'"), max_vocab=100),
            k=20,
        ),
        "vocab": tx.vocabulary(docs, min_df=2, max_vocab=50),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrdered\n{plan[:500]}"
        assert "Sort [" not in plan.replace("TakeOrderedAndProject", ""), (
            f"{name}: global sort in plan"
        )


def test_minhash_guard_clean_corpus_plan_is_unguarded(tables):
    """The sampled hot-bucket probe collects an EMPTY list on a clean
    corpus, so the guarded default must build the exact unguarded plan —
    no anti-join nodes, no second aggregation over the bands."""
    from dbreg_spark.operators import dedup

    docs = tables["documents"]
    guarded = dedup.minhash_lsh_pairs(
        docs, n_hashes=16, band_rows=2, shingle_words=2,
        jaccard_threshold=0.3, max_bucket=10_000,
    )
    unguarded = dedup.minhash_lsh_pairs(
        docs, n_hashes=16, band_rows=2, shingle_words=2,
        jaccard_threshold=0.3, max_bucket=None,
    )
    gp = guarded._jdf.queryExecution().executedPlan().toString()
    up = unguarded._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in gp and "LeftSemi" not in gp
    # same operator skeleton (node names in order), ignoring expr ids
    import re

    skel = lambda p: [re.match(r"[+\-:\s|]*\*?\(?\d*\)?\s*(\w+)", ln).group(1)
                      for ln in p.splitlines() if ln.strip()]
    assert skel(gp) == skel(up)


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Co-located join: two tables bucketed on the join key into the same
    bucket count join with ZERO exchange (the 100 TB pre-shuffle trade
    write_bucketed documents) — and with sortBy on the key, zero sort."""
    import uuid

    from dbreg_spark.sources.io import write_bucketed

    ev = tables["events"].select("event_id", "user_id", "value")
    us = (
        tables["events"].groupBy("user_id")
        .count().withColumnRenamed("count", "n_events")
    )
    ta = f"bk_ev_{uuid.uuid4().hex[:8]}"
    tb = f"bk_us_{uuid.uuid4().hex[:8]}"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(
            ev, ta, ["user_id"], 8, sort_by=["user_id"],
            path=str(tmp_path / ta),
        )
        write_bucketed(
            us, tb, ["user_id"], 8, sort_by=["user_id"],
            path=str(tmp_path / tb),
        )
        # force a non-broadcast join so co-location is what saves the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == ev.count()
        # the unbucketed twin of the same join DOES shuffle both sides
        plain = ev.join(us, "user_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_write_bucketed_requires_keys(tables):
    from dbreg_spark.sources.io import write_bucketed

    with pytest.raises(ValueError, match="bucket_by"):
        write_bucketed(tables["events"], "t", [], 8)


def test_glm_irls_pass_single_exchange(tables):
    """Every dbglm IRLS iteration is ONE scan → partial agg → a single
    exchange of one moment row: no window, no join, no Python UDF, and the
    per-row μ/w/wz projection stays inside whole-stage codegen."""
    import numpy as np
    import pyspark.sql.functions as F

    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.glm import get_family, irls_pass_plan
    from dbreg_spark.plans.common import Source
    from dbreg_spark.plans.frames import build_base_frame

    li = tables["lineitem"]
    src = Source(
        df=li.withColumn("is_return", (F.col("l_returnflag") == "R").cast("double"))
    )
    parsed = parse_formula("is_return ~ l_quantity + l_discount")
    design = build_design(src.df, parsed, expand="all", fe_vars=None)
    frame = build_base_frame(src, parsed, design, True, want_sql=False)
    _spec, agg_df, _sql = irls_pass_plan(
        frame, get_family("binomial"), np.zeros(3), list(frame.x_cols), True,
        first=True,
    )
    plan = _formatted(agg_df)
    assert _n_nodes(plan, "Exchange") == 1
    assert "Window" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _n_nodes(plan, "Scan parquet") <= 1


def test_fepois_pass_plans(tables):
    """The profiled FE-Poisson Newton step: pass 1 (group table) is a
    single-exchange aggregation; pass 2 joins the group table back
    BROADCAST when the caller knows G is small (the strategy dbglm pins
    after materializing the table) — the big side is never shuffled."""
    import numpy as np
    import pyspark.sql.functions as F

    from dbreg_spark.glm import (
        fepois_group_table,
        fepois_profiled_agg,
        fepois_profiled_rows,
    )

    cols = ["l_returnflag", "l_linenumber", "l_quantity", "l_discount"]
    df = tables["lineitem"].select(*cols).na.drop()
    beta = np.array([0.001, 0.05])
    x = ["l_quantity", "l_discount"]
    gtab = fepois_group_table(df, "l_linenumber", x, "l_returnflag", beta)
    gplan = _formatted(gtab)
    assert _n_nodes(gplan, "Exchange") == 1
    assert "Window" not in gplan

    rows = fepois_profiled_rows(
        df, gtab, "l_linenumber", x, "l_returnflag", beta, broadcast=True
    )
    step = fepois_profiled_agg(rows, 2)
    splan = _formatted(step)
    assert "BroadcastHashJoin" in splan
    assert "SortMergeJoin" not in splan and "Window" not in splan
    assert "BatchEvalPython" not in splan and "ArrowEvalPython" not in splan


def test_quality_classify_plan_stateless(tables):
    """Model-based corpus scoring is a pure projection: ZERO exchanges,
    zero joins, zero Python UDFs — the shape that scores 100 TB in one
    embarrassingly-parallel scan (and is therefore streaming-safe)."""
    from dbreg_spark.operators.text import quality_classify

    out = quality_classify(tables["documents"])
    plan = _formatted(out)
    assert _n_nodes(plan, "Exchange") == 0
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_iv_gram_plan_single_exchange(tables):
    """The dbiv 2SLS Gram pass is the moments shape: ONE pruned scan with
    pushed null filters → map-side partial aggregation → a single
    one-row Exchange. No join, no window, no Python UDF — the whole
    distributed cost of an IV fit is one scan (plus one more for a
    robust/clustered meat)."""
    from dbreg_spark.formula import ParsedFormula
    from dbreg_spark.iv import _grouped_design, parse_iv_formula
    from dbreg_spark.plans.common import Source, moment_spec
    from dbreg_spark.plans.exprs import Var, agg_to_spark
    from dbreg_spark.plans.frames import build_base_frame

    ivf = parse_iv_formula(
        "l_extendedprice ~ l_discount | l_quantity ~ l_tax"
    )
    src = Source(df=tables["lineitem"])
    design, *_ = _grouped_design(src.df, ivf)
    parsed = ParsedFormula(
        yvar=ivf.yvar,
        terms=ivf.exog_terms + ivf.endog_terms + ivf.inst_terms,
        fe=[],
        intercept=True,
    )
    frame = build_base_frame(src, parsed, design, True, want_sql=False)
    spec = moment_spec(
        Var(frame.y_col), [Var(n) for n in frame.x_cols], intercept=True
    )
    agg = frame.df.agg(*[agg_to_spark(a).alias(n) for n, a in spec])
    plan = _formatted(agg)
    assert _n_nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull" in plan
    assert _n_nodes(plan, "Scan parquet") <= 1


def _weighted_demean_broadcasts(li) -> int:
    """Broadcast joins in the weighted demean plan, after checking that WLS
    keeps the unweighted plan shapes (moments and demean)."""
    n_bhj = 0
    for strategy in ("moments", "demean"):
        fml = (
            "l_extendedprice ~ l_discount + l_tax"
            + (" | l_returnflag" if strategy == "demean" else "")
        )
        dfu, _ = build_plan(fml, li, strategy=strategy)
        dfw, _ = build_plan(fml, li, strategy=strategy, weights="l_quantity")
        pu, pw = _formatted(dfu), _formatted(dfw)
        assert _n_nodes(pw, "Exchange") == _n_nodes(pu, "Exchange")
        assert _n_nodes(pw, "SortMergeJoin") == 0
        n_bhj = _n_nodes(pw, "BroadcastHashJoin")
    return n_bhj


def test_weighted_plans_inline_means(tables):
    """WLS must not change plan shapes; the weighted means still ride in
    the plan as literals."""
    assert _weighted_demean_broadcasts(tables["lineitem"]) == 0


def test_weighted_plans_match_unweighted_shapes(tables, past_inline_cap):
    """WLS must not change plan shapes: same exchange counts, means still
    broadcast past the inline cap — the weighting is pure expression
    arithmetic inside the same aggregations."""
    assert _weighted_demean_broadcasts(tables["lineitem"]) >= 1


def test_split_grouped_moments_single_exchange(tables):
    """The split-sample moment pass is ONE grouped aggregation — a single
    exchange carrying G rows, no join, no window."""
    import pyspark.sql.functions as F

    from dbreg_spark.plans.common import moment_spec
    from dbreg_spark.plans.exprs import Var, agg_to_spark

    spec = moment_spec(
        Var("l_extendedprice"), [Var("l_quantity"), Var("l_discount")],
        intercept=True,
    )
    df = tables["lineitem"].groupBy("l_linestatus").agg(
        *[agg_to_spark(a).alias(n) for n, a in spec]
    )
    plan = _formatted(df)
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "SortMergeJoin") == 0
    assert _n_nodes(plan, "Window") == 0


def test_dk_score_pass_single_exchange(tables):
    """The Driscoll-Kraay per-period score table is one grouped pass."""
    import numpy as np

    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.plans.common import Source
    from dbreg_spark.plans.frames import build_base_frame
    from dbreg_spark.plans.meat import cluster_scores_plan

    li = tables["lineitem"]
    parsed = parse_formula("l_extendedprice ~ l_discount + l_tax")
    design = build_design(li, parsed, expand="all", fe_vars=None)
    frame = build_base_frame(
        Source(df=li, sql_from=None), parsed, design, True,
        extra_cols=["l_linestatus"], want_sql=False,
    )
    scores, _sql = cluster_scores_plan(
        frame, np.array([1.0, 2.0, 3.0]), list(frame.x_cols), True,
        "l_linestatus",
    )
    plan = _formatted(scores)
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "Window") == 0


def test_pq_plans_stateless_and_python_free(tables):
    """PQ: encode is an embarrassingly-parallel Arrow-batched projection
    (zero Exchange; since r9 a disclosed mapInPandas numpy argmin — the
    literal-expression form paid seconds of optimizer+codegen per action)
    fed ONLY the (id, vector) columns; ADC search adds only the broadcast
    of the queries and the top-k machinery — the corpus side never
    shuffles raw vectors, and the scoring side stays row-at-a-time
    Python-free."""
    from dbreg_spark.operators import similarity as sim

    emb = tables["embeddings"]
    books = sim.fixed_pq_codebooks()
    enc_plan = _formatted(sim.pq_encode(emb, books))
    assert _n_nodes(enc_plan, "Exchange") == 0
    assert "MapInPandas" in enc_plan  # the one disclosed Arrow site
    assert "BatchEvalPython" not in enc_plan
    # column pruning reaches the scan: only (vec_id, embedding) are read
    assert "label" not in enc_plan

    topk_plan = _formatted(
        sim.pq_topk(emb, emb.where("vec_id < 3"), books, k=5)
    )
    assert "BatchEvalPython" not in topk_plan and "ArrowEvalPython" not in topk_plan
    assert _n_nodes(topk_plan, "BroadcastExchange") >= 1  # queries broadcast

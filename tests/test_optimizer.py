"""Optimizer-behavior proofs (SURVEY §4): the properties the 100 TB
story depends on, asserted against actual physical plans — filters
reach the parquet scan, projections prune the read schema, dimension
joins broadcast, and hot-path queries stay free of Python UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark.sources.io import read_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    o = read_table(spark, SF_SMOKE, "orders")
    plan = _plan(o.filter(F.col("o_orderstatus") == "P").select("o_orderkey"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(o_orderstatus,P)" in m.group(1), plan


def test_column_pruning_reaches_scan(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    plan = _plan(li.select("l_orderkey", "l_extendedprice"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice"}, cols


def test_partition_pruning_on_derived_filter(spark):
    # a filter on a computed column must still push its source column's
    # not-null, and the scan must not read pruned columns
    c = read_table(spark, SF_SMOKE, "customer")
    plan = _plan(
        c.select("c_custkey", "c_acctbal").filter(F.col("c_acctbal") > 0)
    )
    assert "GreaterThan(c_acctbal,0" in plan, plan


def test_dimension_joins_broadcast_in_flagship(spark):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["abc_classification"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # the fact side must not be broadcast: no broadcast of lineitem scan
    assert plan.count("BroadcastExchange") <= 2, plan


def test_no_python_udfs_in_expression_queries(spark):
    """The reference-surface and text-analytics queries are pure JVM
    expressions; Python appears only in the intentional Arrow escape
    hatches (multimodal, group_median, kmeans training)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name in [
        "abc_classification", "text_stats", "gopher_quality",
        "token_profile", "clean_pipeline", "format_currency",
        "event_attribution", "events_rollup",
    ]:
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_whole_stage_codegen_covers_hot_queries(spark):
    """The AQE wrapper hides codegen in plan strings, so inspect with
    AQE off: the flagship and the map-only text passes must each fuse
    into at least one WholeStageCodegen subtree (no interpreted hot
    path)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["abc_classification", "gopher_quality", "token_profile"]:
            s = (
                QUERIES[name](spark, SF_SMOKE)
                ._jdf.queryExecution()
                .explainString(mode)
            )
            n = int(s.splitlines()[0].split()[1])
            assert n > 0, f"{name}: no codegen subtrees\n{s.splitlines()[0]}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_hll_merge_tracks_exact_distinct(spark):
    """Mergeable-sketch rollup: daily HLL sketches unioned to weekly
    estimates stay within 5% of the exact distinct count (the checked
    query projects a ±10% flag instead of raw DataSketches values; this
    pins the tighter bound on the raw estimates)."""
    from manipula_o_de_dataframes_spark.queries import _hll_weekly_estimates
    from manipula_o_de_dataframes_spark.sources.io import read_table

    est = {
        r["semana"]: r["usuarios_estimados"]
        for r in _hll_weekly_estimates(spark, SF_SMOKE).collect()
    }
    e = read_table(spark, SF_SMOKE, "events")
    exact = {
        r["semana"]: r["n"]
        for r in e.groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("semana")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for wk, n in exact.items():
        assert abs(est[wk] - n) <= max(1, 0.05 * n), (wk, est[wk], n)


def test_ivf_cell_partitioned_layout_prunes_files(spark, tmp_path):
    """The ANN scale story end-to-end: embeddings written partitioned
    by IVF cell, a query touching one cell reads only that directory
    (PartitionFilters — ~1/k of the files at 100 TB)."""
    from manipula_o_de_dataframes_spark.operators.similarity import ivf_cell
    from manipula_o_de_dataframes_spark.sources.io import (
        read_table,
        write_partitioned,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    indexed = emb.withColumn("cell", ivf_cell(F.col("embedding"), cents))
    out = str(tmp_path / "emb_by_cell")
    write_partitioned(indexed, out, ("cell",))

    back = spark.read.parquet(out)
    one_cell = back.filter(F.col("cell") == 2)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:120]
    assert one_cell.count() == indexed.filter(F.col("cell") == 2).count()


def test_observed_metrics_ride_the_cleaning_pass(spark):
    """df.observe(): data-quality counters collected DURING the action
    (no second pass over the data) — the production shape for 'how many
    rows did the clean step null out' at 100 TB."""
    from pyspark.sql import Observation
    from manipula_o_de_dataframes_spark.sources.io import read_table

    o = read_table(spark, SF_SMOKE, "orders")
    obs = Observation("quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("n_pending"),
    )
    kept = observed.filter(F.col("o_orderstatus") == "P").count()
    assert obs.get["n_rows"] == o.count()
    assert obs.get["n_pending"] == kept


def test_python_udtf_splits_rows(spark):
    """UDTF surface (D-class): a table function exploding each doc into
    sentence-ish spans — one row in, many rows out, schema declared."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="span_idx: int, span: string")
    class SplitSpans:
        def eval(self, text: str):
            for i, part in enumerate(text.split(". ")):
                if part:
                    yield i, part

    spark.udtf.register("split_spans", SplitSpans)
    df = spark.createDataFrame(
        [("a. b. c",), ("single",)], "text string"
    )
    df.createOrReplaceTempView("v_spans_in")
    out = spark.sql(
        "SELECT s.span_idx, s.span FROM v_spans_in, LATERAL split_spans(text) s"
    ).collect()
    got = sorted((r["span_idx"], r["span"]) for r in out)
    assert got == [(0, "a"), (0, "single"), (1, "b"), (2, "c")]


def test_round3_map_only_queries_have_no_exchange(spark):
    """pii_scrub and embedding_quantize are pure scans (redaction /
    posexplode arithmetic) — any Exchange in their plans would mean an
    accidental shuffle in what must stay a map-only pass at 100 TB."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name in ("pii_scrub", "embedding_quantize"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "Exchange" not in plan, f"{name} plans a shuffle:\n{plan}"


def test_pack_sequences_single_shard_exchange(spark):
    """Sequence packing shuffles exactly once — hashpartitioning on the
    (lang, source) shard key for the window; a second exchange would
    mean the packing isn't shard-local."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["pack_sequences"](spark, SF_SMOKE))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 shard exchange, got {n_exchange}:\n{plan}"
    assert "lang" in plan and "source" in plan


def test_zorder_layout_bounds_every_dimension(spark, tmp_path):
    """The Z-order claim, proven from parquet footers: range-partition +
    sort on the Morton key gives every output file a bounded min/max
    extent in BOTH interleaved dimensions, while a single-column sort
    clusters only its own column (the other spans ~the full range in
    every file). Min/max stats are what the reader prunes on, so small
    per-file extents = skipped files for predicates on EITHER column.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from manipula_o_de_dataframes_spark.operators.layout import zorder_write
    from manipula_o_de_dataframes_spark.sources.io import read_table

    o = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).alias("day"),
    )
    zdir, sdir = str(tmp_path / "zorder"), str(tmp_path / "sorted")
    n_files = 16
    zorder_write(o, ["o_custkey", "day"], zdir, n_files)
    # contrast layout: classic single-column sort
    (
        o.repartitionByRange(n_files, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def mean_extent_fraction(path: str, col: str) -> float:
        import glob
        import os

        spans, lo, hi = [], None, None
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            fmin = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            fmax = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            spans.append(fmax - fmin)
            lo = fmin if lo is None else min(lo, fmin)
            hi = fmax if hi is None else max(hi, fmax)
        return (sum(spans) / len(spans)) / (hi - lo)

    # z-order: BOTH dimensions bounded well below the full range
    assert mean_extent_fraction(zdir, "o_custkey") < 0.5
    assert mean_extent_fraction(zdir, "day") < 0.5
    # single-column sort: its own column tight, the other unclustered
    assert mean_extent_fraction(sdir, "o_custkey") < 0.2
    assert mean_extent_fraction(sdir, "day") > 0.8


def test_bucketed_cotables_join_without_exchange(spark):
    """Co-bucketed tables join with ZERO Exchange nodes: the bucketing
    metadata satisfies the join's distribution requirement on both
    sides, so the shuffle paid once at write time never recurs. The
    broadcast threshold is disabled for the assertion — the point is
    the shuffle-free SORT-MERGE plan a huge-by-huge join would take.
    """
    from manipula_o_de_dataframes_spark.sources.io import write_bucketed

    o = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    l = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "b_orders", "o_orderkey", 8)
    write_bucketed(l, "b_lineitem", "l_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"co-bucketed join still shuffles:\n{plan}"
        # co-located join must still produce the right row count
        assert j.count() == read_table(spark, SF_SMOKE, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_round3_new_queries_plan_shapes(spark):
    """Shuffle discipline for the round-3 additions: the directed as-of
    and the RANGE rolling window each shuffle exactly once (on the key
    their window/merge needs), and the Morton-key projection is a pure
    map pass — an extra Exchange in any of them would be a regression
    the 100 TB story can't absorb."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name, want in (
        ("conversion_forward", 1),
        ("rolling_user_spend", 1),
        ("zorder_keys", 0),
        # counts aggregate + per-source window; quota totals are window
        # sums over the tiny weights frame, not a second agg subtree
        ("temperature_mix", 2),
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        got = plan.count("Exchange hashpartitioning")
        assert got == want, f"{name}: {got} exchanges (want {want})\n{plan}"
        if want == 0:
            assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"

    # Levenshtein verify must stay on LSH-pruned candidates: no
    # cartesian / nested-loop pair generation anywhere in the plan.
    plan = _plan(QUERIES["edit_distance_near_dup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_round4_new_queries_plan_shapes(spark):
    """Round-4 additions. kmeans_assign: the fixed-centroid cell is a
    pure map expression, so only the final occupancy aggregate may
    shuffle (1 Exchange). corpus_pipeline: after its two documented
    spools + the cluster fixpoint, the FINAL plan is one lazy
    composition — decontamination gram probe (doc_id distinct +
    anti-join) plus the mix/pack windows; the exchange count is pinned
    so a stage silently re-planning (e.g. the quota aggregate becoming
    a second scan subtree) fails here before it costs anything at
    scale."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["kmeans_assign"](spark, SF_SMOKE))
    got = plan.count("Exchange hashpartitioning")
    assert got == 1, f"kmeans_assign: {got} exchanges (want 1)\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    plan = _plan(QUERIES["corpus_pipeline"](spark, SF_SMOKE))
    got = plan.count("Exchange hashpartitioning")
    # doc_id-distinct gram hits + anti-join on doc_id + mix source
    # window + pack (lang,source) window + quota count agg = 5; the
    # heavy stages (gate, md5 dedup, LSH clustering) ran into the
    # spools and must NOT reappear in the final plan.
    assert got <= 6, f"corpus_pipeline: {got} exchanges\n{plan}"
    assert "levenshtein" not in plan.lower()
    assert plan.count("spark_graft_spool") >= 1 or "parquet" in plan.lower(), plan


def test_round4_late_queries_plan_shapes(spark):
    """Shuffle discipline for the late round-4 trio. cross_doc_block_
    dedup: by-block window + by-doc reassembly = exactly 2 hash
    exchanges. semantic_dedup: within-cell pairs come from a SIZE-GATED
    equi-join on (cell, salt) — at smoke scale the planner may
    broadcast the small side (fits under autoBroadcastJoinThreshold),
    so only the dup-distinct and the final vec_id join hash-shuffle;
    no nested-loop/cartesian pair generation (the no-forced-broadcast
    proof lives in test_semantic_dedup_never_forces_broadcast).
    countmin_heavy_hitters: gram counts + sketch cells + final probe
    agg = 3 hash exchanges, sketch probe side broadcast, all JVM-side
    (seed-prefixed md5, no Python)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name, want in (
        ("cross_doc_block_dedup", 2),
        ("semantic_dedup", 2),
        ("countmin_heavy_hitters", 3),
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        got = plan.count("Exchange hashpartitioning")
        assert got == want, f"{name}: {got} exchanges (want {want})\n{plan}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BroadcastNestedLoop" not in plan, f"{name}:\n{plan}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # the sketch probe must be a broadcast join
    plan = _plan(QUERIES["countmin_heavy_hitters"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, f"countmin lost its broadcast:\n{plan}"


def test_semantic_dedup_never_forces_broadcast(spark):
    """The r4 verdict's one scale bug: semantic_dedup hard-coded
    F.broadcast(<full embedding table>) — correct result, OOM plan at
    corpus scale. The r5 rewrite routes pairs through a salted
    (cell, salt) shuffle join and leaves broadcast to the size
    estimator. Proof: with autoBroadcastJoinThreshold off (how a
    100 TB side looks to the planner), the plan must contain NO
    BroadcastExchange anywhere — any survivor would be a hard-coded
    hint — and the pair join must be a shuffle join keyed by the
    salted composite so parallelism is k·s, not k."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERIES["semantic_dedup"](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "__salt" in plan and "SortMergeJoin" in plan, plan


def test_pmi_and_bloom_plan_shapes(spark):
    """pmi_collocations: two count aggregates + broadcast unigram
    enrich + one-row total attach; bloom_decontaminate: bitmap built by
    bit_or aggregation, attached as a ONE-ROW broadcast (the BM25
    in-plan-stats pattern), probed map-side — the only BNLJ allowed is
    that single-row attach, and nothing runs in Python."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name, want in (("pmi_collocations", 4), ("bloom_decontaminate", 4)):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        got = plan.count("Exchange hashpartitioning")
        assert got <= want, f"{name}: {got} exchanges (want <= {want})\n{plan}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_pq_and_quality_queries_plan_shapes(spark):
    """Shuffle discipline for the PQ/quality additions. pq_codes and
    quality_logistic are pure map expressions over one scan — ANY
    Exchange is a regression (at 100 TB they must fuse into the read).
    pq_topk / ivf_pq_topk: broadcast the 1-row query, score map-side,
    TakeOrderedAndProject — no hash shuffle at all. dsir_weights: bucket
    stats + per-doc rollup = bounded hash exchanges, and text must never
    be a shuffle column (only doc_id/bucket/count triples move)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    # (_docs_parallel's RoundRobin repartition — the deliberate
    # small-file parallelize for local testdata — is not a shuffle
    # defect; the bar is zero HASH exchanges, i.e. no keyed shuffle.)
    for name in ("pq_codes", "quality_logistic"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "Exchange hashpartitioning" not in plan, f"{name} shuffles:\n{plan}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # pq_topk is PURE map + TakeOrdered (query distances are literals
    # from the driver-side ADC table — no broadcast row at all);
    # ivf_pq_topk still broadcasts the 1-row query CELL for the prune.
    plan = _plan(QUERIES["pq_topk"](spark, SF_SMOKE))
    assert "Exchange hashpartitioning" not in plan, f"pq_topk:\n{plan}"
    assert "BroadcastExchange" not in plan, f"pq_topk regained a join:\n{plan}"
    assert "TakeOrderedAndProject" in plan, f"pq_topk lost top-k pushdown:\n{plan}"

    plan = _plan(QUERIES["ivf_pq_topk"](spark, SF_SMOKE))
    assert "Exchange hashpartitioning" not in plan, f"ivf_pq_topk:\n{plan}"
    assert "BroadcastExchange" in plan, f"ivf_pq_topk lost the cell broadcast:\n{plan}"
    assert "TakeOrderedAndProject" in plan, f"ivf_pq_topk lost top-k pushdown:\n{plan}"

    plan = _plan(QUERIES["dsir_weights"](spark, SF_SMOKE))
    got = plan.count("Exchange hashpartitioning")
    # bucket stats agg + per-(doc,bucket) agg + per-doc agg + lang join
    assert got <= 5, f"dsir_weights: {got} exchanges\n{plan}"

    plan = _plan(QUERIES["adaptive_quality_gate"](spark, SF_SMOKE))
    got = plan.count("Exchange hashpartitioning")
    # one source-window rank pass; the median joins back via broadcast
    assert got <= 2, f"adaptive_quality_gate: {got} exchanges\n{plan}"
    assert "BroadcastExchange" in plan, plan


def test_pq_serve_reads_codes_not_embeddings(spark):
    """The encode-once/serve-many split: pq_serve's SERVING plan must
    scan only the spooled 8-int code columns — if the embedding column
    ever appears in the plan, the query has regressed to re-encoding
    on the serve path (256 bytes/row of I/O instead of 8 at scale)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    df = QUERIES["pq_serve"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "embedding" not in plan, f"serve path re-reads vectors:\n{plan}"
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_round4_continuation_queries_plan_shapes(spark):
    """Shuffle discipline for the round-4 continuation queries — all
    four are pure-JVM plans (no Python eval anywhere). containment:
    one hash exchange (the band bucket); the shingle verify joins
    resolve as broadcasts at this SF and would AQE-shuffle at scale.
    boilerplate: (source,shingle) agg + per-source rank + n_docs agg
    = 3 hash exchanges, the n_docs attach must be a broadcast.
    gapfill: weekly agg + status distinct = 2, the one-row span agg is
    the only SinglePartition exchange, the spine attach broadcasts.
    grouped_split: countDistinct's two-phase agg = 2 exchanges max."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    def shape(name):
        p = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "EvalPython" not in p, f"{name}: Python in the hot path\n{p}"
        return p

    p = shape("containment_near_dup")
    assert p.count("Exchange hashpartitioning") <= 3, p

    p = shape("boilerplate_ngrams")
    assert p.count("Exchange hashpartitioning") <= 3, p
    assert "BroadcastExchange" in p, f"n_docs attach not broadcast\n{p}"

    p = shape("gapfill_weeks")
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert p.count("Exchange SinglePartition") <= 1, p

    p = shape("grouped_split")
    assert p.count("Exchange hashpartitioning") <= 2, p

    # hard_negatives: broadcast probes + the per-probe top-k window =
    # exactly one hash exchange of score tuples; vectors never shuffle.
    p = shape("hard_negatives")
    assert p.count("Exchange hashpartitioning") <= 1, p
    assert "BroadcastExchange" in p, p

    # basket_pairs: collect_set must RIDE the co-location shuffle (a
    # partial/final ObjectHashAggregate pair with no exchange between)
    # and the pair fan-out must be expression-side (Generate over the
    # set array, no self-join). AQE's plan string repeats the tree, so
    # pin the per-occurrence distinct exchanges instead of raw counts.
    df = QUERIES["basket_pairs"](spark, SF_SMOKE)
    p = _plan(df)
    assert "EvalPython" not in p, p
    assert "Generate explode" in p, f"pair fan-out not expression-side\n{p}"
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, (
        f"basket pairing regressed to a self-join\n{p}"
    )
    assert "TakeOrderedAndProject" in p, p

    # growth_accounting / rfm_segments: tuple-only shuffles, no Python.
    # RFM's three ntile windows run over the post-aggregation customer
    # frame — the documented single-partition posture (≤1 such
    # exchange; the three sorts share it). Each query asserted in its
    # own right (an earlier revision overwrote p before asserting —
    # ADVICE r4 — so three of these pins never ran).
    p = shape("growth_accounting")
    assert p.count("Exchange SinglePartition") <= 1, p

    # rfm_segments' three two-pass ranks now share ONE spool
    # (global_ranks_scaled, r10-opt), so the single serve plan holds
    # all three ≤32-row census offset windows — up to 3 tiny
    # single-partition exchanges, each over a bucket census, never
    # over the data (the ORDER-only-window scan below still rejects a
    # data-wide global window).
    p = shape("rfm_segments")
    assert p.count("Exchange SinglePartition") <= 3, p
    assert "__gr_bucket" in p, f"two-pass rank path missing\n{p}"

    # token_budget_select / repeat_purchase_gap: one key shuffle each
    # (source / customer), windows inside the partition. share_of_
    # parent: dims broadcast; the two share windows run over the
    # ≤25-row aggregate (single-partition posture).
    p = shape("token_budget_select")
    assert p.count("Exchange SinglePartition") <= 1, p

    p = shape("repeat_purchase_gap")
    assert p.count("Exchange SinglePartition") <= 1, p

    p = shape("share_of_parent")
    assert "BroadcastExchange" in p, f"dims not broadcast\n{p}"
    assert p.count("Exchange SinglePartition") <= 1, p


def test_round5_new_queries_plan_shapes(spark):
    """Shuffle discipline for the r5 trio. pagerank_items: basket
    collect + pair count + degree + 3 iteration joins — all tuple
    shuffles, no Python, no cartesian. prefix_dup_groups: ONE hash
    exchange of (md5, id, source) triples. winsorized_stats: rank
    window + bounds broadcast + final agg; the clip-bounds side must
    broadcast (model-artifact posture)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name, want in (
        ("pagerank_items", 12),
        ("prefix_dup_groups", 2),
        ("winsorized_stats", 4),
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        got = plan.count("Exchange hashpartitioning")
        assert got <= want, f"{name}: {got} exchanges (want <= {want})\n{plan}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BroadcastNestedLoop" not in plan, f"{name}:\n{plan}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    plan = _plan(QUERIES["winsorized_stats"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, f"clip bounds not broadcast\n{plan}"


def test_keyset_page_seek_pushes_down_and_takeordered(spark):
    """The seek's entire point at scale: the cursor's date bound must
    reach the parquet scan as a pushed filter (partition-prunable with
    a date layout) and the page must plan as TakeOrderedAndProject —
    never a global sort + skip like OFFSET pagination."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["keyset_page"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    # the filter list is long enough that toString truncates it before
    # the closing bracket — match the prefix, not a bracketed group
    assert "PushedFilters: [Or(GreaterThan(o_orderdate" in plan, plan
    assert "Exchange" not in plan, f"seek page must not shuffle\n{plan}"


def test_pages_plan_as_bounded_top_k(spark):
    """Offset pagination is a bounded top-k: each partition keeps a heap
    of ``hi`` rows and the merge sees partitions × ``hi`` — never a
    row_number window, whose plan sorts the whole frame on one task once
    ``hi`` passes the optimizer's window-group-limit threshold."""
    from manipula_o_de_dataframes_spark.operators.sorting import paginate
    from manipula_o_de_dataframes_spark.queries import (
        QUERIES,
        dashboard_page,
        product_client_history,
    )

    hist = product_client_history(spark, SF_SMOKE).cache()
    try:
        # the serve plan only: the cached history's own build plan is
        # printed under InMemoryRelation
        served = _plan(dashboard_page(hist)).split("InMemoryRelation")[0]
    finally:
        hist.unpersist()
    # hi = 2000, past the default windowGroupLimitThreshold of 1000
    deep = paginate(
        read_table(spark, SF_SMOKE, "orders"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        page=40,
        page_size=50,
    )
    orders_page = _plan(QUERIES["paginate_orders"](spark, SF_SMOKE))
    for plan in (orders_page, served, _plan(deep)):
        assert re.search(r"TakeOrderedAndProject\(limit=\d+, offset=\d+", plan), plan
        assert "Window" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan


def test_maxsim_plan_broadcasts_probe_and_stays_jvm(spark):
    """ColBERT serving shape: probe chunks broadcast, doc chunk
    features map-side, shuffles carry only (doc, q_idx, max) tuples —
    two hash exchanges (per-q max, per-doc sum), no Python, no
    cartesian pair generation against the corpus."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["maxsim_search"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_triangle_counts_plan_shape(spark):
    """Wedge-close discipline: the spooled edge list feeds wedge and
    closing joins as tuple-only shuffles — no Python, no cartesian,
    no data-proportional broadcast forced by the query."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["triangle_counts"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 8, plan


def test_kcenter_assignment_plan_is_map_side(spark):
    """The greedy's scan shape: the final assignment pass is map-only
    distance expressions over the scan plus a tiny occupancy agg and
    a broadcast center join — no Python, no cartesian, at most the
    one aggregate exchange."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["kcenter_coreset"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastExchange" in plan, plan


def test_winnow_plan_shuffles_fingerprints_not_text(spark):
    """Winnowing's scale shape: the pair stage reads the SPOOLED
    (fp, id, nfp) triples — no text column in the join lineage, no
    Python, no cartesian; bucket join + pair agg + final sort are the
    only exchanges."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    df = QUERIES["winnow_near_dup"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan
    # the pair join consumes the spool, not the documents scan
    assert "text" not in plan, plan


def test_label_propagation_plan_is_pregel_shaped(spark):
    """Each LPA round consumes the SPOOLED edge list (the basket
    fan-out runs once), joins (node, label) tuples, and windows per
    node — no Python, no cartesian, no basket recomputation; the
    lineitem scan must NOT appear in the final plan's lineage."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["label_propagation"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "lineitem" not in plan, plan


def test_trust_propagation_plan_reuses_edge_spool(spark):
    """TrustRank's Pregel shape: every iteration joins the SPOOLED
    degree-annotated edge list — the basket fan-out (lineitem scan)
    must not appear in the final plan; no Python, no cartesian."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["trust_propagation"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "lineitem" not in plan, plan


def test_cdc_census_plan_is_one_shuffle_over_spool(spark):
    """CDC's census shape: the explode consumes the SPOOLED chunk
    arrays (no re-derivation from text), then one md5-keyed aggregate
    plus the final sort — no Python, no cartesian."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["cdc_chunk_dedup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "text" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ewma_plan_is_one_fact_agg_no_python(spark):
    """EWMA's scale shape: one map-side-combined (week, type) decimal
    aggregate over the fact scan, one per-type collect — the array
    fold is pure JVM HOF expressions, no Python, no cartesian."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["ewma_weekly"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial" in plan.lower(), plan  # map-side combine on the fact agg


def test_kcore_plan_peels_spooled_edges(spark):
    """k-core rounds consume SPOOLED induced edge lists (the basket
    fan-out never replays); the only nested-loop join is the bounded
    one-row k-threshold broadcast. No Python anywhere."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["kcore_peel"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "lineitem" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_benford_plan_is_single_fact_agg(spark):
    """Benford's shape: one map-side-combined 9-group aggregate fused
    into the fact scan (plus the parallel-read repartition); the total
    is a global window over the 9-row census, the digit table rides a
    broadcast — no Python, no re-scan of the fact side."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["benford_audit"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastExchange" in plan, plan


def test_balanced_shards_plan_ranks_census_not_text(spark):
    """The rank stage orders (n_chars, doc_id) pairs only — the text
    column must never enter the plan; no Python, no cartesian."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    plan = _plan(QUERIES["balanced_shards"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "text" not in plan, plan


def test_aqe_skew_join_engages(spark, tmp_path):
    """The repo's skew story names two tools: manual salting
    (`salted_join`) and AQE skew handling. This proves the second
    actually engages: a 1000:1 hot-key join under lowered skew
    thresholds must show skew=true splits in the FINAL adaptive plan
    (AQE re-plans at runtime, so the proof reads the executed plan
    AFTER an action, not the static one)."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        hot = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), F.lit("d").alias("d"))
        j = hot.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution — count()
        # would build a fresh one and leave j's plan isFinalPlan=false
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew join never engaged:\n{plan[:4000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Partition pruning through a join (DPP): a fact table
    partitioned by year, joined to a dimension filtered to one year,
    must scan only that year's partition — the plan carries a
    dynamicpruning subquery on the partition column. This is the
    mechanism behind every 'date filters prune at the scan' claim
    when the filter arrives via a dimension instead of a literal."""
    from pyspark.sql import functions as F

    from manipula_o_de_dataframes_spark.sources.io import read_table

    fact_path = str(tmp_path / "fact_by_year")
    o = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("yr")
    )
    o.write.mode("overwrite").partitionBy("yr").parquet(fact_path)
    years = spark.createDataFrame(
        [(y, "pick" if y == 1997 else "skip") for y in range(1995, 2002)],
        "yr int, tag string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # fact must not be broadcast (that would sidestep the scan);
        # the dim carries the selective predicate DPP requires and is
        # hint-broadcast so the pruning filter reuses its exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.read.parquet(fact_path)
        j = fact.join(F.broadcast(years.filter(F.col("tag") == "pick")), "yr")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), f"no DPP subquery:\n{plan[:4000]}"
        # and the result really is one year's worth
        expect = o.filter(F.col("yr") == 1997).count()
        assert j.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_global_rank_scaled_queries_have_no_unbounded_single_partition(spark):
    """VERDICT r5 #4: the six global-window queries were correct but
    scale-killers — row_number()/ntile() over Window.orderBy(...) with
    no partition funnels the whole frame through ONE task. After the
    bucketed two-pass rewrite (operators/windows.py global_rank_scaled)
    every data-proportional window must be partitioned by __gr_bucket;
    the only SinglePartition stages left are census-bounded (the
    ≤n_buckets offsets frame, one-row totals). Pin: every row_number/
    rank windowspec in the plan carries the __gr_bucket partition, and
    the Python interpreter never appears."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    for name in (
        "balanced_shards",
        "curriculum_order",
        "key_gap_islands",
        "conversion_latency",
        "quantile_treatment_effects",
        "rfm_segments",
    ):
        p = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "EvalPython" not in p, f"{name}: Python in the hot path\n{p}"
        assert "__gr_bucket" in p, f"{name}: two-pass rank path missing\n{p}"
        for ln in p.splitlines():
            for fn in ("row_number() windowspecdefinition(", "rank(") :
                if fn in ln and "windowspecdefinition(" in ln:
                    # src_rank's per-source window (curriculum) and other
                    # key-partitioned windows are fine; only an ORDER-only
                    # spec (no partition columns before the first ASC/DESC
                    # sort spec... conservatively: no partition at all) is
                    # the straggler. A windowspecdefinition whose argument
                    # list starts directly with a sort order has no
                    # partition columns.
                    spec = ln.split("windowspecdefinition(", 1)[1]
                    first_arg = spec.split(",", 1)[0]
                    assert (
                        "DESC" not in first_arg and "ASC" not in first_arg
                    ) or "specifiedwindowframe" in first_arg, (
                        f"{name}: unpartitioned ranking window\n{ln}"
                    )

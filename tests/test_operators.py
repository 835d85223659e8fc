"""Unit tests for the semantic trap cases flagged in SURVEY.md §2/§7:
deterministic keep-first, by-name union alignment, rank ties, ABC
threshold edges, all-equal collapse, currency rendering, enrich
defaults, pagination disjointness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark.functions.formatting import brl, pct, week_label
from manipula_o_de_dataframes_spark.operators.aggregates import (
    all_equal_collapse,
    first_by,
    last_by,
    ordered_list,
)
from manipula_o_de_dataframes_spark.operators.cleaning import (
    backfill_columns,
    clean,
    dedupe_column_names,
    dedupe_rows,
    prune_unnamed,
)
from manipula_o_de_dataframes_spark.operators.joins import enrich, left_unique
from manipula_o_de_dataframes_spark.operators.sets import union_by_name
from manipula_o_de_dataframes_spark.operators.sorting import paginate
from manipula_o_de_dataframes_spark.operators.windows import abc_bucket


def test_prune_and_dedupe_column_names(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 4)], ["Unnamed: 0", "UF", "UF.1", "Cidade"]
    )
    out = dedupe_column_names(prune_unnamed(df))
    # Unnamed dropped; UF.1 NOT renamed (UF taken); order preserved
    assert out.columns == ["UF", "UF.1", "Cidade"]
    df2 = spark.createDataFrame([(1, 2)], ["Valor.1", "Cidade"])
    assert dedupe_column_names(df2).columns == ["Valor", "Cidade"]


def test_backfill_columns(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    out = backfill_columns(df, {"a": "", "b": "", "c": 0})
    assert set(out.columns) == {"a", "b", "c"}
    row = out.collect()[0]
    assert row["b"] == "" and row["c"] == 0


def test_dedupe_rows_keeps_first_in_explicit_order(spark):
    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")],
        ["key", "ord", "val"],
    )
    out = dedupe_rows(df, ["key"], [F.col("ord")]).orderBy("key").collect()
    assert [(r["key"], r["val"]) for r in out] == [("j", "z"), ("k", "a")]


def test_clean_pipeline(spark):
    df = spark.createDataFrame(
        [
            ("c1", "p1", "2024-01-02", 5.0, "x"),
            ("c1", "p1", "2024-01-02", 7.0, "y"),  # dup key, later order
            (None, None, None, None, "junk"),  # all-null keys
        ],
        ["Cliente", "Produto", "Dt", "Valor", "Unnamed: 9"],
    )
    out = clean(
        df,
        keys=["Cliente", "Produto", "Dt"],
        order_by=[F.col("Valor")],
        fill_zero=["Valor"],
        date_cols=["Dt"],
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["Valor"] == 5.0
    assert "Unnamed: 9" not in out.columns


def test_union_by_name_null_fill(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2, 9.5)], ["id", "only_b"])
    out = union_by_name(a, b).orderBy("id").collect()
    assert out[0]["only_b"] is None and out[1]["only_a"] is None


def test_first_last_by_with_ties(spark):
    df = spark.createDataFrame(
        [("g", "2024-01-01", 2, "b"), ("g", "2024-01-01", 1, "a"), ("g", "2024-02-01", 3, "c")],
        ["g", "dt", "seq", "v"],
    )
    out = df.groupBy("g").agg(
        first_by("v", ["dt", "seq"]).alias("first"),
        last_by("v", ["dt", "seq"]).alias("last"),
    ).collect()[0]
    assert out["first"] == "a" and out["last"] == "c"


def test_ordered_list_is_order_stable(spark):
    df = spark.createDataFrame(
        [("g", 3, "c"), ("g", 1, "a"), ("g", 2, "b")], ["g", "ord", "v"]
    ).repartition(4)
    out = df.groupBy("g").agg(ordered_list("v", ["ord"]).alias("xs")).collect()[0]
    assert out["xs"] == ["a", "b", "c"]


def test_all_equal_collapse(spark):
    df = spark.createDataFrame(
        [("u", "same"), ("u", "same"), ("m", "x"), ("m", "y")], ["g", "v"]
    )
    collapsed, full = all_equal_collapse("v")
    out = {
        r["g"]: (r["c"], r["xs"])
        for r in df.groupBy("g").agg(collapsed.alias("c"), full.alias("xs")).collect()
    }
    assert out["u"] == ("same", ["same", "same"])
    assert out["m"][0] is None and out["m"][1] == ["x", "y"]


def test_abc_bucket_threshold_edges(spark):
    df = spark.createDataFrame(
        [(79.99,), (80.0,), (80.01,), (95.0,), (95.01,)], ["cum"]
    )
    got = [r["b"] for r in df.select(abc_bucket("cum").alias("b")).collect()]
    assert got == ["A", "A", "B", "B", "C"]


def test_brl_pct_rendering(spark):
    df = spark.createDataFrame([(1234567.891,), (-0.5,), (None,)], "v double")
    rows = df.select(brl("v").alias("b"), pct("v").alias("p")).collect()
    assert rows[0]["b"] == "R$ 1,234,567.89"
    assert rows[1]["b"] == "R$ -0.50"
    assert rows[2]["b"] == ""
    assert rows[0]["p"] == "1,234,567.89%"


def test_week_label(spark):
    df = spark.createDataFrame([(0,), (3,)], "idx int")
    got = [r["w"] for r in df.select(week_label("idx").alias("w")).collect()]
    assert got == ["Semana Atual", "Semana -3"]


def test_enrich_defaults_unmatched(spark):
    facts = spark.createDataFrame([(1,), (2,)], "k long")
    dim = spark.createDataFrame([(1, "A")], "k long, abc string")
    out = {r["k"]: r["abc"] for r in enrich(facts, dim, "k", {"abc": "C"}).collect()}
    assert out == {1: "A", 2: "C"}


def test_left_unique_picks_deterministic_row(spark):
    facts = spark.createDataFrame([(1,)], "k long")
    dim = spark.createDataFrame(
        [(1, "late", 2), (1, "early", 1)], "k long, uf string, ord long"
    )
    out = left_unique(facts, dim, "k", [F.col("ord")], ["uf"]).collect()[0]
    assert out["uf"] == "early"


def test_paginate_pages_are_disjoint_and_ordered(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    order = [F.col("id")]
    p1 = {r["id"] for r in paginate(df, order, 1, 30).collect()}
    p2 = {r["id"] for r in paginate(df, order, 2, 30).collect()}
    p4 = {r["id"] for r in paginate(df, order, 4, 30).collect()}
    assert p1 == set(range(30)) and p2 == set(range(30, 60))
    assert p4 == set(range(90, 100))  # last partial page


def test_paginate_concatenates_to_the_total_order(spark):
    """Pages 1..k over 7 partitions under (g DESC, id) — a total order
    only through its tie-break — are pairwise disjoint and, in order,
    rebuild the sorted list the oracles' ROW_NUMBER window defines; the
    last page may be partial, a page past the end is empty."""
    rows = [(i % 4, i) for i in range(23)]
    df = spark.createDataFrame(rows, "g long, id long").repartition(7)
    order = [F.col("g").desc(), F.col("id")]
    expected = sorted(rows, key=lambda r: (-r[0], r[1]))
    for size in (1, 7):
        n_pages = -(-len(rows) // size)
        pages = [
            [tuple(r) for r in paginate(df, order, p, size).collect()]
            for p in range(1, n_pages + 2)
        ]
        *full, last, past_end = pages
        assert all(len(p) == size for p in full)
        assert len(last) == len(rows) - size * (n_pages - 1)
        assert past_end == []
        flat = [r for p in pages for r in p]
        assert len(set(flat)) == len(flat)  # pairwise disjoint
        assert flat == expected


def test_results_invariant_under_shuffle_partitioning(spark):
    """The determinism rules must make results identical under ANY
    partitioning — the distributed-correctness claim. Re-run three
    partitioning-sensitive queries (global window, keep-first dedup,
    two-pass bucketed cumsum) with a different shuffle-partition count
    and compare full sorted outputs."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    names = ["abc_classification", "abc_classification_scaled", "dedup_keep_first"]
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE

    def snapshot(name):
        df = QUERIES[name](spark, sf)
        pdf = df.toPandas()
        return pdf[sorted(pdf.columns)].sort_values(
            by=sorted(pdf.columns)).reset_index(drop=True)

    base = {n: snapshot(n) for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            again = snapshot(n)
            assert base[n].equals(again), f"{n} changed under repartitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both join sides on the join key co-locates them: the
    sort-merge join must plan with ZERO Exchange nodes — the 100 TB
    strategy for repeated big-to-big joins (pay one bucketed write,
    join shuffle-free forever after)."""
    from tests.conftest import SF_SMOKE
    from manipula_o_de_dataframes_spark.sources.io import read_table

    orders = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "orders_b")).saveAsTable("orders_b"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b")).saveAsTable("li_b"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table("orders_b"), spark.table("li_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        n = joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_exact_dedup_plans_as_aggregate_not_window(spark):
    """exact_dedup must collapse duplicates with a map-side-combinable
    aggregate (min_by), never a row_number window that shuffles and
    sorts every payload row — the 100 TB dedup shape (VERDICT r1 #5)."""
    from manipula_o_de_dataframes_spark.operators.dedup import exact_dedup
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    d = read_table(spark, SF_SMOKE, "documents")
    out = exact_dedup(d, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"exact_dedup still plans a window:\n{plan}"
    assert "Aggregate" in plan


def test_scaled_cumsum_leaves_no_persistent_rdds(spark):
    """with_pct_and_cum_scaled owns its cache: after the query is built
    and materialized, nothing stays pinned in the session (VERDICT r1 #7)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    # delta, not absolute: other operators (dedup_clusters) legitimately
    # hold localCheckpoint RDDs until GC — this query must add none.
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    QUERIES["abc_classification_scaled"](spark, SF_SMOKE).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"persistent RDDs grew: {before} -> {after}"


def test_cached_history_serves_interactions_from_memory(spark):
    """Q5: the dashboard's session_state/TTL-cache analog — once the
    working set is cached, per-interaction filter/sort/page plans read
    InMemoryTableScan, not the parquet sources."""
    from manipula_o_de_dataframes_spark.plans.history import product_client_history
    from manipula_o_de_dataframes_spark.operators.filters import dynamic
    from tests.conftest import SF_SMOKE

    hist = product_client_history(spark, SF_SMOKE).cache()
    try:
        hist.count()  # materialize once (the "process" button)
        page = dynamic(hist, {"ultimo_consultor": "R"}).orderBy("produto").limit(20)
        plan = page._jdf.queryExecution().executedPlan().toString()
        # (the InMemoryRelation node still *prints* its stored parquet
        # plan, so we assert the memory scan is present, not that the
        # string "Scan parquet" is absent)
        assert "InMemoryTableScan" in plan
        assert page.count() > 0
    finally:
        hist.unpersist()


def test_hash_split_is_pure_and_proportional(spark):
    """Sampling: split assignment is a pure function of the id (stable
    under repartitioning and corpus growth) and lands near 80/10/10."""
    from manipula_o_de_dataframes_spark.operators.sampling import hash_split
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    d = read_table(spark, SF_CORRECT, "documents")
    a = {r["doc_id"]: r["split"] for r in hash_split(d, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(d.repartition(13), "doc_id").collect()
    }
    assert a == b
    n = len(a)
    frac_train = sum(v == "train" for v in a.values()) / n
    assert 0.7 < frac_train < 0.9
    # growth stability: the sf0.001 subset keeps its sf0.01 assignments
    from tests.conftest import SF_SMOKE

    small = {
        r["doc_id"]: r["split"]
        for r in hash_split(read_table(spark, SF_SMOKE, "documents"), "doc_id").collect()
    }
    assert all(a[k] == v for k, v in small.items() if k in a)


def test_stratified_sample_size_and_determinism(spark):
    from manipula_o_de_dataframes_spark.operators.sampling import stratified_sample
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    d = read_table(spark, SF_CORRECT, "documents")
    s1 = stratified_sample(d, "lang", "doc_id", 5)
    counts = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in counts.values())
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(d.repartition(7), "lang", "doc_id", 5).collect())
    assert ids1 == ids2


def test_spool_honors_configured_root(spark, tmp_path, monkeypatch):
    """spool() must resolve its scratch root from session conf /
    SPARK_GRAFT_SPOOL_DIR before falling back to the local temp dir —
    the cluster hook (VERDICT r3 #3)."""
    from manipula_o_de_dataframes_spark.operators.spool import spool

    df = spark.range(5).withColumnRenamed("id", "v")

    env_root = tmp_path / "env_root"
    monkeypatch.setenv("SPARK_GRAFT_SPOOL_DIR", str(env_root))
    assert sorted(r["v"] for r in spool(df).collect()) == [0, 1, 2, 3, 4]
    assert env_root.is_dir() and any(env_root.iterdir())

    conf_root = tmp_path / "conf_root"
    spark.conf.set("spark.graft.spool.dir", str(conf_root))
    try:
        assert spool(df).count() == 5
        assert conf_root.is_dir() and any(conf_root.iterdir())
    finally:
        spark.conf.unset("spark.graft.spool.dir")


def test_checkpoint_policy_resolution():
    """graft_checkpoint's durability policy (VERDICT r4 #3): configured
    dir wins; local mode without one degrades to executor-local; a real
    cluster without one is a LOUD error, never a silent downgrade."""
    import pytest

    from manipula_o_de_dataframes_spark.operators.spool import (
        _resolve_checkpoint,
    )

    assert _resolve_checkpoint("yarn", "/scratch/ck", None) == "/scratch/ck"
    assert _resolve_checkpoint("local[32]", None, "/env/ck") == "/env/ck"
    assert _resolve_checkpoint("local[32]", None, None) is None
    with pytest.raises(RuntimeError, match="checkpoint dir"):
        _resolve_checkpoint("spark://host:7077", None, None)


def test_cc_fixpoint_uses_reliable_checkpoint_when_configured(
    spark, tmp_path, monkeypatch
):
    """With spark.graft.checkpoint.dir set, the star-contraction rounds
    must route through sparkContext.setCheckpointDir + df.checkpoint()
    — files land under the configured root (survivable storage on a
    cluster) and the clustering result is unchanged. The star path is
    FORCED (r10): the default local union-find path has no iterative
    lineage and deliberately writes no checkpoint, so the pin would
    otherwise never exercise what it pins."""
    from manipula_o_de_dataframes_spark.operators.dedup import dedup_clusters

    monkeypatch.setenv("SPARK_GRAFT_CC_FORCE_STAR", "1")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again toda"),
        (3, "the quick brown fox jumps over the lazy dog again"),
        (4, "a completely different document about spark checkpoints"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    ck_root = tmp_path / "reliable_ck"
    spark.conf.set("spark.graft.checkpoint.dir", str(ck_root))
    try:
        out = {
            r["doc_id"]: r["cluster"]
            for r in dedup_clusters(d, "text", "doc_id", jaccard_threshold=0.3)
            .collect()
        }
    finally:
        spark.conf.unset("spark.graft.checkpoint.dir")
    assert out[1] == out[2] == out[3]
    assert out[4] != out[1]
    assert ck_root.is_dir() and any(ck_root.rglob("*")), (
        "no reliable checkpoint files written under the configured root"
    )


def test_gapfill_produces_dense_spine_with_zero_rows(spark):
    """Every week between global min and max must appear for every
    status, absent cells as exact zeros — and zero rows must exist at
    the small SF (otherwise the fill is untested)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = QUERIES["gapfill_weeks"](spark, "/root/testdata/sf0.001").collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["semana"])
    weeks = set.union(*by_status.values())
    for status, got in by_status.items():
        assert got == weeks, f"status {status} missing weeks"
    zero_rows = [r for r in rows if r["n_orders"] == 0]
    assert zero_rows, "no gap cells at sf0.001 — fill semantics untested"
    assert all(r["valor_total"] == 0.0 for r in zero_rows)


def test_grouped_split_never_straddles_a_source(spark):
    """The leakage guarantee: each source maps to exactly one split."""
    from manipula_o_de_dataframes_spark.operators.sampling import hash_split
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    d = hash_split(read_table(spark, SF_CORRECT, "documents"), "source")
    straddlers = (
        d.groupBy("source")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert straddlers == 0


def test_graft_checkpoint_repoints_stale_dir(spark, tmp_path):
    """The conf is the source of truth: if someone already pinned the
    SparkContext's checkpoint root elsewhere (possibly a deleted temp
    dir), graft_checkpoint must re-point to the configured target, not
    silently reuse the stale root (r5 review finding)."""
    from manipula_o_de_dataframes_spark.operators.spool import graft_checkpoint

    stale = tmp_path / "stale_root"
    target = tmp_path / "configured_root"
    spark.sparkContext.setCheckpointDir(str(stale))
    spark.conf.set("spark.graft.checkpoint.dir", str(target))
    try:
        out = graft_checkpoint(spark.range(5))
        assert out.count() == 5
        assert target.is_dir() and any(target.rglob("*")), (
            "checkpoint files did not land under the configured target"
        )
    finally:
        spark.conf.unset("spark.graft.checkpoint.dir")


def test_global_rank_scaled_matches_plain_window(spark):
    """global_rank_scaled must be BIT-IDENTICAL to the plain global
    window it replaces, on data with heavy value ties (ties are the
    correctness risk: a tie split across buckets would corrupt both
    row_number tie-breaking and rank sharing). Duplicate-heavy values,
    a unique tie-break, both directions, rank and row_number, and a
    partitioned variant — each checked against the naive formulation."""
    from pyspark.sql import Window

    from manipula_o_de_dataframes_spark.operators.windows import (
        global_rank_scaled,
        ntile_from_rank,
    )

    rows = [(i, (i * 7) % 13, "g%d" % (i % 3)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, grp string")

    # row_number asc, heavy ties broken by id
    ref = df.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("rn"),
    )
    got = global_rank_scaled(df, "v", "rn", ascending=True, tiebreaks=("id",)).select(
        "id", "rn"
    )
    assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0

    # rank desc with ties shared, partitioned, plus the count companion
    refr = df.select(
        "id",
        F.rank().over(Window.partitionBy("grp").orderBy(F.col("v").desc()))
        .cast("long")
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).cast("long").alias("n"),
    )
    gotr = global_rank_scaled(
        df, "v", "rk", ascending=False, partition_cols=("grp",), kind="rank",
        count_col="n",
    ).select("id", "rk", "n")
    assert refr.exceptAll(gotr).count() == 0 and gotr.exceptAll(refr).count() == 0

    # ntile over awkward n (500 % 7 != 0 exercises big/small tiles)
    for k in (5, 7):
        refn = df.select(
            "id",
            F.ntile(k).over(Window.orderBy("v", "id")).cast("long").alias("t"),
        )
        base = global_rank_scaled(
            df, "v", "rn", ascending=True, tiebreaks=("id",), count_col="n"
        )
        gotn = base.select("id", ntile_from_rank("rn", "n", k).alias("t"))
        assert refn.exceptAll(gotn).count() == 0, k


def test_global_rank_scaled_rejects_null_values(spark):
    """A NULL order key would silently corrupt every bucket offset —
    the helper must refuse loudly (same contract as
    with_pct_and_cum_scaled)."""
    import pytest as _pytest

    from manipula_o_de_dataframes_spark.operators.windows import global_rank_scaled

    df = spark.createDataFrame([(1, 10), (2, None)], "id long, v long")
    with _pytest.raises(ValueError, match="non-null"):
        global_rank_scaled(df, "v", "rn")


def test_global_rank_scaled_rejects_nan_values(spark):
    """NaN in a floating order key buckets to 0 under the strict
    boundary compares but sorts LAST under a plain orderBy, so every
    later bucket offset would silently shift — the helper must refuse
    loudly (r6 ADVICE)."""
    import pytest as _pytest

    from manipula_o_de_dataframes_spark.operators.windows import global_rank_scaled

    df = spark.createDataFrame(
        [(1, 10.0), (2, float("nan")), (3, 3.0)], "id long, v double"
    )
    with _pytest.raises(ValueError, match="NaN"):
        global_rank_scaled(df, "v", "rn")


def test_ntile_from_rank_small_partition(spark):
    """k > n (q = floor(n/k) = 0): every row is a 'big' tile so the
    otherwise-branch is dead, but its divisor must still be
    well-defined (F.greatest guard, r6 ADVICE) and match F.ntile."""
    from pyspark.sql import Window

    from manipula_o_de_dataframes_spark.operators.windows import ntile_from_rank

    df = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    ref = df.select(
        "id", F.ntile(7).over(Window.orderBy("id")).cast("long").alias("t")
    )
    got = df.select(
        "id",
        F.row_number().over(Window.orderBy("id")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
    ).select("id", ntile_from_rank("rn", "n", 7).alias("t"))
    assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0


def test_exact_substr_dedup_spans_on_known_corpus(spark):
    """Hand-checkable ExactSubstr census: a 12-word passage shared by
    two docs merges its 5 duplicated 8-gram starts into ONE maximal
    span covering exactly 12 tokens; an intra-doc repeat of an 8-word
    phrase yields TWO spans of 8 (the phrase occurs twice in the
    corpus, positions far apart); short (<8 tokens) and fully-unique
    docs report zeros."""
    from manipula_o_de_dataframes_spark.queries import q_exact_substr_dedup

    shared = " ".join(f"s{i}" for i in range(12))       # the shared passage
    phrase = " ".join(f"p{i}" for i in range(8))        # intra-doc repeat
    docs = [
        (1, " ".join(f"a{i}" for i in range(20))),                       # unique
        (2, " ".join(f"b{i}" for i in range(5)) + " " + shared +
            " " + " ".join(f"c{i}" for i in range(5))),                  # shared@6
        (3, shared + " " + " ".join(f"d{i}" for i in range(9))),         # shared@1
        (4, phrase + " " + " ".join(f"e{i}" for i in range(10)) +
            " " + phrase),                                               # repeat
        (5, "x0 x1 x2"),                                                 # too short
    ]
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ess_test_")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        os.path.join(tmp, "documents.parquet")
    )
    try:
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
            for r in q_exact_substr_dedup(spark, tmp).collect()
        }
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    assert got[1] == (20, 0, 0)
    assert got[2] == (22, 1, 12), got[2]
    assert got[3] == (21, 1, 12), got[3]
    assert got[4] == (26, 2, 16), got[4]
    assert got[5] == (3, 0, 0)


def test_exact_substr_dedup_plan_is_jvm_side_and_doc_partitioned(spark):
    """Plan pin: no Python in the hot path, no cartesian, and every
    window is partitioned (duplicate-marking by gram hash __h,
    island-merge by doc_id) — never a corpus-wide single-partition
    frame."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    p = (
        QUERIES["exact_substr_dedup"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    for ln in p.splitlines():
        if "windowspecdefinition(" in ln:
            first_arg = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
            assert "doc_id" in first_arg or "__h" in first_arg, (
                f"unpartitioned window:\n{ln}"
            )


def test_cluster_safe_split_never_straddles_cross_source_near_dups(spark):
    """The decontamination invariant: two near-identical docs from
    DIFFERENT sources must land on the same side of the split (they
    share a cluster, and the split is a pure function of the cluster).
    train_split (doc-keyed) and grouped_split (source-keyed) both lack
    this guarantee — the point of the cluster-keyed variant."""
    from manipula_o_de_dataframes_spark.operators import dedup as dd
    from manipula_o_de_dataframes_spark.operators.sampling import hash_split

    passage = " ".join(f"w{i}" for i in range(30))
    docs = [
        (1, passage, "srcA"),
        (2, passage + " tail", "srcB"),     # near-dup of 1, OTHER source
        (3, " ".join(f"u{i}" for i in range(30)), "srcA"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, source string")
    clusters = dd.dedup_clusters(d, "text", "doc_id")
    got = {r["doc_id"]: (r["cluster"], r["split"])
           for r in hash_split(clusters, "cluster").collect()}
    assert got[1][0] == got[2][0], got          # one cluster
    assert got[1][1] == got[2][1], got          # hence one split
    assert got[3][0] == 3                        # singleton keeps own label


def test_cluster_safe_split_audit_reports_zero_straddle(spark):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = QUERIES["cluster_safe_split"](spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_docs"] for r in rows) == 500
    assert all(r["n_straddle_clusters"] == 0 for r in rows)
    assert all(r["n_clusters"] <= r["n_docs"] for r in rows)

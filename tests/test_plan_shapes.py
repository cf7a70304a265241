"""Physical-plan shape tests — lock in the scale properties the operators
claim (pushdown, broadcast, TakeOrdered, partial aggregation, column
pruning, OptimizeIn). A refactor that silently regresses one of these
changes the 100 TB story even if results stay correct."""

import pytest
from pyspark.sql import functions as F

from jira_cdc_git_spark.operators import graph as G
from jira_cdc_git_spark.operators import relational as R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(R.predicate_scan_agg(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_column_pruning(spark, sf_dir):
    plan = _plan(R.explode_wordcount(spark, sf_dir))
    # the documents scan must read ONLY the text column
    read = plan.split("ReadSchema")[1][:120]
    assert "text" in read and "lang" not in read and "source" not in read


def test_small_dim_broadcasts(spark, sf_dir):
    plan = _plan(R.join_revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semi_join_broadcasts(spark, sf_dir):
    plan = _plan(R.semi_join_segment(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(R.top_k(spark, sf_dir))
    assert "TakeOrderedAndProject" in _plan(R.multikey_sort_limit(spark, sf_dir))


def test_paged_scan_no_global_sort_before_limit(spark, sf_dir):
    plan = _plan(R.paged_scan(spark, sf_dir))
    # offset+limit compile into TakeOrderedAndProject (per-partition top-N);
    # the only window left runs over the 20 surviving rows
    assert "TakeOrderedAndProject" in plan


def test_paged_scan_keyset_pushes_cursor_predicate(spark, sf_dir):
    # S3 keyset variant: the cursor predicate must reach the parquet scan
    # and the limit must compile to TakeOrderedAndProject with NO offset —
    # page depth never increases per-partition work
    plan = _plan(R.paged_scan_keyset(spark, sf_dir, after_key=1000, n=20))
    assert "PushedFilters: [" in plan
    assert "o_orderkey" in plan.split("PushedFilters")[1][:200]
    assert "TakeOrderedAndProject" in plan
    assert "offset=" not in plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    plan = _plan(R.pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_hierarchy_has_no_global_window(spark, sf_dir):
    # the dense-key derivation replaced the row_number densification
    plan = _plan(G.hierarchy_over_orders(spark, sf_dir))
    assert "Window" not in plan


def test_jql_or_chain_becomes_in(spark):
    # U5 — the reference only SUGGESTS the OR→IN rewrite
    # (pkg/jql/builder.go:332-334); our compiler APPLIES it at ≥3 terms
    from jira_cdc_git_spark.jql import run_jql

    df = spark.createDataFrame(
        [("A-1", "A"), ("B-1", "B")], "key string, project_key string"
    )
    out = run_jql("project = A OR project = B OR project = C", df)
    plan = _optimized(out)
    assert "IN (" in plan.upper().replace("#", " ").replace("IN(", "IN (") or "INSET" in plan.upper()
    assert out.count() == 2
    # 2 terms stay as OR (below the reference's suggestion threshold)
    out2 = run_jql("project = A OR project = B", df)
    assert "OR" in _optimized(out2)


def test_ivf_assignment_is_narrow(spark, sf_dir):
    # centroid assignment must not shuffle the corpus: no Exchange between
    # the embeddings scan and the cluster_id projection other than the
    # spread repartition
    from jira_cdc_git_spark.operators.vectors import ivf_topk

    plan = _plan(ivf_topk(spark, sf_dir))
    assert "Window" not in plan  # old formulation used row_number


def test_bucketed_state_join_shuffles_candidates_only(spark, sf_dir, tmp_path):
    # the 100 TB CDC layout: state bucketed by key => state side of the
    # change join is read pre-partitioned, no Exchange above its scan
    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark.state import SyncStateStore

    store = SyncStateStore(str(tmp_path / "state"))
    issues = FX.issues(spark, sf_dir).limit(200).localCheckpoint()
    state = issues.selectExpr(
        "key", "project_key", "updated AS last_synced", "updated AS last_updated",
        "1 AS version", "'p' AS file_path", "CAST(0 AS LONG) AS file_size",
        "'c' AS checksum", "'success' AS sync_status",
        "CAST(NULL AS STRING) AS error_message", "1 AS sync_count",
    )
    store.save_bucketed(state, table="t_bucket_plan", buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the bucketing (not a broadcast) is what
        # avoids the state-side shuffle — the realistic big-state regime
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = store.filter_changes_bucketed(spark, issues, table="t_bucket_plan")
        plan = _plan(out)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan
        # exactly ONE Exchange: the candidate side; none above the bucketed scan
        assert plan.count("Exchange hashpartitioning") == 1
        # semantics: state == candidates (same updated), so nothing to sync
        assert out.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_plan")


def test_incremental_changes_single_shuffle_join(spark, sf_dir):
    plan = _plan(R.incremental_changes(spark, sf_dir))
    # one join; no cartesian, no nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    # the band self-join must be an equi-join on band_key — a regression to
    # CartesianProduct/NestedLoop would make the candidate stage all-pairs
    plan = _plan(T.simhash_neardup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_epic_discovery_membership_broadcasts(spark, sf_dir):
    from jira_cdc_git_spark.operators import jira as J

    # the linkedIssues member set is per-epic tiny; the compiler's marker
    # join must broadcast it, never shuffle the corpus
    plan = _plan(J.discover_epic_members(spark, sf_dir, "PROJ-0", "issue_links"))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    # benchmark n-gram sets are small by nature — the corpus side must
    # meet them via broadcast-hash join, never a shuffle on gram
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # column pruning: the documents scan reads doc_id+text only
    read = plan.split("ReadSchema")[1][:120]
    assert "text" in read and "lang" not in read and "source" not in read


def test_stratified_sample_no_shuffle(spark, sf_dir):
    # rate table is a broadcast dim; the corpus side is scan+filter —
    # a shuffle exchange anywhere means the sampling stopped being narrow
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.stratified_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_repetition_metrics_partial_aggregation(spark, sf_dir):
    # both hash aggregations must partial-aggregate map-side before the
    # doc_id shuffle (the map-side-combine contract of the Gopher rules)
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.repetition_metrics(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs


def test_pii_scrub_is_narrow_projection(spark, sf_dir):
    # detect+redact is one codegen'd projection: no join, and no shuffle
    # beyond the loader's small-file spread (hashpartitioning on doc_id —
    # a no-op on a real many-split table)
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.pii_scrub(spark, sf_dir))
    assert "Join" not in plan
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert all("doc_id" in ln for ln in shuffles), shuffles


def test_salted_collect_shuffles_on_token_and_salt(spark, sf_dir):
    # phase 1 must group on (tok, salt) — the skew split — before the
    # per-token merge; a plan whose first collect groups on tok alone has
    # silently dropped the salting and reintroduced the hot-key task
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.token_examples_salted(spark, sf_dir))
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("tok" in ln and "salt" in ln for ln in shuffles), shuffles


def test_corpus_shards_window_partitions_by_shard(spark, sf_dir):
    # the rank window must partition by shard — a global (empty-partition)
    # window would funnel the whole corpus through one task
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.corpus_shards(spark, sf_dir))
    assert "Window" in plan
    win = [ln for ln in plan.splitlines() if "Window" in ln][0]
    assert "shard" in win, win


def test_gopher_filters_narrow_projection(spark, sf_dir):
    # the rule battery is per-doc array math: no join, no shuffle at all
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.gopher_quality_filters(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_perplexity_buckets_window_is_per_lang(spark, sf_dir):
    # the tercile window must partition by lang — a global ntile would be
    # the single-partition scale-killer class
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.perplexity_buckets(spark, sf_dir))
    assert "ntile" in plan
    w = plan.split("Window")[1][:300]
    assert "lang" in w


def test_source_cap_window_is_per_source(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.source_cap_sample(spark, sf_dir))
    w = plan.split("Window")[1][:300]
    assert "source" in w


def test_token_budget_no_global_window(spark, sf_dir):
    # both prefix-sum passes must partition by (lang[, block]) — never a
    # single global cumsum window
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.token_budget_sample(spark, sf_dir))
    for seg in plan.split("Window")[1:]:
        assert "lang" in seg[:400]


def test_pmi_topk_take_ordered_and_partial_agg(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.pmi_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # global top-k, never full sort
    assert "partial_count" in plan or "partial_sum" in plan


def test_minhash_accuracy_candidate_scoped(spark, sf_dir):
    # inherits the LSH shape: equi-join on band_key, no all-pairs
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.minhash_accuracy_report(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_semdedup_cluster_scoped(spark, sf_dir):
    # the pair join must be an equi-join on cluster_id (SemDeDup's whole
    # point); assignment must stay window-free (narrow broadcast pass)
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.semdedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "Window" not in plan


def test_phash_neardup_candidate_scoped(spark, sf_dir):
    # the perceptual-hash pair join must key on band_val — a regression to
    # CartesianProduct would make image dedup all-pairs
    from jira_cdc_git_spark.operators import multimodal as MM

    plan = _plan(MM.phash_neardup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the whole point of the bucketed decomposition: the interval-overlap
    # join must execute as an equi-join on the bucket key, never a
    # BroadcastNestedLoopJoin/cartesian over the raw range predicate
    from jira_cdc_git_spark.operators import timeseries as TS

    plan = _plan(TS.range_join_concurrency(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_cartesian_in_any_registry_query(spark, sf_dir):
    # blanket scale guarantee over the WHOLE registry: no query may plan a
    # CartesianProduct. (BroadcastNestedLoopJoin is allowed — the 1-row
    # scalar broadcasts use it legitimately; an unbounded cartesian is
    # never legitimate.)
    import __spark_entry__ as E

    offenders = []
    for name, fn in E.queries().items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian product in: {offenders}"


def test_ivf_indexed_prunes_partitions(spark, sf_dir, tmp_path):
    # the materialized IVF layout's contract: the probe filter lands in
    # PartitionFilters (directory-level pruning), and the indexed query
    # returns exactly the in-memory ivf_topk result
    from jira_cdc_git_spark.operators import vectors as V

    path = str(tmp_path / "ivf_index")
    V.write_ivf_index(spark, sf_dir, path)
    out = V.ivf_topk_indexed(spark, sf_dir, path)
    plan = _plan(out)
    pf = plan.split("PartitionFilters: [")[1][:200]
    assert "cluster_id" in pf
    expected = [
        (r["vec_id"], r["cos_sim"])
        for r in V.ivf_topk(spark, sf_dir).collect()
    ]
    got = [(r["vec_id"], r["cos_sim"]) for r in out.collect()]
    assert got == expected


def test_ivfpq_indexed_prunes_and_broadcasts_in_one_plan(spark, sf_dir, tmp_path):
    # the composed IVF×PQ contract (r4 verdict task 3): ONE plan holding
    # BOTH the partition-pruned index scan (probe clusters only) AND the
    # broadcast PQ codebook/query; and the indexed result equals the
    # in-memory composition's
    from jira_cdc_git_spark.operators import vectors as V

    path = str(tmp_path / "ivfpq_index")
    V.write_ivf_index(spark, sf_dir, path)
    out = V.ivfpq_topk_indexed(spark, sf_dir, path)
    plan = _plan(out)
    pf = plan.split("PartitionFilters: [")[1][:200]
    assert "cluster_id" in pf
    assert "BroadcastExchange" in plan
    expected = [
        (r["vec_id"], r["cos_sim"])
        for r in V.ivfpq_topk(spark, sf_dir).collect()
    ]
    got = [(r["vec_id"], r["cos_sim"]) for r in out.collect()]
    assert got == expected
    # the composition's shortlist really came from PQ scores within the
    # probed clusters: rerank can only return probed vectors (k bounded
    # by the corpus size — a giant literal limit allocates by value in
    # TakeOrderedAndProject and can sink the JVM)
    from jira_cdc_git_spark.sources.registry import load_table

    n = load_table(spark, "embeddings", sf_dir).count()
    probed = {
        r["vec_id"] for r in V.ivf_topk(spark, sf_dir, k=n, n_probe=4).collect()
    }
    assert {v for v, _ in got} <= probed


def test_knn_join_partial_group_limit(spark, sf_dir):
    # batch k-NN join contract: the per-query top-k rank filter plans as
    # WindowGroupLimit BEFORE the exchange (map tasks forward at most k
    # rows per query), so the shuffle never carries the full scored
    # cross product; the query block broadcasts
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.knn_join(spark, sf_dir))
    pre_exchange = plan.split("+- Exchange")[-1]
    assert "WindowGroupLimit" in pre_exchange, plan
    assert "BroadcastExchange" in plan
    # 8 queries × top-5, query 0's nearest matches the single-query op
    rows = V.knn_join(spark, sf_dir).collect()
    assert len(rows) == 40
    q0 = sorted(
        ((r["rank"], r["vec_id"]) for r in rows if r["query_id"] == 0)
    )
    single = [
        (i + 1, r["vec_id"])
        for i, r in enumerate(V.cosine_topk(spark, sf_dir, k=5).collect())
    ]
    assert q0 == single


def test_ivf_knn_join_equi_join_candidates(spark, sf_dir):
    # IVF-pruned batch k-NN contract: candidate generation is a
    # broadcast-hash EQUI-join on cluster_id (never a nested loop over
    # corpus × queries), and the per-query top-k still gets the partial
    # WindowGroupLimit before its exchange
    from jira_cdc_git_spark.operators import vectors as V

    df = V.ivf_knn_join(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin [cluster_id" in plan, plan
    # partial + final WindowGroupLimit pair (map-side limit, then the
    # post-shuffle one) — two occurrences prove the partial push-down
    assert plan.count("WindowGroupLimit") >= 2, plan
    rows = df.collect()
    assert len(rows) == 40
    # the IVF probe can only LOSE candidates vs the exact batch join —
    # every returned neighbor must appear in the probed clusters, and
    # query 0's list matches the single-query IVF result
    q0 = [r["vec_id"] for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])) if r["query_id"] == 0]
    single = [r["vec_id"] for r in V.ivf_topk(spark, sf_dir, k=5).collect()]
    assert q0 == single


def test_salted_join_plan_and_parity(spark, sf_dir):
    # SURVEY §4.2 mega-epic salting (r4 verdict task 8): the salted
    # variant's shuffle keys include the salt column (the hot key's rows
    # spread over SALT_BUCKETS partitions), the dimension side carries
    # the explode replication, no broadcast hides the shuffle — and the
    # result set is EXACTLY the unsalted join's
    from jira_cdc_git_spark.operators import jira as J

    salted = J.skewed_epic_join(spark, sf_dir, salted=True)
    plan = _plan(salted)
    assert "BroadcastHashJoin" not in plan
    assert "salt" in plan and "Generate explode" in plan
    # the join's partitioning carries both keys
    import re as _re

    assert _re.search(r"hashpartitioning\(epic_key[^)]*salt", plan), plan
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in J.skewed_epic_join_unsalted(spark, sf_dir).collect()}
    assert a == b
    # the fixture really is skewed: the mega-epic holds ~half the edges
    from pyspark.sql import functions as F2

    top = (
        J._skewed_epic_edges(__import__("jira_cdc_git_spark.fixtures", fromlist=["x"]).issues_flat(spark, sf_dir))
        .groupBy("epic_key")
        .count()
        .orderBy(F2.desc("count"))
        .first()
    )
    assert top["epic_key"] == "PROJ-0"


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    # write_bucketed_table's contract: issues ⋈ state on `key`, both
    # sides bucketed at the same count, plans as a SortMergeJoin with
    # ZERO Exchange (the CDC hot path's recurring shuffle, deleted).
    # Broadcast is disabled inside the test so the tiny sf0.001 tables
    # can't hide bucketing behind a BroadcastHashJoin.
    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark.sinks import write_bucketed_table

    issues = FX.issues_flat(spark, sf_dir).select("key", "updated", "status_name")
    state = FX.sync_state(spark, sf_dir).select("key", "last_synced")
    write_bucketed_table(issues, "bkt_issues", str(tmp_path / "bi"), n_buckets=8)
    write_bucketed_table(state, "bkt_state", str(tmp_path / "bs"), n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_issues").join(spark.table("bkt_state"), "key")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # data contract intact: external files stay plain parquet
        n_cat = j.count()
        n_plain = (
            issues.join(state, "key").count()
        )
        assert n_cat == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_issues")
        spark.sql("DROP TABLE IF EXISTS bkt_state")


def test_ivf_index_upsert_appends_and_is_idempotent(spark, sf_dir, tmp_path):
    # incremental index maintenance contract: new vectors append into
    # their assigned cluster partitions (no rebuild), a replayed batch
    # appends nothing, and the appended clone of the query's nearest
    # neighbor shows up in the indexed top-k
    from jira_cdc_git_spark.operators import vectors as V
    from jira_cdc_git_spark.sources.registry import load_table

    path = str(tmp_path / "ivf_index")
    V.write_ivf_index(spark, sf_dir, path)
    n0 = spark.read.parquet(path).count()

    emb = load_table(spark, "embeddings", sf_dir)
    batch = emb.orderBy("vec_id").limit(4).select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
    )
    n_new = V.ivf_index_upsert(spark, batch, path)
    assert n_new == 4
    assert spark.read.parquet(path).count() == n0 + 4
    # replay: same batch appends nothing (at-least-once safety)
    assert V.ivf_index_upsert(spark, batch, path) == 0
    assert spark.read.parquet(path).count() == n0 + 4
    # each appended row sits in the same cluster as its source vector
    # (identical embedding → identical assignment)
    idx = spark.read.parquet(path)
    src = idx.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"),
        F.col("cluster_id").alias("src_cluster"),
    )
    moved = (
        idx.filter(F.col("vec_id") >= 7_000_000)
        .join(src, "vec_id")
        .filter(F.col("cluster_id") != F.col("src_cluster"))
    )
    assert moved.count() == 0
    # the exact clone of vec 0 is vec 0's new nearest neighbor
    top = V.ivf_topk_indexed(spark, sf_dir, path, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 7_000_000
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-6


def test_semdedup_gate_and_admit_vectors(spark, sf_dir, tmp_path):
    # embedding-side admission: a clone of a held vector is rejected, a
    # decorrelated vector is admitted and lands in the index; a replay of
    # the same batch admits nothing new (idempotent growth)
    from jira_cdc_git_spark.operators import vectors as V
    from jira_cdc_git_spark.sources.registry import load_table

    path = str(tmp_path / "ivf_index")
    V.write_ivf_index(spark, sf_dir, path)
    n0 = spark.read.parquet(path).count()

    emb = load_table(spark, "embeddings", sf_dir)
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(8_000_001).alias("vec_id"), "embedding"
    )
    # cyclic rotation decorrelates (same trick as the scale probe)
    novel = emb.filter(F.col("vec_id") == 0).select(
        F.lit(8_000_002).alias("vec_id"),
        F.concat(
            F.slice("embedding", 9, F.size("embedding") - 8),
            F.slice("embedding", 1, 8),
        ).alias("embedding"),
    )
    batch = clone.unionByName(novel)

    verdicts = {
        r["vec_id"]: r for r in V.semdedup_gate(spark, batch, path).collect()
    }
    assert verdicts[8_000_001]["flag_neardup"]
    assert verdicts[8_000_001]["max_corpus_cos"] >= 0.95
    assert verdicts[8_000_002]["admit"]

    res = V.admit_vectors(spark, batch, path)
    assert res == {"admitted": 1, "rejected": 1}
    idx = spark.read.parquet(path)
    assert idx.count() == n0 + 1
    assert idx.filter(F.col("vec_id") == 8_000_002).count() == 1
    # replay: the admitted vector is now held, so the clone-of-itself
    # check rejects it and the upsert appends nothing
    res2 = V.admit_vectors(spark, batch, path)
    assert res2["admitted"] == 0
    assert idx.count() == n0 + 1


# ---------- round-4 operators ----------


def test_duplicate_spans_windows_partition_by_doc(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.duplicate_spans(spark, sf_dir))
    # the island-merge windows must partition by doc_id — a global
    # (unpartitioned) window would single-thread the merge at scale
    assert "CartesianProduct" not in plan
    for frag in plan.split("Window ")[1:]:
        head = frag[:200]
        assert "doc_id" in head, f"unpartitioned window: {head}"


def test_bloom_filter_broadcasts(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.bloom_decontaminate(spark, sf_dir))
    # both static sides (bloom blocks, exact bench grams) broadcast;
    # the corpus side never shuffles on gram for the bloom arm
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_sq8_topk_is_takeordered_over_broadcasts(spark, sf_dir):
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.sq8_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # stats row + query row


def test_pq_topk_is_takeordered_over_broadcast_codebook(spark, sf_dir):
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.pq_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_mixture_resample_weights_broadcast(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.mixture_resample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # 20-row weights must never SMJ


def test_simhash_signatures_is_shuffle_free(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.simhash_signatures(spark, sf_dir))
    # the narrow single-fold map: no Exchange at all after the scan
    # (load_table_spread's repartition is the only allowed exchange)
    body = plan.split("Scan")[0]
    assert "Exchange hashpartitioning" not in body or "doc_id" in body
    assert "HashAggregate" not in plan


def test_bm25_topk_broadcast_postings_takeordered(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.bm25_topk(spark, sf_dir))
    # df + N/avgdl ride broadcasts; top-k is per-partition k + merge;
    # the per-doc length table is NEVER a join side (dl rides the
    # explode as a grouping key)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_weights_histograms_broadcast(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.dsir_importance_weights(spark, sf_dir))
    # the 1024-bucket histogram + totals are the only join sides —
    # both broadcast; the corpus never shuffles on bucket
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_broadcast_centroids(spark, sf_dir):
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.kmeans_assign(spark, sf_dir))
    # final assignment pass: centroid array broadcasts; the corpus is
    # scanned once with no shuffle before the assignment map
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rendezvous_shards_is_narrow(spark, sf_dir):
    # HRW assignment must stay a pure projection: no explode of the
    # shard candidates, no shuffle anywhere in the plan.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.rendezvous_shards(spark, sf_dir))
    assert "Generate" not in plan
    # load_table_spread's doc_id repartition is the only allowed exchange
    assert plan.count("Exchange") <= 1 and "HashAggregate" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    # Efraimidis-Spirakis top-k = per-partition top-k + driver merge,
    # never a global sort of the corpus.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.weighted_sample_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [key" not in plan  # no full-width global sort stage


def test_chi2_contingency_broadcasts_and_partial_aggs(spark, sf_dir):
    # the (source, term) contingency frame partial-aggs map-side; the
    # per-source totals / vocabulary df / grand total all broadcast back.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.chi2_keywords(spark, sf_dir))
    assert "partial_count" in plan
    assert plan.count("BroadcastExchange") >= 3


def test_char_entropy_partial_aggregates(spark, sf_dir):
    # shuffle mass must be docs x alphabet, which requires the per-
    # (doc, char) count to combine map-side before the exchange.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.char_entropy_report(spark, sf_dir))
    assert "partial_count" in plan


def test_phrase_search_joins_posting_lists_not_corpus(spark, sf_dir):
    # the adjacency join must consume term-filtered posting lists: the
    # token equality filters sit below the join, and the join itself is
    # an equi hash/merge join, never a nested loop.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.phrase_search(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    optimized = _optimized(T.phrase_search(spark, sf_dir))
    assert optimized.count("tok = ") + optimized.count("tok#") >= 2


def test_silhouette_broadcasts_centroids(spark, sf_dir):
    # the all-centroid scoring pass rides a 1-row broadcast array (the
    # _micro_assign discipline) — the corpus is never shuffled.
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.silhouette_report(spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_label_centroids_bounded_shuffle(spark, sf_dir):
    # per-label means partial-agg to labels x dims rows; the k x k pair
    # join is a broadcast.
    from jira_cdc_git_spark.operators import vectors as V

    plan = _plan(V.label_centroid_similarity(spark, sf_dir))
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decayed_engagement_single_partial_agg(spark, sf_dir):
    # the fixed-reference decay turns the EMA into one user_id partial
    # aggregation; the reference time is a 1-row broadcast.
    from jira_cdc_git_spark.operators import timeseries as TS

    plan = _plan(TS.decayed_engagement(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_mad_anomalies_broadcasts_group_stats(spark, sf_dir):
    # both percentile frames are per-type tiny and must broadcast back
    # onto the event stream.
    from jira_cdc_git_spark.operators import timeseries as TS

    plan = _plan(TS.mad_anomalies(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_allpairs_prefix_candidate_scoped(spark, sf_dir):
    # the exact all-pairs join must verify only prefix-colliding
    # candidates: no cartesian, no nested loop, and the posting-list
    # self-join is an equi join on the shingle.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.allpairs_prefix_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_proximity_search_equi_join(spark, sf_dir):
    # the NEAR filter must ride an equi join on doc_id — the distance
    # bound is a post-join filter, never a join condition that forces a
    # nested loop.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.proximity_search(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_normalize_windows_partition_by_source(spark, sf_dir):
    # the only window may partition BY SOURCE; the global distribution
    # must enter as a broadcast percentile grid, not a global sort.
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.quantile_normalize_scores(spark, sf_dir))
    assert "partitionBy=[source" in plan.replace(" ", "") or "source" in (
        plan.split("Window")[1][:200] if "Window" in plan else ""
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_coactivity_joins_on_bucket_key_not_nested_loop(spark, sf_dir):
    # the bipartite projection must extract the (hour, type) equi keys
    # from the mixed join condition — a nested-loop over events^2 is the
    # failure mode this operator exists to avoid
    from jira_cdc_git_spark.operators import timeseries as TS

    plan = _plan(TS.user_coactivity_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_r6_topk_queries_use_take_ordered(spark, sf_dir):
    # every r6 top-k ends in TakeOrderedAndProject (per-partition k +
    # driver merge), never a global sort
    from jira_cdc_git_spark.operators import graph as G
    from jira_cdc_git_spark.operators import timeseries as TS
    from jira_cdc_git_spark.operators import vectors as V

    for fn in (
        G.link_prediction_scores,
        G.textrank_keywords,
        TS.event_paths_topk,
        V.binary_hamming_topk,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_q3_q5_join_shapes(spark, sf_dir):
    # Q3: both selective dims broadcast, ship-date filter pushed to the
    # fact scan, top-k via TakeOrderedAndProject. Q5: every dim
    # broadcasts (6 BroadcastExchanges), no cartesian.
    from jira_cdc_git_spark.operators import relational as R

    p3 = _plan(R.shipping_priority_topk(spark, sf_dir))
    assert p3.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in p3
    assert "GreaterThan(l_shipdate" in p3  # pushed to the parquet scan
    p5 = _plan(R.local_supplier_volume(spark, sf_dir))
    assert p5.count("BroadcastExchange") >= 4
    assert "CartesianProduct" not in p5


# -- r8 TPC-H completion wave: the scale properties each analog claims ------


def test_q6_pushes_all_three_predicates(spark, sf_dir):
    plan = _plan(R.forecast_revenue_change(spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed
    assert "l_quantity" in pushed
    # no join anywhere — Q6 is a pure scan-agg
    assert "Join" not in plan


def test_q9_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(R.product_profit_by_nation(spark, sf_dir))
    # part/supplier/nation (and orders at this SF) all broadcast; the
    # name-token filter reaches the part scan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or "o_orderkey" in plan
    pushed_part = [
        seg for seg in plan.split("PushedFilters")[1:] if "p_name" in seg[:300]
    ]
    assert pushed_part, "name-token filter must reach the part scan"


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    plan = _plan(R.disjunctive_band_revenue(spark, sf_dir))
    segs = plan.split("PushedFilters")[1:]
    # the quantity OR-bands reach the lineitem scan, the brand/size
    # OR-bands reach the part scan (CNF extraction both sides)
    assert any("l_quantity" in s[:600] and "Or(" in s[:600] for s in segs)
    assert any("p_brand" in s[:600] for s in segs)


def test_q21_status_filter_pushed_and_topk(spark, sf_dir):
    plan = _plan(R.waiting_suppliers_report(spark, sf_dir))
    assert any(
        "o_orderstatus" in s[:300] for s in plan.split("PushedFilters")[1:]
    )
    assert "TakeOrderedAndProject" in plan


# -- r9 wave: the scale properties the new flagships claim ------------------


def test_bottomk_sample_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(R.bottomk_quantile_sketch(spark, sf_dir))
    # the K-row sample: per-partition bottom-K merged on the driver —
    # a TakeOrderedAndProject with limit 1024 on the hash column
    assert "TakeOrderedAndProject" in plan
    assert "1024" in plan.split("TakeOrderedAndProject")[1][:200]
    assert "CartesianProduct" not in plan


def test_gap_fill_generates_grid_above_every_exchange(spark, sf_dir):
    from jira_cdc_git_spark.operators import timeseries as TS

    # executedPlan prints the operator tree top-down, one node per line
    tree = _plan(TS.gap_fill_locf(spark, sf_dir))
    # the dense-grid explode (Generate) must sit ABOVE the last Exchange:
    # grid rows are produced in the final projection, never shuffled
    gen_pos = tree.index("Generate")
    last_exchange = tree.rindex("Exchange")
    assert gen_pos < last_exchange, (
        "explode must appear above (before, in tree print order) every "
        "Exchange — the grid is generated post-shuffle"
    )


def test_theil_sen_pairs_are_broadcast_bounded(spark, sf_dir):
    plan = _plan(R.theil_sen_trend(spark, sf_dir))
    # the day-pair join is a broadcast nested-loop over the bounded
    # day frame — never a shuffled cartesian of order rows
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_jsd_pair_grid_broadcasts(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.token_js_divergence(spark, sf_dir))
    # the pair fan-out joins the vocab-bounded count frame against a
    # BROADCAST pair grid; no sort-merge join over corpus rows
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_edit_distance_blocks_on_band_key_no_cartesian(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.edit_distance_neardup(spark, sf_dir))
    # candidates come from an equi-join on (lang, band) — sorted-
    # neighborhood blocking, never an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_association_rules_broadcast_supports(spark, sf_dir):
    from jira_cdc_git_spark.operators import timeseries as TS

    plan = _plan(TS.event_association_rules(spark, sf_dir))
    # the |types|-row support table and the 1-row total broadcast; the
    # only shuffle-scale join is the user-keyed basket self-join
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_hill_top_k_filters_before_estimate(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.hill_tail_index(spark, sf_dir))
    # the per-lang window ranks (lang, n_chars, doc_id) projections,
    # not whole documents: text never reaches the window
    assert "text" not in plan.split("Window")[0].split("ReadSchema")[-1]
    assert "CartesianProduct" not in plan


def test_repeated_substring_joins_on_gram_key_no_cartesian(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.repeated_substring_report(spark, sf_dir))
    # the pair stage is an equi-join on the gram key over the cap-
    # filtered index — never an all-pairs product; the island window
    # partitions by (pair, diag) over candidate mass only
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rbo_grid_and_lists_broadcast(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.rbo_ranking_agreement(spark, sf_dir))
    # the <= k-row rank intersection enters the k-row weight grid as a
    # broadcast; both rankers ride their posting-scoped top-k plans
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_wasserstein_runs_on_length_grid(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.wasserstein_drift_report(spark, sf_dir))
    # text is never read: the scan projects only (source, n_chars)
    assert "text" not in plan.split("ReadSchema")[-1].split("\n")[0]
    assert "CartesianProduct" not in plan


def test_bigram_entropy_aggregates_before_windows(spark, sf_dir):
    from jira_cdc_git_spark.operators import text as T

    plan = _plan(T.bigram_entropy_rate(spark, sf_dir))
    # the corpus-scale work is the (lang, a, b) hash aggregate; the
    # marginals are distributed groupBy aggregates joined back — the
    # |langs|-row Σn side as a broadcast, the (lang, a) context totals
    # hash-partitioned — NOT partitionBy("lang") windows, which would
    # sort an entire language's distinct-bigram vocabulary in one task
    # (r11 verdict What's-wrong #3)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the |langs|-row Σn side
    assert "Window" not in plan  # no single-task per-lang sort


def test_kn_perplexity_joins_are_keyed_and_cartesian_free(spark, sf_dir):
    from jira_cdc_git_spark.operators import lm as LM

    df = LM.kn_perplexity_report(spark, sf_dir)
    plan = _plan(df)
    # the probability assembly is all keyed joins over the (materialized)
    # trigram-type frame: no cartesian anywhere, no single-task window
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    # the |langs|-row discount/total sides must ride broadcasts at
    # fixture scale (at 100 TB the big type-table joins flip to
    # shuffle joins — they are keyed, so Catalyst is free to choose)
    assert "BroadcastHashJoin" in plan


def test_lr_score_is_narrow_after_training(spark, sf_dir):
    from jira_cdc_git_spark.operators import lm as LM

    df = LM.quality_lr_score(spark, sf_dir)
    plan = _plan(df)
    # inference is a pure projection over the materialized feature
    # frame with the trained weights inlined as literals: no join of
    # any kind, no window, no aggregation in the scoring path
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_kn_split_window_runs_on_histogram_not_corpus(spark, sf_dir):
    from jira_cdc_git_spark.operators import lm as LM

    df = LM.kn_perplexity_split(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the only Window is the per-lang cumulative sum over the VALUE
    # HISTOGRAM (distinct micro-score grid — constant-bounded), and it
    # is partitioned — never a global single-task sort
    assert plan.count("Window") >= 1
    assert "PartitionBy: [lang" in plan or "partitionBy" in plan.lower() or "hashpartitioning(lang" in plan


def test_git_commit_frame_is_join_free(spark, sf_dir):
    # the git sink's commit frame is one projection of the issue row: a
    # join back to the issues on key alone turned k versions of a key
    # into k² commits
    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark import sinks_git

    src = FX.issues(spark, sf_dir)
    issues = spark.createDataFrame(src.limit(5).collect(), src.schema)
    assert "Join" not in _plan(sinks_git._commit_frame(issues))

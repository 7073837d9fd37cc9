"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
engine's scale story depends on must be visible in the executed plan —
filter pushdown into the parquet scan, column pruning, broadcast hash
joins for star dims, TakeOrderedAndProject for top-k, and partition
pruning on the hive-partitioned silver fact. A plan that silently
regresses to a shuffle join or a full-column scan would still pass the
value-equality oracles; these tests pin the plan itself."""

from __future__ import annotations

import re

import pytest

from erathia_market_etl_spark.plans import all_queries, local_queries

from .conftest import SF_T2

QUERIES = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan_of(df) -> str:
    """Execute, then read the AQE-final plan (codegen annotations and
    runtime join choices only appear after execution). collect() drives
    the DataFrame's own QueryExecution — a write would plan a fresh one."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_silver_clean_pushes_filters_to_scan(spark):
    df = QUERIES["silver_clean_fact"](spark, SF_T2)
    plan = plan_of(df)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    # the quantity predicate reaches the parquet reader; the key
    # IS NOT NULL predicates are constant-folded away entirely because
    # the fixture schema marks those columns non-nullable - correct
    # (cheaper than pushing), so assert they don't survive as a
    # residual Filter above the scan either
    assert "Not(EqualTo(l_quantity,0.0))" in pushed.group(1)
    assert "isnotnull(l_orderkey" not in plan.lower()


def hint_count(df) -> int:
    """Number of broadcast HINTS surviving into the optimized logical
    plan (`rightHint=(strategy=broadcast)` markers). A hint bypasses
    autoBroadcastJoinThreshold AND AQE's size check, so it is only
    legitimate on fixed-cardinality dims (region 5 rows, nation 25);
    r9's verdict found forced hints on the SF-scaling customer/part/
    supplier tables — works at sf0.1, OOMs at 100 TB."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "strategy=broadcast"
    )


def test_q1_prunes_columns_and_broadcasts_dims(spark):
    df = QUERIES["q1_net_revenue_by_nation"](spark, SF_T2)
    plan = plan_of(df)
    # all three joins broadcast at this SF - the fact side never shuffles
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # ...but only the bounded nation dim is HINTED; customer and orders
    # broadcast because the size threshold says so (r10, VERDICT r9
    # item 1) and will legitimately shuffle at cluster scale
    assert hint_count(df) == 1, "only nation may carry a broadcast hint"
    # lineitem scan reads exactly the 4 referenced columns
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"}


def test_topk_uses_take_ordered_not_global_sort(spark):
    # O4: ORDER BY + LIMIT over an aggregate plans as per-partition
    # heaps plus a driver merge of k rows, never a global sort
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_q3_filter_pushed_through_join(spark):
    # c_mktsegment = 'BUILDING' must reach the customer scan, not sit
    # above the join
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(c_mktsegment,BUILDING)" in p for p in pushed), plan


def test_q3_join_chain_is_all_broadcast_topk(spark):
    """q3's intended shape, pinned after its r6 bench drift was
    root-caused to cross-round timing noise (r7: two back-to-back
    idle-machine bench runs moved UNTOUCHED queries ±30-65%, and the
    fixtures are regenerated every round) rather than a plan change:
    this test makes any FUTURE genuine plan regression — an AQE
    threshold flip to sort-merge on the lineitem⋈orders side, a lost
    TakeOrderedAndProject — fail loudly instead of reading as more
    wobble."""
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # r10: customer is threshold-broadcast, not hinted — nation only
    assert hint_count(df) == 1, "only nation may carry a broadcast hint"


def test_q2_q4_q5_broadcast_without_scaling_hints(spark):
    """The other three star headliners after the r10 hint fix: every
    join still plans as broadcast at fixture SF (values and local plans
    unchanged), but the only surviving HINTS are on the
    fixed-cardinality region/nation dims — part (q2/q4), customer and
    supplier (q5) are threshold-broadcast, free to shuffle at 100 TB."""
    q2 = QUERIES["q2_monthly_price_history"](spark, SF_T2)
    assert hint_count(q2) == 0, "q2: part/orders must be unhinted"
    assert plan_of(q2).count("BroadcastHashJoin") == 2

    q4 = QUERIES["q4_part_popularity"](spark, SF_T2)
    assert hint_count(q4) == 0, "q4: part must be unhinted"
    assert plan_of(q4).count("BroadcastHashJoin") == 1

    q5 = QUERIES["q5_regional_local_supplier_volume"](spark, SF_T2)
    # region (5 rows) + the nation⋈region output (≤25 rows) only
    assert hint_count(q5) == 2, "q5: only region/nation hints allowed"
    plan5 = plan_of(q5)
    assert plan5.count("BroadcastHashJoin") == 5, plan5
    assert "SortMergeJoin" not in plan5 and "ShuffledHashJoin" not in plan5


def test_sim_topk_ivf_all_broadcast_no_data_shuffle(spark):
    """sim_topk_ivf's intended shape, pinned after its r8 +19.6% bench
    drift (0.907 -> 1.085 s) got the q3 treatment in r9: the r7->r8
    source diff never touched the query's subtree (_ivf_scored and
    sim_topk_ivf were byte-identical; the adjacent commits 57782c2 and
    e463d28 changed only the PQ re-rank sourcing), and an isolated
    exec-only 8-run band at sf0.1 measured 0.737-1.1 s — bracketing
    both round values, so the level is environment, not plan. The
    shape any regression must not lose: centroid fold to ONE broadcast
    row, probes broadcast into a BroadcastHashJoin on cid, and a
    TakeOrderedAndProject top-k; the only Exchange is the
    SinglePartition centroid collect_list (16 rows) — the corpus never
    rides a hash exchange."""
    plan = plan_of(QUERIES["sim_topk_ivf"](spark, SF_T2))
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # r16: the centroid fold (a SinglePartition collect_list feeding an
    # interpreted transform/array_max HOF per corpus row) became a
    # bounded driver collect whose Arrow argmax scorer ships the
    # centroids in its closure — cell assignment shows up as
    # ArrowEvalPython and the plan carries NO exchange at all besides
    # the broadcast of the tiny probe list; the corpus still never
    # rides a hash exchange
    assert "ArrowEvalPython" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            raise AssertionError(plan)


def test_whole_stage_codegen_covers_relational_path(spark):
    df = QUERIES["q1_net_revenue_by_nation"](spark, SF_T2)
    plan = final_plan_of(df)
    # '*(n)' prefixes are WholeStageCodegen stage markers in treeString;
    # the aggregate and the join chain must both be inside codegen stages
    assert "isFinalPlan=true" in plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan
    assert re.search(r"\*\(\d+\) BroadcastHashJoin", plan), plan


def test_partition_pruning_on_hive_fact(spark, tmp_path):
    """A year/month predicate over the partitioned silver fact must scan
    only matching partitions (PartitionFilters), not all of them."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.generator.bronze import generate_bronze
    from erathia_market_etl_spark.pipeline import run_silver

    work = str(tmp_path)
    generate_bronze(f"{work}/bronze", weeks=5)
    run_silver(spark, f"{work}/bronze", f"{work}/silver")
    fact = spark.read.parquet(f"{work}/silver/fact_sales")
    one_month = fact.filter((F.col("year") == 1168) & (F.col("month") == 3))
    plan = plan_of(one_month)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "year" in pf.group(1) and "month" in pf.group(1), plan
    # and the partition columns are NOT in the data-filter list
    assert "PushedFilters: []" in plan or "year" not in re.search(
        r"PushedFilters: \[([^\]]*)\]", plan
    ).group(1)


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact_hash"](spark, SF_T2)
    plan = plan_of(df)
    # content-hash dedup is one exchange for the groupBy + one for the
    # final orderBy (rangepartitioning) - nothing else
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 2, plan


def test_length_trim_no_single_partition_over_corpus(spark):
    """text_length_trim's rank decomposition (r4 VERDICT #1): the
    per-row rank window must partition by n_chars (distributed), and
    the only SinglePartition exchange allowed is the one feeding the
    tiny distinct-lengths cumulative sum — i.e. every SinglePartition
    subtree aggregates BEFORE exchanging; none may sit directly over
    the documents scan."""
    df = QUERIES["text_length_trim"](spark, SF_T2)
    plan = plan_of(df)
    assert re.search(
        r"row_number\(\) windowspecdefinition\(n_chars#\d+", plan
    ), plan
    lines = plan.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(sp) <= 1, plan
    for i in sp:
        below = "\n".join(lines[i + 1:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert 0 <= agg_pos < scan_pos, (
            f"SinglePartition exchange not fed by an aggregate:\n{plan}"
        )


def test_pack_shards_running_sum_is_hierarchical(spark):
    """pack_token_budget_shards (r4 VERDICT #2): the corpus running-sum
    window must partition by (source, blk) — parallelism scales with
    block count, not #sources — and any source-only exchange may only
    carry the per-BLOCK table (aggregated before exchanging)."""
    df = QUERIES["pack_token_budget_shards"](spark, SF_T2)
    plan = plan_of(df)
    assert re.search(
        r"windowspecdefinition\(source#\d+, blk#\d+L?, doc_id#\d+", plan
    ), plan
    lines = plan.splitlines()
    src_only = [
        i for i, ln in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", ln)
    ]
    for i in src_only:
        below = "\n".join(lines[i + 1:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert 0 <= agg_pos < scan_pos, (
            f"source-only exchange not fed by the per-block aggregate:\n{plan}"
        )


def test_lsh_pipelines_minimal_shuffle_inventory(spark):
    """The LSH candidate generators must keep their minimal exchange
    set — in particular the cap window and the bucket groupBy share ONE
    hash exchange on the band keys (Catalyst reuses the partitioning).
    A regression that re-shuffles between cap and collect_list doubles
    the biggest exchange at 100 TB."""
    from erathia_market_etl_spark.operators.dedup import minhash_candidate_pairs
    from erathia_market_etl_spark.operators.similarity import sign_band_near_pairs
    from erathia_market_etl_spark.sources.parquet_io import load_table

    docs = load_table(spark, SF_T2, "documents")
    pairs = minhash_candidate_pairs(docs, "text", "doc_id")
    hash_ex = [ln for ln in plan_of(pairs).splitlines()
               if "Exchange hashpartitioning" in ln]
    # (doc) signature agg + (band_idx, band_key) shared window/groupBy +
    # (doc_a, doc_b) distinct — the fan_out round-robin is separate
    assert len(hash_ex) <= 3, "\n".join(hash_ex)

    emb = load_table(spark, SF_T2, "embeddings")
    band_pairs = sign_band_near_pairs(emb)
    hash_ex = [ln for ln in plan_of(band_pairs).splitlines()
               if "Exchange hashpartitioning" in ln]
    # (band_idx, band_key) shared + (vec_a, vec_b) distinct; the verify
    # joins must ride BroadcastExchange, not extra shuffles
    assert len(hash_ex) <= 2, "\n".join(hash_ex)


@pytest.mark.parametrize(
    "name",
    ["topk_per_group", "dedup_minhash_lsh_pairs", "sim_similar_pairs"],
)
def test_rank_limits_push_map_side_group_limit(spark, name):
    """Every rank-limit window in the registry must plan a PARTIAL
    WindowGroupLimit: each map task keeps only k rows per group BEFORE
    the window's exchange. This is what makes the two shapes safe at
    scale — topk_per_group partitions by a 3-value key (without the
    partial limit, one task per key sorts the whole group), and the
    LSH bucket caps bound degenerate corpora (an all-identical corpus
    collapses into one bucket; the partial limit caps it at 256 rows
    per map task instead of N rows in one sort). Losing the pushdown
    (e.g. by switching row_number to a non-rank function or adding a
    second window column) would still pass the value oracles."""
    # Explicit lookup in both tiers: a name that leaves the registry
    # fails with KeyError instead of silently testing something else.
    if name in QUERIES:
        fn = QUERIES[name]
    else:
        fn, _ = local_queries()[name]
    plan = plan_of(fn(spark, SF_T2))
    assert re.search(r"WindowGroupLimit .*, Partial", plan), name
    assert re.search(r"WindowGroupLimit .*, Final", plan), name


def test_batch_ann_broadcasts_probes_and_limits_window(spark):
    """sim_topk_batch (r5 VERDICT item 3): the (qid, cid, qvec) probe
    table must attach to the cell table via BROADCAST (the corpus-wide
    cell side never shuffles to be scored), and the per-query rank cut
    must be a two-phase WindowGroupLimit on hash(qid) — the only
    exchange after IVF assignment, carrying already-rank-limited rows."""
    plan = plan_of(QUERIES["sim_topk_batch"](spark, SF_T2))
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan), plan
    assert re.search(r"WindowGroupLimit .*, Final", plan), plan
    # after assignment, the only hash exchange is the window's hash(qid)
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) == 1 and "qid" in hash_ex[0], "\n".join(hash_ex)


def test_skew_salted_exchanges_carry_the_salt(spark):
    """skew_salted_type_profile (r5 VERDICT item 4): the salted shapes
    must actually plan — the two-phase aggregation's first exchange and
    the fact-side join exchange both hash on (event_type, __salt), and
    the dim attaches through a SortMergeJoin keyed on the salt (the
    too-big-to-broadcast regime salting exists for). Salt-invariance of
    the VALUES is the oracle's job; this pins that the salt spread the
    hot keys over reducers instead of being optimized away."""
    plan = plan_of(QUERIES["skew_salted_type_profile"](spark, SF_T2))
    salted_ex = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(event_type#\d+, __salt#\d+", ln)
    ]
    assert len(salted_ex) >= 2, plan  # salted agg phase 1 + join, both sides
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "__salt" in smj[0], plan


def test_bm25_is_two_narrow_scans_no_token_shuffle(spark):
    """text_bm25_topk (r6): lexical retrieval WITHOUT the textbook
    explode->posting-list shuffle — per-doc tf from array filters, the
    corpus stats folded to one broadcast row, top-k a
    TakeOrderedAndProject. No hash exchange may appear anywhere: the
    only exchanges are fan_out's round-robin rebalance and the 1-row
    stats SinglePartition (fed by its partial aggregate, rule R2)."""
    plan = plan_of(QUERIES["text_bm25_topk"](spark, SF_T2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bm25_postings_explode_feeds_broadcast_join_once(spark):
    """bm25_topk_postings (r7): the posting-list BM25 shape's scale
    contract — (1) the corpus is exploded exactly ONCE (per-term df is
    a window over the same tf subtree; a groupBy+join-back df would
    silently re-plan the explode and tokenize the corpus twice), and
    (2) the explode feeds the broadcast term join DIRECTLY — no
    exchange may sit between them, so only query-term hits (the
    posting lists) ever ride a wide exchange, never the full token
    stream. Top-k stays a TakeOrderedAndProject."""
    plan = plan_of(QUERIES["bm25_topk_postings"](spark, SF_T2))
    lines = plan.splitlines()
    assert plan.count("Generate explode") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    i_gen = next(i for i, ln in enumerate(lines) if "Generate explode" in ln)
    # the explode's consumer side: the nearest BroadcastHashJoin printed
    # above it is its join parent (the streamed child prints directly
    # under its join); nothing between them may be a shuffle
    i_bhj = max(
        i for i, ln in enumerate(lines)
        if "BroadcastHashJoin" in ln and i < i_gen
    )
    between = lines[i_bhj + 1:i_gen]
    assert not any("Exchange hashpartitioning" in ln for ln in between), plan


def test_pq_adc_scan_is_narrow_topk(spark):
    """PQ ADC retrieval (r7, re-pinned r16): the scoring scan must be a
    pure projection over the 8-byte code column feeding a
    TakeOrderedAndProject, with NO exchange of any kind — since the r16
    Arrow encode the codebooks ship inside the pandas_udf closure, so
    the old codebook-build BroadcastExchange is gone too and the whole
    encode+score plan is scan → ArrowEvalPython → project → top-k. If
    scoring ever grows a shuffle, PQ's whole point — scans that never
    touch raw vectors — is gone."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    emb = load_table(spark, SF_T2, "embeddings")
    books = pq_codebooks(emb)
    codes = pq_assign(spark, emb, books)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    plan = plan_of(pq_adc_topk(codes.filter(F.col("vec_id") != 0), q, books))
    assert "TakeOrderedAndProject" in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_emb_centroids_single_group_sized_exchange(spark):
    """emb_label_centroids (r7, queued): ONE hashpartitioning exchange
    — the (label, pos) aggregate — fed by a map-side partial aggregate,
    so the shuffle carries at most #labels × 64 rows per partition
    regardless of corpus size. (The rangepartitioning above it is the
    presentation orderBy.)"""
    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_label_centroids,
    )

    plan = plan_of(emb_label_centroids(spark, SF_T2))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_window_running_total_single_window_pass(spark):
    """window_running_total's intended shape, pinned after its r7 bench
    drift (+39% on an untouched plan — the same idle-machine
    run-to-run noise band q3's r7 root-cause documented; the executed
    plan was re-read in r8 and is byte-equal in shape to the r6 one):
    a 4-column pruned events scan, a NARROW cents projection, exactly
    ONE hash exchange (user_id) into ONE Window node computing BOTH
    running aggregates in a single pass, then the presentation sort's
    range exchange. A regression to two Window nodes (one per
    aggregate — double sort), an extra exchange, or a full-column scan
    would still pass the value oracle; it fails here."""
    from erathia_market_etl_spark.plans.event_windows import (
        window_running_total,
    )

    plan = plan_of(window_running_total(spark, SF_T2))
    assert plan.count("Window ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 2, plan  # + the orderBy range part.
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"event_id", "ts", "user_id", "value"}, cols
    # both running aggregates ride ONE windowspecdefinition pass
    w_node = next(ln for ln in plan.splitlines() if "Window " in ln)
    assert "sum(" in w_node and "count(1)" in w_node, w_node


def test_fuzzy_block_cap_is_two_phase_and_scan_pruned(spark):
    """dedup_fuzzy_prefix_block's scale contract: the per-block cap must
    run as a two-phase WindowGroupLimit (Partial before the block
    exchange, Final after — a skewed boilerplate prefix is cut to 64
    rows map-side, so the block shuffle never carries the full block),
    the documents scan must be pruned to (doc_id, text), and the edit
    distance must evaluate inline in the join (one pass, no re-join)."""
    from erathia_market_etl_spark.plans.dedup_queries import (
        dedup_fuzzy_prefix_block,
    )

    plan = plan_of(dedup_fuzzy_prefix_block(spark, SF_T2))
    assert plan.count("WindowGroupLimit") >= 2, plan  # Partial + Final
    assert "Partial" in plan and "Final" in plan
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols
    assert plan.count("levenshtein") >= 1, plan


def test_gap_fill_spine_is_narrow_single_window(spark):
    """timeseries_gap_fill's scale contract: the dense spine comes from
    a Generate(explode(sequence)) directly over the bounds aggregate —
    NO exchange between them (the spine is born narrow, never a
    driver-side calendar) — and LOCF is exactly ONE Window node. The
    events scan reads only (ts, event_type, value)."""
    from erathia_market_etl_spark.plans.event_windows import (
        timeseries_gap_fill,
    )

    plan = plan_of(timeseries_gap_fill(spark, SF_T2))
    assert plan.count("Window ") == 1, plan
    assert "explode(sequence(" in plan.replace("\n", ""), plan
    gen_idx = plan.index("Generate explode")
    agg_idx = plan.index("HashAggregate", gen_idx)
    assert "Exchange" not in plan[gen_idx:agg_idx], plan[gen_idx:agg_idx]
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert cols <= {"ts", "event_type", "value"}, cols


def test_histogram_equi_depth_no_single_partition_over_corpus(spark):
    """histogram_equi_depth inherits text_length_trim's rank-
    decomposition contract: the per-row rank window partitions BY value
    (distributed), and any SinglePartition exchange aggregates before
    exchanging (the <=50-row per-value count table), never sits over
    the lineitem scan."""
    from erathia_market_etl_spark.plans.profile_queries import (
        histogram_equi_depth,
    )

    plan = plan_of(histogram_equi_depth(spark, SF_T2))
    assert re.search(
        r"row_number\(\) windowspecdefinition\(v#\d+", plan
    ), plan
    lines = plan.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    for i in sp:
        below = "\n".join(lines[i + 1:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert 0 <= agg_pos < scan_pos, (
            f"SinglePartition exchange not fed by an aggregate:\n{plan}"
        )


def test_sketch_exchanges_are_state_sized(spark):
    """The mergeable-sketch selling point must be visible in the plan:
    both the HLL register aggregate and the CMS counter aggregate plan
    as two-phase HashAggregates (map-side partial BEFORE the exchange),
    so each map partition ships at most state-sized rows, and the CMS
    probe join is a BroadcastHashJoin (the top-k workload never
    shuffles the counters)."""
    from erathia_market_etl_spark.plans.sketch_queries import (
        agg_cms_frequencies,
        agg_hll_registers,
    )

    hll_plan = plan_of(agg_hll_registers(spark, SF_T2))
    # the register build sits behind a localCheckpoint (it feeds two
    # consumers), so the visible two-phase aggregate is the MERGE over
    # the register table: partial_max(r) before the idx exchange
    assert re.search(r"partial_max\(r#", hll_plan), hll_plan

    cms_plan = plan_of(agg_cms_frequencies(spark, SF_T2))
    assert "partial_count" in cms_plan, cms_plan
    assert "BroadcastHashJoin" in cms_plan, cms_plan


def test_funnel_reuses_user_partitioning(spark):
    """Every join and aggregate in the ordered funnel keys on user_id;
    the plan must contain no cartesian/broadcast-nested-loop join and
    no join on any other key."""
    from erathia_market_etl_spark.plans.temporal_queries import (
        funnel_ordered_conversion,
    )

    plan = plan_of(funnel_ordered_conversion(spark, SF_T2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # all equi-joins key on user_id
    for m in re.finditer(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
                         r" \[([a-z_#0-9]+)\]", plan):
        assert m.group(1).startswith("user_id"), m.group(0)


def test_funnel_component_labels_join_by_broadcast(spark):
    """The funnel's component labels come from the components kernel's
    driver-side path and join back as a BroadcastExchange over a local
    relation. A labels frame built from a Python list would be an RDD
    scan of unknown size (`Scan ExistingRDD`) and the anti-join would
    plan as a SortMergeJoin with two extra exchanges; a distributed
    run would leave checkpoint RDD scans instead."""
    from erathia_market_etl_spark.plans.text_queries import (
        pipeline_training_funnel,
    )

    plan = plan_of(pipeline_training_funnel(spark, SF_T2))
    assert re.search(
        r"BroadcastExchange[^\n]*\n[ :|]*\+- LocalTableScan \[doc_id#\d+L\]", plan
    ), plan
    assert "SortMergeJoin" not in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_sample_k_per_group_uses_window_group_limit(spark):
    """The rn <= k cut must push into the window sort (WindowGroupLimit)
    so each map task keeps a running top-k per source before the
    exchange — the topk_per_group discipline applied to sampling."""
    from erathia_market_etl_spark.plans.sampling_queries import (
        sample_k_per_group,
    )

    plan = plan_of(sample_k_per_group(spark, SF_T2))
    assert "WindowGroupLimit" in plan, plan


def test_int8_quantization_map_only_no_generate(spark):
    """emb_int8_quantization's scale claim pinned: codes, checksums,
    and errors fold per row with array HOFs — NO explode (Generate),
    NO join, and the ONLY exchange is the presentation sort's range
    partitioning. Also pins the staging discipline: the quantization
    array q must be computed in its own projection (a named q#N
    attribute), not re-inlined into each of the four output aggregates
    (the inlined form measured 13x slower at sf0.1)."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_int8_quantization,
    )

    plan = plan_of(emb_int8_quantization(spark, SF_T2))
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "rangepartitioning" in line, plan
    assert re.search(r"AS q#\d+", plan), plan


def test_vocab_coverage_broadcast_membership_topk_vocab(spark):
    """text_vocab_coverage's scale claims pinned: the vocabulary is a
    TakeOrderedAndProject over the term-df aggregate (top-k never
    sorts the term table globally), membership is a BroadcastHashJoin
    (the corpus-sized tf table never meets the vocab at a shuffled
    join), and no SortMergeJoin appears anywhere."""
    from erathia_market_etl_spark.plans.text_queries import (
        text_vocab_coverage,
    )

    plan = plan_of(text_vocab_coverage(spark, SF_T2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_lloyd_no_corpus_expansion(spark):
    """emb_kmeans_lloyd's scale claim pinned: assignment scans a
    one-row broadcast centroid relation (BroadcastNestedLoopJoin over
    a single-row build side — NOT a K-way row expansion join), and
    every hash exchange in the plan carries aggregate partials
    (HashAggregate below it), never raw corpus rows. A SortMergeJoin
    of the points against anything would betray a corpus-sized
    shuffle."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_kmeans_lloyd,
    )

    df = emb_kmeans_lloyd(spark, SF_T2)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the points table must never ride a sort-merge join
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            # only the tiny (cid, pos) centroid-table joins may SMJ —
            # they join on cid/pos keys, never vec_id
            assert "vec_id" not in line, plan


def test_aqe_skew_join_split_fires(spark):
    """AQE skew-handling rehearsal (r10 VERDICT item 6): q1-q5 now
    trust AQE (not forced hints) for the too-big-to-broadcast regime,
    and operators/skew.py covers MANUAL salting — this pins that
    Spark's AUTOMATIC path actually fires. A planted hot key (~90% of
    rows) under a lowered skewedPartitionFactor/threshold must come
    back from execution with OptimizeSkewedJoin having split the hot
    partition: the final adaptive plan's SortMergeJoin is annotated
    skew=true. SCALE.md cites this test instead of asserting the
    behavior."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # force the sort-merge regime and make the skew detector's
        # thresholds reachable at fixture scale (defaults target
        # multi-GB partitions)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")

        # the payload must be non-constant (a literal pad would be
        # constant-folded away, and the pruned hot partition then
        # compresses below any reachable threshold) and the downstream
        # consumer must NOT require the join's hash partitioning (a
        # groupBy on the join key makes OptimizeSkewedJoin decline the
        # split — it would force an extra shuffle); a global aggregate
        # keeps the join stage free to split
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .cast("long")
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(100).select(F.col("id").alias("k"))
        joined = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.min("payload").alias("m")
        )
        plan = final_plan_of(joined)
        smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
        assert smj, plan
        assert any("skew=true" in ln for ln in smj), plan
        assert "skewed" in plan  # AQEShuffleRead actually split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_decon_ngram_semi_join_and_no_text_shuffle(spark):
    """decon_ngram_contamination (r11): the contamination count must
    plan as a LEFT SEMI join from train gram occurrences into the
    BROADCAST test vocabulary (the 100 TB regime: one eval suite's
    grams are broadcast-sized), and no Exchange may carry the raw text
    column — only doc ids and grams shuffle."""
    from erathia_market_etl_spark.plans.text_queries import (
        decon_ngram_contamination,
    )

    plan = plan_of(decon_ngram_contamination(spark, SF_T2))
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert len(semi) == 1 and "BroadcastHashJoin" in semi[0], plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text#" not in ln, ln


def test_source_divergence_staged_frequency_table(spark):
    """text_source_divergence (r11): the vocabulary-sized ppm frequency
    table is staged ONCE (localCheckpoint) for its five consumers — the
    final plan must contain NO (source, term) hash exchange (each one
    would be a full corpus re-tokenize), and the sources-squared pair
    expansion must ride a BroadcastNestedLoopJoin, never a
    CartesianProduct."""
    import re

    from erathia_market_etl_spark.plans.text_queries import (
        text_source_divergence,
    )

    plan = plan_of(text_source_divergence(spark, SF_T2))
    assert not re.search(r"hashpartitioning\(source#\d+, term#\d+", plan), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_shared_minhash_band_stage_is_cached_and_live_capped(spark):
    """r12 (VERDICT r11 item 7): the corpus-wide MinHash signature
    stage is computed once per (session, sf_dir) and persisted —
    dedup_minhash_lsh_pairs, dedup_corpus_representatives and
    pipeline_training_funnel used to EACH recompute the
    shingle→md5→signature pipeline inside one bench run. Pins:
    (a) the shared accessor memoizes (identical DataFrame object);
    (b) consumer plans read the stage through InMemoryTableScan;
    (c) the cap window stays LIVE above the cache (two-phase
        WindowGroupLimit still in the consumer plan — the cache must
        never swallow the R5-pinned stage);
    (d) the shared-path values equal a fresh uncached pipeline's."""
    from erathia_market_etl_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_minhash_bands,
        shared_minhash_pairs,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    b1 = shared_minhash_bands(spark, SF_T2)
    b2 = shared_minhash_bands(spark, SF_T2)
    assert b1 is b2  # memoized, not rebuilt
    assert b1.storageLevel.useMemory  # persisted

    plan = plan_of(shared_minhash_pairs(spark, SF_T2))
    assert "InMemoryTableScan" in plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan)
    assert re.search(r"WindowGroupLimit .*, Final", plan)

    docs = load_table(spark, SF_T2, "documents")
    fresh = sorted(
        map(tuple, minhash_candidate_pairs(docs, "text", "doc_id").collect())
    )
    shared = sorted(map(tuple, shared_minhash_pairs(spark, SF_T2).collect()))
    assert fresh == shared

    # and the component labels over those pairs are memoized the same
    # way (r12: the eager checkpointed iterations run once per session
    # for the three full-pair-set consumers)
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_pair_components,
    )

    c1 = shared_pair_components(spark, SF_T2)
    c2 = shared_pair_components(spark, SF_T2)
    assert c1 is c2


def test_shared_band_cache_evicts_beyond_cap(spark, tmp_path):
    """The session cache's "handful of entries" claim is enforced: past
    MAX_DIRS distinct (session, sf_dir) keys, every frame of the oldest
    directory is unpersisted and dropped — a long-lived session
    sweeping many directories must not accumulate persisted corpora.
    Checked for the MinHash band table and the funnel's gate frame."""
    import os

    from erathia_market_etl_spark.plans import session_cache as sc
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_minhash_bands,
    )
    from erathia_market_etl_spark.plans.text_queries import (
        _shared_gate_frame,
    )

    def drop_all() -> None:
        for frames in sc._FRAMES.values():
            for df in frames.values():
                df.unpersist()
        sc._FRAMES.clear()

    # start empty; the real-fixture entries come back untouched at the
    # end so sibling tests keep their warm cache regardless of order
    before = dict(sc._FRAMES)
    sc._FRAMES.clear()
    try:
        for case, build in (
            ("bands", shared_minhash_bands),
            ("gate", _shared_gate_frame),
        ):
            dirs = []
            for i in range(sc.MAX_DIRS + 1):
                d = str(tmp_path / case / f"sf{i}")
                spark.createDataFrame(
                    [(1, "srcA", f"alpha beta gamma {i}")],
                    "doc_id long, source string, text string",
                ).write.parquet(f"{d}/documents.parquet")
                dirs.append(d)

            first = build(spark, dirs[0])
            assert first.storageLevel.useMemory, case
            for d in dirs[1:]:
                build(spark, d)
            assert len(sc._FRAMES) <= sc.MAX_DIRS, case
            # the first (oldest) entry was evicted and unpersisted
            key0 = (spark.sparkContext.applicationId, os.path.abspath(dirs[0]))
            assert key0 not in sc._FRAMES, case
            assert not first.storageLevel.useMemory, case
            drop_all()
    finally:
        drop_all()
        sc._FRAMES.update(before)

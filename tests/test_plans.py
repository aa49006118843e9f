"""Plan-shape audits: assert the physical plans keep the properties the
scale story depends on (broadcast dimension sides, filter pushdown,
shuffle-free narrow pipelines). A correctness-green query whose plan decays
into a shuffle or a full scan is a silent 100-TB regression — these tests
make that decay loud."""

from __future__ import annotations

from pyspark.sql import functions as F

from inf_553_datamining_mapreduce_spark.sources.readers import read_parquet_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_exchanges(plan: str) -> int:
    """Hashpartitioning exchanges. Default reads are plain scans, so the
    counts below audit every aggregation/join shuffle the operators
    introduce, and any repartition one adds."""
    return sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )


def test_reader_split_is_opt_in(spark, sf_dir):
    # The reader's small-scan split is opt-in: a default read is the plain
    # scan, and split=True adds exactly one hash exchange on the table key.
    plain = _plan(read_parquet_table(spark, sf_dir, "lineitem"))
    assert "REPARTITION_BY_NUM" not in plain, plain
    split = _plan(read_parquet_table(spark, sf_dir, "lineitem", split=True))
    exchanges = [ln for ln in split.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert len(exchanges) == 1, split
    assert "hashpartitioning(l_orderkey#" in exchanges[0], split


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        benchmark_contamination,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 20 == 0)
    tr = d.filter(F.col("doc_id") % 20 != 0)
    plan = _plan(benchmark_contamination(tr, ev, n=3, min_overlap=0.2))
    # The corpus-side scan must meet the (tiny) eval shingle table in a
    # broadcast join — a sort-merge join here would shuffle the corpus.
    assert "BroadcastHashJoin" in plan, plan


def test_winnow_plan_has_no_aggregation_shuffle(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.text import (
        winnow_fingerprints_df,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(winnow_fingerprints_df(d))
    # Winnowing is per-document narrow work: hash, window-min, explode. The
    # only exchange allowed is the final presentation sort's range
    # partitioning. Any hashpartitioning exchange means an aggregation/join
    # shuffle (or a repartition) crept into the per-document pipeline.
    assert _shuffle_exchanges(plan) == 0, plan


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.relational import (
        pricing_summary,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    plan = _plan(pricing_summary(li))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200], plan


def test_group_avg_broadcasts_dimension_tables(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.relational import (
        group_avg_nation_region,
    )

    c, n, r = (
        read_parquet_table(spark, sf_dir, t)
        for t in ("customer", "nation", "region")
    )
    plan = _plan(group_avg_nation_region(c, n, r))
    # nation and region are classic broadcast dims; the customer side must
    # never shuffle for these lookups.
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_bloom_prune_sits_before_the_join(spark, sf_dir):
    """The bloom membership predicate must be an expression-level Filter on
    the probe side UPSTREAM of the join (so at scale it cuts the fact table
    at the scan stage), and the exact verify join must be broadcast."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        bloom_filtered_revenue,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    part = read_parquet_table(spark, sf_dir, "part")
    plan = _plan(bloom_filtered_revenue(li, part, brand="Brand#23"))
    assert "BroadcastHashJoin" in plan, plan
    # The probe branch (below the join) carries the md5-derived bit test.
    probe_side = plan.split("BroadcastHashJoin", 1)[1]
    assert "md5" in probe_side and "Filter" in probe_side, plan


def test_cms_sketch_is_single_pass(spark, sf_dir):
    """The sketch build must be one hash aggregation over the generator
    projection — exactly one hashpartitioning exchange, no join, no second
    pass over the events table."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import cms_sketch

    ev = read_parquet_table(spark, sf_dir, "events")
    plan = _plan(cms_sketch(ev, "user_id"))
    assert _shuffle_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_fk_integrity_audit_scans_lineitem_once(spark, sf_dir):
    """The three lineitem parent checks must ride ONE scan of the fact
    table (the whole point of the combined formulation); the dims must
    arrive broadcast."""
    import re

    from inf_553_datamining_mapreduce_spark.operators.relational import (
        fk_integrity_audit,
    )

    li, o, c, p, s = (
        read_parquet_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "part", "supplier")
    )
    plan = _plan(fk_integrity_audit(li, o, c, p, s))
    li_scans = len(re.findall(r"parquet[^\n]*?/lineitem\.parquet", plan))
    assert li_scans == 1, f"lineitem scanned {li_scans}x\n{plan}"
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_jaccard_dfcut_is_one_linear_pipeline(spark, sf_dir):
    """The df-cut Jaccard path must read the corpus ONCE (sizes ride the
    pair emission; any join-back formulation re-executes the shingle
    lineage per reference)."""
    import re

    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        jaccard_near_duplicates,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(jaccard_near_duplicates(d, n=3, min_jaccard=0.5, max_shingle_df=32))
    doc_scans = len(re.findall(r"parquet[^\n]*?/documents\.parquet", plan))
    assert doc_scans == 1, f"documents scanned {doc_scans}x\n{plan}"


def test_link_prediction_caps_hot_pivots_with_broadcast_anti_join(spark, sf_dir):
    """The super-node cut must appear as a broadcast anti join on the wedge
    legs — a shuffled anti join would defeat its purpose."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    plan = _plan(link_prediction_scores(edges, k=5, max_neighbor_df=64))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_local_supplier_volume_broadcasts_all_dims(spark, sf_dir):
    """Q5 shape: customer, supplier, nation, region must all arrive
    broadcast — only the lineitem⋈orders fact join may shuffle."""
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        local_supplier_volume,
    )

    li, o, c, s, n, r = (
        read_parquet_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    plan = _plan(local_supplier_volume(li, o, c, s, n, r))
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_global_ranks_match_window_row_numbers(spark, sf_dir):
    """The TeraSort-shape ranking must reproduce row_number() over the same
    total order exactly — ranks 1..N with no gaps, assigned per the
    composite sort key."""
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_ranks

    df = spark.range(0, 997).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("v"),
    )
    got = {
        r["id"]: (r["_rank"], r["_n"])
        for r in _global_ranks(
            df, [F.col("v").asc(), F.col("id").asc()], "_rank", total_name="_n"
        ).collect()
    }
    expect = {
        r["id"]: i + 1
        for i, r in enumerate(df.orderBy(F.col("v").asc(), F.col("id").asc()).collect())
    }
    assert len(got) == 997
    for k, rank in expect.items():
        assert got[k] == (rank, 997), (k, got[k], rank)


def test_ntile_from_rank_matches_spark_ntile(spark, sf_dir):
    """The closed-form NTILE arithmetic must agree with Spark's ntile()
    for bucket counts that divide N evenly, unevenly, and exceed N."""
    from pyspark.sql.window import Window

    from inf_553_datamining_mapreduce_spark.operators.olap import (
        _global_ranks,
        _ntile_from_rank,
    )

    for n_rows, n_buckets in [(40, 4), (41, 4), (3, 7), (100, 9)]:
        df = spark.range(0, n_rows).select(
            F.col("id"), (F.col("id") * 13 % 29).alias("v")
        )
        order = [F.col("v").asc(), F.col("id").asc()]
        ranked = _global_ranks(df, order, "_rank", total_name="_n")
        ours = {
            r["id"]: r["bucket"]
            for r in ranked.select(
                "id",
                _ntile_from_rank(F.col("_rank"), F.col("_n"), n_buckets).alias(
                    "bucket"
                ),
            ).collect()
        }
        w = Window.orderBy(*order)
        theirs = {
            r["id"]: r["bucket"]
            for r in df.select(
                "id", F.ntile(n_buckets).over(w).alias("bucket")
            ).collect()
        }
        assert ours == theirs, (n_rows, n_buckets)


def test_rfm_plan_has_no_single_partition_window(spark, sf_dir):
    """The RFM NTILEs must ride range-partitioned global ranks — a
    ``Window.orderBy`` without partitioning (SinglePartition exchange
    feeding a Window) is the scale-killer this query was rewritten to
    avoid."""
    import re

    from inf_553_datamining_mapreduce_spark.operators.olap import (
        customer_rfm_segments,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    plan = _plan(customer_rfm_segments(o))
    windows = re.findall(r"Window \[[^\n]*", plan)
    assert windows, "expected window nodes in the RFM plan"
    for w in windows:
        # Every window must be the per-range row_number (partitioned by
        # _pid) or the tiny per-range offset cumsum — never an ntile.
        assert "ntile" not in w, w


def test_percent_rank_rewrite_handles_heavy_ties(spark, sf_dir):
    """order_price_percent_rank derives percent_rank/cume_dist from
    tie-group min/max global ranks. Heavy synthetic ties (7 distinct
    prices across 500 orders, 3 statuses) must reproduce Spark's own
    window functions exactly — the tie path barely occurs in the driver
    tables, so pin it here."""
    from pyspark.sql.window import Window

    from inf_553_datamining_mapreduce_spark.operators.olap import (
        order_price_percent_rank,
    )

    rows = [
        (i, ["O", "F", "P"][i % 3], float(100 + (i * 11 % 7)))
        for i in range(500)
    ]
    orders = spark.createDataFrame(
        rows, ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    got = {
        r["o_orderkey"]: (r["pct_rank"], r["cume_dist"])
        for r in order_price_percent_rank(orders).collect()
    }
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    want = {
        r["o_orderkey"]: (r["pr"], r["cd"])
        for r in orders.select(
            "o_orderkey",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    assert got == want


def test_global_ranks_scale_stress(spark, sf_dir):
    """TeraSort-shape ranking on 200k rows with a skewed key: ranks are a
    permutation of 1..N and agree with a collected sort."""
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_ranks

    n = 200_000
    df = spark.range(0, n).select(
        F.col("id"), (F.col("id") * 7919 % 1000).alias("v")
    )
    ranked = _global_ranks(
        df, [F.col("v").asc(), F.col("id").asc()], "_rank", total_name="_n"
    )
    rows = ranked.select("id", "v", "_rank", "_n").collect()
    assert len(rows) == n
    assert all(r["_n"] == n for r in rows[:100])
    by_rank = sorted(rows, key=lambda r: r["_rank"])
    assert [r["_rank"] for r in by_rank] == list(range(1, n + 1))
    keys = [(r["v"], r["id"]) for r in by_rank]
    assert keys == sorted(keys)


def test_supplier_part_pareto_is_single_shuffle(spark, sf_dir):
    """The suppkey repartition must satisfy both the (suppkey, partkey)
    aggregate and the suppkey window — exactly one hashpartitioning
    exchange in the whole plan."""
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        supplier_part_pareto,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    plan = _plan(supplier_part_pareto(li))
    assert _shuffle_exchanges(plan) == 1, plan


def test_training_batches_has_no_single_partition_exchange(spark, sf_dir):
    """The epoch shuffler must rank through range partitioning — an
    ``Exchange SinglePartition`` feeding a Window would mean the whole
    corpus sorts in one task. Only the per-range offset cumsum (over
    ``num_parts`` rows, post-aggregate) may be single-partition."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        training_batches,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(training_batches(d, batch_size=64))
    # The ranked side must carry a range exchange; the only windows allowed
    # are the per-range row_number (partitioned by _pid) and the offset
    # cumsum over the tiny per-partition count table.
    assert "rangepartitioning" in plan
    # At most ONE single-partition exchange may appear, and only for the
    # tiny per-range offset cumsum (its window spec sums `_cnt` over
    # `num_parts` rows) — a corpus-wide window would show up as a second
    # SinglePartition exchange feeding a row_number window.
    assert plan.count("Exchange SinglePartition") <= 1, plan
    import re

    for w in re.findall(r"Window \[[^\n]*", plan):
        if "row_number" in w:
            # the full-data ranking window must be partitioned by _pid
            assert "windowspecdefinition(_pid" in w, w
        else:
            assert "_cnt" in w, w


def test_inverted_index_band_filter_precedes_ranking_window(spark, sf_dir):
    """The df band must reach the presence pairs BEFORE the per-token
    ranking window (bounding window partitions at max_df rows): the join
    with the banded df table and both band predicates must sit below the
    Window node in the executed plan."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        inverted_index,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(inverted_index(d, min_df=3, max_df=40, max_postings=10))
    win_at = plan.index("Window ")
    join_at = plan.index("BroadcastHashJoin")
    assert join_at > win_at, "join with the banded df table should appear " \
        "below the window in toString order (children print after parents)"
    # Catalyst additionally inserts a map-side top-k (WindowGroupLimit
    # Partial) so at most max_postings rows per token cross the shuffle —
    # keep that property pinned.
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_winsorized_bounds_join_is_broadcast(spark, sf_dir):
    """The clip pass joins a 1-row boundary aggregate — it must be a
    broadcast nested loop, never a shuffle of the ranked fact side."""
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        winsorized_price_stats,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    plan = _plan(winsorized_price_stats(o))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_global_cumsum_matches_window_running_total(spark, sf_dir):
    """The distributed running total must equal SUM() OVER (ORDER BY ...)
    on the same total order — inclusive, exact, with the grand total
    attached to every row."""
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_cumsum

    df = spark.range(0, 997).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("v"),
        (F.col("id") % 13 + 1).alias("w"),
    )
    got = {
        r["id"]: (r["_cum"], r["_total"])
        for r in _global_cumsum(
            df, [F.col("v").asc(), F.col("id").asc()], "w"
        ).collect()
    }
    running = 0
    expect = {}
    rows = df.orderBy(F.col("v").asc(), F.col("id").asc()).collect()
    total = sum(r["w"] for r in rows)
    for r in rows:
        running += r["w"]
        expect[r["id"]] = (running, total)
    assert got == expect


def test_weighted_corpus_sample_invariants(spark, sf_dir):
    """PPS selection invariants on the real documents table: at most k
    rows, strictly increasing slots in [0, k), every selected document
    actually crosses its slot boundary, and the draw is a pure function
    of the corpus (two runs identical)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        weighted_corpus_sample,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    k = 17
    rows = weighted_corpus_sample(d, k=k).collect()
    assert 0 < len(rows) <= k
    slots = [r["slot"] for r in rows]
    assert slots == sorted(slots) and len(set(slots)) == len(slots)
    assert all(0 <= s < k for s in slots)
    assert all(r["weight"] > 0 for r in rows)
    again = weighted_corpus_sample(d, k=k).collect()
    assert rows == again


def test_chunk_dedup_stats_chunks_corpus_once(spark, sf_dir):
    """The global occurrence count must ride a window on the aggregated
    (chunk_md5, source) grain, not a count-and-join-back self-reference:
    the corpus-chunking explode (Generate) must appear exactly once in
    the executed plan — a second Generate means the heaviest stage runs
    twice at 100 TB."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        chunk_dedup_stats,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(chunk_dedup_stats(d))
    assert plan.count("Generate") == 1, plan


def test_pii_redaction_is_shuffle_free_map_only(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.text import redact_pii

    c = read_parquet_table(spark, sf_dir, "customer")
    tickets = c.select(
        "c_custkey", F.concat(F.col("c_name"), F.lit(" x")).alias("text")
    )
    plan = _plan(redact_pii(tickets, "text", ("c_custkey",)))
    # The scrub stage is a pure per-row projection: at 100 TB it must
    # fuse into the scan as a map-only pass — ANY exchange here means a
    # regression introduced a shuffle into a linear pipeline.
    assert "Exchange" not in plan, plan
    assert "regexp_replace" in plan


def test_qsketch_registers_single_pass_map_side(spark, sf_dir):
    """The quantile-sketch register build must be ONE scan feeding ONE
    hash-aggregate exchange (map-side partials collapse each task to
    <= 2048 rows before the shuffle) — no joins, no windows, no extra
    passes."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        qsketch_registers,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    plan = _plan(qsketch_registers(o, cents, ("o_orderstatus",)))
    assert _shuffle_exchanges(plan) == 1, plan
    assert "HashAggregate" in plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_zorder_sorts_through_range_partitioning(spark, sf_dir):
    """Both layout sorts must be TeraSort-shape (range exchanges, ranking
    windows partitioned by _pid); the only single-partition work is the
    two tiny per-range offset cumsums over the per-partition count
    tables."""
    import re

    from inf_553_datamining_mapreduce_spark.operators.olap import (
        zorder_layout_stats,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    plan = _plan(zorder_layout_stats(li, n_files=16))
    assert plan.count("Exchange rangepartitioning") >= 1, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan
    for w in re.findall(r"Window \[[^\n]*", plan):
        if "row_number" in w:
            assert "windowspecdefinition(_pid" in w, w
        else:
            assert "_cnt" in w, w
    assert "CartesianProduct" not in plan


def test_lm_scoring_model_joins_no_cartesian(spark, sf_dir):
    """The LM scorer's only nested-loop joins must be the 1-row broadcast
    scalar attaches (V / unk_bits); the model joins are keyed hash joins
    and the bigram build is a projection (no per-doc window)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        lm_quality_scores,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(lm_quality_scores(d))
    assert "CartesianProduct" not in plan, plan
    # scalar attaches ride BroadcastNestedLoopJoin; each is 1-row bounded
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan

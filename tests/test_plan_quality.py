"""Physical-plan regression checks (the 100-TB guarantees, asserted):

- parquet scans push filters and prune columns;
- small-dim joins go broadcast;
- minhash shuffles exactly once (pre-explode repartition, reused by the
  groupBy), never the exploded relation;
- the pages->tzid assignment plan contains ZERO exchanges — the 10^12-row
  hot path must stay map-side only.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from timezone_boundary_builder_spark.operators.dedup import minhash_signatures
from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    plan = plan_of(q)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan.split("DataFilters")[1][:120]  # filter pushed
    # column pruning: only the 3 needed columns in the scan output
    cols = scan.split("FileScan parquet [")[1].split("]")[0]
    assert set(c.split("#")[0] for c in cols.split(",")) == {
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
    }


def test_zone_build_broadcasts_sources(spark):
    plan = plan_of(entry._zones_spark(spark))
    assert "BroadcastHashJoin" in plan


def test_top_customer_uses_window_group_limit_and_broadcast(spark):
    q = entry.queries()["rel_top_customer_per_nation"](spark, SF)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # top-1 pushed below the shuffle


def test_minhash_is_map_only_projection(spark):
    """Round 7: signatures are array_min folds — no explode, no
    aggregation. The only allowed exchange is the scale-adaptive spread
    of the single-row-group test scan (a no-op on real tables); the
    exploded shingle relation no longer exists at all."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(docs, num_hashes=4))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "reuse" not in l.lower()]
    assert len(exchanges) <= 1, exchanges
    for l in exchanges:
        assert "REPARTITION_BY_NUM" in l
    assert "Generate" not in plan, plan  # no explode
    assert "Aggregate" not in plan, plan  # no groupBy — pure projection


def test_ivf_build_assigns_centroids_map_side(spark):
    """VERDICT r2 #2: the IVF inverted-file build must not shuffle a
    centroid-amplified relation. The nearest-centroid assignment happens
    map-side (literal centroid structs + array_sort), so the plan has
    exactly one Window — the final per-query top-k — and NO exchange
    partitioned by the per-vector id."""
    q = entry.queries()["ann_ivf"](spark, SF)
    plan = plan_of(q)
    assert plan.count("Window [") == 1, plan  # WindowGroupLimit lines excluded
    assert "WindowGroupLimit" in plan  # top-k pushed below the shuffle
    assert "hashpartitioning(vec_id" not in plan, plan
    # map-side argmax: no join at all on the corpus side before the
    # candidate equi-join (which broadcasts the tiny probe set)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_serve_from_tiles_uses_broadcast_join(spark):
    """Tile-serving equi-join must broadcast the per-cell candidate table —
    the points side must never shuffle or sort-merge."""
    q = entry.queries()["geo_tiles_serve"](spark, SF)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_packed_assignment_plan_zero_exchanges(spark):
    """The one assignment surface (pack_coords_col -> assign_tzid_udf_packed):
    no shuffle; coordinates packed into ONE int64 and null-coalesced to -1
    in the JVM, below the Arrow boundary (Catalyst folds the packing
    Project into ArrowEvalPython's argument list, which the JVM evaluates
    before batching) — so no null reaches Arrow and xy never widens to
    float64; tzid strings materialized JVM-side above it."""
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
    )

    bc = spark.sparkContext.broadcast(entry._local_cellmap())
    pts = entry._points(spark, SF).select("url", pack_coords_col())
    plan = plan_of(assign_tzid_udf_packed(pts, bc, OCEAN_BANDS))
    assert "Exchange" not in plan, plan
    lines = plan.splitlines()
    arrow = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert len(arrow) == 1, plan
    # the UDF's single input is the coalesced packed value
    udf = lines[arrow[0]].split("ArrowEvalPython [", 1)[1].split("], [")[0]
    udf = udf.rsplit("#", 1)[0]
    assert udf.startswith("_codes(coalesce(") and udf.endswith(", -1))"), plan
    assert "shiftleft(" in udf, plan
    above = "\n".join(lines[: arrow[0]])
    assert "coalesce(" not in above and "shiftleft(" not in above, plan
    assert "element_at" in above


def test_stratified_sampling_pushes_partial_top_n(spark):
    """Per-stratum sampling must do partial top-n BEFORE the exchange
    (Spark 4 WindowGroupLimit) so a skewed stratum ships at most n rows
    per map task, and the scan must prune to the two needed columns."""
    q = entry.queries()["sample_stratified"](spark, SF)
    plan = plan_of(q)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1][:200] or \
        plan.count("WindowGroupLimit") >= 2  # partial + final
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = scan.split("FileScan parquet [")[1].split("]")[0]
    assert set(c.split("#")[0] for c in cols.split(",")) == {"doc_id", "lang"}


def test_hash_fraction_sampling_is_map_only(spark):
    q = entry.queries()["sample_hash_fraction"](spark, SF)
    plan = plan_of(q)
    assert "Exchange" not in plan, plan


def test_lsh_pairs_single_stacked_join(spark):
    """LSH banding must unpivot to one self-join (Generate stack) rather
    than one join per band. Inspected via materialize=False — the query
    surface eagerly checkpoints (so its persisted intermediate can be
    released), which hides the construction plan."""
    from timezone_boundary_builder_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, num_hashes=4)
    q = minhash_lsh_pairs(sigs, num_hashes=4, bands=2, materialize=False)
    plan = plan_of(q)
    assert "stack(" in plan
    # one logical self-join: hash-join count in the final plan is 1
    n_joins = plan.count("HashJoin") + plan.count("SortMergeJoin")
    assert n_joins == 1, plan


def test_repetition_signals_map_only_no_join(spark):
    """Gopher-style repetition signals (round 7): pure array expressions
    (sorted-run-length folds) — no explode, no aggregation, no join. The
    only allowed exchange is the scale-adaptive spread of the
    single-row-group test scan (no-op on real tables)."""
    q = entry.queries()["text_repetition"](spark, SF)
    plan = plan_of(q)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l]
    assert len(exchanges) <= 1, exchanges
    for l in exchanges:
        assert "REPARTITION_BY_NUM" in l
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Aggregate" not in plan, plan  # no groupBy — pure projection


def test_pipeline_gopher_single_arrow_kernel_no_join(spark):
    """Round 7: the quality + Gopher gate reads ONE Arrow-batched stats
    kernel (integer counts only; divisions/rounds stay JVM-side) — the
    plan must carry exactly one Arrow eval node, no pickled-row Python,
    no join (the old signal-relation join re-evaluated the upstream plan
    once per side), and no explode."""
    q = entry.queries()["pipeline_gopher"](spark, SF)
    plan = plan_of(q)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # no pickled-row UDF path
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "CartesianProduct" not in plan


def test_multimodal_decode_chain_shuffles_only_doc_ids(spark):
    """The real-codec chain (generate -> decode/resize/re-encode ->
    decode/stats): per-image bytes NEVER shuffle. The one allowed
    exchange is the scale-adaptive spread_small_scan of the bare doc_id column
    BELOW the generator (round 7: the single-row-group test file scans
    as one task, which serialized the whole Python chain onto one core)
    — it may carry doc_id only, and no exchange may sit between or above
    the Python stages where the image payloads exist."""
    q = entry.queries()["multimodal_decode"](spark, SF)
    plan = plan_of(q)
    exchanges = [
        l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    ]
    assert len(exchanges) <= 1, exchanges
    for l in exchanges:
        # the exchange partitions by doc_id and carries nothing else
        assert "doc_id" in l and "html" not in l and "resized" not in l, l
    # no shuffle above any Python stage: every Python node appears after
    # the last exchange line in the tree dump (tree prints top-down, so
    # 'after' in text == deeper == closer to the scan ... the exchange
    # must be the DEEPEST operator bar the scan)
    if exchanges:
        tree = plan.splitlines()
        exch_idx = max(i for i, l in enumerate(tree) if "Exchange" in l and "Reused" not in l and "Arguments" not in l and "Input" not in l)
        py_idx = [i for i, l in enumerate(tree) if "InPandas" in l or "EvalPython" in l]
        assert py_idx and max(py_idx) < exch_idx, plan


def test_salted_topk_two_phase_windows(spark):
    """page_topk_per_cell(salt_buckets=N) must carry BOTH window stages
    — partial per (cell, salt), final per cell — each with its own
    WindowGroupLimit pair, so no single task ever sees a hot cell's full
    population."""
    from timezone_boundary_builder_spark.operators.tiles import page_topk_per_cell

    pts = spark.range(1000).select(
        F.col("id").cast("string").alias("url"),
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 170 - 85.0).alias("lat"),
    )
    plan = plan_of(page_topk_per_cell(pts, res=5, k=3, salt_buckets=8))
    assert plan.count("Window [") == 2, plan
    # each window phase gets its own partial+final WindowGroupLimit
    assert plan.count("WindowGroupLimit") >= 3, plan
    assert "__salt" in plan


def test_prune_sources_is_broadcast_left_semi(spark):
    """R13 source pruning must broadcast the tiny used-source-id set —
    at 10^12-scale source tables a shuffled semi-join would move the
    whole source relation for a config-sized filter."""
    import pandas as pd

    from timezone_boundary_builder_spark.operators.zone_build import (
        apply_zone_filters,
        prune_sources,
    )
    from timezone_boundary_builder_spark.sources.fixtures import (
        sources_pdf,
        zones_config_pdf,
    )

    cfg = apply_zone_filters(
        spark.createDataFrame(zones_config_pdf()), ["Test/Alpha"], None
    )
    plan = plan_of(prune_sources(spark.createDataFrame(sources_pdf()), cfg))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_distributed_sink_rows_stay_executor_side(spark):
    """The scale-path FeatureCollection sink builds its feature lines
    JVM-side (string concat inside whole-stage codegen, to_json only for
    the tzid escape) — no Python UDF, no collect, in the row pipeline."""
    from pyspark.sql import functions as F

    zones = spark.range(100).select(
        F.concat(F.lit("Z/"), F.col("id")).alias("tzid"),
        F.lit('{"type":"Polygon"}').alias("geometry"),
    )
    line = F.concat(
        F.lit('{"type":"Feature","properties":'),
        F.to_json(F.struct(F.col("tzid").alias("tzid"))),
        F.lit(',"geometry":'),
        F.col("geometry"),
        F.lit("}"),
    ).alias("value")
    plan = plan_of(zones.select(line))
    # the '*(n)' operator prefix marks whole-stage-codegen participation
    assert "*(1) Project" in plan, plan
    assert "Python" not in plan and "Arrow" not in plan


def test_pii_redact_is_a_pure_projection(spark):
    """PII scrubbing on the 10^12-row corpus must be a map-only codegen
    projection: no exchange, no Python, no Arrow in the plan."""
    from timezone_boundary_builder_spark.operators.text import redact_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(redact_pii(docs))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan
    assert "*(1)" in plan  # whole-stage codegen


def test_mix_sources_is_a_map_only_filter(spark):
    """Mixture rebalancing is a CASE-threshold filter on the scan —
    zero exchanges, no join, whole-stage codegen."""
    from timezone_boundary_builder_spark.operators.sampling import mix_sources

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(mix_sources(docs, {"src0": 1.0, "src1": 0.5}, seed=7))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "*(1)" in plan


def test_decontaminate_broadcasts_benchmark_not_corpus(spark):
    """The benchmark n-gram set is the broadcast side; the corpus-sized
    shingle explode must NEVER cross a full exchange before the
    broadcast probe filters it — the only aggregation exchanges carry
    the (tiny) hit set and the per-doc flags."""
    from timezone_boundary_builder_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    plan = plan_of(decontaminate(docs, bench, n=8))
    # exactly one broadcast join: corpus shingles probing bench shingles
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # the corpus explode feeds the broadcast join directly — a SortMerge
    # join anywhere would mean the exploded corpus crossed the wire
    assert "SortMergeJoin" not in plan, plan


def test_ngram_verify_prunes_to_candidate_docs(spark):
    """Round-7 guard on the n-gram verify prune: the gram arrays are
    built only for docs named in a candidate pair (broadcast LEFT-SEMI
    join of the doc table against the candidate ids — verify work must
    scale with the candidate set, not the corpus), and the pruned shape
    returns exactly the unpruned rows: the candidate pair's jaccard, and
    NO row for a doc the LSH stage never paired, however similar."""
    import pandas as pd

    from timezone_boundary_builder_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.array([1, 2, 3, 4], dtype="int64"),
                "text": [
                    "a b c d e f",  # pairs with 2: grams n=3 differ in 1 of 5
                    "a b c d e g",
                    "a b c d e f",  # identical to 1 but never a candidate
                    "x y z w v u",
                ],
            }
        )
    )
    cand = spark.createDataFrame(
        pd.DataFrame({"id_a": [1], "id_b": [2]}).astype("int64")
    )
    out = ngram_jaccard_pairs(docs, cand, n=3, threshold=0.0)
    plan = plan_of(out)
    assert "LeftSemi" in plan, plan
    rows = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    # grams(doc1) = {a b c, b c d, c d e, d e f}, doc2 swaps the last
    # -> |inter| 3, |union| 5
    assert rows == {(1, 2): 0.6}, rows

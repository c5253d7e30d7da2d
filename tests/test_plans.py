"""Plan-shape regression guards (bioio_spark.plans).

Each test pins a scale-critical physical-plan property of a headline query:
results staying correct is not enough — the *plan* must stay the one that
survives 100x data. sf0.001 is plenty: plan shape is data-independent for
these static properties (AQE may improve them at runtime, never worsen)."""

import pytest

from bioio_spark.plans import (
    broadcast_join_count,
    codegen_span_count,
    has_partial_aggregate,
    physical_plan,
    pushed_filters,
    shuffle_count,
)
from bioio_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def q(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_a1_partial_aggregate_single_shuffle(spark):
    """TPC-H Q1: map-side combine collapses 600k rows to ~6 groups before
    the only data shuffle (the final orderBy adds a range exchange over the
    handful of result groups, which is free)."""
    df = q(spark, "a1_pricing_summary")
    assert has_partial_aggregate(df)
    assert shuffle_count(df) <= 3  # fan-out + agg + tiny result sort


def test_a8b_dims_broadcast_not_shuffled(spark):
    """TPC-H Q5-style chain: every dimension (region/nation/customer/
    supplier) rides a broadcast — the fact table is never repartitioned for
    a dim join."""
    df = q(spark, "a8b_regional_revenue")
    assert broadcast_join_count(df) >= 3
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_a9_band_join_broadcasts_bands(spark):
    """Non-equi join: the tiny band table must be the broadcast side; a
    non-equi sort-merge or nested loop over two shuffled sides would be
    quadratic at scale."""
    df = q(spark, "a9_price_band_join")
    assert "BroadcastNestedLoopJoin" in physical_plan(df) \
        or broadcast_join_count(df) >= 1


def test_mosaic_stitch_partial_agg_before_shuffle(spark):
    """Overlap dedup is a max_by hash aggregate: overlapping tile pixels
    combine map-side, so the shuffle carries ~one row per output pixel."""
    df = q(spark, "img_mosaic_stitch")
    assert has_partial_aggregate(df)
    assert broadcast_join_count(df) >= 1  # tiles table broadcast


def test_l1_exact_dedup_partial_agg(spark):
    df = q(spark, "l1_exact_dedup")
    assert has_partial_aggregate(df)


def test_topk_uses_take_ordered(spark):
    """A4: ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heaps), never a global sort of the full table."""
    df = q(spark, "a4_topk_orders")
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_l3_cosine_topk_take_ordered_no_python(spark):
    """Brute-force cosine: higher-order functions keep the dot product
    JVM-side (no Python worker round trip) and top-k stays heap-based."""
    df = q(spark, "l3_cosine_topk")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["a1_pricing_summary", "a8_join_revenue",
                                  "l4_token_stats"])
def test_headline_queries_have_codegen(spark, name):
    """The hot path must sit inside WholeStageCodegen spans. AQE defers
    codegen decisions to runtime, so the static plan is inspected with AQE
    off — same operators, statically finalized."""
    df = q(spark, name)  # load() re-asserts engine conf, so toggle after
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert codegen_span_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scan_pushdown_on_partition_filter(spark, tmp_path):
    """Filters on a parquet-backed pixel frame reach the scan."""
    import numpy as np

    from bioio_spark import BioImage

    img = BioImage(np.random.default_rng(0).random((2, 3, 4, 5)))
    path = str(tmp_path / "img.parquet")
    from bioio_spark.writers import save_parquet
    save_parquet(img, path)
    px = spark.read.parquet(path).filter("t = 1")
    joined = "; ".join(pushed_filters(px))
    assert "EqualTo(t,1)" in joined, joined


@pytest.mark.parametrize("name", [
    "a14_order_priority", "a15_promo_revenue", "a17_supplier_variety",
    "a18_small_qty_revenue", "a19_large_orders", "a20_disjunctive_revenue",
    "a21_excess_suppliers", "a22_lonely_late_suppliers",
    "a23_dormant_customers",
])
def test_tpch_shapes_no_sort_merge_join(spark, name):
    """TPC-H-derived queries: every dim join must broadcast (no sort-merge
    join anywhere — the fact table is never repartitioned to meet a dim),
    and every aggregate must partial-combine map-side."""
    df = q(spark, name)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert broadcast_join_count(df) >= 1
    assert has_partial_aggregate(df)


def test_a22_single_fact_shuffle(spark):
    """The windowed-set Q21 formulation exists to avoid the 3-shuffle
    self-join form: the orders join and both collect_set windows must share
    one l_orderkey exchange (plus fan-out and the final tiny agg)."""
    df = q(spark, "a22_lonely_late_suppliers")
    assert shuffle_count(df) <= 4


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Bucketing demo — the 100 TB co-located join strategy: both fact
    tables written bucketed+sorted by the join key join with ZERO
    exchanges (SortMergeJoin reads co-located buckets directly). This is
    the storage-layout answer to repeated large-to-large joins that can't
    broadcast."""
    from bioio_spark.queries.base import load

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    try:
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .option("path", str(tmp_path / "b_orders"))
         .mode("overwrite").saveAsTable("b_orders"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .option("path", str(tmp_path / "b_lineitem"))
         .mode("overwrite").saveAsTable("b_lineitem"))
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey) \
            .select("o_orderkey", "l_quantity")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == bl.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sql_api_equals_dataframe_api(spark):
    """The engine is reachable through textual SQL too: registering the
    fixture tables as temp views and running the TPC-H Q1 shape through
    spark.sql produces the identical result (same Catalyst plan space)."""
    from bioio_spark.queries.base import load

    sf = "/root/testdata/sf0.001"
    load(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
    try:
        got = spark.sql("""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   count(*) AS count_order
            FROM v_lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""").collect()
        want = [(r["l_returnflag"], r["l_linestatus"], r["sum_qty"],
                 r["count_order"])
                for r in REGISTRY["a1_pricing_summary"].fn(spark, sf)
                .collect()]
        assert [tuple(r) for r in got] == want
    finally:
        spark.catalog.dropTempView("v_lineitem")


def test_registry_orders_least_verified_first():
    """External gates sample a prefix of the registry (driver hashes the
    first ~50 entries). Ordering policy: ascending count of past driver
    rounds that produced a real comparison (coverage-based rotation — never
    pass/fail), so never-verified and errored queries always lead."""
    from bioio_spark.queries import REGISTRY
    from bioio_spark.queries.__init__ import _verified_round_counts

    names = list(REGISTRY)
    counts = _verified_round_counts()
    ordered_counts = [counts.get(n, 0) for n in names]
    assert ordered_counts == sorted(ordered_counts)

    # every zero-verified query (incl. anything newly added this round)
    # must land inside the sampled window
    zero = [n for n in names if counts.get(n, 0) == 0]
    first50 = set(names[:50])
    assert all(n in first50 for n in zero) or len(zero) > 50


def test_a29_topk_heaps_and_pushdown(spark):
    """Q3 shape: top-10 must plan as TakeOrderedAndProject (per-partition
    heaps, no global sort) and both date predicates must reach the scans."""
    df = q(spark, "a29_shipping_priority")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert any("o_orderdate" in f for f in filters), filters


def test_l2_dedup_collapse_never_shuffles_text(spark):
    """The exact-dup collapse ahead of LSH aggregates only (md5, doc_id)
    and joins the keeper ids back to the corpus: the dedup shuffle must not
    carry text (old shape: min(text) rode through the aggregate), and the
    shingle pipeline must stay spread on the doc_id hash partitioning."""
    from bioio_spark.session import release

    # fresh frames so the session-level reps memo can't hide the build plan
    release(spark, "reps")
    release(spark, "load")
    try:
        df = q(spark, "l2_minhash_lsh")
        plan = physical_plan(df)
        assert "min(text" not in plan, "dedup aggregate shuffles full text"
        assert "partial_min(doc_id" in plan, "keeper-id aggregate missing"
        assert "hashpartitioning(doc_id" in plan, \
            "dedup output no longer spread on doc_id"
    finally:
        release(spark, "reps")
        release(spark, "load")


def test_zarr_reader_narrow_decode(spark, tmp_path):
    """Zarr source: the full, window and planes reads are each a scan of
    plan rows + mapInPandas — no Exchange of any kind and no file scan
    (the plan lists no chunk file). Decode parallelism comes from the
    chunk count, so at 100 TB the plan stays embarrassingly parallel."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    a = np.arange(2 * 4 * 6, dtype=np.uint16).reshape(1, 1, 2, 4, 6)
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "p")
    save_ome_zarr(img, out, chunks=(1, 1, 1, 2, 3))
    back = BioImage(out + "/scene_0.zarr", spark=spark)
    for px in (back.get_image_dataframe(),
               back.read_window(z=1, y=(1, 3)),
               back.get_planes_dataframe()):
        plan = physical_plan(px)
        assert "Exchange" not in plan, plan
        assert "FileScan" not in plan and "BinaryFile" not in plan, plan
        assert "MapInPandas" in plan, plan


def test_zarr_sink_single_shuffle(spark):
    """Zarr sink: the chunk-grid grouping is the ONE exchange; every
    chunk then encodes/writes independently (applyInPandas)."""
    import numpy as np

    from bioio_spark import BioImage
    from pyspark.sql import functions as F

    a = np.arange(2 * 4 * 6, dtype=np.uint16).reshape(1, 1, 2, 4, 6)
    img = BioImage(a, spark=spark)
    df = (img.get_stack_dataframe()
          .withColumn("cy", (F.col("y") / 2).cast("int"))
          .withColumn("cx", (F.col("x") / 3).cast("int"))
          .groupBy("scene_idx", "cy", "cx")
          .agg(F.count(F.lit(1)).alias("n")))
    assert shuffle_count(df) <= 1


def test_l4g_repetition_zero_operator_shuffles(spark):
    """Gopher repetition metrics stay a codegen projection: the top-2-gram
    count is a longest-run aggregate over the sorted per-doc gram array,
    so the only exchanges are the shared loader repartition and the
    presentation sort — no gram-cardinality shuffle."""
    df = q(spark, "l4g_repetition_filter")
    assert shuffle_count(df) <= 2
    plan = physical_plan(df)
    assert "HashAggregate" not in plan


def test_a30_filters_reach_the_scan(spark):
    """Q6 shape: every predicate must push to the parquet scan — the
    whole query is bandwidth-bound at scale only if the scan prunes."""
    df = q(spark, "a30_forecast_revenue")
    pf = pushed_filters(df)
    assert pf and any("l_shipdate" in f for f in pf)
    assert has_partial_aggregate(df)


def test_l4h_partial_combined_aggregates(spark):
    """Corpus-DF scoring: both the word-frequency and per-doc aggregates
    must combine map-side; the word-key exchange is the only wide cost."""
    df = q(spark, "l4h_word_df_score")
    assert has_partial_aggregate(df)
    assert shuffle_count(df) <= 5  # loader + word agg + join + doc agg + sort


def test_l4i_line_dedup_broadcast_df_partial_agg(spark):
    """Line-level dedup: only the tiny BOILERPLATE line set (df >
    threshold) joins back onto the exploded doc-lines side, riding a
    broadcast — the big side is never repartitioned for the join;
    n_lines comes from the narrow array size (no second explode), and
    both aggregates combine map-side."""
    df = q(spark, "l4i_line_dedup")
    assert has_partial_aggregate(df)
    assert broadcast_join_count(df) >= 1
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_planned_read_sources_no_shuffle(spark, tmp_path, planned_read):
    """DV / CZI / LIF / ND2 pixel scans are planned reads: the driver
    distributes (section/subblock/plane/frame -> byte-range) plan rows
    and tasks seek-read independently — the plan has no exchange at
    all, not even a round-robin repartition of the plan rows."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.czi import encode_czi
    from bioio_spark.formats.dv import encode_dv
    from bioio_spark.formats.lif import encode_lif
    from bioio_spark.formats.nd2 import encode_nd2
    from bioio_spark.formats.mkv import encode_mkv
    from bioio_spark.formats.mp4 import encode_mp4
    from bioio_spark.formats.mpeg1 import encode_mpeg1
    from bioio_spark.formats.zvi import encode_zvi

    block = np.zeros((2, 2, 2, 4, 5), np.uint16)
    files = {
        "a.dv": encode_dv(block),
        "a.czi": encode_czi(
            [{"data": block[t, c, z], "dims": {"T": t, "C": c, "Z": z}}
             for t in range(2) for c in range(2) for z in range(2)]),
        "a.lif": encode_lif([{"name": "S", "data": block}]),
        "a.nd2": encode_nd2(np.zeros((3, 4, 5), np.uint8)),
        "a.zvi": encode_zvi(block),
        "a.mp4": encode_mp4(np.zeros((2, 16, 16, 3), np.uint8)),
        "a.mkv": encode_mkv(np.zeros((2, 16, 16, 3), np.uint8)),
        "a.mpg": encode_mpeg1(np.zeros((2, 16, 16, 3), np.uint8)),
    }
    for name, payload in files.items():
        p = tmp_path / name
        p.write_bytes(payload)
        df = BioImage(str(p), spark=spark).get_image_dataframe()
        plan = physical_plan(df)
        assert planned_read(plan), \
            f"{name}: exchange or RDD scan\n{plan}"


def test_czi_planes_read_no_shuffle(spark, tmp_path, planned_read):
    """A CZI planes read (subblock -> payload rows) must plan with no
    exchange — decode parallelism comes from the plan rows' own
    partitions, the payload never shuffles."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.czi import encode_czi

    p = tmp_path / "pl.czi"
    p.write_bytes(encode_czi(
        [{"data": np.zeros((4, 5), np.uint16), "dims": {"Z": z}}
         for z in range(4)], compression=6))
    df = BioImage(str(p), spark=spark).get_planes_dataframe()
    plan = physical_plan(df)
    assert planned_read(plan), plan
    pdf = df.toPandas()
    assert len(pdf) == 4 and all(len(v) == 20 for v in pdf["values"])


def test_nd2_lif_window_reads_no_shuffle(spark, tmp_path, planned_read):
    """The new windowed ND2/LIF planned reads keep the pixel side
    shuffle-free, like every other planned-read source."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.lif import encode_lif
    from bioio_spark.formats.nd2 import encode_nd2

    pn = tmp_path / "w.nd2"
    pn.write_bytes(encode_nd2(
        np.zeros((6, 4, 5), np.uint16),
        loops=[("TimeLoop", 3), ("ZStackLoop", 2)]))
    dfn = BioImage(str(pn), spark=spark).read_window(t=(0, 2), y=(1, 3))
    assert planned_read(physical_plan(dfn))

    pl = tmp_path / "w.lif"
    pl.write_bytes(encode_lif(
        [{"name": "S",
          "data": np.zeros((2, 2, 2, 4, 5), np.uint16)}]))
    dfl = BioImage(str(pl), spark=spark).read_window(c=1, y=(1, 3))
    assert planned_read(physical_plan(dfl))


def test_vendor_tiff_dialects_no_shuffle(spark, tmp_path, planned_read):
    """LSM / STK / SVS / SCN / OIF pixel scans are planned reads like
    the rest of the vendor tier: plan rows distribute, tasks seek-read
    their strips/planes/tiles — no exchange and no RDD scan."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.lsm import encode_lsm
    from bioio_spark.formats.oif import encode_oif
    from bioio_spark.formats.scn import encode_scn
    from bioio_spark.formats.stk import encode_stk
    from bioio_spark.formats.svs import encode_svs

    block = np.zeros((2, 2, 2, 4, 5), np.uint16)
    files = {
        "a.lsm": encode_lsm(block),
        "a.stk": encode_stk(np.zeros((3, 4, 5), np.uint16),
                            z_distance=0.5),
        "a.svs": encode_svs(np.zeros((40, 48, 3), np.uint8),
                            n_levels=2, tile=(16, 16)),
        "a.scn": encode_scn([{"name": "r",
                              "array": np.zeros((32, 48), np.uint8),
                              "n_levels": 2}], tile=(16, 16)),
    }
    for name, payload in files.items():
        p = tmp_path / name
        p.write_bytes(payload)
        df = BioImage(str(p), spark=spark).get_image_dataframe()
        plan = physical_plan(df)
        assert planned_read(plan), \
            f"{name}: exchange or RDD scan\n{plan}"
    oif = encode_oif(block, str(tmp_path), name="a")
    df = BioImage(oif, spark=spark).get_image_dataframe()
    plan = physical_plan(df)
    assert planned_read(plan), f"a.oif: exchange or RDD scan\n{plan}"
    from bioio_spark.formats.ims import encode_ims
    from bioio_spark.formats.ndpi import encode_ndpi
    from bioio_spark.formats.oib import encode_oib
    from bioio_spark.formats.qptiff import encode_qptiff

    from bioio_spark.formats.dicom import encode_dicom
    from bioio_spark.formats.lof import encode_lof
    from bioio_spark.formats.mrc import encode_mrc

    more = {
        "a.ims": encode_ims(block, chunks=(1, 4, 5), gzip=True),
        "a.dcm": encode_dicom(np.zeros((3, 4, 5), np.uint16)),
        "a.lof": encode_lof({"name": "S",
                             "data": np.zeros((2, 2, 2, 4, 5),
                                              np.uint16)}),
        "a.mrc": encode_mrc(np.zeros((3, 4, 5), np.float32)),
        "a.ndpi": encode_ndpi(np.zeros((32, 48, 3), np.uint8),
                              n_levels=2),
        "a.qptiff": encode_qptiff(np.zeros((2, 32, 48), np.uint16),
                                  n_levels=1, tile=(16, 16),
                                  thumbnail=False),
        "a.oib": encode_oib(block),
    }
    for name, payload in more.items():
        p = tmp_path / name
        p.write_bytes(payload)
        df = BioImage(str(p), spark=spark).get_image_dataframe()
        plan = physical_plan(df)
        assert planned_read(plan), \
            f"{name}: exchange or RDD scan\n{plan}"


def test_l11_no_global_sort_window(spark):
    """l11 curriculum sampling must NOT sort the corpus globally: the
    r7 shape (ntile OVER an unpartitioned ORDER BY) moved every row to
    ONE task. The decile is now a narrow comparison projection against
    broadcast histogram-derived cut-point literals — no Window operator
    anywhere in the plan, partial agg before the only data shuffle."""
    df = q(spark, "l11_curriculum_sample")
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "ntile" not in plan.lower()
    assert has_partial_aggregate(df)


def test_l3e_pq_topk_narrow_heap_no_python(spark):
    """PQ/ADC search: encoding + LUT lookup is a pure codegen
    projection (no Python worker, no operator-induced shuffle before
    the top-k heap); ranking is TakeOrderedAndProject. The one hash
    exchange allowed is load()'s small-fixture fan-out repartition —
    not part of the operator."""
    df = q(spark, "l3e_pq_topk")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "REPARTITION_BY_NUM" in plan or \
        "Exchange hashpartitioning" not in plan


def test_bulk_catalog_walk_is_executor_side(spark, tmp_path):
    """The bulk-catalog stage must be a parallelized path list feeding
    mapInPandas — the catalog walk runs in executor tasks (no FileScan
    of image bytes, no driver loop, no shuffle of catalog rows beyond
    the path-list repartition)."""
    import numpy as np

    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.sources.bulk import bulk_catalog

    paths = []
    for i in range(6):
        p = tmp_path / f"s{i}.tif"
        p.write_bytes(encode_tiff(
            [np.zeros((4, 5), np.uint16)] * 2))
        paths.append(str(p))
    cat = bulk_catalog(spark, paths)
    plan = physical_plan(cat)
    assert "MapInPandas" in plan
    assert "FileScan" not in plan
    rows = {r["path"]: r for r in cat.collect()}
    assert len(rows) == 6
    assert all(r["ok"] and r["n_pages"] == 2 and r["n_chunks"] == 2
               for r in rows.values())


def test_bulk_catalog_errors_become_rows(spark, tmp_path):
    """Truncated/foreign files must surface as (ok=false, err) rows,
    never fail the job — the admission-control contract at directory
    scale."""
    import numpy as np

    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.sources.bulk import bulk_catalog

    good = tmp_path / "ok.tif"
    good.write_bytes(encode_tiff([np.zeros((4, 5), np.uint16)]))
    bad = tmp_path / "trunc.tif"
    bad.write_bytes(b"II*\x00\x08")
    foreign = tmp_path / "notes.txt"
    foreign.write_text("not an image")
    rows = {r["path"]: r for r in bulk_catalog(
        spark, [str(good), str(bad), str(foreign)]).collect()}
    assert rows[str(good)]["ok"]
    assert not rows[str(bad)]["ok"] and rows[str(bad)]["err"]
    assert not rows[str(foreign)]["ok"]
    assert "unsupported extension" in rows[str(foreign)]["err"]


def test_recursive_hierarchy_uses_union_loop(spark, sf_dir):
    """a35 executes through Spark's native recursive-CTE operator
    (UnionLoop) with a parent-key equi-join — no cartesian, no Python,
    and only the presentation sort's exchange."""
    from bioio_spark.queries.base import REGISTRY

    plan = (REGISTRY["a35_recursive_hierarchy"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_filter_stack_stays_jvm_side(spark, sf_dir):
    """l15 composes four rule passes: every gate is codegen (no Python
    UDF sneaks in via the composition), and flag joins are hash/broadcast
    equi-joins."""
    from bioio_spark.queries.base import REGISTRY

    plan = (REGISTRY["l15_filter_stack"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_l7_l19_no_stratum_wide_window(spark):
    """The packing family's running sum is the TWO-LEVEL prefix-sum
    (per-(lang, shard) local windows + broadcast shard offsets — the
    img_integral separable device): no Window operator may partition by
    the stratum key alone, which would order an entire lang in one task
    at 100 TB. Every running-sum window must carry the _shard column in
    its partition spec (the offsets window runs over the tiny per-shard
    totals frame, also shard-keyed); the offsets join is a broadcast."""
    import re

    for name in ("l7_sequence_packing", "l19_chunk_packing"):
        plan = physical_plan(q(spark, name))
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, f"{name}: expected window nodes\n{plan}"
        for spec in specs:
            assert "_shard" in spec, \
                f"{name}: stratum-wide window spec {spec}\n{plan}"
        assert broadcast_join_count(q(spark, name)) >= 1, \
            f"{name}: shard offsets must broadcast"


def test_l20_windowgrouplimit_and_broadcast_quota(spark):
    """l20 temperature mixing: the rank window must compile to
    WindowGroupLimit (bounded per-group top-k at the literal budget —
    never a stratum-wide sort) and the per-lang quota join must be a
    broadcast."""
    df = q(spark, "l20_temperature_mix")
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_media_neardup_fingerprints_cached_no_allpairs(spark):
    """The capped media near-dup: every fingerprint consumer reads the
    PERSISTED frame (3 InMemoryTableScans — the Arrow decode runs once),
    candidate enumeration is the grouped pair explode (no cartesian, no
    BNLJ, no raw band self-join recompute)."""
    from bioio_spark.functions.multimodal import (image_near_dups,
                                                  synth_media)

    df = image_near_dups(synth_media(spark, 16))
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_phash_neardup_fingerprints_cached_no_allpairs(spark):
    """The 128-bit pHash near-dup inherits the same plan shape through
    the parameterized `_banded_near_dups`: one persisted fingerprint
    frame feeding three consumers, capped pair explode, no cartesian."""
    from bioio_spark.functions.multimodal import (phash_near_dups,
                                                  synth_image_twins)

    df = phash_near_dups(synth_image_twins(spark, 16))
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ivf_adc_plan_prunes_before_topk(spark):
    """l3i composed IVF-ADC: the only wide op is the bounded top-k
    (TakeOrderedAndProject), the probe filter is a pushed isin ahead of
    the ADC arithmetic, and no data-scale join goes cartesian. r13: the
    frozen index (centroids + codebooks + LUT) rides as ONE-ROW
    broadcast LocalRelation frames (the l3k/s15 literal-free device),
    which plan as BroadcastNestedLoopJoin over a single row — constant
    work per corpus row, not a cartesian blowup; the pin now asserts
    those are the only nested-loop joins and that each build side is a
    LocalTableScan (in-memory one-row relation, never a scanned
    table)."""
    df = q(spark, "l3i_ivf_adc_topk")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # every nested-loop join must be the one-row index broadcast: the
    # plan carries exactly as many one-row relation scans (the index
    # frames — LocalTableScan or ExistingRDD depending on how
    # createDataFrame materializes the nested arrays) as
    # BroadcastNestedLoopJoins, and no other join shape appears
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj == 2, plan[:2000]
    n_onerow = plan.count("LocalTableScan") + plan.count(
        "Scan ExistingRDD")
    assert n_onerow == n_bnlj, plan[:2000]
    # the probe-list membership filter survives optimization (the cid
    # argmax is inlined into it), and the query-exclusion predicate is
    # pushed all the way into the parquet scan
    assert "IN (" in plan.replace("IN(", "IN (")
    assert "Not(EqualTo(vec_id,2))" in plan


def test_a37_salted_join_spreads_hot_key(spark):
    """a37: the join must be a shuffle join keyed on (acct, _salt) —
    the salt in the exchange partitioning IS the skew split — with no
    broadcast (which would hide the pattern) and no cartesian."""
    df = q(spark, "a37_salted_skew_join")
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # the salt participates in the shuffle partitioning of both sides
    import re
    parts = re.findall(r"hashpartitioning\([^)]*\)", plan)
    salted = [p for p in parts if "_salt" in p]
    assert len(salted) >= 2, plan[:2000]


def test_a37_salt_width_invariant(spark, sf_dir):
    """Salting must not change the result for ANY salt width: the
    S-fold dim replication meets each fact row exactly once."""
    import bioio_spark.queries.relational as rel

    base = sorted(tuple(r) for r in
                  q(spark, "a37_salted_skew_join").collect())
    old = rel._A37_SALT
    try:
        rel._A37_SALT = 3
        alt = sorted(tuple(r) for r in
                     rel.a37_salted_skew_join(spark, sf_dir).collect())
    finally:
        rel._A37_SALT = old
    assert base == alt


def test_crop_neardup_tiles_cached_no_allpairs(spark):
    """mm_crop_neardup (r12): the tile-hash frame is persisted and
    feeds the bucket grouping + BOTH sides of the offset verification
    (3 InMemoryTableScans — the Arrow decode runs once); candidates
    come from the capped pair explode, never a cartesian."""
    from bioio_spark.functions.multimodal import (crop_near_dups,
                                                  synth_crop_twins)

    df = crop_near_dups(synth_crop_twins(spark, 16))
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_e3_sessionization_single_shuffle(spark):
    """e3 (r12): the native session_window grouping sessionizes inside
    ONE user_id exchange — exactly one shuffle in the plan (plus the
    output sort), no window-function self-join, no second exchange for
    the merge."""
    df = q(spark, "e3_sessionization")
    plan = physical_plan(df)
    # one exchange for the aggregate, one for the final orderBy's
    # range partitioning — nothing else
    assert plan.count("Exchange") == 2, plan[:2000]
    assert "SessionWindowStateStore" not in plan  # batch mode: no state
    assert "Window" not in plan                   # no lag/island windows


def test_sq8_encode_plan_is_literal_free(spark, sf_dir):
    """l3m (r12): the SQ range 'codebook' rides as a one-row broadcast
    LocalRelation, not as literal expression trees — the plan contains
    a BroadcastNestedLoopJoin of a 1-row local table and NO per-range
    literal floods (spot-check: the trained min values do not appear
    as literals in the physical plan)."""
    from bioio_spark.functions.similarity import _train_sq, _to_double
    from bioio_spark.functions.similarity import sq8_topk
    from bioio_spark.queries.base import load
    from pyspark.sql import functions as F

    embeddings = load(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    mins, _maxs = _train_sq(emb, cache_key=None)
    df = sq8_topk(embeddings, query_vec_id=2, k=10, cache_key=None)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert repr(float(mins[3]))[:12] not in plan


def test_g4_reuses_persisted_edges_across_rounds(spark):
    """g4 (r12): every LPA round joins the SAME persisted undirected
    edge frame — at least 3 InMemoryTableScans (one per round), so the
    pair enumeration never reruns per round. (>= not ==: in a shared
    session the CacheManager may also substitute g3's still-held
    persisted edge fragments into this plan — more cache reuse, which
    is fine; a pristine session reads exactly 3.)"""
    df = q(spark, "g4_label_propagation")
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_l29_rag_query_side_broadcast_no_cartesian(spark):
    """l29 (r13): the chunk-cells x queries dot is a broadcast
    nested-loop of the TINY dense query frame against the sparse
    cells, never a shuffled cartesian; ranking ends in one bounded
    window pair."""
    plan = physical_plan(q(spark, "l29_rag_retrieval"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_g5_kcore_reuses_persisted_frames(spark):
    """g5 (r13): every peel round consumes the PREVIOUS round's
    persisted survivor frames — InMemoryTableScans appear, the pair
    enumeration never reruns per round, no cartesian anywhere."""
    plan = physical_plan(q(spark, "g5_kcore_peel"))
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_e4_transition_total_is_broadcast(spark):
    """e4 (r13): the permille share divides by a one-row total joined
    broadcast — no shuffle of the transition matrix against itself."""
    plan = physical_plan(q(spark, "e4_markov_transitions"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan

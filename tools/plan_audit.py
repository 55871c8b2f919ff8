"""Regenerate the captured physical plans in PLANS.md (everything
below the AUTOGEN marker): Q1 point lookup and Q3 geometry probe over
the province fixture (or, where that file is absent, the generated
`fixtures_dense` boundary set), `.explain("formatted")`, plus the
plan-shape assertions we care about (one pass over the probe source,
no shuffle on the index paths, Python stages only where expected).

Usage: python tools/plan_audit.py
"""
from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
# glibc malloc tunables BEFORE the JVM starts (workers inherit): large
# numpy temporaries otherwise mmap/munmap per call and the page-fault
# churn serializes concurrent Arrow kernels (hostload.MALLOC_TUNING)
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "<!-- AUTOGEN: plans below regenerated by tools/plan_audit.py -->"
PROVINCE = "/root/reference/仅供测试-全国省级GeoJSON数据-大幅简化粗略版.json"


def grab_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main():
    from pyspark.sql import SparkSession, functions as F

    from areacity_query_geometry_spark.engine import SpatialEngine

    spark = (SparkSession.builder.master("local[4]").appName("plan-audit")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    boundary_set, path = "province fixture", PROVINCE
    if not os.path.exists(PROVINCE):
        from areacity_query_geometry_spark import fixtures_dense

        boundary_set = "generated fixtures_dense set (default shape)"
        tmp = tempfile.TemporaryDirectory()  # removed at exit
        path = os.path.join(tmp.name, "dense.json")
        fixtures_dense.generate(path)
    eng = SpatialEngine.from_geojson(spark, path, base_res=10)

    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
        (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"))
    q1 = eng.query_points(pts, with_props=False)
    q1_plan = grab_plan(q1)

    probes = spark.createDataFrame(
        [(1, "POLYGON ((113 30, 113 33, 117 33, 117 30, 113 30))"),
         (2, "LINESTRING (114 30, 116 40)"),
         (3, "GEOMETRYCOLLECTION (MULTIPOINT ((114 23), (116 40)), "
             "MULTILINESTRING ((108 34, 120 28)))")],
        "probe_id long, wkt string")
    q3 = eng.query_geometry(probes, with_props=False)
    q3_plan = grab_plan(q3)
    # where-filtered queries ride the index too (keep-region array)
    q3_where_plan = grab_plan(eng.query_geometry(
        probes, where="deep = 0", with_props=False))
    q1_where_plan = grab_plan(eng.query_points(
        pts, where="deep = 0", with_props=False))
    # the join fallbacks: an engine over the same tables whose interior
    # index is past its ceiling, and one whose boundary index is
    over = SpatialEngine(spark, eng.boundaries, eng.tiles, eng.base_res,
                         interior_broadcast_rows=0)
    q1_join_plan = grab_plan(over.query_points(pts, with_props=False))
    over_b = SpatialEngine(spark, eng.boundaries, eng.tiles, eng.base_res,
                           broadcast_wkb_budget=0)
    q1_smj_plan = grab_plan(over_b.query_points(pts, with_props=False))
    q3_join_plan = grab_plan(over.query_geometry(probes, with_props=False))

    # Q2 at a finite tolerance over a parquet probe source: the
    # one-pass plan, and the join fallback with the interior index past
    # its ceiling. Building the fallback DataFrame already runs its Q1
    # checkpoint job; the one-pass one must run none.
    pq_dir = tempfile.TemporaryDirectory()  # removed at exit
    pq_path = os.path.join(pq_dir.name, "probes.parquet")
    pts.write.parquet(pq_path)
    pq_pts = spark.read.parquet(pq_path)
    sc = spark.sparkContext
    sc.setJobGroup("plan-audit-q2", "Q2 plan construction")
    q2_plan_tol = grab_plan(eng.query_points_with_tolerance(pq_pts, 25000.0))
    q2_jobs = len(sc.statusTracker().getJobIdsForGroup("plan-audit-q2"))
    q1_props_plan = grab_plan(eng.query_points(pq_pts))
    sc.setJobGroup("plan-audit-q2-join", "Q2 join fallback construction")
    q2_join_plan = grab_plan(over.query_points_with_tolerance(
        pq_pts, 25000.0))
    q2_join_jobs = len(sc.statusTracker().getJobIdsForGroup(
        "plan-audit-q2-join"))
    # tolerance -1 rides the same one-pass plan (the indexes are built
    # by now, so building it runs no job)
    sc.setJobGroup("plan-audit-q2-unlimited", "Q2 -1 plan construction")
    q2_plan_m1 = grab_plan(eng.query_points_with_tolerance(pq_pts, -1, k=2))
    q2_m1_jobs = len(sc.statusTracker().getJobIdsForGroup(
        "plan-audit-q2-unlimited"))
    sc.setLocalProperty("spark.jobGroup.id", None)

    checks = []

    def check(name, cond):
        checks.append(f"- {'PASS' if cond else 'FAIL'}: {name}")

    def nodes(plan, name):
        return len(re.findall(rf"\(\d+\) {name}\n", plan))

    check("Q1 one-pass index plan reads the probe source once (one Range)",
          len(re.findall(r"\(\d+\) Range\b", q1_plan)) == 1)
    check("Q1 one-pass index plan: no Union, ZERO Exchanges (no join and "
          "no per-query BroadcastExchange — both tile indexes ship as "
          "broadcast variables)",
          nodes(q1_plan, "Union") == 0
          and nodes(q1_plan, "Exchange") == 0
          and nodes(q1_plan, "BroadcastExchange") == 0)
    check("Q1 one Python eval node (ArrowEvalPython over lng, lat, cell_id; "
          "the id columns stay in the JVM), no MapInPandas",
          nodes(q1_plan, "ArrowEvalPython") == 1
          and nodes(q1_plan, "MapInPandas") == 0)
    def keyed_aggs(plan, keys):
        return len(re.findall(
            r"\(\d+\) HashAggregate[^\n]*\nInput \[\d+\]: [^\n]*\n"
            rf"Keys \[{len(keys)}\]: \["
            + ", ".join(rf"{k}#\d+L?" for k in keys) + r"\]\n", plan))

    check("Q1 join fallback with an index past its ceiling "
          "(interior_broadcast_rows=0): interior join UNION one boundary "
          "MapInPandas whose rows are deduped by a (point_id, region_id) "
          "aggregate (partial and final), no ArrowEvalPython",
          nodes(q1_join_plan, "Union") == 1
          and nodes(q1_join_plan, "MapInPandas") == 1
          and nodes(q1_join_plan, "ArrowEvalPython") == 0
          and keyed_aggs(q1_join_plan, ("point_id", "region_id")) == 2)
    check("Q1 join fallback with the boundary side past its ceiling "
          "(broadcast_wkb_budget=0): the boundary probes reach the "
          "SortMergeJoin through one Exchange, with no REPARTITION_BY_NUM "
          "and no semi-join",
          re.search(r"SortMergeJoin Inner \(\d+\)", q1_smj_plan) is not None
          and "REPARTITION_BY_NUM" not in q1_smj_plan
          and "LeftSemi" not in q1_smj_plan
          and len(re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: "
                             r"\[[^\]]*\blng#", q1_smj_plan)) == 1)
    check("Q3 default = broadcast-index refine: ONE MapInPandas over the "
          "probe table, ZERO Exchanges (cover, candidate lookup, kernels "
          "and dedup all in-kernel against the CSR indexes)",
          nodes(q3_plan, "MapInPandas") == 1
          and nodes(q3_plan, "Exchange") == 0)
    check("Q3 join fallback: cover+refine are the only Python stages "
          "(incl. GEOMETRYCOLLECTION/MULTI* probes — no extra stage per type)",
          nodes(q3_join_plan, "MapInPandas") == 2)
    check("where-filtered Q1/Q3 keep the zero-shuffle index plans "
          "(keep-region array applied in-kernel, no LEFT SEMI tile join)",
          nodes(q1_where_plan, "Exchange") == 0
          and nodes(q3_where_plan, "Exchange") == 0
          and nodes(q3_where_plan, "MapInPandas") == 1)
    check("Q2 tolerance>0 one-pass index plan reads the probe parquet "
          "once (one Scan parquet) through one ArrowEvalPython "
          "(Q1 hits or nearest regions per deep), no MapInPandas",
          nodes(q2_plan_tol, r"Scan parquet\s*") == 1
          and nodes(q2_plan_tol, "ArrowEvalPython") == 1
          and nodes(q2_plan_tol, "MapInPandas") == 0)
    check("Q2 one-pass plan: no Window, Union or shuffle Exchange; the "
          "props dim's BroadcastExchange is the only exchange",
          nodes(q2_plan_tol, "Window") == 0
          and nodes(q2_plan_tol, "Union") == 0
          and nodes(q2_plan_tol, "Exchange") == 0
          and nodes(q2_plan_tol, "BroadcastExchange") == 1)
    check("Q2 one-pass plan: no localCheckpoint (no job while building "
          "the plan, and no scan of checkpointed data beyond Q1 with "
          "props' own)",
          q2_jobs == 0
          and nodes(q2_plan_tol, r"Scan ExistingRDD\s*")
          == nodes(q1_props_plan, r"Scan ExistingRDD\s*"))
    check("Q2 join fallback with an index past its ceiling "
          "(interior_broadcast_rows=0): checkpointed Q1, cover and "
          "distance MapInPandas, min-agg Window, Union",
          q2_join_jobs > 0
          and nodes(q2_join_plan, "MapInPandas") == 2
          and nodes(q2_join_plan, "Window") == 1
          and nodes(q2_join_plan, "Union") == 1)

    # pipeline-gate plan shapes (VERDICT r1 "what's wrong" #1/#2): the
    # near-dup gates must keep their banded/blocked shapes — any
    # regression to an all-pairs join shows up as a cartesian or
    # nested-loop node, any regression to driver-side collection shows
    # up as a new `.collect()` in the gate source.
    import __spark_entry__ as entrymod

    sd_plan = grab_plan(entrymod.simhash_near_dup(spark, "/root/testdata/sf0.001"))
    check("simhash_near_dup: pigeonhole-band EQUI-join only "
          "(no CartesianProduct / BroadcastNestedLoopJoin)",
          "CartesianProduct" not in sd_plan
          and "BroadcastNestedLoopJoin" not in sd_plan)
    ed_plan = grab_plan(entrymod.embedding_near_dup(spark, "/root/testdata/sf0.001"))
    check("embedding_near_dup: distributed block-pair scan "
          "(FlatMapGroupsInPandas, no cartesian)",
          "FlatMapGroupsInPandas" in ed_plan and "CartesianProduct" not in ed_plan)
    ng_plan = grab_plan(entrymod.ngram_jaccard_pairs(spark, "/root/testdata/sf0.001"))
    check("ngram_jaccard_pairs: pairs expand from df-capped groups "
          "(Generate over collect_list, no shingle self-join)",
          "Generate" in ng_plan)
    dc_plan = grab_plan(entrymod.doc_decontaminate(spark, "/root/testdata/sf0.001"))
    check("doc_decontaminate: gram membership is a broadcast semi-join "
          "(train grams never shuffle by gram; no cartesian)",
          "LeftSemi" in dc_plan and "BroadcastHashJoin" in dc_plan
          and "CartesianProduct" not in dc_plan)
    from areacity_query_geometry_spark import docs as docsmod
    from areacity_query_geometry_spark.functions import media as mediamod

    def codegen_posexplode(plan):
        # the explode compiles with its scan and filter: no higher-order
        # function (CodegenFallback) anywhere in the plan
        return (re.search(r"\(\d+\) Generate \[codegen id : \d+\]\n"
                          r"Input[^\n]*\nArguments: posexplode\(", plan)
                is not None and "lambdafunction" not in plan)

    few_docs = docsmod.generate_docs(spark, 50)
    check("docs geo-span explode (geo_span_points): Generate posexplode "
          "inside a whole-stage codegen stage; no lambdafunction in the plan",
          codegen_posexplode(grab_plan(docsmod.geo_span_points(few_docs))))
    check("media span explode (decode_media): Generate posexplode inside a "
          "whole-stage codegen stage; no lambdafunction in the plan",
          codegen_posexplode(grab_plan(mediamod.decode_media(few_docs))))
    from areacity_query_geometry_spark import knn as knnmod

    knn_active = spark.createDataFrame(
        [(1, 10.0, 10.0, 5.625)],
        "probe_id long, lng double, lat double, rho double")
    knn_pts = spark.range(100).selectExpr(
        "id AS point_id", "CAST(id % 64 AS DOUBLE) AS lng",
        "CAST(id % 32 AS DOUBLE) AS lat").selectExpr(
        "point_id", "lng AS plng", "lat AS plat",
        "(CAST(6 AS BIGINT) * 72057594037927936L"
        " + CAST(floor((lng + 180.0) / 5.625) AS BIGINT) * 268435456L"
        " + CAST(floor((lat + 90.0) / 5.625) AS BIGINT)) AS cell_id")
    _, knn_cand = knnmod._round_candidates(
        knn_active, knn_pts, 5.625, 64,
        "(CAST(6 AS BIGINT) * 72057594037927936L"
        " + ix * 268435456L + iy)")
    knn_plan = grab_plan(knn_cand)
    check("knn_point_join round: cell EQUI-join + codegen cover generators "
          "(no CartesianProduct / BroadcastNestedLoopJoin)",
          "CartesianProduct" not in knn_plan
          and "BroadcastNestedLoopJoin" not in knn_plan
          and "Generate" in knn_plan)
    ov_plan = grab_plan(entrymod.region_overlay_area(
        spark, "/root/testdata/sf0.001"))
    check("region_overlay_area: codegen cell cover + equi-join, interior "
          "branch pure JVM, ONE MapInPandas (boundary clip only), "
          "no CartesianProduct / BroadcastNestedLoopJoin",
          nodes(ov_plan, "MapInPandas") == 1
          and "CartesianProduct" not in ov_plan
          and "BroadcastNestedLoopJoin" not in ov_plan
          and "Generate" in ov_plan)
    pv_plan = grab_plan(entrymod.region_poly_overlay(
        spark, "/root/testdata/sf0.001"))
    check("region_poly_overlay: rect decomposition materialized ONCE "
          "(localCheckpoint barrier — both join branches scan the "
          "ExistingRDD, not a re-run of the WKT parse), ONE boundary "
          "MapInPandas, no CartesianProduct / BroadcastNestedLoopJoin",
          nodes(pv_plan, "MapInPandas") == 1
          and "ExistingRDD" in pv_plan
          and "CartesianProduct" not in pv_plan
          and "BroadcastNestedLoopJoin" not in pv_plan)
    ll_plan = grab_plan(entrymod.region_line_length(
        spark, "/root/testdata/sf0.001"))
    check("region_line_length: same shape — codegen cover + equi-join, "
          "interior length algebra pure JVM, ONE MapInPandas, "
          "no CartesianProduct / BroadcastNestedLoopJoin",
          nodes(ll_plan, "MapInPandas") == 1
          and "CartesianProduct" not in ll_plan
          and "BroadcastNestedLoopJoin" not in ll_plan
          and "Generate" in ll_plan)
    hu_plan = grab_plan(entrymod.events_convex_hull(
        spark, "/root/testdata/sf0.001"))
    check("events_convex_hull: map-side partial hulls (MapInPandas before "
          "ANY exchange) + ONE group shuffle of hull-sized rows "
          "(single Exchange, FlatMapGroupsInPandas merge, no cartesian)",
          nodes(hu_plan, "MapInPandas") == 1
          and "FlatMapGroupsInPandas" in hu_plan
          and nodes(hu_plan, "Exchange") == 1
          and "CartesianProduct" not in hu_plan)
    dcl_plan = grab_plan(entrymod.events_density_clusters(
        spark, "/root/testdata/sf0.001"))
    check("events_density_clusters: final plan joins the two checkpointed "
          "intermediates (dense cells + the bidirectional edge list, both "
          "ExistingRDD — the map-side-combining cell count ran eagerly "
          "behind localCheckpoint; under-budget graphs solve components "
          "in ONE Arrow kernel, past-budget in the O(log d) "
          "pointer-doubling loop), EQUI-join only "
          "(no CartesianProduct / BroadcastNestedLoopJoin)",
          nodes(dcl_plan, "Scan ExistingRDD") == 2
          and "CartesianProduct" not in dcl_plan
          and "BroadcastNestedLoopJoin" not in dcl_plan)
    sp_plan = grab_plan(entrymod.events_simplify_lines(
        spark, "/root/testdata/sf0.001"))
    check("events_simplify_lines: ONE line-key exchange + partition-"
          "local sort into the breadth-first batch DP kernel "
          "(single MapInPandas, no per-line group dispatch, no "
          "cartesian)",
          nodes(sp_plan, "MapInPandas") == 1
          and nodes(sp_plan, "Exchange") == 2  # fixture row_number + kernel key
          and "Sort" in sp_plan
          and "CartesianProduct" not in sp_plan)
    idw_plan = grab_plan(entrymod.events_idw_surface(
        spark, "/root/testdata/sf0.001"))
    check("events_idw_surface: codegen cell cover (Generate) + cell "
          "EQUI-join + hash aggregation, zero Python stages, no "
          "CartesianProduct / BroadcastNestedLoopJoin",
          "Generate" in idw_plan
          and "HashAggregate" in idw_plan
          and "MapInPandas" not in idw_plan
          and "CartesianProduct" not in idw_plan
          and "BroadcastNestedLoopJoin" not in idw_plan)
    sm_plan = grab_plan(entrymod.q1_sortmerge_salted(spark, "/root/testdata/sf0.001"))
    check("q1_sortmerge_salted: the all-shuffle join fallback (both index "
          "ceilings 0) sort-merge joins both tile sides (two "
          "SortMergeJoin Inner), with no REPARTITION_BY_NUM",
          len(re.findall(r"SortMergeJoin Inner \(\d+\)", sm_plan)) == 2
          and "REPARTITION_BY_NUM" not in sm_plan)
    entry_src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    check("gates hold no full-table collect "
          "(the only .collect() is the 16-row IVF centroid fetch)",
          entry_src.count(".collect()") == 1)
    eng_src = open(os.path.join(
        REPO, "areacity_query_geometry_spark", "engine.py")).read()
    check("Q2 tolerance=-1 takes the one-pass plan: exactly one "
          "ArrowEvalPython, no Exchange, MapInPandas, Window or Union, "
          "no job while the plan is built; no driver-side miss "
          "materialization (engine.py: no .limit(), only two "
          "metadata-sized .collect()s — the 3-row kind-count and the "
          "1-row boundary-index byte stat)",
          nodes(q2_plan_m1, "ArrowEvalPython") == 1
          and all(nodes(q2_plan_m1, n) == 0
                  for n in ("Exchange", "MapInPandas", "Window", "Union"))
          and q2_m1_jobs == 0
          and ".limit(" not in eng_src and eng_src.count(".collect()") == 2)
    audit = "\n".join(checks)

    md_path = os.path.join(REPO, "PLANS.md")
    src = open(md_path).read()
    head = src.split(MARKER)[0].rstrip()
    out = f"""{head}

{MARKER}

## Plan-shape audit (regenerated)

Boundary set: {boundary_set}, base_res 10.

{audit}

## Q1 captured plan

```
{q1_plan}
```

## Q2 captured plan (tolerance 25 km, one-pass index plan)

```
{q2_plan_tol}
```

## Q3 captured plan (broadcast-index default)

```
{q3_plan}
```

## Q3 captured plan (cover-join fallback)

```
{q3_join_plan}
```
"""
    open(md_path, "w").write(out)
    print(audit)
    spark.stop()


if __name__ == "__main__":
    main()

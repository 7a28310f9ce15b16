"""Physical-plan shape assertions (.explain discipline, SURVEY.md §4):
filters and column pruning reach the parquet scan, small build sides
broadcast, aggregations are two-phase (map-side partial), and the hot
expressions stay in whole-stage codegen."""
import re

import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.functions import sqlfns
from tosidewalk_spark.kernel import cells
from tosidewalk_spark.operators import network as N, sidewalks as SW, spatial as SP
from tosidewalk_spark.sources import synth

SF = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = q._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan
    # column pruning: text (the wide column) must NOT be read
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_pip_join_broadcasts_buffer_side(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    nodes, ways = synth.osm_grid(spark, g=6)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    bufs = SP.street_buffers(SP.street_segments(SW.make_sidewalks(gw)),
                             res=SP.PIP_COVER_RES)
    jo = SP.pip_join(pts, bufs, cover_res=SP.PIP_COVER_RES)
    plan = _executed_plan(jo)
    # AQE should turn the tiny exploded-cover build side into a broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_pip_join_path_has_no_python(spark):
    """r2: buffers + ray-cast refine are pure SQL — the whole PIP path must
    execute without python workers (this is also what makes local[N] an
    honest N-core scaling job: python UDF workers are not capped by it)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    nodes, ways = synth.osm_grid(spark, g=6)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    bufs = SP.street_buffers(SP.street_segments(gw), res=SP.PIP_COVER_RES)
    jo = SP.pip_join(pts, bufs, cover_res=SP.PIP_COVER_RES)
    plan = _executed_plan(jo)
    for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                   "BatchEvalPython"):
        assert marker not in plan, f"python stage {marker} in PIP path"


@pytest.mark.parametrize("stage", ["join_segmented_ways", "merge_parallel_pairs",
                                   "simplify_gw", "make_crosswalks"])
def test_build_network_geometry_stages_have_no_python(spark, stage):
    """The four build_network stages that ran pandas UDFs are SQL now: their
    executed plans on the micro fixtures start no python worker."""
    def gw(name):
        nodes, ways = synth.micro_fixture(spark, name)
        return N.geom_ways(nodes, ways)

    if stage == "join_segmented_ways":
        df = N.join_segmented_ways(synth.micro_fixture(spark, "segmented_street")[1])
    elif stage == "merge_parallel_pairs":
        lanes = gw("parallel_lanes")
        df = N.merge_parallel_pairs(lanes, N.find_parallel_pairs(lanes))
    elif stage == "simplify_gw":
        df = N.simplify_gw(gw("zigzag_redundant"))
    else:
        df = SW.make_crosswalks(gw("four_way"), None)
    plan = _executed_plan(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, (stage, marker)


def _final_nodes(df) -> list:
    """Every node of ``df``'s final adaptive plan after a collect, walking
    into each query stage's exchange."""
    df.collect()
    nodes, todo = [], [df._jdf.queryExecution().executedPlan().finalPhysicalPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _joins(nodes) -> int:
    return sum("Join" in _kind(n) for n in nodes)


_SUB_KEYED = re.compile(r"hashpartitioning\(cell9#\d+L, sub_idx#\d+L, \d+\)")


def test_tiles_one_aggregation_plan(spark):
    """coverage_tiles is one aggregation over points and matches: it adds
    no join and no salt column, and every shuffle it plans carries
    map-side partial aggregates, not raw rows."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    nodes, ways = synth.osm_grid(spark, g=6)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    bufs = SP.street_buffers(SP.street_segments(SW.make_sidewalks(gw)),
                             res=SP.PIP_COVER_RES)
    matches = SP.pip_join(pts, bufs, cover_res=SP.PIP_COVER_RES)
    tiles = SP.coverage_tiles(pts, matches)
    plan = _final_nodes(tiles)
    # every join in the plan is one the matches' own plan already has
    assert _joins(plan) == _joins(_final_nodes(matches)) > 0
    assert not any(re.search(r"\bsalt#", n.simpleString(1000)) for n in plan)
    # the shuffles tiles plans are keyed by cell9 (the network build side
    # under the matches has its own)
    exchanges = [n for n in plan if _kind(n) == "ShuffleExchangeExec" and
                 n.outputPartitioning().toString().startswith("hashpartitioning(cell9#")]
    assert any(_SUB_KEYED.fullmatch(e.outputPartitioning().toString()) for e in exchanges)
    for e in exchanges:
        below = e.child()
        while _kind(below) in ("WholeStageCodegenExec", "InputAdapter"):
            below = below.child()
        assert "Aggregate" in _kind(below), _kind(below)
        assert "partial_" in below.simpleString(1000), below.simpleString(1000)


def test_tiles_hot_cell_combines_map_side(spark):
    """80,000 points in ONE res-9 cell, spread evenly over its 16
    sub-cells and 8 input partitions, every third point matched: the tiles
    are the closed-form counts, and the (cell9, sub_idx) shuffle reads at
    most one row per sub-cell per map task — the hot cell never reaches it
    as raw rows."""
    n, parts = 80_000, 8
    s_sub = sqlfns.dlit(cells.cell_size_deg(cells.DEFAULT_RES + 2))
    hot = cells.cell(47.6, -122.33, cells.DEFAULT_RES)
    i9, j9 = (int(x) * SP.N_SUB for x in cells.cell_ij(hot))
    # point id sits at the centre of sub-cell id % 16 (row-major)
    pts = (spark.range(0, n, 1, parts)
           .select("id", F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
                   F.concat(F.lit("poi_"), (F.col("id") % 7).cast("string")).alias("entity"),
                   F.expr(f"({j9} + (id % 16) DIV {SP.N_SUB} + 0.5e0) * {s_sub} "
                          f"- 90.0e0").alias("lat"),
                   F.expr(f"({i9} + id % {SP.N_SUB} + 0.5e0) * {s_sub} "
                          f"- 180.0e0").alias("lng"))
           .withColumn("cell9", F.expr(sqlfns.cell_sql("lat", "lng", cells.DEFAULT_RES))))
    tiles = SP.coverage_tiles(pts.drop("id"), pts.filter("id % 3 = 0").drop("id"))
    plan = _final_nodes(tiles)
    assert [(r.cell9, r.n_pages, r.n_matched, r.raster) for r in tiles.collect()] == [
        (hot, n, (n + 2) // 3, [n / 16] * 16)]
    bound = parts * SP.N_SUB ** 2
    keyed = [e for e in plan if _kind(e) == "ShuffleExchangeExec"
             and _SUB_KEYED.fullmatch(e.outputPartitioning().toString())]
    assert len(keyed) == 1
    # it reads at most the bound; any shuffle reading more is keyed by the
    # match identity too, so the distinct matches spread over tasks
    for e in (e for e in plan if _kind(e) == "ShuffleExchangeExec"):
        part = e.outputPartitioning().toString()
        assert (e.metrics().apply("recordsRead").value() <= bound
                or ("url#" in part and "entity#" in part)), part


def test_geocode_stays_in_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    plan = pts._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in plan or "*(" in plan
    # and no python evaluation anywhere in the geocode path
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_hash_projection_not_collapsed(spark):
    """The staged geocode must keep the expensive polynomial hash in its
    own Project (re-inlining evaluates it 4-6x per row — measured 10x
    slower).  Count occurrences of the hash fold in the optimized plan:
    one per hash column (h1, h2), not one per consumer."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    plan = _optimized_plan(pts)
    assert plan.count("aggregate(filter(split(") <= 2, (
        "polynomial hash inlined into consumers:\n" + plan[:3000])


def test_broadcast_star_join_plan(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    q = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy("c_nationkey").count()
    plan = _executed_plan(q)
    assert "BroadcastHashJoin" in plan


def test_ivf_topk_plan_shape(spark):
    """r3: the IVF build/probe sides must broadcast the centroid table and
    stay fully JVM-side; the final candidate scan is an equi-join on
    centroid_id, never a cartesian against the corpus."""
    from tosidewalk_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.ivf_topk(emb, emb.filter("vec_id % 17 = 0"), k=3)
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
    # the candidate scan joins on centroid_id (hash join), not a cartesian
    assert "CartesianProduct" not in plan
    # r4: the centroid set is a FIXED budget (global top-K on a hash of
    # vec_id — TakeOrderedAndProject), not a corpus-proportional stride
    # filter (VERDICT.md r3 'What's wrong' #2)
    assert "TakeOrderedAndProject" in plan


def test_embedding_neardup_bucket_cap_plan(spark):
    """r4: the near-dup bucket self-join must carry the max_bucket cap —
    a LeftSemi join against the small-buckets set — and stay JVM-side
    (VERDICT.md r3 'What's wrong' #1)."""
    from tosidewalk_spark.operators import dedup
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = dedup.embedding_neardup_pairs(emb, cos_threshold=0.4)
    plan = _executed_plan(out)
    assert "LeftSemi" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"):
        assert marker not in plan


def test_simhash64_is_codegen_aggregate(spark):
    """r3: the 62-bit fingerprint runs as a hash aggregation with map-side
    combine (partial_), not as a nested interpreted HOF fold."""
    from tosidewalk_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed_plan(dedup.simhash64(docs))
    assert "HashAggregate" in plan and "partial_" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def _scans(plan: str) -> set:
    """Checkpoint and cache scans of a plan, attribute ids stripped."""
    return {re.sub(r"#\d+L?", "", line.strip(" +-:*()0123456789"))
            for line in plan.splitlines()
            if "ExistingRDD" in line or "InMemoryRelation" in line
            or "InMemoryTableScan" in line}


@pytest.mark.parametrize("k", [1, 3])
def test_knn_k1_fast_path_is_aggregation(spark, k):
    """kNN is one plan: it reads no checkpoint or cache of its own (only
    what its inputs read), and k=1 plans as a struct-min hash aggregation
    (map-side combine) with no per-point window sort."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = synth.geo_entities_from_documents(docs)
    nodes, ways = synth.osm_grid(spark, g=6)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    seg_cells = SP.segments_by_cell(SP.street_buffers(SP.street_segments(SW.make_sidewalks(gw))))
    out = SP.knn_join(pts, seg_cells, k=k, max_ring=4)
    plan = _executed_plan(out)
    inputs = _scans(_executed_plan(pts)) | _scans(_executed_plan(seg_cells))
    assert _scans(plan) <= inputs, _scans(plan) - inputs
    if k == 1:
        assert "HashAggregate" in plan and "partial_" in plan
        # no per-point rank window (the R5 running-sum window in the
        # build-side street split is fine — it partitions by way_id)
        assert "windowspecdefinition(url" not in plan, \
            "k=1 path must not sort per point"


def test_pyfiles_zip_imports_standalone(tmp_path):
    """The --py-files archive must be importable with NO repo on sys.path —
    what every executor python worker does on a real cluster."""
    import subprocess
    import sys

    from tosidewalk_spark.submit import build_pyfiles_zip
    z = build_pyfiles_zip(str(tmp_path / "engine.zip"))
    prog = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from tosidewalk_spark.kernel import geom, cells; "
            "print(cells.cell(47.6, -122.33, 9))")
    out = subprocess.run([sys.executable, "-c", prog, z], capture_output=True,
                         text=True, cwd=str(tmp_path), check=True)
    from tosidewalk_spark.kernel import cells
    assert out.stdout.strip() == str(cells.cell(47.6, -122.33, 9))
    # deterministic archive bytes
    z2 = build_pyfiles_zip(str(tmp_path / "engine2.zip"))
    assert open(z, "rb").read() == open(z2, "rb").read()


def test_incremental_dedup_plan_shape(spark):
    """Pure-codegen anti join: no python workers, broadcast of the distinct
    corpus-fingerprint side, map-side-combinable final agg."""
    from tosidewalk_spark.operators import dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.incremental_dedup(
        docs.filter("doc_id % 7 = 3"), docs.filter("doc_id % 7 != 3"))
    plan = _executed_plan(out)
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan and "partial_" in plan


def test_corpus_build_plan_shape(spark):
    """The composed quality->dedup->sample chain stays python-free with
    partial aggregation at both shuffles."""
    from tosidewalk_spark.plans import pipeline
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _executed_plan(pipeline.build_corpus(docs))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan and "partial_" in plan


def test_mixture_weights_plan_shape(spark):
    """One map-side-combinable count agg + a broadcast one-row total; no
    python anywhere — the corpus crosses the wire as count partials only."""
    from tosidewalk_spark.operators import text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed_plan(text.mixture_weights(docs))
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:2000]
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in plan
    # column pruning: only lang is read from the wide table
    sp = text.mixture_weights(docs)._jdf.queryExecution().sparkPlan().toString()
    read_schema = sp.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_hash_embed_single_shuffle_no_python(spark):
    """scan -> explode -> ONE two-key hash agg: exactly one exchange (plus
    AQE reads), partial aggregation present, zero python stages."""
    from tosidewalk_spark.operators import text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = text.hash_embed(docs.filter("doc_id % 10 = 0"))
    plan = _executed_plan(df)
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in plan
    import re
    # AQE prints Final + Initial plans; count shuffles in the final only
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning", final)
    assert len(exchanges) == 1, f"{len(exchanges)} exchanges:\n{final[:3000]}"
    assert "partial_sum" in final, final[:2000]


def test_image_phash_dedup_payload_never_shuffles(spark):
    """the only exchanges after the mapInPandas hash stage carry (url,
    phash)-shaped rows — the binary payload column must not appear in any
    exchange output."""
    from tosidewalk_spark.operators import multimodal
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter("doc_id % 50 = 0 AND n_chars >= 8"))
    media = docs.selectExpr(
        "CONCAT('doc://', CAST(doc_id AS STRING)) AS url",
        "'image' AS media_type",
        "CAST(REPEAT(SUBSTRING(text, 1, 8), 16) AS BINARY) AS payload",
        "64 AS width", "48 AS height", "1 AS n_frames")
    plan = _executed_plan(multimodal.image_phash_dedup(media))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line, line


def test_catalog_scan_pushdown_and_single_stage(spark, tmp_path):
    """Catalog.scan must compose BOTH pruning layers: the manifest plans a
    strict file subset (metadata-only), and the residual range predicate
    reaches the parquet scan as PushedFilters so row groups prune inside
    the kept files too.  The whole read is one codegen stage — no
    exchange, no python."""
    from tosidewalk_spark.sources.catalog import Catalog
    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("ci"),
        (F.col("id") / 100).cast("long").alias("cj"))
    c = Catalog(spark, str(tmp_path / "wh"))
    man = c.write("t", df, zorder_by=("ci", "cj"), target_files=8)
    got = c.scan("t", {"ci": (10, 20), "cj": (10, 20)})
    # toString() truncates long filter lists; the formatted explain does not
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for want in ("GreaterThanOrEqual(ci,10)", "LessThanOrEqual(ci,20)",
                 "GreaterThanOrEqual(cj,10)", "LessThanOrEqual(cj,20)"):
        assert want in pushed, pushed
    assert "Exchange" not in plan and "Python" not in plan
    # file-level pruning actually happened and the scan reads ONLY kept files
    assert 0 < len(got.inputFiles()) < len(man["files"])


def test_qsk_quantiles_partial_agg_no_python(spark):
    """The quantile-sketch counter fold must be a two-phase hash agg
    (map-side partial COUNT before the exchange — the exchange carries
    bucket counts, never one row per doc) with zero python stages; the
    read-side window runs over the tiny counter table only."""
    from tosidewalk_spark.operators import sketch
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sketch.qsk_quantiles(docs)
    plan = _executed_plan(out)
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # two-phase agg: a partial_count must appear below the first exchange
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_fetch_schedule_one_host_exchange_no_global_sort(spark):
    """fetch_schedule's contract: ONE hash exchange on host for the
    window, and no global ordering anywhere (rangepartitioning would be
    the single-partition bottleneck the docstring rules out)."""
    from tosidewalk_spark.operators import text as TX
    out = TX.fetch_schedule(synth.pages(spark, 2000), per_slot=2)
    plan = _executed_plan(out)
    # AQE prints the materialized stage once inside AQEShuffleRead and once
    # as the original subtree — count distinct shuffle STAGES, not lines
    import re
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(stages) == 1, plan
    # and the one exchange keys on host, never a global range partitioning
    for m in re.findall(r"Exchange (\w+)\(([^,)]+)", plan):
        assert m[0] == "hashpartitioning" and m[1].startswith("host"), m
    assert "rangepartitioning" not in plan, plan
    assert "Python" not in plan


def test_compact_cells_single_pass_no_join_no_cache(spark):
    """r6 rewrite: compact_cells is ONE declarative pass — no join
    operator, no window, and no per-round caches or driver-blocking
    materialization jobs (the old shape ran res-min_res promote rounds,
    each with an eager persist+count)."""
    from tosidewalk_spark.kernel import cells as C
    import numpy as np
    ii, jj = np.meshgrid(np.arange(0, 16), np.arange(0, 16))
    inp = spark.createDataFrame(
        [(int(c),) for c in C.pack_ij(ii.ravel(), jj.ravel(), 9)],
        "cell long")
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = SP.compact_cells(inp, res=9, min_res=6)
    plan = _optimized_plan(out)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # single lazy plan: building it pins no caches and runs no jobs
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after == n_before, (n_before, n_after)
    # and the fold is real: the 16x16 res-9 block (8x8 leaves per res-6
    # cell) compacts to exactly the four complete res-6 cells
    rows = {(r.cell, r.cell_res) for r in out.collect()}
    assert rows == {(int(C.pack_ij(i, j, 6)), 6)
                    for i in (0, 1) for j in (0, 1)}


def test_dedup_clusters_no_window_over_labeled_corpus(spark):
    """VERDICT r4 'What's wrong' #1: cluster_size must come from a
    map-side-combinable groupBy(cluster_id).count() joined back, never a
    COUNT(*) OVER (PARTITION BY cluster_id) — the window form funnels the
    corpus's biggest duplicate cluster into ONE task's sort buffer at
    crawl scale.  Assert the executed plan has no Window operator at all,
    and that the count agg is two-phase (partial_count present)."""
    from tosidewalk_spark.operators import dedup as DD
    rows = [(i, f"page body {i % 7} with shared boilerplate text")
            for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.dedup_clusters(d)
    plan = _executed_plan(out)
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan


def test_dedup_keep_accepts_precomputed_clusters(spark):
    """VERDICT r4 #6: dedup_keep(clusters=...) must reuse a precomputed
    clustering — same answer as the self-computed path, and the plan over
    a plain clusters relation contains none of the CC machinery (no
    simhash band join, no iterative persist)."""
    from tosidewalk_spark.operators import dedup as DD
    rows = [(i, "same text in every doc here") for i in range(5)]
    rows.append((9, "another page entirely different words"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    cl = DD.dedup_clusters(d).persist()
    try:
        base = {r.doc_id: r.n_collapsed for r in DD.dedup_keep(d).collect()}
        reused = {r.doc_id: r.n_collapsed
                  for r in DD.dedup_keep(d, clusters=cl).collect()}
        assert base == reused == {0: 5, 9: 1}
        # the reused path is a filter+project over the given relation
        # only — no Join ABOVE the cached-relation boundary (the
        # InMemoryRelation's stored child plan legitimately contains the
        # CC joins that built it; they don't re-execute)
        plan = _optimized_plan(DD.dedup_keep(d, clusters=cl))
        above_cache = plan.split("InMemoryRelation")[0]
        assert "Join" not in above_cache, above_cache
    finally:
        cl.unpersist()


def test_url_filter_broadcast_no_shuffle(spark):
    """One codegen projection + one broadcast join: the page side never
    hash-partitions and no python stage appears."""
    from tosidewalk_spark.operators import text
    from tosidewalk_spark.sources import synth
    import re
    pages = synth.pages(spark, 2000)
    bl = spark.range(10).selectExpr(
        "CONCAT('site', CAST(id AS STRING), '.example') AS domain")
    plan = _executed_plan(text.url_filter(pages, bl))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final[:2000]
    assert not re.findall(r"Exchange hashpartitioning", final), final[:3000]
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_winnowing_single_exchange_distinct_reuses_partitioning(spark):
    """Gram explode -> ONE doc_id exchange for the window; the closing
    DISTINCT's grouping keys are a superset of the partition key, so no
    second exchange; zero python stages."""
    from tosidewalk_spark.operators import dedup
    import re
    docs = spark.read.parquet(f"{SF}/documents.parquet").coalesce(8)
    plan = _executed_plan(dedup.winnowing(docs.filter("doc_id % 10 = 0")))
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning", final)
    assert len(exchanges) == 1, f"{len(exchanges)} exchanges:\n{final[:3000]}"
    assert "Window" in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_ccnet_buckets_window_runs_over_histogram_not_docs(spark):
    """The only Window in the plan consumes the (lang, qscore) histogram
    aggregate — bounded at n_q+1 rows per language — never the document
    relation (the dedup_clusters cluster_size lesson, VERDICT r4 #1); the
    threshold side reaches the labeling via broadcast."""
    from tosidewalk_spark.operators import text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = text.ccnet_buckets(docs.filter("doc_id % 5 != 0"),
                            docs.filter("doc_id % 5 = 0"))
    # the Window lives on the broadcast (threshold) side, which AQE
    # prints as an opaque reused stage in the executed plan — assert on
    # the optimized logical plan, which prints the full tree
    plan = _optimized_plan(df)
    assert plan.count("Window [") == 1, plan[:3000]
    win_line = plan.split("Window [", 1)[1].split("\n")[0]
    assert "doc_id" not in win_line, win_line
    # directly below the Window (before any document-grain relation): the
    # (lang, qscore) count histogram the running sum consumes is the first
    # aggregate, and nothing between the two carries doc_id
    above, hist = plan.split("Window [", 1)[1].split("Aggregate [", 1)
    hist = hist.split("\n")[0]
    assert hist.startswith("lang") and "count(1)" in hist, hist
    assert "qscore" in hist.split("]")[0], hist
    assert "doc_id" not in above.split("\n", 1)[1], above


def test_registry_segments_survive_clear_cache(spark):
    """The registry's shared grid segments are an eager local checkpoint,
    not a cache: after ``spark.catalog.clearCache()`` they still scan the
    checkpointed RDD instead of rebuilding the grid sidewalks."""
    from tosidewalk_spark.plans import registry as R
    n = R._grid_sidewalk_segments(spark).count()
    spark.catalog.clearCache()
    segs = R._grid_sidewalk_segments(spark)
    plan = _executed_plan(segs)
    assert plan.strip().startswith("*(1) Scan ExistingRDD"), plan
    assert "\n" not in plan.strip(), plan
    assert segs.count() == n


def test_trajectory_stats_single_exchange_window_feeds_agg(spark):
    """The ordering window and the final agg share the traj_id hash
    partitioning, so the whole rollup is ONE exchange; zero joins, zero
    python stages."""
    import re
    from tosidewalk_spark.operators import spatial as SP2
    from tosidewalk_spark.sources import synth as SY
    from tosidewalk_spark.functions import sqlfns
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ent = ("CONCAT('loc_', CAST(user_id AS STRING), '_', "
           "CAST(event_id % 7 AS STRING))")
    lat, lng = SY.entity_latlng_sql(ent)
    df = SP2.trajectory_stats(ev.selectExpr(
        "user_id AS traj_id", "ts", "event_id",
        f"{sqlfns.cell_sql(lat, lng, 9)} AS cell"))
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1, final[:3000]
    assert "Join" not in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_line_dedup_dup_detection_is_hash_agg_not_window(spark):
    """Duplicate detection is a map-side-combinable agg keyed by the
    8-byte line hash — NO Window anywhere (the dedup_clusters
    cluster_size lesson), partial aggregation present, python-free."""
    from tosidewalk_spark.operators import dedup
    from tosidewalk_spark.plans import registry as R
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup.line_dedup(
        docs.selectExpr("doc_id", f"{R._multiline_spark()} AS text"))
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "Window" not in final, final[:3000]
    assert "partial_min" in final or "partial" in final.lower(), final[:2000]
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_bm25_broadcasts_queries_and_corpus_scalars(spark):
    """Both small sides — the query terms and the 1-row (n_docs, avgdl)
    aggregate — reach the posting relation via broadcast; the posting
    relation itself is never broadcast."""
    from tosidewalk_spark.operators import search, text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter("doc_id % 97 = 0").selectExpr(
        "doc_id AS query_id",
        f"EXPLODE(SLICE({text._tokens()}, 1, 8)) AS term")
    df = search.bm25_topk(docs, q, k=5)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") + final.count(
        "BroadcastNestedLoopJoin") >= 2, final[:3000]
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_grid_dbscan_graph_stage_sees_only_dense_cells(spark):
    """The scatter/adjacency stage consumes the aggregated dense-cell
    relation (count >= min_pts filter BELOW the explode), never the
    per-point relation: in the optimized plan every Generate (explode)
    sits above an Aggregate, and the point relation feeds exactly the
    counting aggregate."""
    from tosidewalk_spark.operators import spatial as SP2
    from tosidewalk_spark.sources import synth as SY
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = SY.geo_entities_from_documents(docs)
    df = SP2.grid_dbscan(pts.selectExpr("cell9 AS cell"), min_pts=5)
    plan = _optimized_plan(df)
    # every explode (disk scatter) is downstream of the cell-count agg
    for chunk in plan.split("Generate explode")[1:]:
        assert "Aggregate" in chunk, chunk[:1500]


def test_moran_i_plan_shape(spark):
    """Moran's I must be window-free (the hotspot_gi discipline: the
    focal stage is a scatter + ONE map-side-combinable hash agg) and
    fully JVM-side; the global moments ride a broadcast, never a
    cartesian re-scan per row."""
    from tosidewalk_spark.sources import synth as SY
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = SY.geo_entities_from_documents(docs)
    cnt = pts.selectExpr("cell9 AS cell").groupBy("cell").count() \
        .withColumnRenamed("count", "n")
    plan = _executed_plan(SP.moran_i(cnt, k=1))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "CartesianProduct" not in final
    assert "BroadcastExchange" in final or "BroadcastNestedLoopJoin" in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_triangle_count_plan_shape(spark):
    """The wedge closure is equi-join-only: no cartesian / nested-loop
    stage anywhere, no python, and the corner rollup is a hash agg (so
    the only quadratic-risk stage is the degree-bounded src self-join)."""
    from tosidewalk_spark.operators import graph
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed_plan(graph.triangle_count(graph.link_graph(docs)))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # the only nested-loop stage allowed is link_graph's 1-row broadcast
    # of the node count (n) — a BNLJ against a 1-row side is a constant
    bnlj = [c for c in final.split("BroadcastNestedLoopJoin")[1:]]
    assert len(bnlj) <= 1, final[:3000]
    assert "HashAggregate" in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_sessionize_single_event_shuffle(spark):
    """Sessionization shuffles the EVENT stream exactly once (the user
    window); the per-session rollup's exchange carries pre-aggregated
    rows.  Assert: exactly one Exchange consumes the parquet scan
    subtree, and the window sits between the two."""
    from tosidewalk_spark.operators import temporal
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _executed_plan(temporal.sessionize(ev, gap_s=14400))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final
    # partial agg before the session-key exchange: HashAggregate appears
    # both below and above the final Exchange (two-phase agg)
    assert final.count("HashAggregate") >= 2


def test_hits_and_lpa_rounds_are_checkpointed_flat(spark):
    """The iterative graph ops that reference their round vector more
    than once per round (hits 4x, lpa 2x, bfs 2x) must cut lineage per
    round: the FINAL plan reads the last round's vector as a scanned
    (checkpointed) relation, not a 4^n join tree — assert the executed
    plan stays small and join-free upstream of the output join."""
    from tosidewalk_spark.operators import graph
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    e = graph.link_graph(docs)
    for df, max_joins in ((graph.hits(e, n_iter=3), 2),
                          (graph.label_propagation(e, n_rounds=3), 1),
                          (graph.bfs_distances(
                              e, docs.filter("doc_id % 101 = 0")
                              .selectExpr("doc_id AS node_id"),
                              n_rounds=3), 0)):
        final = _executed_plan(df).split("== Initial Plan ==")[0]
        # an un-checkpointed loop would nest dozens of SortMergeJoin /
        # HashJoin operators; the checkpointed plan joins at most the
        # two final score vectors (hits) or nothing at all (bfs output
        # IS the checkpointed relation)
        n_joins = sum(final.count(m) for m in
                      ("SortMergeJoin", "BroadcastHashJoin",
                       "ShuffledHashJoin"))
        assert n_joins <= max_joins, (max_joins, final[:2000])
        assert "CartesianProduct" not in final


def test_pagerank_result_reads_only_the_last_round(spark):
    """pagerank's output is the last round's rank vector, which carries
    out_deg: the result plan scans one checkpoint, no edge relation, and
    neither aggregates nor joins, so the edge checkpoint can be freed with
    the rounds."""
    from tosidewalk_spark.operators import graph
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3), (4, 3)],
                              "src long, dst long")
    plan = _optimized_plan(graph.pagerank(e, n_iter=3))
    scans = [ln for ln in plan.splitlines() if "LogicalRDD" in ln]
    assert len(scans) == 1 and "dst#" not in scans[0], plan
    assert "Aggregate" not in plan and "Join" not in plan, plan


def test_textrank_topk_is_take_ordered_no_python(spark):
    """TextRank's top-k must compile to TakeOrderedAndProject (per-
    partition heads, no global sort) with no python evaluator anywhere;
    the co-occurrence derivation must stay row-local JVM codegen (a
    Generate over the zipped slices) — asserted on the edge-derivation
    subtree, since pagerank's per-round localCheckpoint (r6) cuts the
    final plan off at the checkpointed rank vector."""
    from tosidewalk_spark.operators import graph
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    final = _executed_plan(
        graph.textrank_keywords(docs, k=10, n_iter=2)
    ).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final
    edges = graph.cooccurrence_edges(docs)
    eplan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in eplan           # the explode of zipped pairs
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in eplan


def test_ts_resample_single_key_shuffle_grid_from_span(spark):
    """ts_resample shuffles the event stream ONCE (the user key); the
    gap grid derives from the per-user span agg (a SEQUENCE Generate),
    never a driver-built calendar; LOCF is the one Window."""
    from tosidewalk_spark.operators import temporal
    ev = spark.read.parquet(f"{SF}/events.parquet")
    final = _executed_plan(
        temporal.ts_resample(ev, bin_s=21600)
    ).split("== Initial Plan ==")[0]
    assert "Window" in final and "Generate" in final
    assert "CartesianProduct" not in final
    # one scan of the events parquet only: binned reuses the same scan
    # via the exchange, and the grid branch hangs off binned, not a
    # second read
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_inverted_index_df_is_agg_join_not_window(spark):
    """VERDICT r5 #2: df must come from a map-side-combinable
    groupBy(term).count() joined back — NO Window over the posting
    relation (a stop word's posting set in one window buffer is the r4
    cluster_size defect class).  Applies to bm25_topk's index too."""
    from tosidewalk_spark.operators import search
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    final = _executed_plan(
        search.inverted_index(docs)).split("== Initial Plan ==")[0]
    assert "Window" not in final, final[:3000]
    assert "partial_count" in final, final[:2000]
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in final


def test_search_topk_salted_two_phase(spark):
    """VERDICT r5 #3: the per-query ranking runs as the exact two-phase
    salted top-k (domain_topk's shape): phase 1 windows over
    (query_id, _salt), phase 2 over query_id on the survivors — and no
    Window anywhere partitions on term (the df fix upstream)."""
    from tosidewalk_spark.operators import search, text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter("doc_id % 97 = 0").selectExpr(
        "doc_id AS query_id",
        f"EXPLODE(SLICE({text._tokens()}, 1, 8)) AS term")
    for fn in (search.tfidf_topk, search.bm25_topk):
        plan = _optimized_plan(fn(docs, q, k=5))
        win_lines = [seg.split("\n")[0]
                     for seg in plan.split("Window [")[1:]]
        assert len(win_lines) == 2, plan[:3000]
        assert any("_salt" in w for w in win_lines), win_lines
        assert all("term" not in w for w in win_lines), win_lines


"""The benchmark's workloads.  Each calls the library's public functions
directly and checks its own output.

A workload has four parts:

- ``setup(tr)``: fixed preprocessing that does not grow with the input
  (city buffers, input load); timed several times per process.
- ``run(tr)``: one run of the job, ending in an action; returns what the
  check needs.  ``tr`` is a Tracer in the traced run and ``NULL`` otherwise.
- ``check(out)``: list of problems with the output; empty when correct.
- ``layers(tr)``: the traced process's per-layer pass: the layers that
  ``run`` does not time alone, or that do not fit in every run, each timed
  alone on materialized input with a ``noop`` sink or a digest; returns
  problems like ``check``.
"""
from __future__ import annotations

import math
import os
import shutil
from contextlib import nullcontext
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from tosidewalk_spark.functions import sqlfns
from tosidewalk_spark.kernel import cells, geom
from tosidewalk_spark.operators import dedup, graph, lineage
from tosidewalk_spark.operators import network as N, sidewalks as SW, spatial as SP
from tosidewalk_spark.sources import synth

from spans import MB, pandas_stages


DATA = Path(__file__).resolve().parent / "data"
GRID = 24  # ~2.1 km grid city; the hash-geocoded points span ~2.2 km
N_SUB = 4  # coverage_tiles raster side


class _NullTracer:
    def span(self, name: str):
        return nullcontext()


NULL = _NullTracer()


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive (row count, checksum) over every column."""
    row = df.agg(F.count("*").alias("n"), lineage.checksum_expr(df.columns)).first()
    return int(row["n"]), int(row["checksum"] or 0)


class _OffsetRange:
    """Stands in for the SparkSession that ``synth.pages`` draws its id range
    from, shifting the range by ``offset``: the pages keep the library's exact
    schema and bodies, and offset 0 is ``synth.pages`` itself."""

    def __init__(self, spark: SparkSession, offset: int):
        self._spark, self._offset = spark, offset

    def range(self, n: int) -> DataFrame:
        return self._spark.range(self._offset, self._offset + n)


def seeded_pages(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``n`` pages with ids ``[seed * n, seed * n + n)``."""
    return synth.pages(_OffsetRange(spark, seed * n), n)


def load_documents(spark: SparkSession) -> DataFrame:
    """The sf0.1 test data's documents table: 5000 docs, 14999 links."""
    return spark.read.parquet(str(DATA / "documents.parquet"))


def city_buffers(spark: SparkSession) -> DataFrame:
    """The g=24 grid city's sidewalk buffers at the PIP cover resolution."""
    nodes, ways = synth.osm_grid(spark, g=GRID)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    return SP.street_buffers(SP.street_segments(SW.make_sidewalks(gw)),
                             res=SP.PIP_COVER_RES)


# --------------------------------------------------------------------------
# Reference tiles.  Every page's location is a function of its entity
# poi_((id * 7) % 400), so the tiles of any id range follow from 400 points:
# the geocode is recomputed from kernel.cells.hash63, containment from the
# kernel's ray-cast on each buffer polygon, and the pages per entity from
# the id range in closed form.
# --------------------------------------------------------------------------

def entity_points() -> list[tuple[float, float]]:
    pts = []
    for k in range(synth.N_ENTITIES):
        h1 = cells.hash63(f"poi_{k}")
        h2 = (h1 * 31 + 120) % cells.HASH_P
        pts.append((47.60 + ((h1 % 20000) - 10000) * 1e-6,
                    -122.33 + ((h2 % 20000) - 10000) * 1e-6))
    return pts


def pages_per_entity(n: int, offset: int) -> list[int]:
    """Pages among ids [offset, offset + n) whose entity is poi_k, per k."""
    m = synth.N_ENTITIES
    out = [0] * m
    for r in range(m):
        out[(r * 7) % m] += n // m + (1 if (r - offset) % m < n % m else 0)
    return out


def expected_tiles(n: int, offset: int, polys: list[tuple[list, list]]) -> list[tuple]:
    """Sorted (cell9, n_pages, n_matched, raster) rows of coverage_tiles."""
    pts = entity_points()
    lats = np.array([p[0] for p in pts])
    lngs = np.array([p[1] for p in pts])
    inside = np.zeros(len(pts), dtype=bool)
    for plats, plngs in polys:
        inside |= geom.point_in_polygon(lats, lngs, plats, plngs)
    s_sub = cells.cell_size_deg(cells.DEFAULT_RES + 2)
    tiles: dict[int, list] = {}
    for k, cnt in enumerate(pages_per_entity(n, offset)):
        if cnt == 0:
            continue
        lat, lng = pts[k]
        c9 = cells.cell(lat, lng, cells.DEFAULT_RES)
        sub = ((math.floor((lat + 90.0) / s_sub) % N_SUB) * N_SUB
               + math.floor((lng + 180.0) / s_sub) % N_SUB)
        t = tiles.setdefault(c9, [0, 0, [0.0] * N_SUB * N_SUB])
        t[0] += cnt
        t[1] += cnt * int(inside[k])
        t[2][sub] += cnt
    return sorted((c, t[0], t[1], tuple(t[2])) for c, t in tiles.items())


def check_tiles(rows, n: int, expected: list[tuple]) -> list[str]:
    problems = []
    if sum(r["n_pages"] for r in rows) != n:
        problems.append(f"sum(n_pages) = {sum(r['n_pages'] for r in rows)}, expected {n}")
    if any(r["n_matched"] > r["n_pages"] for r in rows):
        problems.append("n_matched > n_pages in some cell")
    if any(abs(r["coverage"] - r["n_matched"] / r["n_pages"]) > 1e-6 for r in rows):
        problems.append("coverage != n_matched / n_pages")
    got = sorted((r["cell9"], r["n_pages"], r["n_matched"], tuple(r["raster"])) for r in rows)
    if got != expected:
        problems.append(f"tiles differ from the reference ({len(got)} vs {len(expected)} cells)")
    return problems


class PagesPipTiles:
    """Seeded pages -> geocode -> persist -> PIP join -> coverage tiles, with
    the g=24 city buffers built in set-up.  The traced pass adds run_staged's
    points -> join_out -> tiles stages for the same pages, written with
    lineage into an empty directory and then resumed."""

    name = "pages_pip_tiles"
    pages = 200_003
    STAGES = (("points", ["url", "entity", "cell9"]),
              ("join_out", ["url", "entity", "segment_id"]),
              ("tiles", ["cell9", "n_pages", "n_matched"]))
    # self time reported net of the layer it consumes, which runs inside it
    net_of = {"sources.synth.geo_entities": "sources.synth.pages",
              "cache.points": "sources.synth.geo_entities"}

    def __init__(self, spark: SparkSession, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.buffers = None
        self._expected = None

    def setup(self, tr=NULL) -> None:
        if self.buffers is not None:
            self.buffers.unpersist()
        with tr.span("operators.spatial.street_buffers") as sp:
            self.buffers = city_buffers(self.spark).persist()
            n = self.buffers.count()
        if sp is not None:
            cover = self.buffers.agg(F.sum(F.size("cells"))).first()[0]
            sp.counts["cover_cells_per_buffer"] = cover / n

    def expected(self) -> list[tuple]:
        if self._expected is None:
            polys = [(r["poly_lats"], r["poly_lngs"])
                     for r in self.buffers.select("poly_lats", "poly_lngs").collect()]
            self._expected = expected_tiles(self.pages, self.seed * self.pages, polys)
        return self._expected

    def run(self, tr=NULL):
        with tr.span("workload.run"):
            pages = seeded_pages(self.spark, self.pages, self.seed)
            points = synth.geo_entities(self.spark, pages).persist()
            try:
                join_out = SP.pip_join(points, self.buffers, cover_res=SP.PIP_COVER_RES)
                return SP.coverage_tiles(points, join_out).collect()
            finally:
                points.unpersist()

    def check(self, rows) -> list[str]:
        return check_tiles(rows, self.pages, self.expected())

    def layers(self, tr) -> list[str]:
        # only the columns geo_entities reads: the noop sink would otherwise
        # generate html bodies that the later layers prune away
        pages = seeded_pages(self.spark, self.pages, self.seed).select("url", "text")
        with tr.span("sources.synth.pages"):
            noop(pages)
        with tr.span("sources.synth.geo_entities"):
            noop(synth.geo_entities(self.spark, pages))
        points = synth.geo_entities(self.spark, pages).persist()
        with tr.span("cache.points") as sp:
            points.count()
        sp.counts["mem_mb"] = _cached_mb(self.spark)
        join_out = SP.pip_join(points, self.buffers, cover_res=SP.PIP_COVER_RES)
        with tr.span("operators.spatial.pip_join") as sp:
            noop(join_out)
        join_out = join_out.persist()
        sp.counts["rows_out"] = join_out.count()
        sp.counts["candidates"] = _pip_candidates(points, self.buffers)
        sp.counts["candidates_per_match"] = sp.counts["candidates"] / sp.counts["rows_out"]
        tiles = SP.coverage_tiles(points, join_out)
        with tr.span("operators.spatial.coverage_tiles"):
            noop(tiles)
        join_out.unpersist()
        points.unpersist()
        return self._staged(tr)

    def _staged(self, tr) -> list[str]:
        """A fresh staged pass, then a resume pass with every partition done."""
        base = os.path.join(self.workdir, "staged")
        shutil.rmtree(base, ignore_errors=True)
        lineage_rows = []
        for step in ("write", "resume"):
            tiles = self._staged_pass(base, tr, step).collect()
            lineage_rows.append(lineage.stage_metrics(self.spark, base).count())
        problems = check_tiles(tiles, self.pages, self.expected())
        if lineage_rows[1] != lineage_rows[0]:
            problems.append(f"resume appended {lineage_rows[1] - lineage_rows[0]} lineage rows")
        for stage, cols in self.STAGES:
            data = self.spark.read.parquet(os.path.join(base, stage))
            got = data.agg(lineage.checksum_expr(cols)).first()[0]
            want = lineage.read_lineage(self.spark, base, stage).agg(F.sum("checksum")).first()[0]
            if got != want:
                problems.append(f"{stage}: read-back checksum {got} != lineage {want}")
        return problems

    def _staged_pass(self, base: str, tr, step: str) -> DataFrame:
        """run_staged's points, join_out and tiles stages, chained as it
        chains them, with the pages' points in place of the documents'."""
        cols = dict(self.STAGES)

        def stage(name: str, df: DataFrame) -> DataFrame:
            with tr.span(f"operators.lineage.run_stage_with_resume.{name}.{step}") as sp:
                out = lineage.run_stage_with_resume(
                    self.spark, base, name, df, lineage.partition_key("cell9", 32), cols[name])
            if step == "write":
                sp.counts.update(_dir_size(os.path.join(base, name)))
            return out

        points = synth.geo_entities(self.spark, seeded_pages(self.spark, self.pages, self.seed))
        pts = stage("points", points)
        jo = stage("join_out", SP.pip_join(pts, self.buffers, cover_res=SP.PIP_COVER_RES))
        return stage("tiles", SP.coverage_tiles(pts, jo))


def build_network_stages(nodes: DataFrame, ways: DataFrame, tr=NULL) -> DataFrame:
    """``pipeline.build_network(nodes, ways)`` stage by stage, in its order,
    each stage checkpointed before the next reads it; the result equals
    build_network's."""
    def stage(name, fn, *args):
        with tr.span(name) as sp:
            out = fn(*args)
            done = out.localCheckpoint(eager=True)
        if sp is not None:
            sp.counts["pandas_stages"] = pandas_stages(out)
        return done

    n, s = "operators.network.", "operators.sidewalks."
    streets = stage(n + "filter_streets", N.filter_streets, ways)
    streets = stage(n + "join_segmented_ways", N.join_segmented_ways, streets)
    inter = stage(n + "intersections", N.intersections, streets)
    segs = stage(n + "split_streets", N.split_streets, streets, inter)
    gw = stage(n + "geom_ways", N.geom_ways, nodes, segs)
    pairs = stage(n + "find_parallel_pairs", N.find_parallel_pairs, gw)
    gw = stage(n + "merge_parallel_pairs", N.merge_parallel_pairs, gw, pairs)
    gw = stage(n + "merge_nodes_gw", N.merge_nodes_gw, gw)
    gw = stage(n + "simplify_gw", N.simplify_gw, gw)
    gw = stage(n + "drop_short_gw", N.drop_short_gw, gw)
    full = stage(n + "geom_ways", N.geom_ways, nodes, streets)
    sidewalks = stage(s + "make_sidewalks", SW.make_sidewalks, gw)
    crosswalks = stage(s + "make_crosswalks", SW.make_crosswalks, full, inter)
    corners = stage(s + "crosswalk_corner_nodes", SW.crosswalk_corner_nodes, crosswalks)
    sidewalks = stage(s + "rewire_sidewalk_endpoints", SW.rewire_sidewalk_endpoints,
                      sidewalks, corners)
    return stage(s + "union_network", SW.union_network, gw, sidewalks, crosswalks)


class NetworkStages:
    """build_network's stages on the g=24 grid city, each on checkpointed
    input: small fixed input, time in per-job cost.

    build_network itself takes over 100 s on a 4-core host, whatever the
    grid size, because its lazy chain is re-evaluated across the CC
    fixpoints; stage by stage the same network takes about 15 s.  The
    traced pass adds the document-side layers that do not fit in every run
    (see README.md): kNN of the documents' points against the network's
    sidewalks, pagerank, hits and label_propagation (3 rounds each) on the
    documents' link graph, and dedup_clusters."""

    name = "network_stages"
    ROUNDS = 3
    pages = 5000  # documents: the points of the traced pass
    net_of: dict[str, str] = {}
    # pinned outputs on the g=24 grid city and data/documents.parquet;
    # (rows, checksum) from digest()
    EXPECTED = {
        "kinds": [("crosswalk", 2200), ("sidewalk", 2204), ("street", 1102)],
        "network": (5506, 5918543456349),
        "operators.spatial.knn_join": (5000, 5326177574309),
        "operators.graph.pagerank": (5000, 5387942963205),
        "operators.graph.hits": (5000, 5401714032336),
        "operators.graph.label_propagation": (5000, 5427910259396),
        "operators.dedup.dedup_clusters": (5000, 5338228480710),
    }

    def __init__(self, spark: SparkSession, seed: int, workdir: str):
        self.spark = spark
        self.nodes = self.ways = self.net = None

    def setup(self, tr=NULL) -> None:
        for df in (self.nodes, self.ways):
            if df is not None:
                df.unpersist()
        with tr.span("workload.load_inputs"):
            nodes, ways = synth.osm_grid(self.spark, g=GRID)
            self.nodes, self.ways = nodes.persist(), ways.persist()
            self.nodes.count()
            self.ways.count()

    def run(self, tr=NULL):
        with tr.span("workload.run"):
            with tr.span("plans.pipeline.build_network"):
                self.net = build_network_stages(self.nodes, self.ways, tr)
        return self.net

    def check(self, net) -> list[str]:
        return self._compare({
            "kinds": sorted((r["kind"], r["count"])
                            for r in net.groupBy("kind").count().collect()),
            "network": digest(net)})

    def _compare(self, got: dict) -> list[str]:
        return [f"{k}: {v} != {self.EXPECTED[k]}" for k, v in got.items()
                if v != self.EXPECTED[k]]

    def layers(self, tr) -> list[str]:
        docs = load_documents(self.spark).persist()
        points = synth.geo_entities_from_documents(docs).persist()
        edges = graph.link_graph(docs).persist()
        sidewalks = self.net.filter(F.col("kind") == "sidewalk")
        seg_cells = SP.segments_by_cell(
            SP.street_buffers(SP.street_segments(sidewalks))).localCheckpoint(eager=True)
        ops = {"operators.spatial.knn_join": lambda: SP.knn_join(points, seg_cells, k=1),
               "operators.graph.pagerank": lambda: graph.pagerank(edges, self.ROUNDS),
               "operators.graph.hits": lambda: graph.hits(edges, self.ROUNDS),
               "operators.graph.label_propagation":
                   lambda: graph.label_propagation(edges, self.ROUNDS),
               "operators.dedup.dedup_clusters": lambda: dedup.dedup_clusters(docs)}
        got = {}
        for name, op in ops.items():
            with tr.span(name):
                got[name] = digest(op())
        for df in (docs, points, edges):
            df.unpersist()
        return self._compare(got)


WORKLOADS = {w.name: w for w in (PagesPipTiles, NetworkStages)}


def _cached_mb(spark: SparkSession) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _pip_candidates(points: DataFrame, buffers: DataFrame) -> int:
    """Rows of pip_join's cell equi-join before the containment refine."""
    probe = points.select(F.expr(sqlfns.cell_sql("lat", "lng", SP.PIP_COVER_RES)).alias("cell"))
    build = buffers.select(F.explode("cells").alias("cell"))
    return probe.join(F.broadcast(build), "cell").count()


def _dir_size(path: str) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    return {"files_written": len(files),
            "bytes_written_mb": sum(os.path.getsize(f) for f in files) / MB}

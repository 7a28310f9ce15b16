"""Embedding clustering for corpus curation: deterministic fixed-point
k-means (Lloyd's algorithm) — the partitioning stage of SemDeDup-style
semantic dedup (Abbas et al. 2023) and of cluster-balanced data mixing.

Engine-exactness design (the repo-wide discipline):

- **Coordinates are BIGINT fixed-point** (``floor(x * 1e6 + 0.5)``, the
  engine-agreed tie rule).  Squared distances and per-dimension sums are
  then exact integer arithmetic — associative, so identical at any
  parallelism and in the DuckDB twin.  A float k-means differs run-to-run
  on Spark itself (parallel double sums), let alone across engines.
  Headroom: |x| <= ~10 -> codes <= 1e7, per-pair squared distance <=
  64 * 4e14 = 2.6e16, int64-safe; centroid sums stay double-exact
  (< 2^53) up to ~9e8 members per cluster per dimension.
- **Deterministic everything**: init = the k smallest vec_ids (the
  seeded-sample stand-in; k-means++ is a drop-in once a deterministic
  RNG is threaded), argmin ties break toward the smaller cluster_id via
  a struct-min, mean rounding is floor(+0.5), and a cluster emptied by a
  round KEEPS its previous centroid (LEFT join + COALESCE) instead of
  silently shrinking k.
- **Iterations are K fixed rounds** (Lloyd's with a fixed budget — the
  production corpus-curation shape runs a handful of rounds over a
  sample, then one assignment pass over everything).

Scale shape per round: assignment is a BROADCAST cross join against the
k-row centroid table (k ~ 10^2..10^5 centroids is the model, always the
small side) + a struct-min — no shuffle of the corpus; the update is
posexplode -> ONE map-side-combinable hash agg on (cluster, dim) — k*dim
groups, tiny — so the corpus crosses the wire as partial sums only.
Each round's k-row centroid table is an eager localCheckpoint (the
round state of every fixpoint operator here), so the next round's
broadcast reads it flat; nothing corpus-sized ever hits the driver.

No reference parity to cite: /root/reference is empty this round
(SURVEY.md §0); derives from the public Lloyd/MacQueen k-means and the
SemDeDup paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _spread

KM_SCALE = 1_000_000  # fixed-point scale for embedding coordinates


def _dist_expr(a: str, b: str) -> str:
    """Exact integer squared L2 distance between two BIGINT arrays."""
    return (f"AGGREGATE(ZIP_WITH({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0 AS BIGINT), (s, t) -> s + t)")


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast cross join + struct-min
    (dist ASC, cluster_id ASC) — ties deterministic."""
    d = _dist_expr("q", "c")
    return (q.crossJoin(F.broadcast(cents))
            .select("vec_id", "q",
                    F.expr(f"STRUCT({d} AS dist_fx, cluster_id)")
                    .alias("_s"))
            .groupBy("vec_id")
            .agg(F.min("_s").alias("_m"), F.first("q").alias("q"))
            .select("vec_id", "q",
                    F.col("_m.cluster_id").alias("cluster_id"),
                    F.col("_m.dist_fx").alias("dist_fx")))


def kmeans_assign(emb: DataFrame, k: int = 8, n_iter: int = 3,
                  scale: int = KM_SCALE,
                  vec_col: str = "embedding") -> DataFrame:
    """Run ``n_iter`` exact Lloyd rounds and return the final assignment:
    (vec_id, cluster_id, dist_fx) with dist_fx the integer squared L2
    distance in fixed-point coordinate units (scale^2 per unit)."""
    q = (_spread(emb)
         .select("vec_id",
                 F.expr(f"TRANSFORM({vec_col}, x -> CAST(FLOOR("
                        f"CAST(x AS DOUBLE) * {scale} + 0.5e0) AS BIGINT))")
                 .alias("q"))
         .localCheckpoint(eager=False))
    cents = (q.filter(F.col("vec_id") < k)
             .select(F.col("vec_id").cast("long").alias("cluster_id"),
                     F.col("q").alias("c")))
    mean = ("CAST(FLOOR(CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE) + 0.5e0) "
            "AS BIGINT)")
    for _ in range(n_iter):
        a = _assign(q, cents)
        upd = (a.select("cluster_id", F.posexplode("q").alias("pos", "v"))
               .groupBy("cluster_id", "pos")
               .agg(F.sum("v").alias("_s"), F.count("*").alias("_n"))
               .select("cluster_id", "pos", F.expr(mean).alias("_m"))
               .groupBy("cluster_id")
               .agg(F.expr("TRANSFORM(ARRAY_SORT(COLLECT_LIST("
                           "STRUCT(pos, _m))), s -> s._m)").alias("c_new")))
        cents = (cents.join(upd, "cluster_id", "left")
                 .select("cluster_id",
                         F.coalesce("c_new", "c").alias("c"))
                 .localCheckpoint())
    return _assign(q, cents).select("vec_id", "cluster_id", "dist_fx")


def semantic_dedup(emb: DataFrame, k: int = 8, n_iter: int = 3,
                   cos_threshold: float = 0.95,
                   max_bucket: int | None = None,
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: k-means partitions the
    corpus semantically, near-duplicate pairs are found WITHIN each
    (cluster, hyperplane-LSH bucket), the pair graph is closed under
    transitivity, and each duplicate group keeps exactly one
    representative (min vec_id).

    Output: (vec_id, cluster_id, group_id, keep) — group_id = min vec_id
    of the duplicate group (vec_id itself for singletons), keep =
    (vec_id == group_id).  COUNT(keep) is the deduplicated corpus size.

    Scale shape: the within-cluster pair search inherits the full
    bucket-cap discipline — the join key is the COMPOSITE (cluster_id,
    lsh_bucket), so a giant cluster (the boilerplate point-mass case)
    still splits across 2^16 signature buckets, and buckets larger than
    ``max_bucket`` are dropped by the same count-agg + semi-join as
    embedding_neardup_pairs / minhash_lsh_pairs.  Transitive closure is
    the shared log-diameter pointer-jumping CC (network.py), NOT a
    driver loop over pairs."""
    from . import dedup, similarity
    from .network import connected_components

    if max_bucket is None:
        max_bucket = dedup.LSH_MAX_BUCKET
    assign = (kmeans_assign(emb, k=k, n_iter=n_iter, vec_col=vec_col)
              .select("vec_id", "cluster_id"))
    e = (_spread(emb)
         .select("vec_id",
                 F.expr(f"TRANSFORM({vec_col}, x -> CAST(x AS DOUBLE))")
                 .alias("v"))
         .withColumn("norm", F.expr(
             "SQRT(AGGREGATE(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x))"))
         .withColumn("bucket", F.expr(similarity.lsh_signature_expr(
             "v", n_planes=similarity.NEARDUP_PLANES)))
         .join(assign, "vec_id")
         .localCheckpoint(eager=False))
    ok = (e.groupBy("cluster_id", "bucket")
          .agg(F.count("*").alias("bn"))
          .filter(F.col("bn") <= max_bucket)
          .select("cluster_id", "bucket"))
    e2 = e.join(ok, ["cluster_id", "bucket"], "left_semi")
    a = e2.select("cluster_id", "bucket", F.col("vec_id").alias("vec_a"),
                  F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e2.select("cluster_id", "bucket", F.col("vec_id").alias("vec_b"),
                  F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.expr("AGGREGATE(ZIP_WITH(va, vb, (x, y) -> x * y), "
                 "CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
    pairs = (a.join(b, ["cluster_id", "bucket"])
             .filter(F.col("vec_a") < F.col("vec_b"))
             .withColumn("cosine",
                         F.round(dot / (F.col("na") * F.col("nb")), 6))
             .filter(F.col("cosine") >= cos_threshold)
             .select("vec_a", "vec_b"))
    comp = connected_components(
        pairs.select(F.col("vec_a").alias("src"),
                     F.col("vec_b").alias("dst"))).select(
        F.col("id").alias("vec_id"), F.col("component").alias("group_id"))
    return (e.select("vec_id", "cluster_id")
            .join(comp, "vec_id", "left")
            .select("vec_id", "cluster_id",
                    F.coalesce("group_id", "vec_id").alias("group_id"))
            .withColumn("keep", F.expr("vec_id = group_id")))


def kmeans_assign_duckdb_sql(emb_table: str = "embeddings", k: int = 8,
                             n_iter: int = 3, scale: int = KM_SCALE,
                             dim: int = 64) -> str:
    """DuckDB twin: the same rounds unrolled as chained CTEs, identical
    fixed-point arithmetic and tie rules, so the assignment — not just
    aggregate stats — matches row-for-row."""
    dist = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, {dim} + 1), "
            f"i -> (q.q[i] - c{{gen}}.c[i]) * (q.q[i] - c{{gen}}.c[i]))), "
            f"(s, t) -> s + t)")
    ctes = [
        (f"q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
         f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale} + 0.5e0) AS BIGINT)"
         f") AS q FROM {emb_table})"),
        (f"c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster_id, q AS c "
         f"FROM q WHERE vec_id < {k})"),
    ]
    for r in range(n_iter):
        d = dist.format(gen=r)
        ctes.append(
            f"a{r} AS (SELECT vec_id, cluster_id, dist_fx FROM ("
            f"SELECT q.vec_id, c{r}.cluster_id, {d} AS dist_fx, "
            f"ROW_NUMBER() OVER (PARTITION BY q.vec_id "
            f"ORDER BY {d}, c{r}.cluster_id) AS _rn "
            f"FROM q CROSS JOIN c{r}) WHERE _rn = 1)")
        ctes.append(
            f"m{r} AS (SELECT a{r}.cluster_id, i.i AS pos, "
            f"CAST(FLOOR(CAST(SUM(q.q[i.i]) AS DOUBLE) / "
            f"CAST(COUNT(*) AS DOUBLE) + 0.5e0) AS BIGINT) AS _m "
            f"FROM a{r} JOIN q USING (vec_id), "
            f"(SELECT unnest(range(1, {dim} + 1)) AS i) i "
            f"GROUP BY 1, 2)")
        ctes.append(
            f"c{r + 1} AS (SELECT c{r}.cluster_id, "
            f"COALESCE(u.c_new, c{r}.c) AS c FROM c{r} LEFT JOIN "
            f"(SELECT cluster_id, list(_m ORDER BY pos) AS c_new "
            f"FROM m{r} GROUP BY cluster_id) u USING (cluster_id))")
    d_fin = dist.format(gen=n_iter)
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT vec_id, cluster_id, dist_fx FROM (
      SELECT q.vec_id, c{n_iter}.cluster_id, {d_fin} AS dist_fx,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {d_fin}, c{n_iter}.cluster_id) AS _rn
      FROM q CROSS JOIN c{n_iter}) WHERE _rn = 1
    """)

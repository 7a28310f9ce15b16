"""Full-text retrieval over the web-page corpus: inverted-index build and
tf-idf ranked search, Spark-first.

The reference pipeline (tongning/ToSidewalk) has no search surface; these
are graft-side corpus operators in the standard IR shapes (inverted file +
ranked retrieval — public textbook material: Manning/Raghavan/Schütze ch.1,
Zobel & Moffat 2006).  Design for 10^12 pages:

- The index is a RELATION, not a per-term collected list: ``(term, doc_id,
  tf, df)`` clustered by term.  A ``collect_list`` posting array would put
  a hot term's entire posting list in one aggregation buffer — stop words
  at corpus scale are gigabytes per term.  As a relation the hot term is
  just many rows, spilled and scanned like any other data; on disk you
  ``bucketBy(term)`` it (same seam as dedup.write_fingerprint_corpus) so
  query-time term lookups are partition-pruned point reads.
- Scoring avoids LN(): idf enters as the RATIONAL factor 1e6/df.  Ranking
  by sum(tf * N/df) is order-equivalent to textbook tf-idf for a fixed
  corpus (N multiplies every term equally) and every arithmetic step is
  IEEE exact-rounded (one divide, one multiply) — LN is libm and drifts
  by ulps between engines (the POWER(x,2) lesson, BENCH/BASELINE.md).
- Per-term partial scores are quantized to BIGINT (floor(x*1 + 0.5) on an
  already-×1e6 value) BEFORE the per-(query, doc) SUM: a double SUM across
  rows is addition-order-dependent under parallel aggregation; a BIGINT
  SUM is order-free, so the score — and therefore the top-k SET — is
  deterministic at any parallelism and engine-exact vs the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _spread
from .text import _tokens


def inverted_index(docs: DataFrame) -> DataFrame:
    """Build the inverted file: one row per (term, doc_id) with the term
    frequency and the term's document frequency.

    Plan: tokenize in-scan (HOF runs interpreted -> _spread guards the
    one-file input, no-op at scale) -> explode -> ONE map-side-combinable
    hash agg keyed (term, doc_id) -> df via a SECOND map-side-combinable
    agg keyed term, joined back (VERDICT r5 #2: the previous
    ``COUNT(*) OVER (PARTITION BY term)`` put a stop word's ENTIRE
    posting set — 10^10+ rows at crawl scale — into ONE task's window
    buffer, the r4 cluster_size defect class).  The df relation is one
    8-byte-keyed row per distinct term; the join's term exchange is the
    same clustering you want on disk (bucketBy(term)), so at scale that
    shuffle IS the index layout, not overhead, and no task ever holds
    more than its hash share of (term, doc_id) rows."""
    ex = _spread(docs).select(
        "doc_id", F.explode(F.expr(_tokens())).alias("term"))
    tf = ex.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return tf.join(dfc, "term").select("term", "doc_id", "tf", "df")


def tfidf_topk(docs: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Ranked retrieval: top-k docs per query by the rational tf-idf
    score_fx = SUM over matched terms of floor(tf * (1e6 / df) + 0.5).

    ``queries``: (query_id, term) — the per-query term multiset is
    DISTINCT-ed so repeated query terms don't double-count.  The query
    table is the classic broadcast side (thousands of terms vs a
    trillion-row posting relation); the posting join is an equi-join on
    term, so it partition-prunes against a term-bucketed on-disk index.
    Ties break by doc_id ascending — the top-k SET is deterministic.

    Ranking is the exact two-phase SALTED top-k (domain_topk's shape —
    VERDICT r5 #3): a stop-word query matches ~the whole corpus, so a
    single window over query_id funnels ~n_docs rows through one task's
    sort buffer; phase 1 ranks within (query_id, doc_id % n_salt) — every
    global top-k row survives its own salt bucket — and phase 2
    re-windows the <= n_salt*k survivors per query.  Same result at any
    parallelism."""
    idx = inverted_index(docs)
    q = queries.select("query_id", "term").distinct()
    scored = (idx.join(F.broadcast(q), "term")
              .select("query_id", "doc_id",
                      F.expr("CAST(FLOOR(CAST(tf AS DOUBLE) * (1e6 / "
                             "CAST(df AS DOUBLE)) + 0.5e0) AS BIGINT)")
                      .alias("part_fx"))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("part_fx").alias("score_fx"),
                   F.count("*").cast("long").alias("n_terms_hit")))
    return _salted_topk(scored, k).select(
        "query_id", "doc_id", "score_fx", "n_terms_hit", "rank")


SEARCH_TOPK_SALT = 16


def _salted_topk(scored: DataFrame, k: int,
                 n_salt: int = SEARCH_TOPK_SALT) -> DataFrame:
    """Exact per-query top-k by (score_fx DESC, doc_id ASC) without a
    single-task window over a hot query: phase 1 windows over
    (query_id, salt = doc_id % n_salt) and keeps rank <= k per salted
    group (every global top-k row is top-k within its own bucket — rank
    can only shrink when rows are removed), phase 2 re-windows the
    <= n_salt*k survivors per query.  The heavy exchange carries
    (query_id, salt) keys so no task sees more than ~1/n_salt of a
    stop-word query's matches.  Identical result to the one-shot window."""
    order = (F.desc("score_fx"), F.asc("doc_id"))
    w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
    w2 = Window.partitionBy("query_id").orderBy(*order)
    survivors = (scored
                 .withColumn("_salt", F.expr(
                     f"CAST(doc_id % {n_salt} AS INT)"))
                 .withColumn("_r1", F.row_number().over(w1))
                 .filter(F.col("_r1") <= k))
    return (survivors.withColumn("rank", F.row_number().over(w2).cast("int"))
            .filter(F.col("rank") <= k))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Ranked retrieval with BM25 length normalization (Robertson &
    Walker 1994; the rational-idf variant — sqlfns.bm25_part_sql has the
    cross-engine exactness argument): tf saturation (k1 = 1.2) and
    document-length normalization (b = 0.75 against the corpus mean
    length) fix tf-idf's bias toward long, term-stuffed pages — the
    dominant spam shape in a web crawl.

    Plan: tokenize in-scan carrying dl = SIZE(tokens) (no separate
    doc-length join — dl rides the explode and folds into the tf agg as
    MAX of a per-doc constant), ONE map-side-combinable (term, doc_id)
    agg, df via a second map-side-combinable agg keyed term joined back
    (the inverted_index shape — VERDICT r5 #2: the old window COUNT over
    term funneled a stop word's whole posting set into one task; the
    join's term exchange still IS the on-disk term bucketing), then the
    quantized partial sums per (query, doc) — BIGINT, order-free,
    engine-exact.  The corpus-global scalars (n_docs, avgdl) come from a
    1-row aggregate cross-joined in: a broadcast of exactly one row.
    Queries broadcast as in tfidf_topk; ties break by doc_id ascending,
    ranked by the same exact two-phase salted top-k (VERDICT r5 #3)."""
    toks = _tokens()
    ex = (_spread(docs)
          .select("doc_id", F.expr(f"{toks} AS _t"))
          .select("doc_id", F.expr("CAST(SIZE(_t) AS BIGINT)").alias("dl"),
                  F.explode("_t").alias("term")))
    tf = ex.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
    dfc = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idx = tf.join(dfc, "term").select("term", "doc_id", "tf", "dl", "df")
    stats = docs.select(F.expr(f"CAST(SIZE({toks}) AS BIGINT)").alias("_dl")) \
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.expr("CAST(SUM(_dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")
             .alias("avgdl"))
    q = queries.select("query_id", "term").distinct()
    from ..functions import sqlfns
    part = sqlfns.bm25_part_sql()
    scored = (idx.join(F.broadcast(q), "term")
              .join(F.broadcast(stats))
              .select("query_id", "doc_id", F.expr(part).alias("part_fx"))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("part_fx").alias("score_fx"),
                   F.count("*").cast("long").alias("n_terms_hit")))
    return _salted_topk(scored, k).select(
        "query_id", "doc_id", "score_fx", "n_terms_hit", "rank")


def positional_index(docs: DataFrame) -> DataFrame:
    """Positional postings as a RELATION: one row per (doc_id, pos,
    term), pos 0-based word position.  The positional complement of
    ``inverted_index`` (Manning/Raghavan/Schütze ch.2 positional
    index); same scale argument — a hot term is many rows clustered by
    term, never one collected array.  On disk, ``bucketBy(term)`` for
    point-read phrase queries."""
    return (_spread(docs)
            .select("doc_id",
                    F.posexplode(F.expr(_tokens())).alias("pos", "term")))


def phrase_search(docs: DataFrame, phrase: list[str],
                  k: int = 20) -> DataFrame:
    """Exact phrase query over the positional index: documents
    containing the consecutive token sequence ``phrase``, ranked by
    occurrence count — top ``k`` by (n_occur DESC, doc_id ASC), the
    deterministic total order.

    Plan: the positional postings materialize ONCE per call (a lazy
    local checkpoint, freed by Spark's cleaner once no plan reads it) and
    each phrase term filters that checkpoint — without it
    each term's filter is an independent subtree, so the corpus was
    re-tokenized and re-exploded once per phrase term (ADVICE r5 #3);
    consecutive terms chain by the equi-join ``(doc_id, pos_i ==
    pos_0 + i)`` — all joins co-partitioned on (doc_id, pos), no
    positions array ever collected, occurrence count is a map-side-
    combinable hash agg, top-k a TakeOrderedAndProject.  (A bucketed
    on-disk index remains the at-scale seam: term filters become
    partition-pruned point reads and no per-call materialization is
    needed.)  Overlapping matches count separately ("a a a" has two
    "a a" occurrences) — the textbook positional-intersection
    semantics, and what the DuckDB twin computes."""
    assert len(phrase) >= 1, "phrase_search needs at least one term"
    post = positional_index(docs)
    if len(phrase) > 1:
        post = post.localCheckpoint(eager=False)
    m = (post.filter(F.col("term") == phrase[0])
         .select("doc_id", "pos"))
    for i, term in enumerate(phrase[1:], start=1):
        nxt = (post.filter(F.col("term") == term)
               .selectExpr("doc_id", f"pos - {i} AS pos"))
        m = m.join(nxt, ["doc_id", "pos"])
    return (m.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_occur"))
            .orderBy(F.col("n_occur").desc(), F.col("doc_id").asc())
            .limit(k))


def phrase_duckdb_sql(phrase: list[str], k: int = 20) -> str:
    """DuckDB twin: the same positional postings (lateral UNNEST walk,
    1-based list index shifted to the Spark side's 0-based pos) and the
    same consecutive-position join chain."""
    terms = [t.replace("'", "''") for t in phrase]
    ctes = [
        ("p AS MATERIALIZED (SELECT doc_id, u.i - 1 AS pos, t[u.i] AS term"
         " FROM (SELECT doc_id, list_filter(string_split(text, ' '),"
         " x -> length(x) > 0) AS t FROM documents),"
         " UNNEST(generate_series(1, len(t))) AS u(i))"),
        f"m0 AS (SELECT doc_id, pos FROM p WHERE term = '{terms[0]}')",
    ]
    for i, t in enumerate(terms[1:], start=1):
        ctes.append(
            f"m{i} AS (SELECT m{i - 1}.doc_id, m{i - 1}.pos"
            f" FROM m{i - 1} JOIN (SELECT doc_id, pos - {i} AS pos"
            f" FROM p WHERE term = '{t}') q{i}"
            f" ON m{i - 1}.doc_id = q{i}.doc_id"
            f" AND m{i - 1}.pos = q{i}.pos)")
    last = len(terms) - 1
    return ("WITH " + ",\n".join(ctes)
            + f"""
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occur
    FROM m{last} GROUP BY doc_id
    ORDER BY n_occur DESC, doc_id ASC LIMIT {k}""")

"""Dedup / text-analysis / similarity / multimodal operator tests."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.kernel import cells
from tosidewalk_spark.operators import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_dedup(spark):
    d = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y")], "doc_id long, text string")
    rows = {r.canonical_doc_id: r.n_dupes for r in dedup.exact_dedup(d).collect()}
    assert rows == {1: 2, 3: 1}


def test_exact_dedup_null_vs_empty_text_distinct(spark):
    """review r4: the polyhash NULL sentinel equals the empty-string hash
    (both 0), so without the reserved -1 NULL fingerprint a NULL-text doc
    and an empty-text doc would merge by construction and one would be
    silently dropped as a 'duplicate'."""
    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, None), (4, "")], "doc_id long, text string")
    rows = {r.canonical_doc_id: r.n_dupes for r in dedup.exact_dedup(d).collect()}
    assert rows == {1: 2, 2: 2}  # NULLs together, empties together, not merged
    # incremental: a NULL-text batch doc is not deduped away by an
    # empty-text corpus doc (and vice versa)
    batch = spark.createDataFrame([(10, None)], "doc_id long, text string")
    corpus = spark.createDataFrame([(20, "")], "doc_id long, text string")
    assert dedup.incremental_dedup(batch, corpus).count() == 1
    assert dedup.incremental_dedup(
        corpus.selectExpr("doc_id + 1 AS doc_id", "text"), batch).count() == 1


def test_minhash_signature_props(spark):
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "p q r s")], "doc_id long, text string")
    sigs = {r.doc_id: tuple(r.sig) for r in dedup.minhash_signatures(d).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    assert len(sigs[1]) == len(dedup.MINHASH_PERMS)


def test_minhash_lsh_finds_neardups(spark):
    d = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tomorrow"),
        (3, "completely different words entirely unrelated content here now"),
    ], "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(d).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_for_same_tokens(spark):
    d = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "zz yy xx ww")], "doc_id long, text string")
    s = {r.doc_id: r.simhash for r in dedup.simhash(d).collect()}
    assert s[1] == s[2]
    pairs = {(r.doc_a, r.doc_b) for r in dedup.simhash_dup_pairs(d).collect()}
    assert (1, 2) in pairs


def test_jaccard_pairs(spark):
    d = spark.createDataFrame([
        (1, "en", "a b c d e f g h"),
        (2, "en", "a b c d e f g x"),
        (3, "en", "p q r s t u v w"),
    ], "doc_id long, lang string, text string")
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.jaccard_pairs(d, 0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(7 / 9, abs=1e-6)
    assert (1, 3) not in pairs


def test_jaccard_on_real_docs(spark, docs):
    out = dedup.jaccard_pairs(docs, threshold=0.8)
    rows = out.collect()
    for r in rows:
        assert 0.8 <= r.jaccard <= 1.0


def test_embedding_neardup(spark, emb):
    out = dedup.embedding_neardup_pairs(emb, cos_threshold=0.99).collect()
    for r in out:
        assert r.cosine >= 0.99 and r.vec_a < r.vec_b


def test_token_stats_and_quality(spark, docs):
    ts = text.token_stats(docs)
    row = ts.filter("doc_id = 0").collect()[0]
    d0 = docs.filter("doc_id = 0").collect()[0]
    assert row.n_tokens == len(d0.text.split())
    assert row.n_chars_measured == len(d0.text)
    q = text.quality_score(docs).collect()
    for r in q[:20]:
        assert 0.0 <= r.alpha_ratio <= 1.0 and 0.0 <= r.quality <= 1.0


def test_lang_id_markers(spark):
    d = spark.createDataFrame([
        (1, "xx", "the cat and the dog is here"),
        (2, "xx", "der hund und die katze ist da"),
        (3, "xx", "zzz qqq www"),
    ], "doc_id long, lang string, text string")
    out = {r.doc_id: r.lang_pred for r in text.lang_id(d).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_matches_kernel(spark, docs):
    rows = text.fingerprint(docs.limit(5)).collect()
    texts = {r.doc_id: r.text for r in docs.limit(5).collect()}
    for r in rows:
        assert r.fingerprint == cells.hash63(texts[r.doc_id])


def test_extract_text_byte_identity(spark):
    from tosidewalk_spark.sources import synth
    pages = synth.pages(spark, 50)
    got = text.extract_text(pages)
    joined = got.withColumnRenamed("text", "extracted") \
        .join(pages.select("url", "text"), "url")
    assert joined.filter("extracted != text").count() == 0
    # byte-identical across parallelism levels
    a = {r.url: r.text for r in text.extract_text(pages.repartition(1)).collect()}
    b = {r.url: r.text for r in text.extract_text(pages.repartition(7)).collect()}
    assert a == b


def test_brute_force_topk(spark, emb):
    q = emb.limit(3)
    out = similarity.brute_force_topk(emb, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    # verify one query against numpy
    all_rows = emb.collect()
    v = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in all_rows}
    qid = rows[0].query_id
    qv = v[qid]
    cos = {i: round(float(qv @ u / (np.linalg.norm(qv) * np.linalg.norm(u))), 6)
           for i, u in v.items() if i != qid}
    want = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [(r.corpus_id, r.cosine) for r in sorted(rows, key=lambda r: r.rank) if r.query_id == qid]
    assert [w[0] for w in want] == [g[0] for g in got]


def test_lsh_topk_subset_of_bucket(spark, emb):
    q = emb.limit(3)
    out = similarity.lsh_topk(emb, q, k=3).collect()
    assert all(r.rank <= 3 for r in out)
    assert len(out) > 0


def test_multimodal_plumbing(spark):
    from tosidewalk_spark.sources import synth
    pages = synth.pages(spark, 30)
    media = multimodal.synth_media(pages)
    feats = multimodal.extract_features(media).collect()
    assert all(len(f.feature) == 8 for f in feats)
    assert all(abs(sum(f.feature) - 1.0) < 1e-3 for f in feats)
    frames = multimodal.sample_frames(media).collect()
    vids = media.filter("media_type = 'video'").count()
    assert (len(frames) > 0) == (vids > 0)
    resized = multimodal.resize_images(media, out_w=8, out_h=6).collect()
    n_imgs = media.filter("media_type = 'image'").count()
    assert len(resized) == n_imgs
    assert all(len(r.raster) == 48 for r in resized)
    assert all(0.0 <= v <= 1.0 for r in resized for v in r.raster)
    # deterministic: same input -> same raster
    again = {r.url: r.raster for r in multimodal.resize_images(media, 8, 6).collect()}
    assert all(again[r.url] == r.raster for r in resized)
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"x", "image")


def test_resize_rounding_bit_identical_cross_engine():
    """np.round(k/255, 6) must repr-match DuckDB ROUND(k/255.0, 6) for all
    256 byte values — the contract behind the multimodal_resize oracle
    (registry.q_multimodal_resize)."""
    import duckdb
    import numpy as np
    rows = duckdb.sql(
        "SELECT k, ROUND(k/255.0, 6) FROM generate_series(0, 255) t(k)").fetchall()
    for k, d in rows:
        assert repr(float(np.round(np.float64(k) / 255.0, 6))) == repr(d), k


def test_gemm_topk_equals_brute_force(spark):
    from tosidewalk_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id % 25 = 0")
    want = sorted(map(tuple, similarity.brute_force_topk(emb, queries, k=5).collect()))
    got = sorted(map(tuple, similarity.gemm_topk(emb, queries, k=5).collect()))
    assert got == want


def test_incremental_dedup(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    corpus = mk([(1, "seen doc"), (2, "other seen")])
    new = mk([(10, "seen doc"), (11, "fresh"), (12, "fresh"), (13, "novel")])
    out = {r.doc_id: r.n_batch_dupes
           for r in dedup.incremental_dedup(new, corpus).collect()}
    assert out == {11: 2, 13: 1}


def test_deterministic_sample(spark, docs):
    quotas = {"en": 250, "de": 1000}
    s1 = text.deterministic_sample(docs, quotas)
    rows = s1.collect()
    ids2 = {r.doc_id for r in
            text.deterministic_sample(docs.repartition(7), quotas).collect()}
    assert {r.doc_id for r in rows} == ids2  # parallelism-invariant membership
    assert {r.lang for r in rows} <= {"en", "de"}  # default permille 0
    assert s1.filter("lang = 'de'").count() == docs.filter("lang = 'de'").count()
    assert 0 < s1.filter("lang = 'en'").count() < docs.filter("lang = 'en'").count()


def test_stratified_quota(spark, docs):
    """Exact per-stratum budgets: quota counts hit exactly, the monotone
    hash prefilter is RESULT-invariant (vs prefilter=False ground truth),
    membership is parallelism-invariant, and a starved cutoff fails LOUD
    instead of silently under-filling a stratum."""
    q = {"en": 25, "de": 10**6}  # de quota > stratum: whole-stratum path
    a = sorted(map(tuple, text.stratified_quota(docs, q).collect()))
    b = sorted(map(tuple,
                   text.stratified_quota(docs, q, prefilter=False).collect()))
    assert a == b  # the h < cutoff prefilter is a prefix of the sort order
    from collections import Counter
    per_lang = Counter(lang for _, lang, _ in a)
    n_de = docs.filter("lang = 'de'").count()
    assert per_lang == {"en": 25, "de": n_de}
    c = sorted(map(tuple,
                   text.stratified_quota(docs.repartition(7), q).collect()))
    assert c == a  # deterministic across parallelism
    # caller-provided counts skip the counting job but keep exactness
    n_en = docs.filter("lang = 'en'").count()
    d = sorted(map(tuple, text.stratified_quota(
        docs, q, counts_by_lang={"en": n_en, "de": n_de}).collect()))
    assert d == a
    # starvation guard: overstated counts shrink the cutoff below quota
    import pytest as _pt
    with _pt.raises(Exception, match="starved stratum"):
        text.stratified_quota(docs, {"en": 25},
                              counts_by_lang={"en": 10**9}).collect()
    # NULL-lang stratum with default_quota > 0: must be ranked in full
    # (never rendered as the literal 'None' CASE arm), quota still exact
    nl = spark.createDataFrame(
        [(1, None, "x"), (2, None, "y"), (3, "en", "z")],
        "doc_id long, lang string, text string")
    got = text.stratified_quota(nl, {"en": 5}, default_quota=1).collect()
    by_lang = {r.lang: r for r in got}
    assert len([r for r in got if r.lang is None]) == 1
    assert by_lang["en"].rk == 1


def test_global_shuffle(spark, docs):
    """(shard, pos) is a total order covering every doc exactly once:
    pos is contiguous 1..n within each shard, shard < n_shards, and the
    assignment is identical across parallelism (no RNG, no sampled
    boundaries — the repartitionByRange failure mode)."""
    out = text.global_shuffle(docs, n_shards=8).collect()
    assert len(out) == docs.count()
    assert len({r.doc_id for r in out}) == len(out)  # a permutation
    from collections import defaultdict
    by_shard = defaultdict(list)
    for r in out:
        assert 0 <= r.shard < 8
        by_shard[r.shard].append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = text.global_shuffle(docs.repartition(11), n_shards=8).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    import pytest as _pt
    with _pt.raises(ValueError):
        text.global_shuffle(docs, n_shards=0)


def test_length_quantiles(spark, docs):
    """Values equal numpy's method='linear' quantiles (the same (n-1)*p
    formula) per lang; non-dyadic p rejected loudly."""
    out = {r.lang: r for r in text.length_quantiles(docs).collect()}
    import numpy as np
    pdf = docs.select("lang", "n_chars").toPandas()
    for lg, grp in pdf.groupby("lang"):
        v = np.sort(grp["n_chars"].to_numpy(dtype=np.float64))
        got = out[lg]
        assert got.n_docs == len(v)
        for p, field in ((0.25, "q25"), (0.5, "q5"), (0.75, "q75")):
            want = float(np.quantile(v, p, method="linear"))
            assert got[field] == pytest.approx(want, abs=1e-9), (lg, p)
    with pytest.raises(ValueError, match="dyadic"):
        text.length_quantiles(docs, ps=(0.3,))


def test_token_histogram(spark):
    d = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "a"), (3, "de", "")],
        "doc_id long, lang string, text string")
    out = {(r.lang, r.bucket): r.n_docs for r in text.token_histogram(d).collect()}
    assert out == {("en", 1): 1, ("en", 0): 1, ("de", -1): 1}


def test_simhash64_keeps_tokenless_docs(spark):
    """Token-less docs must emit fingerprint 0 (and pair at hamming 0) —
    the explode-based rewrite silently dropped them (review r3)."""
    d = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real tokens here")],
        "doc_id long, text string")
    s = {r.doc_id: r.simhash64 for r in dedup.simhash64(d).collect()}
    assert s[1] == 0 and s[2] == 0 and s[3] != 0 and len(s) == 3
    pairs = {(r.doc_a, r.doc_b) for r in dedup.simhash_neardup_pairs(d).collect()}
    assert (1, 2) in pairs


def test_dedup_clusters_transitive(spark):
    """a~b (hamming 1) and b~c (hamming 3) but a!~c (hamming 4): the three
    docs must still land in ONE cluster via transitive closure; unrelated
    docs stay singletons.  Fixture found by seeded search over the real
    simhash64 (see commit)."""
    d = spark.createDataFrame([
        (1, "w180 w4 w98 w84 w132 w159 w75 w131 w16 w28 w58 w26 w21 w67 w69 w10 w46 w185 w33 w108 w173 w66 w103 w38 w137 w192 w146 w126 w83 w22 w71 w14 w183 w199 w18 w68 w198 w162 w170 w178"),
        (2, "w180 w4 w98 w84 w132 x11a w75 w131 w16 w28 w58 w26 w21 w67 w69 w10 w46 w185 w33 w108 w173 w66 w103 w38 w137 w192 w146 w126 w83 w22 w71 w14 w183 w199 w18 w68 w198 w162 w170 w178"),
        (3, "w180 w4 w98 w84 w132 x11a w75 w131 w16 w28 w58 w26 w21 w67 w69 w10 w46 w185 w33 w108 w173 w66 w103 w38 w137 w192 w146 w126 w83 w22 w71 w14 w183 w199 w18 w68 w198 w162 x11b w178"),
        (9, "completely different content with other words entirely"),
    ], "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b) for r in dedup.simhash_neardup_pairs(d).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    out = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in dedup.dedup_clusters(d).collect()}
    assert out[9] == (9, 1)
    assert out[1] == out[2] == out[3] == (1, 3)


def test_incremental_dedup_bucketed_table_no_corpus_shuffle(spark, tmp_path):
    """The bucketed on-disk corpus fingerprint table must (a) give the
    exact incremental_dedup answer and (b) join with NO Exchange on the
    corpus side — the plan property that makes nightly batch dedup
    shuffle-free over a 100 TB corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.filter("doc_id % 7 = 3")
    corpus = docs.filter("doc_id % 7 != 3")
    dedup.write_fingerprint_corpus(corpus, "fp_corpus_t", str(tmp_path / "fp"),
                                   n_buckets=8)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup.incremental_dedup_vs_table(batch, spark, "fp_corpus_t")
        got = {(r.doc_id, r.fp, r.n_batch_dupes) for r in out.collect()}
        want = {(r.doc_id, r.fp, r.n_batch_dupes)
                for r in dedup.incremental_dedup(batch, corpus).collect()}
        assert got == want and got
        plan = out._jdf.queryExecution().executedPlan().toString()
        # AQE echoes the pre-adaptive plan under '== Initial Plan ==';
        # count exchanges in the FINAL plan only
        plan = plan.split("== Initial Plan ==")[0]
        # exactly ONE hash exchange (the batch side, into the table's 8
        # buckets); the bucketed corpus scan feeds the join exchange-free
        assert plan.count("Exchange hashpartitioning") == 1, plan[:4000]
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS fp_corpus_t")


def test_pack_sequences_running_offsets(spark):
    """Contiguous packing: within a shard, seq_id/seq_offset follow the
    exclusive running token sum in doc_id order; budget boundaries roll
    the sequence id."""
    d = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "d e f g"), (3, "en", "h i"),
         (4, "de", "x y z")],
        "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in
           text.pack_sequences(d, budget_tokens=5, n_shards=1).collect()}
    assert out[1].shard == "en/0" and out[4].shard == "de/0"
    assert (out[1].seq_id, out[1].seq_offset) == (0, 0)   # start 0
    assert (out[2].seq_id, out[2].seq_offset) == (0, 3)   # start 3
    assert (out[3].seq_id, out[3].seq_offset) == (1, 2)   # start 7
    assert (out[4].seq_id, out[4].seq_offset) == (0, 0)   # own shard
    assert out[2].n_tokens == 4


def test_decontaminate_flags_ngram_overlap(spark):
    corpus = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta"),   # shares 4-gram w/ bench
        (2, "totally unrelated words here friend"),
        (3, "beta gamma delta epsilon more stuff"),   # shares 4-gram w/ bench
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id long, text string")
    out = {r.doc_id: r.n_hits for r in
           dedup.decontaminate(corpus, bench, w=4).collect()}
    assert set(out) == {1, 3}
    # doc 1 shares 'alpha beta gamma delta' and 'beta gamma delta epsilon'
    assert out[1] == 2
    assert out[3] == 1


def test_ngram_counts_top_k(spark):
    d = spark.createDataFrame([
        (1, "a b a b c"), (2, "a b x"), (3, "z")],  # 'z' too short: no bigram
        "doc_id long, text string")
    rows = text.ngram_counts(d, w=2, top_k=2).collect()
    assert [(r.ngram, r.n_total, r.n_docs) for r in rows] == [
        ("a b", 3, 2), ("b a", 1, 1)]  # tie on n_total=1 broken by ngram asc? n_docs desc first
    # verify deterministic tiebreak: 'b a','b c','b x' all 1/1 -> ngram asc picks 'b a'


def test_url_dedup_canonicalization(spark):
    d = spark.createDataFrame([
        ("https://Site.Example/A/b?utm=x",),
        ("HTTPS://site.example/A/b#frag",),
        ("https://site.example/A/b",),
        ("https://site.example/a/b",),      # different PATH case: distinct
        ("https://other.example/x",),
        # path-less urls: the authority must stop at '?'/'#' too, or the
        # query is case-folded into the "host" instead of stripped
        ("https://Bare.Example?utm=x",),
        ("HTTPS://bare.example#frag",),
        ("https://bare.example",),
    ], "url string")
    out = {r.canonical_url: (r.n_variants, r.first_url)
           for r in text.url_dedup(d).collect()}
    assert out["https://site.example/A/b"] == (3, "HTTPS://site.example/A/b#frag")
    assert out["https://site.example/a/b"] == (1, "https://site.example/a/b")
    assert out["https://other.example/x"][0] == 1
    assert out["https://bare.example"][0] == 3


def test_normalize_text_folds_case_and_punct(spark):
    d = spark.createDataFrame(
        [(1, "  Hello, WORLD!!  (x2)  "), (2, "already clean")],
        "doc_id long, text string")
    out = {r.doc_id: (r.norm_text, r.n_norm_chars)
           for r in text.normalize_text(d).collect()}
    assert out[1] == ("hello world x2", 14)
    assert out[2] == ("already clean", 13)


def test_pii_scrub_redacts_and_counts(spark):
    d = spark.createDataFrame([
        (1, "mail me at jo.doe+x@site.example or call 555-123-4567 now"),
        (2, "no pii in this one"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in text.pii_scrub(d).collect()}
    assert out[1].text_scrubbed == "mail me at [EMAIL] or call [PHONE] now"
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert out[2].text_scrubbed == "no pii in this one"
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)


def test_dedup_clusters_giant_exact_group_survives_band_cap(spark):
    """ADVICE.md r3: an exact-duplicate group LARGER than max_bucket
    shares all 4 simhash bands, so pre-r4 every one of its band buckets
    blew the cap, all edges were dropped, and the corpus's biggest
    duplicate cluster came back as singletons.  The fingerprint
    pre-collapse folds the group to ONE band-graph node, so the cluster
    survives any cap — and near-dup (not just identical) variants still
    attach to it through their representative."""
    rows = [(i, "spam spam lovely boilerplate spam page") for i in range(1, 21)]
    rows.append((50, "spam spam lovely boilerplate spam page extra"))  # near-dup variant
    rows.append((99, "completely different content with other words entirely"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in dedup.dedup_clusters(d, max_bucket=4).collect()}
    assert out[99] == (99, 1)
    # all 20 exact dupes cluster together under cluster_id 1 despite
    # max_bucket=4; the near-dup doc 50 joins iff its rep-pair passes the
    # hamming check (it does for this fixture: one-token suffix)
    assert all(out[i][0] == 1 for i in range(1, 21))
    assert out[1][1] >= 20


def test_repetition_stats(spark):
    d = spark.createDataFrame([
        (1, "a b a b a b"),     # 2-grams: 'a b' x3, 'b a' x2 -> all duplicated
        (2, "u v w x"),         # all 2-grams unique
        (3, "solo"),            # single token: no 2-grams
        (4, ""),                # empty text
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_stats(d).collect()}
    assert out[1].n_tokens == 6
    assert out[1].uniq_token_frac == round(2 / 6, 6)
    assert out[1].top_2gram_frac == 0.6        # 3 of 5
    assert out[1].dup_2gram_frac == 1.0        # 5 of 5
    assert out[2].n_tokens == 4
    assert out[2].uniq_token_frac == 1.0
    assert out[2].top_2gram_frac == round(1 / 3, 6)
    assert out[2].dup_2gram_frac == 0.0
    for i in (3, 4):
        assert out[i].top_2gram_frac == 0.0
        assert out[i].dup_2gram_frac == 0.0
    assert out[3].n_tokens == 1 and out[4].n_tokens == 0


def test_remove_boilerplate_threshold_and_domain_isolation(spark):
    nl = "\n"
    rows = [(i, "a.example",
             nl.join(["nav bar", f"body {i}", "footer"])) for i in range(3)]
    # 'nav bar' also appears in ONE doc of b.example — under threshold
    # there, so domain isolation must keep it
    rows.append((10, "b.example", nl.join(["nav bar", "body ten"])))
    rows.append((11, "b.example", "body eleven"))
    d = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    out = {r.doc_id: r for r in
           text.remove_boilerplate(d, min_docs=3).collect()}
    for i in range(3):  # df=3 nav+footer dropped, unique body kept
        assert out[i].clean_text == f"body {i}"
        assert (out[i].n_lines_kept, out[i].n_lines_dropped) == (1, 2)
    assert out[10].clean_text == nl.join(["nav bar", "body ten"])
    assert out[10].n_lines_dropped == 0
    assert out[11].clean_text == "body eleven"


def test_asof_join_semantics(spark):
    from tosidewalk_spark.operators import temporal
    left = spark.createDataFrame(
        [(1, 100, 5), (1, 250, 6), (1, 50, 7), (2, 300, 8)],
        "k long, ts long, lv long")
    right = spark.createDataFrame(
        [(1, 100, 11), (1, 200, 12), (3, 10, 13)],
        "k long, ts long, rv long")
    out = {(r.k, r.ts): r.rv for r in temporal.asof_join(
        left, right, on=["k"], payload={"rv": "rv"}).collect()}
    assert out[(1, 100)] == 11   # equal ts matches (<= semantics)
    assert out[(1, 250)] == 12   # latest preceding
    assert out[(1, 50)] is None  # nothing at-or-before
    assert out[(2, 300)] is None # key absent on the right
    # tiebreak: two right rows at the same (k, ts) -> LARGEST tb wins,
    # and the payload struct stays atomic (both columns from that row)
    right2 = spark.createDataFrame(
        [(1, 100, 11, 1), (1, 100, 21, 2)], "k long, ts long, rv long, tb long")
    out2 = {(r.k, r.ts): (r.rv, r.rtb) for r in temporal.asof_join(
        left, right2, on=["k"], payload={"rv": "rv", "tb": "rtb"},
        tiebreak="tb").collect()}
    assert out2[(1, 250)] == (21, 2)


def test_dedup_keep_collapses_clusters(spark):
    rows = [(i, "same text in every doc here") for i in range(5)]
    rows.append((9, "another page entirely different words"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n_collapsed for r in dedup.dedup_keep(d).collect()}
    assert out == {0: 5, 9: 1}


def test_interval_join_bounds_and_buckets(spark):
    from tosidewalk_spark.operators import temporal
    left = spark.createDataFrame(
        [(1, 0.0), (1, 100.0), (1, 500.0), (1, 501.0), (2, 100.0)],
        "k long, ts double")
    right = spark.createDataFrame(
        [(1, 100.0, 500.0, 7), (2, 9000.0, 9100.0, 8)],
        "k long, s double, e double, rid long")
    # bucket_s=60: the [100, 500] interval spans 8 buckets; every
    # qualifying pair must appear EXACTLY once despite the explosion
    out = [(r.ts, r.rid) for r in temporal.interval_join(
        left, right, on=["k"], left_ts="ts", right_start="s",
        right_end="e", bucket_s=60).collect()]
    assert sorted(out) == [(100.0, 7), (500.0, 7)]  # inclusive both ends


def test_cdc_chunks_properties(spark):
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat naps beside a warm stone wall in the late afternoon sun")
    d = spark.createDataFrame(
        [(1, base), (2, "Z" + base), (3, "short"), (4, ""), (5, None)],
        "doc_id long, text string")
    rows = text.cdc_chunks(d, w=8, mod=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_no, r.chunk_len, r.chunk_fp))
    for v in by_doc.values():
        v.sort()
    # chunks tile the document: lengths sum to the text length
    assert sum(c[1] for c in by_doc[1]) == len(base)
    assert sum(c[1] for c in by_doc[2]) == len(base) + 1
    # the defining CDC property: a 1-char prefix insertion leaves every
    # chunk after the first boundary IDENTICAL (boundaries move with
    # content) — exact dedup on chunk_fp still matches the shared tail
    fps1 = [c[2] for c in by_doc[1]]
    fps2 = [c[2] for c in by_doc[2]]
    assert len(fps1) >= 3  # non-trivial chunking at this w/mod
    assert set(fps1[1:]) <= set(fps2)
    # text shorter than the window w -> one chunk covering everything
    assert by_doc[3] == [(0, 5, by_doc[3][0][2])]
    # empty and NULL text -> zero chunks
    assert 4 not in by_doc and 5 not in by_doc


def test_substring_dedup_cross_doc_and_within_doc(spark):
    d = spark.createDataFrame([
        (1, "a b c d e f x y z"),          # keeper of the shared 6-gram
        (2, "p q a b c d e f w"),          # later occurrence -> span removed
        (3, "m n o p q r m n o p q r"),    # within-doc repeat at pos 1 and 7
        (4, "one two"),                    # shorter than k -> pass-through
        (5, ""), (6, None),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.substring_dedup(d, k=6).collect()}
    assert len(out) == 6  # every doc survives, even empty/NULL
    # globally-first occurrence keeps its words
    assert out[1].clean_text == "a b c d e f x y z"
    assert out[1].n_words_removed == 0
    # the later cross-doc occurrence loses exactly the k-gram span
    assert out[2].clean_text == "p q w"
    assert out[2].n_words == 9 and out[2].n_words_removed == 6
    # within-doc repeat: second occurrence removed, first kept
    assert out[3].clean_text == "m n o p q r"
    assert out[3].n_words == 12 and out[3].n_words_removed == 6
    # sub-k docs have no grams and pass through unchanged
    assert out[4].clean_text == "one two" and out[4].n_words_removed == 0
    for i in (5, 6):
        assert out[i].n_words == 0 and out[i].clean_text == ""


def test_substring_dedup_overlapping_gram_spans_union(spark):
    # doc 11 shares '1 2 3 4 5 6' with doc 10 (removed at 11) and
    # '4 5 6 7 8 9' with doc 12's keeper copy? No: doc 11 is the FIRST
    # for that gram, so only the first span is cut and the union must
    # not double-count the overlap words 4 5 6.
    d = spark.createDataFrame([
        (10, "1 2 3 4 5 6"),
        (11, "1 2 3 4 5 6 7 8 9"),
        (12, "z z z 4 5 6 7 8 9"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.substring_dedup(d, k=6).collect()}
    assert out[10].n_words_removed == 0          # keeper of '1 2 3 4 5 6'
    # doc 11 loses 1..6 (dup of doc 10) but KEEPS 4 5 6 7 8 9 (it is the
    # keeper for that gram) minus the overlap already cut: spans union
    assert out[11].clean_text == "7 8 9"
    assert out[11].n_words_removed == 6
    # doc 12's copy of '4 5 6 7 8 9' is the later occurrence -> removed
    assert out[12].clean_text == "z z z"
    assert out[12].n_words_removed == 6


def test_quantize_embeddings_codes_and_edges(spark):
    d = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.5]), (2, [0.0, 0.0]), (3, [-2.0])],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.quantize_embeddings(d, bits=8).collect()}
    r1 = out[1]
    assert r1.n_dims == 3 and r1.scale == 1.0
    assert r1.code_max == 127 and r1.code_min == -127
    # 0.5 * 127 + 0.5 = 64.0 -> floor 64
    assert r1.code_sum == 127 - 127 + 64
    assert 0.0 < r1.rmse < 0.01
    # all-zero vector: scale clamps, codes are 0, rmse exactly 0
    r2 = out[2]
    assert r2.scale == 0.0 and r2.code_sum == 0
    assert r2.code_min == 0 and r2.code_max == 0 and r2.rmse == 0.0
    # single negative extreme hits -qmax exactly
    r3 = out[3]
    assert r3.scale == 2.0 and r3.code_min == -127 and r3.rmse == 0.0
    # narrower codebooks: bits=4 -> qmax = 7
    out4 = {r.vec_id: r for r in similarity.quantize_embeddings(d, bits=4).collect()}
    assert out4[1].code_max == 7 and out4[1].code_min == -7


def test_quantized_topk_reranks_coarse_inversion(spark):
    # Planted inversion: A's tiny relevant component quantizes to code 0
    # (0.0039 * 127 + 0.5 < 1) so its coarse int-dot with q is 0, while
    # B's larger-but-less-aligned component survives quantization — the
    # coarse pass ranks B first, the exact re-rank must restore A.
    emb = spark.createDataFrame([
        (0, "q", [0.0, 1.0, 1.0, 0.0]),
        (1, "A", [1.0, 0.0039, 0.0039, 0.0]),   # exact cos ~0.0055, coarse 0
        (2, "B", [1.0, 0.0059, 0.0, 0.0]),      # exact cos ~0.0042, coarse 127
        (3, "C", [0.0, 0.0, 0.0, 1.0]),         # orthogonal filler
        (4, "Z", [0.0, 0.0, 0.0, 0.0]),         # all-zero: clamps, no NaN
    ], "vec_id long, label string, embedding array<float>")
    q = emb.filter("vec_id = 0")
    out = similarity.quantized_topk(emb, q, k=2, shortlist=2).collect()
    assert [(r.corpus_id, r.rank) for r in out] == [(1, 1), (2, 2)]
    assert out[0].cosine > out[1].cosine > 0
    # with the shortlist squeezed to 1, the coarse inversion is exposed:
    # only B is re-ranked, proving the coarse pass really ordered B first
    narrow = similarity.quantized_topk(emb, q, k=1, shortlist=1).collect()
    assert [(r.corpus_id, r.rank) for r in narrow] == [(2, 1)]
    # wide shortlist == brute force on the nonzero vectors (brute_force
    # has no norm clamp, so the zero vector would ANSI-divide-by-zero it)
    nz = emb.filter("vec_id != 4")
    wide = sorted(map(tuple, similarity.quantized_topk(nz, q, k=3, shortlist=4).collect()))
    want = sorted(map(tuple, similarity.brute_force_topk(nz, q, k=3).collect()))
    assert wide == want
    # zero vector through the CLAMPED path: finite 0.0 cosine, never NaN
    # (and never a divide-by-zero error under ANSI mode)
    full = similarity.quantized_topk(emb, q, k=4, shortlist=4).collect()
    zrow = [r for r in full if r.corpus_id == 4]
    assert len(zrow) == 1 and zrow[0].cosine == 0.0


def _media_rows(spark, rows):
    """(url, payload bytes, w, h) -> media DF"""
    return spark.createDataFrame(
        [(u, "image", bytearray(p), w, h, 1) for u, p, w, h in rows],
        "url string, media_type string, payload binary, width int, "
        "height int, n_frames int")


def test_image_phash_brightness_invariant_byte_hash_not(spark):
    # the point of a perceptual hash: a global brightness shift keeps the
    # phash (order-only comparisons) while the byte content changes
    base = bytes(range(40, 104))  # 64 bytes, strictly increasing, no clip
    shifted = bytes(b + 10 for b in base)
    media = _media_rows(spark, [("orig", base, 8, 8),
                                ("bright", shifted, 8, 8)])
    out = {r.url: r.phash for r in multimodal.image_phash(media).collect()}
    assert out["orig"] == out["bright"]
    assert base != shifted
    # and a content change that flips a comparison changes the phash:
    # reverse the bytes so every adjacent comparison inverts
    media2 = _media_rows(spark, [("orig", base, 8, 8),
                                 ("rev", base[::-1], 8, 8)])
    out2 = {r.url: r.phash for r in multimodal.image_phash(media2).collect()}
    assert out2["orig"] != out2["rev"]


def test_image_phash_bounds_and_degenerate(spark):
    media = _media_rows(spark, [("empty", b"", 8, 8),
                                ("flat", bytes([7]) * 64, 8, 8),
                                ("x", bytes(range(64)), 8, 8)])
    out = {r.url: r.phash for r in multimodal.image_phash(media).collect()}
    assert out["empty"] == 0            # degenerate zero-fill path
    assert out["flat"] == 0             # constant image: no comparison set
    assert 0 <= out["x"] < 1 << 56      # 56-bit, BIGINT-positive


def test_image_phash_dedup_keep_semantics(spark):
    a = bytes(range(30, 94))
    media = _media_rows(spark, [
        ("img://b", a, 8, 8),
        ("img://a", bytes(v + 5 for v in a), 8, 8),   # perceptual copy
        ("img://c", a[::-1], 8, 8),                   # different content
    ])
    out = {r.url: r for r in multimodal.image_phash_dedup(media).collect()}
    assert out["img://a"].keep and not out["img://b"].keep  # min-url wins
    assert out["img://a"].n_copies == 2 == out["img://b"].n_copies
    assert out["img://c"].keep and out["img://c"].n_copies == 1


def test_bpe_tokenize_matches_python_twin(spark):
    """The nested-REPLACE sentinel chain must equal real rank-order BPE
    apply (text.bpe_apply_py) on the cases that break naive encodings:
    4-deep cascade (b+atch <- atc+h <- at+c <- a+t), adjacent occurrences
    of the same merge ('hashhash', 'ererer' — one REPLACE pass must catch
    all of them), false-match-inside-longer-symbol, word boundaries, and
    empty/NULL text."""
    rows = [(1, "batch scan"), (2, "join parts"), (3, "ererer"),
            (4, "at ch"), (5, "hash hashhash"), (6, "batchbatch"),
            (7, "the customer window stream"), (8, ""), (9, None)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.bpe_tokenize(d).collect()}
    for doc_id, t in rows:
        words = (t or "").split()
        toks = [text.bpe_apply_py(w) for w in words]
        exp_text = " ".join("/".join(ts) for ts in toks)
        exp_n = sum(len(ts) for ts in toks)
        r = out[doc_id]
        assert r.tok_text == exp_text, (t, r.tok_text, exp_text)
        assert r.n_tokens == exp_n
        assert r.n_words == len(words)
        # every merge application reduces token count by exactly 1
        assert r.n_merged == sum(len(w) for w in words) - exp_n


def test_bpe_tokenize_corpus_invariants(spark, docs):
    """On the real corpus: token count is bounded by [n_words, n_chars],
    n_merged is non-negative, and whole-word merges actually fire (the
    shipped table is not vacuous on the distribution it was learned on)."""
    out = text.bpe_tokenize(docs).cache()
    bad = out.filter(
        "n_tokens < n_words OR n_merged < 0 OR "
        "n_tokens > n_words + n_merged + n_tokens").count()
    assert bad == 0
    whole = out.filter("tok_text LIKE '%batch%' AND tok_text NOT LIKE "
                       "'%b/atch%'").count()
    assert whole > 0  # 'batch' survives as ONE subword somewhere
    out.unpersist()


def test_bpe_learn_matches_python_twin(spark):
    """In-plan greedy BPE training must equal the python twin on corpora
    that exercise the sharp edges: overlapping runs ('aaaa' counts (a,a)
    three times but merges left-to-right into two 'aa'), ties resolved by
    the pair key, cascading merges re-counted on the MERGED state, and
    empty/NULL docs contributing nothing."""
    rows = [(1, "the cat sat on the mat"), (2, "the hat that ate then"),
            (3, "aaaa banana"), (4, ""), (5, None), (6, "ererer erer")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.merge_no, r.a, r.b, r.pair_count)
           for r in text.bpe_learn(d, n_merges=5)
           .orderBy("merge_no").collect()]
    exp = text.bpe_learn_py([t for _, t in rows], 5)
    assert got == exp


def test_bpe_learn_corpus_properties(spark, docs):
    """On the real corpus: exactly BPE_LEARN_MERGES rounds fire, the
    winning pair frequency is non-increasing (greedy BPE's invariant:
    merging cannot create a pair more frequent than the one just taken),
    and every multi-char symbol entering a later merge was PRODUCED by an
    earlier merge — the learned table is self-consistent, i.e. directly
    feedable to bpe_chain_sql/bpe_tokenize."""
    out = text.bpe_learn(docs).orderBy("merge_no").collect()
    assert len(out) == text.BPE_LEARN_MERGES
    counts = [r.pair_count for r in out]
    assert counts == sorted(counts, reverse=True)
    produced = set()
    for r in out:
        for side in (r.a, r.b):
            assert len(side) == 1 or side in produced, (r.merge_no, side)
        produced.add(r.a + r.b)


def test_bpe_learn_feeds_bpe_apply(spark, docs):
    """Composition contract: the learned table drives the SAME sentinel
    REPLACE chain as the shipped one — applying the learned merges via
    bpe_chain_sql(merges=...) matches the python rank-order apply."""
    learned = [(r.a, r.b) for r in
               text.bpe_learn(docs).orderBy("merge_no").collect()]
    sample = docs.filter("doc_id % 97 = 0 AND text IS NOT NULL").limit(20)
    chain = text.bpe_chain_sql("text", merges=learned)
    got = {r.doc_id: r.tok for r in sample.selectExpr(
        "doc_id", f"replace(replace({chain}, '||', '/'), '|', '') AS tok")
        .collect()}
    for r in sample.select("doc_id", "text").collect():
        exp = " ".join("/".join(text.bpe_apply_py(w, learned))
                       for w in r.text.split() if w)
        assert got[r.doc_id] == exp, r.doc_id


def test_fetch_schedule_politeness_and_determinism(spark):
    """Crawl-frontier invariants: (1) no host appears more than per_slot
    times in any slot; (2) within a host, slots are assigned in url order
    with no gaps; (3) the schedule is identical at different shuffle
    parallelism (deterministic window, the resume property)."""
    from tosidewalk_spark.operators import text as TX
    from tosidewalk_spark.sources import synth
    pages = synth.pages(spark, 1000)
    out = TX.fetch_schedule(pages, per_slot=2)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault((r.host, r.slot), []).append(r.url)
    assert max(len(v) for v in per.values()) <= 2
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append((r.url, r.rank_in_host, r.slot))
    for host, items in by_host.items():
        items.sort()
        for i, (_, rk, slot) in enumerate(items):
            assert rk == i + 1 and slot == i // 2, (host, items)
    again = sorted(map(tuple, TX.fetch_schedule(
        pages.repartition(17), per_slot=2).collect()))
    assert again == sorted(map(tuple, rows))
    import pytest
    with pytest.raises(ValueError):
        TX.fetch_schedule(pages, per_slot=0)


def test_gopher_rules_planted_boundaries(spark):
    """Each Gopher rule trips on its planted violator and ONLY that rule;
    a compliant doc passes all five.  Boundary doc sits exactly ON the
    mean-word-length bound (integer cross-multiplication must treat the
    bound as inclusive)."""
    from tosidewalk_spark.operators import text as TX
    good = " ".join(["the and with data point value"] * 10)  # 60 words
    short = "the and for with data point"                    # < 50 words
    longwords = " ".join(                                    # mean 14.5 > 10
        ["abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz the and"]
        * 20)
    symbols = " ".join(                                      # symbol-heavy,
        ["the# and... with# data... point# value... the and"] * 10
    )  # but every token still has an alpha char and plain stopwords exist
    nostop = " ".join(["zzz qqq www rrr ttt yyy"] * 10)      # no stopwords
    exact3 = " ".join(["abc the and"] * 25)                  # mean exactly 3
    rows = [(1, good), (2, short), (3, longwords), (4, symbols),
            (5, nostop), (6, exact3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.gopher_rules(df).collect()}
    assert out[1].keep
    assert not out[2].ok_words and out[2].ok_mean_len
    assert not out[3].ok_mean_len and out[3].ok_words
    assert not out[4].ok_symbols and out[4].ok_words
    assert not out[5].ok_stop and out[5].ok_alpha
    assert out[6].ok_mean_len and out[6].keep  # inclusive lower bound
    # rule independence: each violator fails EXACTLY its planted rule
    for doc, rule in [(2, "ok_words"), (3, "ok_mean_len"),
                      (4, "ok_symbols"), (5, "ok_stop")]:
        flags = {k: getattr(out[doc], k) for k in
                 ("ok_words", "ok_mean_len", "ok_alpha", "ok_symbols",
                  "ok_stop")}
        assert not flags.pop(rule)
        assert all(flags.values()), (doc, flags)
        assert not out[doc].keep


def _winnow_py(words, k=3, w=4):
    """Pure-python winnowing reference (Schleimer et al. 2003): min hash
    per window, rightmost on ties — the operator's independent twin."""
    P = 2147483647

    def h(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % P
        return a

    grams = [h(" ".join(words[i:i + k])) for i in range(len(words) - k + 1)]
    if not grams:
        return set()
    sel = set()
    for s in range(max(len(grams) - w + 1, 1)):
        win = grams[s:s + w]
        m = min(win)
        # rightmost occurrence of the min
        j = max(i for i, g in enumerate(win) if g == m)
        sel.add((s + j + 1, m))  # 1-based gram position
    return sel


def test_winnowing_matches_python_reference(spark, docs):
    got = {(r.doc_id, r.pos, r.gram_hash)
           for r in dedup.winnowing(docs.limit(40), k=3, w=4).collect()}
    want = set()
    for r in docs.limit(40).collect():
        words = [t for t in (r.text or "").split(" ") if t]
        for pos, gh in _winnow_py(words, 3, 4):
            want.add((r.doc_id, pos, gh))
    assert got == want


def test_winnowing_coverage_theorem(spark):
    """Any shared word run of length >= k + w - 1 = 6 must surface as a
    shared selected hash between the two documents (the winnowing
    guarantee), whatever surrounds it."""
    shared = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [(1, f"one two three {shared} four five six"),
         (2, f"{shared} seven eight nine ten eleven twelve")],
        "doc_id long, text string")
    out = dedup.winnowing(d, k=3, w=4).collect()
    h1 = {r.gram_hash for r in out if r.doc_id == 1}
    h2 = {r.gram_hash for r in out if r.doc_id == 2}
    assert h1 & h2, (h1, h2)


def test_winnowing_short_doc_selects_global_min(spark):
    """Fewer grams than the window: the single truncated window selects
    exactly one fingerprint — the min over all grams."""
    d = spark.createDataFrame([(7, "a b c d")], "doc_id long, text string")
    out = dedup.winnowing(d, k=3, w=4).collect()  # 2 grams < w
    assert len(out) == 1
    words = ["a", "b", "c", "d"]
    assert (out[0].pos, out[0].gram_hash) in _winnow_py(words, 3, 4)


def test_ccnet_buckets_threshold_ordering(spark, docs):
    """Within every language: every tail qscore <= every middle qscore <=
    every head qscore, all three buckets non-trivially populated over the
    sf0.001 corpus, and the split covers each candidate doc exactly once."""
    cand = docs.filter("doc_id % 5 != 0")
    out = text.ccnet_buckets(cand, docs.filter("doc_id % 5 = 0")).collect()
    assert len(out) == cand.count()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(r.qscore)
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, (lang, set(b))
        assert max(b["tail"]) <= min(b["middle"]), lang
        assert max(b["middle"]) < min(b["head"]), lang
        # thresholds, not terciles: each bucket holds SOME mass but ties
        # spill downward, so tail >= the exact third is the only bound
        n = sum(len(v) for v in b.values())
        assert len(b["tail"]) * 3 >= n, lang


def test_url_filter_exact_counts_and_blocklist(spark):
    pages = spark.createDataFrame(
        [("https://Bad.Example/casino/casino",),
         ("https://ok.example/a?x=casino",),
         ("https://ok.example/clean",),
         ("https://xxx.example/xxx",)], "url string")
    bl = spark.createDataFrame([("bad.example",)], "domain string")
    out = {r.url: r for r in
           text.url_filter(pages, bl, bad_words=["casino", "xxx"],
                           max_bad=1).collect()}
    r0 = out["https://Bad.Example/casino/casino"]
    assert r0.domain == "bad.example" and r0.blocked and not r0.keep
    assert r0.n_bad_words == 2
    r1 = out["https://ok.example/a?x=casino"]
    assert not r1.blocked and r1.n_bad_words == 1 and r1.keep
    assert out["https://ok.example/clean"].keep
    r3 = out["https://xxx.example/xxx"]
    # 'xxx' occurs in host AND path: 2 > max_bad=1 -> dropped though
    # unblocked (the substring rule is independent of the blocklist)
    assert not r3.blocked and r3.n_bad_words == 2 and not r3.keep


def test_containment_pairs_detects_subset_jaccard_misses(spark):
    """A page fully contained in a 4x larger page: containment 1.0 on
    the contained side while Jaccard is ~0.25 (below any useful
    threshold) — the asymmetric case the operator exists for."""
    small = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} pad{i} tail{i}" for i in range(8))
    d = spark.createDataFrame(
        [(1, small), (2, f"{small} {filler}"),
         (3, "completely different content about other topics entirely")],
        "doc_id long, text string")
    out = dedup.containment_pairs(d, threshold=0.9)
    rows = {(r.doc_a, r.doc_b): r for r in out.collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r.cont_ab == 1.0          # small's shingles all inside big
    assert r.cont_ba < 0.5           # big is NOT contained in small
    # the Jaccard/LSH sibling either misses the pair entirely (minhash
    # band probability ~ jaccard^4 — the recall collapse that forced the
    # rare-shingle candidate design) or scores it far below containment
    jac = dedup.shingle_jaccard_pairs(d, threshold=0.0).collect()
    j12 = [x.jaccard for x in jac if (x.doc_a, x.doc_b) == (1, 2)]
    assert not j12 or j12[0] < 0.5
    assert (1, 3) not in rows and (2, 3) not in rows


def test_line_dedup_ccnet_grain(spark):
    """Global first occurrence keeps the line; every later verbatim copy
    is removed, including repeats of the empty line; NULL text behaves
    as a single (duplicable) empty line."""
    d = spark.createDataFrame(
        [(1, "keep me\nCOOKIE BANNER\nunique one"),
         (2, "COOKIE BANNER\nother text\n\nmore"),
         (3, "\nCOOKIE BANNER\nother text"),
         (4, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(d).collect()}
    assert out[1].clean_text == "keep me\nCOOKIE BANNER\nunique one"
    assert out[1].n_lines_removed == 0
    # doc2 loses only the banner; its empty line (pos 3) is the global
    # first '' (okey 2*2^20+3 < 3*2^20+1 < 4*2^20+1)
    assert out[2].clean_text == "other text\n\nmore"
    assert (out[2].n_lines, out[2].n_lines_removed) == (4, 1)
    # doc3: all three lines are later copies
    assert out[3].clean_text == "" and out[3].n_lines_removed == 3
    # NULL -> [''] -> removed as a dup of doc2's empty line
    assert (out[4].n_lines, out[4].n_lines_removed) == (1, 1)


def test_line_dedup_intra_document_repeat(spark):
    """A line repeated INSIDE one document dedups to its first position
    (corpus-global rule, same as substring_dedup's span keying)."""
    d = spark.createDataFrame(
        [(7, "chorus\nverse a\nchorus\nverse b\nchorus")],
        "doc_id long, text string")
    r = dedup.line_dedup(d).collect()[0]
    assert r.clean_text == "chorus\nverse a\nverse b"
    assert (r.n_lines, r.n_lines_removed) == (5, 2)


def test_dsir_sample_priority_rule_and_plan(spark):
    """The selected set is exactly the top-k by (score_fx+1)/u with
    doc_id tie-break (verified against a python recompute over the full
    weight table), and the top-k compiles to TakeOrderedAndProject —
    never a global sort."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter("doc_id % 11 = 0")
    k = 20
    got = text.dsir_sample(docs, target, k=k)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]
    P = 2147483647
    def h(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % P
        return a
    w = {r.doc_id: r.score_fx
         for r in text.dsir_weights(docs, target).collect()}
    pri = sorted(((-(sc + 1) / ((h(str(d)) % 1000003) + 1), d)
                  for d, sc in w.items()))
    want = [d for _, d in pri[:k]]
    rows = {r.doc_id: r for r in got.collect()}
    assert sorted(rows) == sorted(want)
    for r in rows.values():  # u is auditable: recompute it
        assert r.u == (h(str(r.doc_id)) % 1000003) + 1


def test_sessionize_gap_splits_and_micros(spark):
    """Sessions split exactly where the gap exceeds gap_s; boundaries at
    == gap_s stay in-session; micros are exact integers."""
    import datetime as dt

    from tosidewalk_spark.operators import temporal

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    mk = lambda uid, eid, secs: (uid, eid, t0 + dt.timedelta(seconds=secs))
    rows = [mk(1, 1, 0), mk(1, 2, 100), mk(1, 3, 2000),   # gap 1900: split
            mk(1, 4, 3800),                               # gap 1800 == gap_s: NO split
            mk(2, 5, 0)]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {(r.user_id, r.session_id): r
           for r in temporal.sessionize(ev, gap_s=1800).collect()}
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11, s12 = out[(1, 1)], out[(1, 2)]
    assert (s11.n_events, s12.n_events, out[(2, 1)].n_events) == (2, 2, 1)
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert (s11.start_us, s11.end_us) == (base, base + 100_000_000)
    assert (s12.start_us, s12.end_us) == (base + 2_000_000_000,
                                          base + 3_800_000_000)
    assert s12.duration_us == 1_800_000_000


def test_sessionize_equal_ts_ordered_by_seq(spark):
    """Events sharing a timestamp order deterministically by the seq
    column — session stats identical at any partitioning."""
    import datetime as dt

    from tosidewalk_spark.operators import temporal

    t0 = dt.datetime(2026, 1, 1)
    rows = [(1, 9, t0), (1, 2, t0), (1, 5, t0)]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = temporal.sessionize(ev, gap_s=60).collect()
    assert len(out) == 1 and out[0].n_events == 3 and out[0].duration_us == 0


def test_ts_resample_gapfill_and_locf(spark):
    """Every bin between a user's first and last observation appears;
    empty bins carry n_events=0 and the last observed value verbatim;
    within-bin 'last' breaks ties by (ts, seq)."""
    import datetime as dt

    from tosidewalk_spark.operators import temporal

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    mk = lambda uid, eid, secs, v: (uid, eid,
                                    t0 + dt.timedelta(seconds=secs), v)
    rows = [mk(1, 1, 10, 1.5), mk(1, 2, 50, 2.5),    # bin 0: last = 2.5
            mk(1, 3, 250, 9.25),                     # bin 4 (gap 1-3)
            mk(2, 4, 70, 7.0)]                       # single-bin user
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    out = {(r.user_id, r.bin_us): r
           for r in temporal.ts_resample(ev, bin_s=60).collect()}
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    m = 60_000_000
    assert set(out) == {(1, base), (1, base + m), (1, base + 2 * m),
                        (1, base + 3 * m), (1, base + 4 * m),
                        (2, base + m)}
    assert out[(1, base)].n_events == 2
    assert out[(1, base)].v_locf == 2.5           # within-bin last by ts
    for g in (1, 2, 3):                           # gap bins: 0 events, LOCF
        assert out[(1, base + g * m)].n_events == 0
        assert out[(1, base + g * m)].v_locf == 2.5
    assert out[(1, base + 4 * m)].v_locf == 9.25
    assert out[(2, base + m)].n_events == 1
    assert out[(2, base + m)].v_locf == 7.0


def test_ts_resample_equal_ts_last_by_seq(spark):
    import datetime as dt

    from tosidewalk_spark.operators import temporal

    t0 = dt.datetime(2026, 1, 1)
    rows = [(1, 2, t0, 5.0), (1, 9, t0, 8.0), (1, 5, t0, 6.0)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    out = temporal.ts_resample(ev, bin_s=60).collect()
    assert len(out) == 1 and out[0].v_locf == 8.0 and out[0].n_events == 3


def test_ts_rate_resets_and_zero_dt(spark):
    """Monotone pairs emit the delta; a drop emits the new value (the
    Prometheus counter-reset rule); equal timestamps emit NULL rate;
    first sample per key emits nothing."""
    import datetime as dt

    from tosidewalk_spark.operators import temporal

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda uid, eid, secs, v: (uid, eid,
                                    t0 + dt.timedelta(seconds=secs), v)
    rows = [mk(1, 1, 0, 10.0), mk(1, 2, 5, 16.0),   # increase 6 over 5 s
            mk(1, 3, 10, 2.0),                      # reset: increase = 2.0
            mk(2, 4, 0, 1.0), mk(2, 5, 0, 4.0)]     # dt 0: NULL rate
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    out = {(r.user_id, r.ts_us): r for r in temporal.ts_rate(ev).collect()}
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert len(out) == 3
    r1 = out[(1, base + 5_000_000)]
    assert (r1.increase, r1.dt_us, r1.rate_per_s) == (6.0, 5_000_000, 1.2)
    r2 = out[(1, base + 10_000_000)]
    assert (r2.increase, r2.rate_per_s) == (2.0, 0.4)
    r3 = out[(2, base)]
    assert r3.dt_us == 0 and r3.rate_per_s is None and r3.increase == 3.0

"""G7 lineage/resume, G1 catalog, R1 OSM-XML scan, and streaming tests."""
import glob
import os

import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.operators import lineage
from tosidewalk_spark.sources import catalog as cat, osm_xml, synth
from tosidewalk_spark.streaming import jobs


def test_lineage_resume_skips_done_partitions(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = _ids(spark, 1000, 7)
    out1 = lineage.run_stage_with_resume(
        spark, base, "s1", df, lineage.partition_key("cell9", 8), ["id", "v"])
    assert out1.count() == 1000
    lin1 = lineage.read_lineage(spark, base, "s1").collect()
    assert len(lin1) == 7  # 7 distinct part ids
    assert sum(r.rows for r in lin1) == 1000
    data_before = _mtimes(os.path.join(base, "s1", "part_id=*", "*.parquet"))
    lineage_before = _mtimes(os.path.join(lineage.lineage_path(base), "*.parquet"))
    assert len(data_before) >= 7
    # resume: nothing pending -> no data file rewritten, no lineage row
    # appended, output identical
    out2 = lineage.run_stage_with_resume(
        spark, base, "s1", df, lineage.partition_key("cell9", 8), ["id", "v"])
    assert _mtimes(os.path.join(base, "s1", "part_id=*", "*.parquet")) == data_before
    assert _mtimes(os.path.join(lineage.lineage_path(base), "*.parquet")) == lineage_before
    lin2 = lineage.read_lineage(spark, base, "s1").collect()
    assert len(lin2) == 7
    assert sorted(r.id for r in out2.collect()) == sorted(r.id for r in out1.collect())


def _mtimes(pattern: str) -> dict[str, int]:
    return {f: os.stat(f).st_mtime_ns for f in glob.glob(pattern)}


def _ids(spark, n: int, parts: int):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % parts).alias("cell9"), (F.col("id") * 3).alias("v"))


def test_lineage_failed_write_commits_nothing(spark, tmp_path):
    """A stage whose write raises leaves no lineage row and no committed
    partition, on a fresh base and on a base with done parts."""
    part = lineage.partition_key("cell9", 8)
    failing = _ids(spark, 1000, 7).withColumn("ok", F.assert_true(F.col("id") != 999))
    fresh = str(tmp_path / "fresh")
    with pytest.raises(Exception):
        lineage.run_stage_with_resume(spark, fresh, "s1", failing, part, ["id", "v"])
    assert glob.glob(os.path.join(fresh, "s1", "part_id=*", "*.parquet")) == []
    assert lineage.read_lineage(spark, fresh, "s1").count() == 0

    resumed = str(tmp_path / "resumed")
    lineage.run_stage_with_resume(spark, resumed, "s1", _ids(spark, 500, 3), part, ["id", "v"])
    lin_before = sorted(lineage.read_lineage(spark, resumed, "s1").collect())
    data_before = _mtimes(os.path.join(resumed, "s1", "part_id=*", "*.parquet"))
    # id 999 lands in part 5, which is pending
    with pytest.raises(Exception):
        lineage.run_stage_with_resume(spark, resumed, "s1", failing, part, ["id", "v"])
    assert _mtimes(os.path.join(resumed, "s1", "part_id=*", "*.parquet")) == data_before
    assert sorted(lineage.read_lineage(spark, resumed, "s1").collect()) == lin_before
    assert {r.part_id for r in lin_before} == {0, 1, 2}


def test_lineage_leaves_session_overwrite_mode_static(spark, tmp_path):
    """The stage's dynamic overwrite is an option of its own writer: the
    session conf is unchanged, and a later partitioned overwrite elsewhere
    still replaces every old partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    lineage.run_stage_with_resume(spark, str(tmp_path / "st"), "s1", _ids(spark, 100, 4),
                                  lineage.partition_key("cell9", 8), ["id", "v"])
    assert spark.conf.get(key) == mode
    other = str(tmp_path / "other")
    _ids(spark, 100, 4).write.partitionBy("cell9").parquet(other)
    _ids(spark, 100, 2).write.mode("overwrite").partitionBy("cell9").parquet(other)
    assert sorted(os.path.basename(d) for d in glob.glob(os.path.join(other, "cell9=*"))) == [
        "cell9=0", "cell9=1"]
    assert spark.read.parquet(other).count() == 100


def test_lineage_partial_resume(spark, tmp_path):
    base = str(tmp_path / "stages2")
    part = lineage.partition_key("cell9", 8)
    lineage.run_stage_with_resume(spark, base, "s1", _ids(spark, 500, 3), part, ["id", "v"])
    done_before = {r.part_id for r in lineage.read_lineage(spark, base, "s1").collect()}
    # full input arrives: only the new partitions are computed
    out = lineage.run_stage_with_resume(spark, base, "s1", _ids(spark, 1000, 7), part, ["id", "v"])
    lin = lineage.read_lineage(spark, base, "s1").collect()
    done_after = {r.part_id for r in lin}
    assert done_before < done_after
    # completed partitions kept their original (500-row-run) contents
    kept = [r for r in lin if r.part_id in done_before]
    assert all(k.rows < 250 for k in kept)
    assert out.count() > 500


def test_lineage_single_upstream_evaluation(spark, tmp_path):
    # the stage input is computed by the data write alone; its lineage
    # rows are read back from the committed parquet, so the upstream DAG
    # runs ONCE per stage
    from pyspark.sql import types as T
    acc = spark.sparkContext.accumulator(0)

    @F.udf(T.LongType())
    def bump(x):
        acc.add(1)
        return x

    df = spark.range(100).select(bump("id").alias("v"),
                                 (F.col("id") % 4).alias("cell9"))
    out = lineage.run_stage_with_resume(
        spark, str(tmp_path / "one"), "s1", df,
        lineage.partition_key("cell9", 4), ["v"])
    assert out.count() == 100
    assert acc.value == 100, f"upstream evaluated {acc.value / 100}x"


def test_lineage_checksum_parallelism_invariant(spark, tmp_path):
    df = spark.range(400).select(F.col("id"), (F.col("id") % 5).alias("cell9"),
                                 (F.col("id") * 3).alias("v"))
    a = df.repartition(2).groupBy("cell9").agg(lineage.checksum_expr(["id", "v"])).collect()
    b = df.repartition(11).groupBy("cell9").agg(lineage.checksum_expr(["id", "v"])).collect()
    assert {(r.cell9, r.checksum) for r in a} == {(r.cell9, r.checksum) for r in b}


def test_catalog_roundtrip(spark, tmp_path):
    c = cat.Catalog(spark, str(tmp_path / "warehouse"))
    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("p"))
    c.write("t1", df, partition_by=["p"])
    assert c.tables() == ["t1"]
    back = c.load("t1")
    assert back.count() == 100
    m = c.manifest("t1")
    assert m["partition_spec"] == ["p"] and len(m["files"]) >= 4
    assert m["table"] == "t1"


def test_catalog_stale_pointer_never_reuses_snapshot_id(spark, tmp_path):
    """ADVICE.md r3: a crash between publishing _manifest-<n>.json and
    updating the current pointer must not make the NEXT write reuse id n
    and overwrite the orphaned (immutable) snapshot — ids allocate from
    max(existing manifests) + 1, not pointer + 1."""
    import os
    import shutil
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    c.write("t", spark.range(10))                       # snap 0
    man1 = c.write("t", spark.range(20))                # snap 1
    assert man1["snapshot_id"] == 1
    # simulate the crash: roll the current pointer back to snapshot 0
    shutil.copy(c._manifest("t", 0), c._manifest("t"))
    files_before = set(c.manifest("t", 1)["files"])
    man2 = c.write("t", spark.range(30))                # must become snap 2
    assert man2["snapshot_id"] == 2
    # the orphaned snapshot 1 is untouched and still readable
    assert set(c.manifest("t", 1)["files"]) == files_before
    assert all(os.path.exists(os.path.join(c._dir("t"), f)) for f in files_before)
    assert c.load("t", 1).count() == 20
    assert c.load("t").count() == 30


def test_catalog_compaction_preserves_rows_and_history(spark, tmp_path):
    """compact() folds an append chain into one snap dir: current reader
    sees identical rows, pre-compaction snapshots stay time-travelable,
    and the new manifest records the compacted_from lineage."""
    from pyspark.sql import functions as SF
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df0 = spark.range(40).select("id", (SF.col("id") % 2).alias("p"))
    c.write("t", df0, partition_by=["p"])                       # snap 0
    c.write("t", spark.range(40, 70).select(
        "id", (SF.col("id") % 2).alias("p")), partition_by=["p"],
        mode="append")                                          # snap 1
    before = sorted(r.id for r in c.load("t").collect())
    assert len(c.manifest("t")["snap_dirs"]) == 2
    man = c.compact("t")                                        # snap 2
    assert man["snapshot_id"] == 2 and man["compacted_from"] == 1
    assert len(man["snap_dirs"]) == 1
    assert c.manifest("t")["compacted_from"] == 1               # pointer too
    after = sorted(r.id for r in c.load("t").collect())
    assert after == before == list(range(70))
    # history intact: snapshot 0 (40 rows) and 1 (70 rows) still read
    assert c.load("t", 0).count() == 40
    assert c.load("t", 1).count() == 70
    # partition spec survives the rewrite
    assert c.manifest("t")["partition_spec"] == ["p"]


def test_osm_xml_roundtrip(spark):
    nodes, ways = synth.micro_fixture(spark, "t_intersection")
    xml = osm_xml.network_to_osm_xml(nodes, ways)
    docs = spark.createDataFrame([(1, bytearray(xml, "utf-8"))], "doc_id long, xml binary")
    pn = osm_xml.parse_osm_nodes(docs)
    pw = osm_xml.parse_osm_ways(docs)
    assert pn.count() == 4
    assert {r.way_id: r.node_ids for r in pw.collect()} == {1: [1, 2], 2: [2, 3], 3: [2, 4]}
    assert pw.filter("highway = 'primary'").count() == 1
    got = pn.filter("node_id = 2").collect()[0]
    orig = nodes.filter("node_id = 2").collect()[0]
    assert got.lat == pytest.approx(orig.lat, abs=1e-7)


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    import shutil
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
    src = str(src_dir)
    ev_schema = "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double, props string"
    stream = jobs.stream_events(spark, src, ev_schema)
    assert stream.isStreaming
    agg = jobs.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    jobs.run_available_now(agg, "win_counts", str(tmp_path / "ckpt"))
    got = spark.sql("SELECT * FROM win_counts")
    # batch twin over closed windows only (append mode drops the last open ones)
    batch = (spark.read.parquet(src)
             .withColumn("ts", F.col("ts").cast("timestamp"))
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).alias("total_cents"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "total_cents"))
    got_rows = {(r.window_start, r.event_type): (r.n_events, r.total_cents)
                for r in got.collect()}
    batch_rows = {(r.window_start, r.event_type): (r.n_events, r.total_cents)
                  for r in batch.collect()}
    assert len(got_rows) > 0
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_streaming_dedup_matches_batch(spark, tmp_path):
    # pages-shaped source with REAL duplicates: 300 rows over 60 texts
    src = str(tmp_path / "pages_src")
    pages = spark.range(300).selectExpr(
        "CONCAT('https://s.example/p/', CAST(id AS STRING)) AS url",
        "TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 11) AS warc_ts",
        "CONCAT('text body ', CAST(id % 60 AS STRING)) AS text")
    pages.write.mode("overwrite").parquet(src)
    schema = "url string, warc_ts timestamp, text string"
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = jobs.streaming_exact_dedup(stream)
    jobs.run_available_now(deduped, "dedup_stream", str(tmp_path / "ckpt_dedup"))
    got = spark.sql("SELECT * FROM dedup_stream").collect()
    # exactly one survivor per distinct text (all dupes are inside the
    # watermark horizon here), and every survivor is a genuine input row
    batch_texts = {r.text for r in spark.read.parquet(src).select("text").distinct().collect()}
    assert sorted(r.text for r in got) == sorted(batch_texts)
    for r in got:
        assert r.url.rsplit("/", 1)[1] != "" and \
            int(r.url.rsplit("/", 1)[1]) % 60 == int(r.text.rsplit(" ", 1)[1])


def test_streaming_stateful_sessionize_matches_batch(spark, tmp_path):
    import shutil
    src_dir = tmp_path / "ev_src"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "p.parquet")
    src = str(src_dir)
    ev_schema = "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double, props string"
    stream = jobs.stream_events(spark, src, ev_schema)
    sess = jobs.sessionize_stateful(stream, gap_minutes=30)
    jobs.run_available_now(sess, "sessions_out", str(tmp_path / "ck"))
    got = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.total_cents)
           for r in spark.sql("SELECT * FROM sessions_out").collect()}
    assert len(got) > 0
    # batch twin (gaps-and-islands).  A user's LAST session is emitted by
    # the stream only if its event-time timeout fired under the FINAL
    # watermark (availableNow runs a closing no-data batch): i.e. iff
    # session_end + gap < max(ts) - watermark_delay; later ones stay open.
    spark.read.parquet(src).createOrReplaceTempView("ev_raw")
    batch = spark.sql("""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                          CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM ev_raw),
        m AS (SELECT *, CASE WHEN unix_micros(ts) - LAG(unix_micros(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts) > 1800000000
                   OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   THEN 1 ELSE 0 END AS is_start FROM e),
        s AS (SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events, SUM(cents) AS total_cents
        FROM s GROUP BY user_id, sid
    """).collect()
    last_per_user = {}
    for r in batch:
        k = last_per_user.get(r.user_id)
        if k is None or r.session_start > k:
            last_per_user[r.user_id] = r.session_start
    import datetime
    max_ts = max(r.session_end for r in batch)
    final_watermark = max_ts - datetime.timedelta(hours=2)
    gap = datetime.timedelta(minutes=30)
    want = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.total_cents)
            for r in batch
            if r.session_start != last_per_user[r.user_id]
            or r.session_end + gap < final_watermark}
    assert got == want


def test_run_staged_and_resume(spark, tmp_path):
    from tosidewalk_spark.plans import pipeline
    out = str(tmp_path / "staged")
    c1 = pipeline.run_staged(spark, "/root/testdata/sf0.001", out, grid=6)
    assert c1["points"] == 500 and c1["tiles"] > 0
    # delete one stage's data but keep others; resume recomputes only it
    import shutil
    shutil.rmtree(os.path.join(out, "tiles"))
    # also wipe its lineage rows by rewriting the lineage table without them
    lin = lineage.stage_metrics(spark, out).filter("stage != 'tiles'").collect()
    shutil.rmtree(lineage.lineage_path(out))
    if lin:
        spark.createDataFrame(lin, lineage.LINEAGE_SCHEMA).write.parquet(lineage.lineage_path(out))
    c2 = pipeline.run_staged(spark, "/root/testdata/sf0.001", out, grid=6)
    assert c2 == c1


def test_catalog_append_and_time_travel(spark, tmp_path):
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("p"))
    m0 = c.write("t", df.filter("id < 60"), partition_by=["p"])
    m1 = c.write("t", df.filter("id >= 60"), partition_by=["p"], mode="append")
    assert (m0["snapshot_id"], m1["snapshot_id"], m1["parent_id"]) == (0, 1, 0)
    assert c.load("t").count() == 100
    assert {r.id for r in c.load("t", snapshot_id=0).collect()} == set(range(60))
    assert len(c.snapshots("t")) == 2
    # overwrite starts a fresh lineage; prior snapshots stay readable
    c.write("t", df.filter("id < 10"), partition_by=["p"])
    assert c.load("t").count() == 10
    assert c.load("t", snapshot_id=1).count() == 100


def test_streaming_pip_tiles_matches_batch(spark, tmp_path):
    """Stream-static spatial join: the batch G4 operator run unchanged on
    a points stream; closed-window per-cell counts must equal the batch
    twin."""
    from tosidewalk_spark.operators import spatial as SP
    from tosidewalk_spark.plans import registry

    buffers = registry._grid_buffers(spark)
    pts = registry._points(spark, "/root/testdata/sf0.001", bbox=True).select(
        "url", "entity", "lat", "lng", "cell9",
        F.expr("TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, "
               "PMOD(CRC32(CAST(url AS BINARY)), 10) * 600)").alias("ts"))
    src = str(tmp_path / "pts_src")
    pts.write.mode("overwrite").parquet(src)

    schema = ("url string, entity string, lat double, lng double, "
              "cell9 bigint, ts timestamp")
    stream = spark.readStream.schema(schema).parquet(src)
    tiles = jobs.streaming_pip_tiles(stream, buffers, window="10 minutes")
    jobs.run_available_now(tiles, "pip_tiles_stream", str(tmp_path / "ckpt_pip"))
    got = {(r.window_start, r.cell9): r.n_matches
           for r in spark.sql("SELECT * FROM pip_tiles_stream").collect()}

    batch = (SP.pip_join(spark.read.parquet(src), buffers, passthrough=("ts",))
             .groupBy(F.window("ts", "10 minutes").alias("w"), "cell9")
             .agg(F.count("*").alias("n_matches")))
    batch_rows = {(r.w.start, r.cell9): r.n_matches for r in batch.collect()}
    assert len(batch_rows) > 0  # the join itself is non-vacuous
    assert len(got) > 0         # closed windows did emit
    for k, v in got.items():    # append mode: got is the closed-window subset
        assert batch_rows[k] == v


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Stream-static anti join vs the static corpus + within-stream
    first-per-fingerprint == the batch incremental_dedup survivors."""
    from tosidewalk_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(100 + i, f"seen text {i}") for i in range(20)],
        "doc_id long, text string")
    pages = spark.range(120).selectExpr(
        "CONCAT('https://s.example/p/', CAST(id AS STRING)) AS url",
        "TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 7) AS warc_ts",
        # ids 0..39 duplicate the corpus (text 'seen text 0..19' twice);
        # ids 40+ are fresh with within-stream dups (each fresh text x2)
        "CASE WHEN id < 40 THEN CONCAT('seen text ', CAST(id % 20 AS STRING)) "
        "ELSE CONCAT('fresh text ', CAST(id % 40 AS STRING)) END AS text")
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("url string, warc_ts timestamp, text string").parquet(src)

    out = jobs.streaming_incremental_dedup(stream, corpus)
    jobs.run_available_now(out, "inc_dedup_stream", str(tmp_path / "ckpt_inc"))
    got = spark.sql("SELECT * FROM inc_dedup_stream").collect()

    batch = {r.fp for r in dedup.incremental_dedup(
        spark.read.parquet(src).selectExpr("CAST(REGEXP_EXTRACT(url, '/p/([0-9]+)', 1) AS BIGINT) AS doc_id", "text"),
        corpus).collect()}
    assert {r.fp for r in got} == batch
    assert len(got) == len(batch)  # exactly one survivor per fresh fingerprint
    assert all(r.text.startswith("fresh text ") for r in got)


def test_streaming_decontaminate_matches_batch_complement(spark, tmp_path):
    """Stateless stream-static decontamination: the availableNow drain
    keeps exactly the pages the batch operator does NOT flag."""
    from tosidewalk_spark.operators import dedup

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    pages = spark.range(30).selectExpr(
        "CONCAT('https://s.example/p/', CAST(id AS STRING)) AS url",
        "TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS warc_ts",
        # every 5th page embeds a benchmark 8-gram; the rest are clean
        "CASE WHEN id % 5 = 0 THEN "
        "CONCAT('pre alpha beta gamma delta epsilon zeta eta theta post ', CAST(id AS STRING)) "
        "ELSE CONCAT('clean page text number ', CAST(id AS STRING)) END AS text")
    src = str(tmp_path / "decon_src")
    pages.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string").parquet(src)

    out = jobs.streaming_decontaminate(stream, bench, w=8)
    jobs.run_available_now(out, "decon_stream", str(tmp_path / "ckpt_decon"))
    got = {r.url for r in spark.sql("SELECT * FROM decon_stream").collect()}

    batch_pages = spark.read.parquet(src).selectExpr(
        "CAST(REGEXP_EXTRACT(url, '/p/([0-9]+)', 1) AS BIGINT) AS doc_id",
        "url", "text")
    flagged = {r.doc_id for r in dedup.decontaminate(
        batch_pages, bench, w=8).collect()}
    want = {r.url for r in batch_pages.collect() if r.doc_id not in flagged}
    assert got == want
    assert flagged == {i for i in range(30) if i % 5 == 0}  # non-vacuous


def test_streaming_hll_registers_match_batch_and_resume(spark, tmp_path):
    """Streaming HLL: (1) the drained complete-mode register table equals
    the batch hll_distinct registers bit-for-bit (shared hll_rho stage),
    so the read-side estimate is identical; (2) a SECOND availableNow run
    over the same checkpoint after new files arrive processes only the new
    data yet converges to the registers of the full union — MAX-merge is
    monotone, the restart/replay contract the docstring claims."""
    from tosidewalk_spark.operators import sketch

    def docs(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang",
            "CONCAT('tok', CAST(id % 140 AS STRING), ' w', "
            "CAST((id * 13) % 90 AS STRING)) AS text")

    src = str(tmp_path / "hll_src")
    ckpt = str(tmp_path / "ckpt_hll")
    docs(0, 400).coalesce(1).write.mode("overwrite").parquet(src)
    schema = "doc_id bigint, lang string, text string"

    def drain(name):
        stream = spark.readStream.schema(schema).parquet(src)
        regs = jobs.streaming_hll_registers(stream, "lang")
        jobs.run_available_now(regs, name, ckpt, output_mode="complete")
        return spark.table(name)

    got1 = sketch.hll_estimate(drain("hll_regs_1"), "lang")
    want1 = sketch.hll_distinct(docs(0, 400), "lang")
    as_map = lambda df: {r.lang: (r.n_hit, r.sum_inv, r.est_distinct)
                         for r in df.collect()}
    assert as_map(got1) == as_map(want1)
    assert len(as_map(got1)) == 2  # non-vacuous: both lang groups present

    # new files land; same checkpoint => only the delta is read, but the
    # complete-mode register table must equal the full-union batch sketch
    docs(400, 700).coalesce(1).write.mode("append").parquet(src)
    got2 = sketch.hll_estimate(drain("hll_regs_2"), "lang")
    want2 = sketch.hll_distinct(docs(0, 700), "lang")
    assert as_map(got2) == as_map(want2)
    # and the union genuinely moved the sketch (estimates grew)
    g1, g2 = as_map(got1), as_map(got2)
    assert any(g2[k][2] > g1[k][2] for k in g2)


def test_streaming_cm_counters_match_batch_and_resume(spark, tmp_path):
    """Streaming count-min: drained complete-mode counters equal the batch
    cm_cells fold bit-for-bit (shared stage), the read-side cm_estimate
    over them reproduces batch cm_topk exactly, and a second availableNow
    drain after new files converges to the full-union counters (COUNT is
    additive, the restart contract)."""
    from pyspark.sql import functions as F
    from tosidewalk_spark.operators import sketch

    def docs(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "'en' AS lang",
            # heavy hitter 'hh' in every doc; a long zipf-ish tail
            "CONCAT('hh w', CAST(id % 80 AS STRING), ' v', "
            "CAST((id * 17) % 200 AS STRING)) AS text")

    src = str(tmp_path / "cm_src")
    ckpt = str(tmp_path / "ckpt_cm")
    docs(0, 300).coalesce(1).write.mode("overwrite").parquet(src)
    schema = "doc_id bigint, lang string, text string"
    W = 64  # small width so cells genuinely collide

    def drain(name):
        stream = spark.readStream.schema(schema).parquet(src)
        counters = jobs.streaming_cm_counters(stream, width=W)
        jobs.run_available_now(counters, name, ckpt, output_mode="complete")
        return spark.table(name)

    as_map = lambda df: {(r.row_base, r.cell): r.n for r in df.collect()}
    got1 = drain("cm_counters_1")
    want1 = (sketch.cm_cells(docs(0, 300), W)
             .groupBy("row_base", "cell").agg(F.count("*").alias("n")))
    assert as_map(got1) == as_map(want1)
    assert {rb for rb, _ in as_map(got1)} == {31, 37}  # both rows present

    # read side: estimate over the DRAINED counters == batch cm_topk
    topk = lambda df: [(r.token, r.est_count, r.rank) for r in df.collect()]
    got_topk = sketch.cm_estimate(got1, docs(0, 300), W, k=10)
    want_topk = sketch.cm_topk(docs(0, 300), W, k=10)
    assert topk(got_topk) == topk(want_topk)
    assert topk(got_topk)[0][0] == "hh"  # the planted heavy hitter ranks 1

    docs(300, 500).coalesce(1).write.mode("append").parquet(src)
    got2 = drain("cm_counters_2")
    want2 = (sketch.cm_cells(docs(0, 500), W)
             .groupBy("row_base", "cell").agg(F.count("*").alias("n")))
    assert as_map(got2) == as_map(want2)
    assert sum(as_map(got2).values()) > sum(as_map(got1).values())


def test_streaming_qsk_counters_match_batch_and_resume(spark, tmp_path):
    """Streaming quantile sketch: drained complete-mode counters equal the
    batch qsk_cells fold bit-for-bit (shared stage), the read-side
    qsk_estimate over them reproduces batch qsk_quantiles exactly, and a
    second availableNow drain after new files converges to the full-union
    counters (COUNT is additive, the restart contract)."""
    from pyspark.sql import functions as F
    from tosidewalk_spark.operators import sketch

    def docs(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang",
            "CONCAT_WS(' ', TRANSFORM(SEQUENCE(0, CAST(id % 40 AS INT)), "
            "x -> 'w')) AS text")

    src = str(tmp_path / "qsk_src")
    ckpt = str(tmp_path / "ckpt_qsk")
    docs(0, 300).coalesce(1).write.mode("overwrite").parquet(src)
    schema = "doc_id bigint, lang string, text string"

    def drain(name):
        stream = spark.readStream.schema(schema).parquet(src)
        counters = jobs.streaming_qsk_counters(stream, "lang")
        jobs.run_available_now(counters, name, ckpt, output_mode="complete")
        return spark.table(name)

    as_map = lambda df: {(r.grp, r.bucket): r.cnt for r in df.collect()}
    got1 = drain("qsk_counters_1")
    want1 = (sketch.qsk_cells(docs(0, 300))
             .groupBy("grp", "bucket").agg(F.count("*").alias("cnt")))
    assert as_map(got1) == as_map(want1)
    assert len(as_map(got1)) <= 2 * 32  # the bounded-state claim

    # read side: estimate over the DRAINED counters == batch qsk_quantiles
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(sketch.qsk_estimate(got1, "lang")) == \
        rows(sketch.qsk_quantiles(docs(0, 300), "lang"))

    docs(300, 500).coalesce(1).write.mode("append").parquet(src)
    got2 = drain("qsk_counters_2")
    want2 = (sketch.qsk_cells(docs(0, 500))
             .groupBy("grp", "bucket").agg(F.count("*").alias("cnt")))
    assert as_map(got2) == as_map(want2)
    assert sum(as_map(got2).values()) > sum(as_map(got1).values())


def test_streaming_focal_counts_match_batch_and_resume(spark, tmp_path):
    """Streaming hotspot counter: drained complete-mode focal counts equal
    batch focal_sum of the per-cell counts bit-for-bit (shared
    scatter_disk stage + SUM linearity), and a second availableNow drain
    after new files converges to the full-union counts (additive COUNT,
    the restart contract)."""
    from pyspark.sql import functions as F
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP

    base = int(C.pack_ij(50, 60, 9))

    def pts(lo, hi):
        # points hop across a small neighborhood: (50 + id%4, 60 + id%3)
        return spark.range(lo, hi).selectExpr(
            f"CAST({base} + (id % 4) + (id % 3) * {1 << C.J_SHIFT} "
            f"AS LONG) AS cell9")

    src = str(tmp_path / "focal_src")
    ckpt = str(tmp_path / "ckpt_focal")
    pts(0, 200).coalesce(1).write.mode("overwrite").parquet(src)

    def drain(name):
        stream = spark.readStream.schema("cell9 long").parquet(src)
        counts = jobs.streaming_focal_counts(stream, k=1)
        jobs.run_available_now(counts, name, ckpt, output_mode="complete")
        return spark.table(name)

    as_map = lambda df: {r.cell: r.focal_sum for r in df.collect()}
    got1 = drain("focal_counts_1")
    want1 = SP.focal_sum(
        pts(0, 200).groupBy(F.col("cell9").alias("cell"))
        .agg(F.count("*").alias("n")), k=1)
    assert as_map(got1) == as_map(want1) and len(as_map(got1)) > 0

    pts(200, 350).coalesce(1).write.mode("append").parquet(src)
    got2 = drain("focal_counts_2")
    want2 = SP.focal_sum(
        pts(0, 350).groupBy(F.col("cell9").alias("cell"))
        .agg(F.count("*").alias("n")), k=1)
    assert as_map(got2) == as_map(want2)
    assert sum(as_map(got2).values()) > sum(as_map(got1).values())


# --- catalog metadata scan planning + copy-on-write (round-4 wave) -----------

def _grid_df(spark, n=10000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("ci"),
        (F.col("id") / 100).cast("long").alias("cj"),
        (F.col("id") % 7).alias("v"))


def test_catalog_file_stats_and_scan_pruning(spark, tmp_path):
    """Per-file min/max stats + Z-order layout: a rectangle scan must (a)
    return exactly the rows of the equivalent plain filter and (b) plan
    strictly fewer files than the table holds — metadata-only pruning."""
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df = _grid_df(spark)
    man = c.write("t", df, zorder_by=("ci", "cj"), target_files=16)
    assert len(man["files"]) == 16
    # every file carries stats for every column (no NULLs in this data)
    for f, fs in man["file_stats"].items():
        assert set(fs["min"]) == {"k", "ci", "cj", "v"}
        assert fs["rows"] > 0 and fs["nulls"]["ci"] == 0
    ranges = {"ci": (10, 20), "cj": (10, 20)}
    plan = c.plan_scan("t", ranges)
    assert plan["files_total"] == 16
    assert plan["files_pruned"] >= 8, plan  # compact z-blocks => most skipped
    got = c.scan("t", ranges)
    assert len(got.inputFiles()) == len(plan["files_kept"])
    want = sorted(r.k for r in
                  df.filter("ci BETWEEN 10 AND 20 AND cj BETWEEN 10 AND 20")
                  .collect())
    assert sorted(r.k for r in got.collect()) == want


def test_catalog_zorder_layout_beats_linear_sort(spark, tmp_path):
    """The point of Z-ordering: files sorted by k alone span the full ci
    range each (rectangle scans prune nothing), while Morton-ordered files
    cover compact 2-D blocks (most files prune).  This is the layout test
    that makes stats pruning a 100 TB feature rather than a no-op."""
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df = _grid_df(spark)
    c.write("linear", df.repartitionByRange(16, "k").sortWithinPartitions("k"))
    c.write("zorder", df, zorder_by=("ci", "cj"), target_files=16)
    # bound ONLY ci: ci = k % 100 spans 0..99 inside every k-sorted file,
    # so the linear layout cannot prune a single file on it
    ranges = {"ci": (10, 20)}
    lin = c.plan_scan("linear", ranges)
    zo = c.plan_scan("zorder", ranges)
    assert lin["files_pruned"] == 0
    assert zo["files_pruned"] > lin["files_pruned"]
    # same rows either way
    a = sorted(r.k for r in c.scan("linear", ranges).collect())
    b = sorted(r.k for r in c.scan("zorder", ranges).collect())
    assert a == b and len(a) > 0


def test_catalog_merge_cow_reuses_disjoint_files(spark, tmp_path):
    """COW merge must rewrite ONLY files whose key stats overlap the update
    key range; files outside ride into the new snapshot by reference, and
    the parent snapshot stays time-travelable with the pre-merge rows."""
    import os
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df = _grid_df(spark)  # k = 0..9999
    c.write("t", df.repartitionByRange(8, "k").sortWithinPartitions("k"))
    man0 = c.manifest("t")
    # updates touch only the top of the key space + brand-new keys
    ups = (df.filter("k >= 9000")
           .select("k", "ci", "cj", (F.col("v") * 0 - 1).alias("v"))
           .unionByName(spark.range(20000, 20005).select(
               F.col("id").alias("k"), F.lit(0).alias("ci"),
               F.lit(0).alias("cj"), F.lit(-2).alias("v"))))
    man1 = c.merge("t", ups, "k")
    assert man1["merged_keys"] == 1005
    assert man1["carried_files"] >= 5, man1   # low-k files reused by ref
    assert man1["rewritten_files"] <= 3, man1
    carried = set(man0["files"]) & set(man1["files"])
    assert len(carried) == man1["carried_files"]
    t = c.load("t")
    assert t.count() == 10005
    assert t.filter("v = -1").count() == 1000
    assert t.filter("v = -2").count() == 5
    assert t.filter("k < 9000 AND v < 0").count() == 0
    # parent snapshot: pre-merge rows intact (immutable files)
    t0 = c.load("t", snapshot_id=man0["snapshot_id"])
    assert t0.count() == 10000 and t0.filter("v < 0").count() == 0
    # carried file stats rode along without re-reading footers
    assert all(f in man1["file_stats"] for f in man1["files"])


def test_catalog_merge_rejects_ambiguous_updates(spark):
    import tempfile
    c = cat.Catalog(spark, tempfile.mkdtemp(prefix="wh_guard_"))
    c.write("t", _grid_df(spark, 100))
    dup = spark.range(2).select(F.lit(5).alias("k"), F.lit(0).alias("ci"),
                                F.lit(0).alias("cj"), F.col("id").alias("v"))
    try:
        c.merge("t", dup, "k")
        assert False, "duplicate update keys must raise"
    except ValueError as e:
        assert "duplicate" in str(e)
    withnull = spark.sql("SELECT CAST(NULL AS BIGINT) k, 0 ci, 0 cj, 0 v")
    try:
        c.merge("t", withnull, "k")
        assert False, "NULL update keys must raise"
    except ValueError as e:
        assert "NULL" in str(e)


def test_catalog_delete_where_drops_whole_files_and_keeps_nulls(spark, tmp_path):
    """Range DELETE: fully-covered files drop from the manifest without
    being read, disjoint files carry by reference, and rows with NULL in
    the predicate column are never deleted (NULL comparison != match)."""
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    # NULLs only in the k >= 600 region: low-k files are NULL-free (and so
    # eligible for metadata-only drops); the file straddling the delete
    # boundary holds NULLs and must keep them through its rewrite
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when((F.col("id") % 97 == 0) & (F.col("id") >= 600), None)
        .otherwise(F.col("id")).alias("s"))
    n_null = df.filter("s IS NULL").count()
    assert n_null == 4  # 679, 776, 873, 970
    c.write("t", df.repartitionByRange(10, "k").sortWithinPartitions("k"))
    man = c.delete_where("t", {"s": (0, 649)})
    # the fully-inside NULL-free low-k files drop without being read
    assert man["dropped_files"] >= 4, man
    assert man["carried_files"] >= 2, man  # high-k files disjoint from range
    t = c.load("t")
    assert t.filter("s IS NULL").count() == n_null  # every NULL row survives
    assert t.filter("s >= 0 AND s <= 649").count() == 0
    assert t.count() == df.filter("s > 649 OR s IS NULL").count()


def test_catalog_append_after_merge_does_not_resurrect_rows(spark, tmp_path):
    """Append carries the parent's FILE LIST, not its dirs: after a COW
    delete the old dirs still hold the rewritten files on disk, and a
    dir-walking append would silently bring the deleted rows back."""
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    c.write("t", _grid_df(spark, 1000).repartitionByRange(
        4, "k").sortWithinPartitions("k"))
    c.delete_where("t", {"k": (0, 499)})
    assert c.load("t").count() == 500
    c.write("t", _grid_df(spark, 100).select(
        (F.col("k") + 50000).alias("k"), "ci", "cj", "v"), mode="append")
    t = c.load("t")
    assert t.count() == 600
    assert t.filter("k < 500").count() == 0  # deleted rows stay deleted


def test_catalog_expire_reclaims_only_unreferenced(spark, tmp_path):
    """Retention GC: after a COW merge, expire(keep_last=1) must delete the
    parent's rewritten-away files and the parent manifest, but KEEP the
    parent-dir files the merge carried by reference — and every parquet
    left on disk must be referenced by a kept manifest (no leaks either
    way)."""
    import os
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    df = _grid_df(spark)
    c.write("t", df.repartitionByRange(8, "k").sortWithinPartitions("k"))
    man0 = c.manifest("t")
    ups = (df.filter("k >= 9000")
           .select("k", "ci", "cj", (F.col("v") * 0 - 1).alias("v")))
    man1 = c.merge("t", ups, "k")
    assert man1["carried_files"] >= 5
    rep = c.expire_snapshots("t", keep_last=1)
    assert rep["expired_snapshots"] == [man0["snapshot_id"]]
    assert rep["deleted_files"] >= 1 and rep["freed_bytes"] > 0
    # current snapshot reads exactly as before the GC
    t = c.load("t")
    assert t.count() == 10000 and t.filter("v = -1").count() == 1000
    # time travel to the expired snapshot is gone (documented contract)
    try:
        c.manifest("t", man0["snapshot_id"])
        assert False, "expired manifest must be deleted"
    except FileNotFoundError:
        pass
    # disk holds exactly the referenced parquet files: no leak, no overdelete
    root = str(tmp_path / "wh" / "t")
    on_disk = sorted(os.path.relpath(os.path.join(r, f), root)
                     for r, _, fs in os.walk(root) for f in fs
                     if f.endswith(".parquet"))
    assert on_disk == man1["files"]


def test_catalog_expire_removes_orphan_dirs_and_guards(spark, tmp_path):
    """A snap dir with no published manifest (crashed write) is garbage;
    expire removes it whole.  keep_last=0 must refuse (would unroot the
    current snapshot)."""
    import os
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    c.write("t", _grid_df(spark, 500))
    orphan = str(tmp_path / "wh" / "t" / "snap-99")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not really parquet")
    rep = c.expire_snapshots("t", keep_last=3)
    assert rep["expired_snapshots"] == []  # nothing published expired
    assert not os.path.exists(orphan)     # but the orphan dir is gone
    assert c.load("t").count() == 500
    try:
        c.expire_snapshots("t", keep_last=0)
        assert False
    except ValueError:
        pass


def test_stream_catalog_ingest_exactly_once(spark, tmp_path):
    """Streaming ingest into the catalog: (1) one snapshot per micro-batch,
    rows == source exactly; (2) a restart over the same checkpoint after
    new source files appends ONLY the delta (file-source offsets + epoch
    guard compose); (3) replaying an already-published epoch — what
    Structured Streaming does after a post-publish crash — is a no-op:
    snapshot count and rows unchanged."""
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "pages_src")
    ckpt = str(tmp_path / "ckpt_ingest")
    schema = "doc_id bigint, lang string"

    def pages(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang")

    pages(0, 300).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    man1 = jobs.stream_catalog_ingest(stream, c, "pages", ckpt)
    assert "stream_epoch" in man1
    assert c.load("pages").count() == 300

    # delta arrives; same checkpoint => only the new file is ingested
    pages(300, 450).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    man2 = jobs.stream_catalog_ingest(stream, c, "pages", ckpt)
    t = c.load("pages")
    assert t.count() == 450
    assert t.select("doc_id").distinct().count() == 450  # no double-ingest
    assert man2["parent_id"] == man1["snapshot_id"]
    # the first snapshot is still time-travelable (immutable files)
    assert c.load("pages", snapshot_id=man1["snapshot_id"]).count() == 300

    # post-publish replay of the SAME epoch: must be a no-op
    n_snaps = len(c.snapshots("pages"))
    jobs.catalog_ingest_batch(c, "pages")(pages(0, 300),
                                          man1["stream_epoch"])
    assert len(c.snapshots("pages")) == n_snaps
    assert c.load("pages").count() == 450


def test_catalog_zorder_rejects_oversized_coordinates(spark, tmp_path):
    """ADVICE r4: zorder_sql interleaves only 16 bits per axis, so a
    column with values >= 2**16 collides in the Morton key and the layout
    silently prunes nothing.  Catalog.write now fails loudly from the
    footer max stats instead of publishing a useless layout."""
    import pytest
    c = cat.Catalog(spark, str(tmp_path / "wh"))
    big = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id * 100 AS BIGINT) AS ci", "id % 50 AS cj")
    with pytest.raises(ValueError, match="2\\*\\*16"):
        c.write("t", big, zorder_by=("ci", "cj"), target_files=4)
    # in-range coordinates still publish
    ok = spark.range(0, 1000).selectExpr(
        "id AS k", "id % 200 AS ci", "id % 50 AS cj")
    man = c.write("t2", ok, zorder_by=("ci", "cj"), target_files=4)
    assert man["table"] == "t2" and man["files"]


def test_streaming_od_transitions_match_batch(spark, tmp_path):
    """The stateful OD stream, aggregated, equals the batch od_matrix on
    an in-order feed — including transitions that CROSS the micro-batch
    boundary (two source files = two batches; state carries last ping)."""
    import shutil
    from tosidewalk_spark.operators import spatial as SP
    from tosidewalk_spark.sources import synth as SY
    from tosidewalk_spark.functions import sqlfns

    ent = ("CONCAT('loc_', CAST(user_id AS STRING), '_', "
           "CAST(event_id % 7 AS STRING))")
    lat, lng = SY.entity_latlng_sql(ent)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pings = ev.selectExpr("user_id AS traj_id",
                          "CAST(ts AS TIMESTAMP) AS ts", "event_id",
                          f"{sqlfns.cell_sql(lat, lng, 9)} AS cell")
    src = tmp_path / "pings_src"
    src.mkdir()
    # two time-ordered files => two micro-batches with maxFilesPerTrigger
    lo = pings.filter("event_id < 500")
    hi = pings.filter("event_id >= 500")
    lo.coalesce(1).write.parquet(str(tmp_path / "a"))
    hi.coalesce(1).write.parquet(str(tmp_path / "b"))
    for i, tag in enumerate(("a", "b")):
        for f in (tmp_path / tag).glob("*.parquet"):
            shutil.copy(f, src / f"{tag}.parquet")
            # FileStreamSource orders batches by file mtime: pin distinct,
            # increasing mtimes or the two copies land in the same second
            # and the time-later file can become batch 1 — its watermark
            # then marks the whole other file late (stateful pandas ops
            # do NOT auto-filter late rows, so the feed stops being the
            # in-order one this test is about)
            os.utime(src / f"{tag}.parquet", (1_700_000_000 + 60 * i,) * 2)
    stream = (spark.readStream
              .schema("traj_id bigint, ts timestamp, event_id bigint, cell bigint")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = jobs.streaming_od_transitions(stream, parent_res=7)
    jobs.run_available_now(out, "od_stream", str(tmp_path / "ck_od"))
    got = (spark.sql("SELECT * FROM od_stream")
           .groupBy("o_zone", "d_zone")
           .agg(F.count("*").alias("n_trans"),
                F.countDistinct("traj_id").alias("n_trajs")))
    got_rows = {(r.o_zone, r.d_zone): (r.n_trans, r.n_trajs)
                for r in got.collect()}
    want = {(r.o_zone, r.d_zone): (r.n_trans, r.n_trajs)
            for r in SP.od_matrix(pings, parent_res=7, res=9).collect()}
    assert got_rows == want and len(want) > 3


def test_batch_sessionize_operator_is_the_streaming_twin(spark, tmp_path):
    """The batch temporal.sessionize operator agrees with the drained
    sessionize_stateful stream on every CLOSED session (same gap) — the
    same contract the inline-SQL twin above pins, now against the
    operator a pipeline actually calls."""
    import datetime
    import shutil

    from tosidewalk_spark.operators import temporal

    src_dir = tmp_path / "ev_src2"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "p.parquet")
    src = str(src_dir)
    ev_schema = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                 "event_type string, value double, props string")
    stream = jobs.stream_events(spark, src, ev_schema)
    sess = jobs.sessionize_stateful(stream, gap_minutes=30)
    jobs.run_available_now(sess, "sessions_out2", str(tmp_path / "ck2"))
    got = {(r.user_id,
            int(r.session_start.replace(tzinfo=datetime.timezone.utc)
                .timestamp() * 1_000_000),
            int(r.session_end.replace(tzinfo=datetime.timezone.utc)
                .timestamp() * 1_000_000)): r.n_events
           for r in spark.sql("SELECT * FROM sessions_out2").collect()}
    assert got
    batch = temporal.sessionize(spark.read.parquet(src), gap_s=1800).collect()
    # streaming emits a user's final session only if its event-time
    # timeout fired under the final watermark (same rule as the SQL twin)
    last_start = {}
    for r in batch:
        if r.user_id not in last_start or r.start_us > last_start[r.user_id]:
            last_start[r.user_id] = r.start_us
    max_us = max(r.end_us for r in batch)
    wm_us = max_us - 2 * 3600 * 1_000_000
    gap_us = 1800 * 1_000_000
    want = {(r.user_id, r.start_us, r.end_us): r.n_events
            for r in batch
            if r.start_us != last_start[r.user_id]
            or r.end_us + gap_us < wm_us}
    assert got == want


def test_streaming_ts_rate_matches_batch(spark, tmp_path):
    """The stateful rate stream equals the batch ts_rate twin exactly
    (same IEEE double ops) on an in-order feed, including pairs that
    CROSS the micro-batch boundary (state carries the last sample)."""
    import shutil

    from tosidewalk_spark.operators import temporal

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts",
                      "event_id", "value"))
    src = tmp_path / "rate_src"
    src.mkdir()
    lo = ev.filter("event_id < 500")
    hi = ev.filter("event_id >= 500")
    lo.coalesce(1).write.parquet(str(tmp_path / "ra"))
    hi.coalesce(1).write.parquet(str(tmp_path / "rb"))
    for i, tag in enumerate(("ra", "rb")):
        for f in (tmp_path / tag).glob("*.parquet"):
            shutil.copy(f, src / f"{tag}.parquet")
            os.utime(src / f"{tag}.parquet",  # same mtime pin as the od test
                     (1_700_000_000 + 60 * i,) * 2)
    stream = (spark.readStream
              .schema("user_id bigint, ts timestamp, event_id bigint, "
                      "value double")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = jobs.streaming_ts_rate(stream)
    jobs.run_available_now(out, "rate_stream", str(tmp_path / "ck_rate"))
    got = {(r.user_id, r.ts_us): (r.dt_us, r.increase, r.rate_per_s)
           for r in spark.sql(
               "SELECT user_id, unix_micros(ts) AS ts_us, dt_us, "
               "increase, rate_per_s FROM rate_stream").collect()}
    want = {(r.user_id, r.ts_us): (r.dt_us, r.increase, r.rate_per_s)
            for r in temporal.ts_rate(ev).collect()}
    assert got == want and len(want) > 100

"""Driver-shaped correctness harness: run every queries() entry on Spark
at sf0.01 and its oracle_sql() twin in DuckDB on the same parquet tables;
compare row count, column names, and the full multiset of values (floats
compared exactly — the queries round in-query, so exact match is the
contract)."""
import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm(v):
    # EXACT comparison, even for floats: every compared float column is
    # rounded in-query and computed with bit-identical cross-engine
    # arithmetic (poly-cos, shared templates), so repr equality must hold —
    # this is what makes the driver's value-hash comparison engine-proof.
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLES = entry_mod.oracle_sql()
QUERY_NAMES = sorted(ORACLES.keys())
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(ORACLES))


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    o = entry_mod.oracle_sql()[name]
    sdf = q(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    con = _duck()
    try:
        res = con.execute(o)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sset = _rows_to_multiset(scols, [tuple(r) for r in srows])
    oset = _rows_to_multiset(ocols, orows)
    if sset != oset:
        diff_s = [r for r in sset if r not in oset][:3]
        diff_o = [r for r in oset if r not in sset][:3]
        raise AssertionError(f"{name}: value mismatch; spark-only={diff_s} oracle-only={diff_o}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_audit_diagnose_names_failing_member(spark):
    """VERDICT r4 #8: a red wave2_*_audit row names a GROUP; the
    audit_diagnose utility must name the failing MEMBER.  Build a probe
    group of two real members with a deliberate +1 perturbation injected
    into ONE member's Spark side: every returned mismatch must attribute
    to exactly that op (and only its perturbed column's metrics), while
    the untouched member's engine agreement doubles as a green-path
    check of the diagnose join itself."""
    from pyspark.sql import functions as F
    from tosidewalk_spark.plans import registry as R

    sf = "/root/testdata/sf0.001"
    orig = R.QUERIES["pii_scrub"]
    R.QUERIES["pii_scrub"] = (
        lambda s, d: orig[0](s, d).withColumn(
            "n_emails", F.col("n_emails") + F.lit(1)), orig[1])
    try:
        R.QUERIES["_diag_probe"] = (
            R._audit_group_query(["pii_scrub", "url_dedup"]),
            R._audit_group_oracle(["pii_scrub", "url_dedup"]))
        mm = R.audit_diagnose(spark, sf, "_diag_probe")
    finally:
        R.QUERIES["pii_scrub"] = orig
        R.QUERIES.pop("_diag_probe", None)
    assert mm, "perturbation must surface"
    assert {m["op"] for m in mm} == {"pii_scrub"}, mm
    assert all(m["group"] == "_diag_probe" for m in mm)
    # only the perturbed column's fold metrics move (+1 per row shifts
    # sum_ and sq_; nn_/n_rows unchanged)
    assert {m["metric"] for m in mm} <= {"sum_n_emails", "sq_n_emails"}, mm
    for m in mm:
        assert m["spark"] is not None and m["duck"] is not None


def test_phash_audit_fold_fits_bigint_at_sf01(spark):
    """image_phash_dedup's 56-bit phash summed raw overflows BIGINT on the
    1000 rows of sf0.1 (ANSI mode raises); the audit folds it mod-reduced,
    like the other wide hash columns."""
    from tosidewalk_spark.plans import registry as R

    df = R.QUERIES["image_phash_dedup"][0](spark, "/root/testdata/sf0.1")
    got = {r.metric: r.value
           for r in R._audit_spark(df, "image_phash_dedup").collect()}
    hashes = [r.phash for r in df.select("phash").collect()]
    assert got["n_rows"] == len(hashes)
    assert got["sm_phash"] == sum(h % R._AUDIT_SQ_MOD for h in hashes)

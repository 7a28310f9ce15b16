"""Text-analysis operators for training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting, and
the G2 HTML->text extractor with the byte-identical-per-url invariant
[BASELINE.json:16].

Everything except the HTML extractor is pure Spark SQL (codegen) with an
exact DuckDB twin; the extractor is a deterministic, version-pinned
vectorized pandas UDF (Arrow batches) whose output is golden-hashed.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import sqlfns
from .dedup import _spread

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _tokens(col: str = "text") -> str:
    return f"FILTER(SPLIT({col}, ' '), t -> LENGTH(t) > 0)"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (len/4 heuristic
    used by public tokenizer-sizing rules) + char count."""
    return docs.select(
        "doc_id",
        F.expr(f"CAST(SIZE({_tokens()}) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT)").alias("n_bpe_est"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


def _quality_cols() -> list:
    """The row-local quality_score measure columns (shared with
    build_corpus's fused quality+gopher projection — VERDICT r5 #8)."""
    toks = _tokens()
    stop_arr = "ARRAY(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
    return [
        F.expr(f"CAST(SIZE({toks}) AS BIGINT)").alias("n_tokens"),
        F.expr(f"ROUND(LENGTH(REPLACE(text, ' ', '')) / GREATEST(SIZE({toks}), 1), 6)").alias("mean_word_len"),
        F.expr(f"ROUND(SIZE(FILTER({toks}, t -> ARRAY_CONTAINS({stop_arr}, t))) / GREATEST(SIZE({toks}), 1), 6)").alias("stopword_ratio"),
        F.expr("ROUND(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z ]', '')) / GREATEST(LENGTH(text), 1), 6)").alias("alpha_ratio"),
    ]


def _quality_composite() -> F.Column:
    return F.round((F.col("alpha_ratio")
                    + F.least(F.col("stopword_ratio") * 4, F.lit(1.0))) / 2, 6)


def quality_score(docs: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: mean word length, stopword ratio,
    alpha ratio, and a composite score — standard Common-Crawl-style
    filters (C4/Gopher rules), SQL-only."""
    return docs.select("doc_id", "lang", *_quality_cols()).withColumn(
        "quality", _quality_composite())


def gopher_rules(docs: DataFrame,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_len: int = 3, max_mean_len: int = 10,
                 min_alpha_pct: int = 80,
                 max_symbol_pct: int = 10,
                 min_stopword_hits: int = 2) -> DataFrame:
    """The Gopher corpus-filter rule set (Rae et al. 2021 §A1.1, public):
    per-document booleans for each rule plus the conjunctive keep verdict
    — the canonical pre-training filter a corpus pipeline runs before any
    model-based scoring.  EVERY rule boolean is an INTEGER comparison
    (means and ratios test via cross-multiplication — 3 <= sum/n <= 10 is
    3*n <= sum AND sum <= 10*n), so the DuckDB twin is exact with no
    float thresholds anywhere.  One codegen projection over the scan,
    zero shuffles, zero joins; predicates and column pruning push down
    around it untouched.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_len, max_mean_len]; >= min_alpha_pct% of words contain an
    alphabetic character; '#'-or-'...' symbol-to-word ratio <=
    max_symbol_pct%; >= min_stopword_hits DISTINCT stopwords present.

    Output: (doc_id, n_words, sum_word_chars, n_alpha_words, n_symbols,
    n_stop_hits, ok_words, ok_mean_len, ok_alpha, ok_symbols, ok_stop,
    keep)."""
    base = docs.select("doc_id", *_gopher_measure_cols())
    return base.select(
        "*", *_gopher_rule_cols(min_words, max_words, min_mean_len,
                                max_mean_len, min_alpha_pct,
                                max_symbol_pct, min_stopword_hits),
    ).withColumn("keep", F.expr(
        "ok_words AND ok_mean_len AND ok_alpha AND ok_symbols AND ok_stop"))


def _gopher_measure_cols() -> list:
    """The row-local Gopher measure columns (shared with build_corpus's
    fused quality+gopher projection — VERDICT r5 #8)."""
    toks = _tokens()
    stop_arr = "ARRAY(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
    return [
        F.expr(f"CAST(SIZE({toks}) AS BIGINT)").alias("n_words"),
        F.expr(f"CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT)")
        .alias("sum_word_chars"),
        F.expr(f"CAST(SIZE(FILTER({toks}, "
               f"t -> t RLIKE '[A-Za-z]')) AS BIGINT)").alias("n_alpha_words"),
        # '#' chars + '...' runs, the two Gopher symbol classes; the '...'
        # count via length difference is exact for non-overlapping runs
        F.expr("CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', '')) "
               "+ CAST((LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3 "
               "AS BIGINT) AS BIGINT)").alias("n_symbols"),
        F.expr(f"CAST(SIZE(ARRAY_INTERSECT(ARRAY_DISTINCT({toks}), "
               f"{stop_arr})) AS BIGINT)").alias("n_stop_hits"),
    ]


def _gopher_rule_cols(min_words: int = 50, max_words: int = 100_000,
                      min_mean_len: int = 3, max_mean_len: int = 10,
                      min_alpha_pct: int = 80, max_symbol_pct: int = 10,
                      min_stopword_hits: int = 2) -> list:
    """Rule booleans over the _gopher_measure_cols aliases."""
    return [
        F.expr(f"n_words >= {int(min_words)} AND n_words <= {int(max_words)}")
        .alias("ok_words"),
        F.expr(f"sum_word_chars >= {int(min_mean_len)} * n_words AND "
               f"sum_word_chars <= {int(max_mean_len)} * n_words")
        .alias("ok_mean_len"),
        F.expr(f"n_alpha_words * 100 >= {int(min_alpha_pct)} * n_words")
        .alias("ok_alpha"),
        F.expr(f"n_symbols * 100 <= {int(max_symbol_pct)} * n_words")
        .alias("ok_symbols"),
        F.expr(f"n_stop_hits >= {int(min_stopword_hits)}").alias("ok_stop"),
    ]


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-free language-ID heuristic: score against tiny per-language
    marker lexicons; deterministic argmax with fixed tie order."""
    markers = {
        "en": ["the", "and", "of", "is"],
        "de": ["der", "und", "die", "ist"],
        "fr": ["le", "et", "la", "est"],
        "es": ["el", "y", "la", "es"],
    }
    toks = _tokens()
    scores = [
        F.expr(f"SIZE(FILTER({toks}, t -> ARRAY_CONTAINS(ARRAY("
               + ",".join(f"'{w}'" for w in ws) + "), t)))").alias(f"s_{lg}")
        for lg, ws in markers.items()
    ]
    df = docs.select("doc_id", "lang", *scores)
    best = F.expr(
        "CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und' "
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
        "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
        "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END")
    return df.select("doc_id", F.col("lang").alias("lang_declared"),
                     best.alias("lang_pred"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: polynomial rolling hash of the full text —
    the cheap exact-dup key (shared hash, oracle twin available)."""
    return docs.select(
        "doc_id", F.expr(sqlfns.polyhash_spark("text")).alias("fingerprint"))


# --- G2: HTML -> text extraction (pages table) -------------------------------

_EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
])

_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
EXTRACTOR_VERSION = 1  # frozen: changing this breaks the byte-identity gate


def extract_text(pages: DataFrame) -> DataFrame:
    """G2: deterministic HTML->text over the binary html column.  The
    per-row invariant is byte-identical text per url across runs and
    parallelism levels [BASELINE.json:16]: decode utf-8 (replace), strip
    tags, collapse whitespace, strip ends.

    Vectorized pandas .str pipeline over each Arrow batch (the round-1
    inner loop ran the regexes one row at a time — VERDICT.md r1 'What's
    wrong' #4).  Decode-before-strip equals the byte-level strip for every
    valid-UTF-8 page: '<' / '>' are ASCII and UTF-8 continuation bytes are
    >= 0x80, so tag boundaries can never split a multibyte character;
    invalid bytes are U+FFFD-replaced before tag stripping (deterministic
    either way — EXTRACTOR_VERSION stays 1)."""

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            txt = (pdf["html"].map(bytes).str.decode("utf-8", "replace")
                   .str.replace(_TAG_RE, " ", regex=True)
                   .str.replace(_WS_RE, " ", regex=True)
                   .str.strip())
            yield pd.DataFrame({"url": pdf["url"], "text": txt})

    return pages.select("url", "html").mapInPandas(run, _EXTRACT_SCHEMA)


def deterministic_sample(docs: DataFrame,
                         permille_by_lang: dict[str, int],
                         default_permille: int = 0) -> DataFrame:
    """Stratified corpus sampling with DETERMINISTIC membership — the
    corpus-mixing primitive of a training-data pipeline (e.g. keep 100%
    of fr, 25% of en boilerplate).  Membership is a pure function of
    doc_id (pmod of the 31-bit polynomial hash of the id string — ample
    here, it only selects a permille bucket, not a collision-sensitive
    identity — compared to the per-lang quota), so the sample is reproducible across
    runs, engines and parallelism — no RNG, no sampleBy seed drift — and
    the filter runs in codegen right above the scan (predicate pushdown
    keeps untouched strata unread when the table is partitioned by lang)."""
    h = sqlfns.polyhash_spark("CAST(doc_id AS STRING)")
    if permille_by_lang:
        quota = ("CASE " + " ".join(
            f"WHEN lang = '{lg}' THEN {int(pm)}"
            for lg, pm in sorted(permille_by_lang.items()))
            + f" ELSE {int(default_permille)} END")
    else:
        quota = str(int(default_permille))
    return docs.filter(F.expr(f"PMOD({h}, 1000) < {quota}"))


def token_histogram(docs: DataFrame) -> DataFrame:
    """Per-lang log2-bucketed token-count histogram — the corpus-shape
    summary every dataset card reports.  Two-level hash agg, fully
    map-side-combinable; bucket = floor(log2(n_tokens)) with empty docs
    in bucket -1."""
    n = f"SIZE({_tokens()})"
    bucket = (f"CASE WHEN {n} = 0 THEN -1 "
              f"ELSE CAST(FLOOR(LOG2(CAST({n} AS DOUBLE))) AS INT) END")
    return (docs.select("lang", F.expr(bucket).alias("bucket"))
            .groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"))
            .select("lang", "bucket", "n_docs"))


def pack_sequences(docs: DataFrame, budget_tokens: int = 1024,
                   n_shards: int = 64) -> DataFrame:
    """Sequence PACKING — the step that turns a filtered corpus into
    fixed-token-budget training sequences (GPT-style contiguous packing:
    documents are laid end-to-end in deterministic order and a sequence
    boundary falls every ``budget_tokens`` tokens; a straddling document
    is split at training time).  Output per doc: the shard, its token
    count, the sequence id its FIRST token lands in, and the offset of
    that token within the sequence.

    Scale shape: packing is per-shard (shard = lang + a polyhash bucket
    of doc_id, ``n_shards`` per lang), so the running-sum window
    partitions by shard and parallelizes across lang x n_shards
    partitions instead of one global sort — at 100 TB you raise
    ``n_shards`` so a shard's token stream fits one task; the within-
    shard order (doc_id) and the shard function are deterministic, so
    sequence ids are reproducible at any parallelism.  One shuffle (the
    window's partitionBy); the token count and shard key compute
    map-side in codegen."""
    h = sqlfns.polyhash_spark("CAST(doc_id AS STRING)")
    from pyspark.sql import Window
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    base = docs.select(
        "doc_id",
        F.expr(f"CONCAT(lang, '/', CAST(PMOD({h}, {int(n_shards)}) AS STRING))"
               ).alias("shard"),
        F.expr(f"CAST(SIZE({_tokens()}) AS BIGINT)").alias("n_tokens"))
    excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return (base.withColumn("start_tok", excl)
            .select("doc_id", "shard", "n_tokens",
                    F.expr(f"start_tok DIV {int(budget_tokens)}").alias("seq_id"),
                    (F.col("start_tok") % budget_tokens).alias("seq_offset")))


def ngram_counts(docs: DataFrame, w: int = 2, top_k: int = 100) -> DataFrame:
    """Corpus n-gram statistics: the ``top_k`` word w-grams by total
    occurrence count (with the distinct-document count alongside) — the
    table behind contamination screens, boilerplate detection, and n-gram
    LM sanity checks.  Occurrences are counted per position (NOT
    distinct-per-doc), so repeated boilerplate inside one page counts.

    Plan: explode w-gram positions -> two-phase hash agg on the gram
    (map-side combine; grams are a high-cardinality well-spread key) ->
    global top-k via TakeOrderedAndProject (total desc, n_docs desc, gram
    asc — a total order, so the cut is deterministic).  count_distinct
    over doc_id rides the same agg."""
    t = _tokens()
    grams = (f"CASE WHEN SIZE({t}) >= {w} THEN "
             f"TRANSFORM(SEQUENCE(0, SIZE({t}) - {w}), "
             f"i -> CONCAT_WS(' ', SLICE({t}, i + 1, {w}))) "
             f"ELSE CAST(ARRAY() AS ARRAY<STRING>) END")
    ex = _spread(docs).select("doc_id", F.explode(F.expr(grams)).alias("ngram"))
    agg = (ex.groupBy("ngram")
           .agg(F.count("*").alias("n_total"),
                F.countDistinct("doc_id").alias("n_docs")))
    return (agg.orderBy(F.desc("n_total"), F.desc("n_docs"), "ngram")
            .limit(top_k))


# backslash-free on purpose: Spark SQL string literals strip unknown
# backslash escapes while DuckDB's keep them, so a pattern with '\+'
# would silently DIVERGE between engine and oracle.  '[.]'/'[+]' classes
# need no escaping in either dialect.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE_RE = "[+]?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII scrubbing: redact email addresses and simple phone patterns
    from the text, reporting per-doc redaction counts — the compliance
    pass a web-scale corpus runs before training.  Both patterns are
    dialect-portable (plain character classes + bounded repetition, no
    backrefs/lookaround), so Java regex (Spark codegen) and RE2 (the
    DuckDB twin) match identical spans; replacement is global on both
    engines.  Pure codegen scan->project, no shuffle, no python."""
    n_em = f"SIZE(REGEXP_EXTRACT_ALL(text, '{PII_EMAIL_RE}', 0))"
    n_ph = f"SIZE(REGEXP_EXTRACT_ALL(text, '{PII_PHONE_RE}', 0))"
    scrub = (f"REGEXP_REPLACE(REGEXP_REPLACE(text, '{PII_EMAIL_RE}', "
             f"'[EMAIL]'), '{PII_PHONE_RE}', '[PHONE]')")
    return docs.select(
        "doc_id",
        F.expr(scrub).alias("text_scrubbed"),
        F.expr(f"CAST({n_em} AS INT)").alias("n_emails"),
        F.expr(f"CAST({n_ph} AS INT)").alias("n_phones"))


def url_dedup(pages: DataFrame) -> DataFrame:
    """Crawl URL-level dedup: canonicalize (lowercase scheme+host, strip
    query string and fragment) and collapse variants — the cheap first
    dedup pass every crawl pipeline runs before touching content (the
    same page arrives as http://Site.Example/a?utm_source=x and
    http://site.example/a#top).  Path case is PRESERVED (paths are
    case-sensitive per RFC 3986; only scheme+authority fold).

    Output: (canonical_url, n_variants, first_url) with first_url = the
    lexicographically smallest raw variant (deterministic winner).  One
    map-side-combinable hash agg on the canonical string; regexes are
    dialect-portable (no backslash classes) so the DuckDB twin matches
    byte-for-byte."""
    # authority stops at '/', '?' OR '#': with plain [^/]+ a PATH-LESS url
    # ('https://site.example?utm=x') swallows the query into the "host",
    # so it is case-folded instead of stripped and bare-domain variants
    # never collapse (review r4)
    host = "REGEXP_EXTRACT(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)"
    rest = f"SUBSTRING(url, LENGTH({host}) + 1)"
    canon = (f"CONCAT(LOWER({host}), REGEXP_REPLACE({rest}, '[?#].*', ''))")
    return (pages.select(F.expr(canon).alias("canonical_url"), "url")
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_variants"),
                 F.min("url").alias("first_url")))


def normalize_text(docs: DataFrame) -> DataFrame:
    """Text normalization for matching/sharding: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace runs, trim — the
    canonical form fed to fuzzy dedup when raw text differs only in
    case/punctuation.  Pure codegen scan->project (LOWER + two
    REGEXP_REPLACE + TRIM), no shuffle; patterns avoid backslash classes
    so Spark (Java regex) and DuckDB (RE2) rewrite identical spans."""
    norm = ("TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), "
            "'[^a-z0-9 ]', ' '), '  *', ' '))")
    return docs.select(
        "doc_id",
        F.expr(norm).alias("norm_text"),
        F.expr(f"LENGTH({norm})").cast("long").alias("n_norm_chars"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals — the quality filters that catch
    machine-generated / boilerplate pages C4-style heuristics miss:

    - ``uniq_token_frac``: distinct tokens / tokens (low = looping text);
    - ``top_2gram_frac``: occurrences of the most frequent word 2-gram /
      all 2-gram occurrences (Gopher's "top n-gram fraction");
    - ``dup_2gram_frac``: occurrences belonging to 2-grams that appear
      more than once in the doc / all occurrences ("duplicate n-grams").

    Plan (one scan, no join): distinct-token fraction is row-local
    (``array_distinct`` in codegen); the gram signals explode 2-gram
    positions and run TWO stacked hash aggregations — (doc_id, gram)
    then (doc_id) — both map-side combinable, both keyed by doc-grain
    keys that are well-spread at web scale.  ``explode_outer`` keeps
    docs with < 2 tokens (their gram aggregates count 0 rows), so no
    join back to the corpus is needed; the row-local stats ride the
    first aggregation as FIRST() (constant within a doc's group).
    Fractions are ROUND(...,6) so the DuckDB twin hashes identically."""
    t = _tokens()
    grams = (f"CASE WHEN SIZE({t}) >= 2 THEN "
             f"TRANSFORM(SEQUENCE(0, SIZE({t}) - 2), "
             f"i -> CONCAT_WS(' ', SLICE({t}, i + 1, 2))) "
             f"ELSE CAST(ARRAY() AS ARRAY<STRING>) END")
    ex = _spread(docs).select(
        "doc_id",
        F.expr(f"CAST(SIZE({t}) AS BIGINT)").alias("nt"),
        F.expr(f"CAST(SIZE(ARRAY_DISTINCT({t})) AS BIGINT)").alias("nu"),
        F.explode_outer(F.expr(grams)).alias("gram"))
    per_gram = (ex.groupBy("doc_id", "gram")
                .agg(F.count("gram").alias("c"),
                     F.first("nt").alias("nt"), F.first("nu").alias("nu")))
    per_doc = (per_gram.groupBy("doc_id")
               .agg(F.first("nt").alias("nt"), F.first("nu").alias("nu"),
                    F.sum("c").alias("n2"), F.max("c").alias("mx"),
                    F.sum(F.when(F.col("c") >= 2, F.col("c"))
                          .otherwise(F.lit(0))).alias("dup")))
    return per_doc.select(
        "doc_id",
        F.col("nt").alias("n_tokens"),
        F.expr("ROUND(CAST(nu AS DOUBLE) / GREATEST(nt, 1), 6)").alias("uniq_token_frac"),
        F.expr("ROUND(CAST(mx AS DOUBLE) / GREATEST(n2, 1), 6)").alias("top_2gram_frac"),
        F.expr("ROUND(CAST(dup AS DOUBLE) / GREATEST(n2, 1), 6)").alias("dup_2gram_frac"))


def cdc_chunks(docs: DataFrame, w: int = 8, mod: int = 16) -> DataFrame:
    """Content-defined chunking (the rsync/FastCDC family): cut each
    document where the rolling hash of the last ``w`` characters is
    ``0 mod mod`` — boundaries move WITH the content, so two page
    versions differing by one insertion still share every chunk outside
    the edit region.  Chunk-fingerprint dedup across versions/mirrors
    falls out as a plain aggregation on ``chunk_fp``.

    Output: (doc_id, chunk_no, chunk_len, chunk_fp) — fingerprints, not
    chunk text (the corpus does not get copied through the shuffle).

    The boundary hash is the SHARED polyhash template (base 31), so the
    whole operator has a closed-form DuckDB twin; it is evaluated per
    position over w chars (O(w·n) per doc, all inside codegen/HOFs, no
    python).  A production byte-level variant would compute the true
    O(n) incremental Rabin fingerprint in a mapInPandas pass — the
    plumbing is the same, only the boundary predicate moves.  NULL text
    folds to '' (zero chunks); min/max chunk-size clamps of FastCDC are
    intentionally omitted (documented simplification — the expected
    chunk length is ``mod`` characters)."""
    ph = sqlfns.polyhash_spark(f"SUBSTRING(_t, p - {w - 1}, {w})")
    bounds = (
        f"CASE WHEN LENGTH(_t) < {w} THEN CAST(ARRAY() AS ARRAY<BIGINT>) "
        f"ELSE FILTER(SEQUENCE(CAST({w} AS BIGINT), CAST(LENGTH(_t) AS BIGINT)), "
        f"p -> ({ph}) % {mod} = 0) END")
    cuts = (
        "CASE WHEN ELEMENT_AT(_cuts0, -1) = LENGTH(_t) THEN _cuts0 "
        "ELSE CONCAT(_cuts0, ARRAY(CAST(LENGTH(_t) AS BIGINT))) END")
    chunks = (
        "CASE WHEN SIZE(_cuts) >= 2 THEN "
        "TRANSFORM(SEQUENCE(1, SIZE(_cuts) - 1), "
        "i -> SUBSTRING(_t, ELEMENT_AT(_cuts, i) + 1, "
        "CAST(ELEMENT_AT(_cuts, i + 1) - ELEMENT_AT(_cuts, i) AS INT))) "
        "ELSE CAST(ARRAY() AS ARRAY<STRING>) END")
    staged = (_spread(docs)
              .select("doc_id", F.expr("COALESCE(text, '')").alias("_t"))
              .withColumn("_bounds", F.expr(bounds))
              .withColumn("_cuts0",
                          F.expr("CONCAT(ARRAY(CAST(0 AS BIGINT)), _bounds)"))
              .withColumn("_cuts", F.expr(cuts)))
    fp = sqlfns.polyhash_spark("chunk")
    return (staged
            .select("doc_id", "_t",
                    F.posexplode(F.expr(chunks)).alias("chunk_no", "chunk"))
            .select("doc_id", "chunk_no",
                    F.expr("CAST(LENGTH(chunk) AS BIGINT)").alias("chunk_len"),
                    F.expr(f"CAST({fp} AS BIGINT)").alias("chunk_fp")))


def remove_boilerplate(pages: DataFrame, min_docs: int = 3) -> DataFrame:
    """Per-domain template-line removal — the nav/footer stripper every
    web-crawl pipeline runs after extraction: a LINE of text that recurs
    in >= ``min_docs`` distinct documents of the SAME domain is template
    chrome, not content, and is dropped from every document.

    Input: (doc_id, domain, text) with newline-separated lines.

    Plan built for the 100 TB shape: the per-(domain, line) document-
    frequency aggregation is the only corpus-wide shuffle (two-phase,
    map-side combined, keyed by the naturally well-spread (domain, line)
    pair).  Frequent lines are then collapsed to ONE array per domain —
    a domain's template set is bounded by its page layout, not its page
    count — and that small table is BROADCAST back; each document drops
    its boilerplate with a row-local array ``FILTER``, so the corpus
    itself never shuffles and line order is trivially preserved (no
    posexplode + re-sort round trip)."""
    lines = "SPLIT(text, CHR(10))"  # CHR(10), not a literal '\n' in SQL
    ex = pages.select("doc_id", "domain",
                      F.explode(F.expr(lines)).alias("line"))
    freq = (ex.groupBy("domain", "line")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") >= min_docs)
            .groupBy("domain")
            .agg(F.collect_set("line").alias("bl")))
    kept = ("FILTER(" + lines + ", l -> NOT COALESCE(ARRAY_CONTAINS(bl, l)"
            ", FALSE))")
    return (pages.join(F.broadcast(freq), "domain", "left")
            .select(
                "doc_id", "domain",
                F.expr(f"CONCAT_WS(CHR(10), {kept})").alias("clean_text"),
                F.expr(f"CAST(SIZE({kept}) AS INT)").alias("n_lines_kept"),
                F.expr(f"CAST(SIZE({lines}) - SIZE({kept}) AS INT)")
                .alias("n_lines_dropped")))


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-domain corpus stats — the first grouping any web-crawl audit
    runs.  Domain = host part of the url (regexp in codegen; the DuckDB
    oracle re-derives domains in closed form from the synth url scheme).
    Map-side-combinable two-agg plan; domains are a
    naturally high-cardinality, well-spread key at web scale."""
    dom = "REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1)"  # path optional: 'https://a.example' is a legal crawl url
    return (pages.select(F.expr(dom).alias("domain"), "lang")
            .groupBy("domain")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("lang").alias("n_langs")))


def fetch_schedule(pages: DataFrame, per_slot: int = 1) -> DataFrame:
    """Crawl-frontier politeness scheduling: assign every url a fetch
    SLOT such that no host is fetched more than ``per_slot`` times per
    slot — the scheduling primitive behind any Common-Crawl-style
    recrawl.  slot = floor((rank_within_host - 1) / per_slot) with the
    within-host rank a deterministic url-ordered ROW_NUMBER, so the
    schedule is reproducible at any parallelism and a re-run after a
    partial crawl re-derives the identical remaining slots (the resume
    property the staged pipeline relies on elsewhere).

    Plan: ONE hash exchange on host for the window — no global sort and
    no global row numbering: a worker draining slot s just filters
    ``slot = s``, so the cross-host fetch ORDER inside a slot is
    intentionally unspecified (hosts are independent by construction —
    that is what the politeness constraint means).  Host skew is not a
    failure mode but the semantics: a host with 10^6 pages takes 10^6 /
    per_slot slots by design, and its window state is a single running
    counter.  Production would rank by (priority DESC, url); the synth
    pages carry no priority column so rank is url-ordered here.

    Output: (url, host, rank_in_host, slot)."""
    if per_slot < 1:
        raise ValueError("per_slot must be >= 1")
    host = "REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1)"
    from pyspark.sql import Window
    w = Window.partitionBy("host").orderBy("url")
    return (pages.select("url", F.expr(host).alias("host"))
            .withColumn("rank_in_host",
                        F.row_number().over(w).cast("int"))
            .withColumn("slot", F.expr(
                f"CAST(FLOOR((rank_in_host - 1) / {int(per_slot)}) "
                f"AS INT)")))


def _quota_case(quota_by_lang: dict[str, int], default: int) -> str:
    if not quota_by_lang:
        return str(int(default))
    return ("CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {int(q)}"
        for lg, q in sorted(quota_by_lang.items()))
        + f" ELSE {int(default)} END")


def stratified_quota(docs: DataFrame,
                     quota_by_lang: dict[str, int],
                     default_quota: int = 0,
                     prefilter: bool = True,
                     safety: int = 4,
                     counts_by_lang: dict[str, int] | None = None
                     ) -> DataFrame:
    """EXACT per-stratum document budgets — the data-mixing shape where a
    training recipe says "exactly 30B fr docs, exactly 120B en docs", not
    a proportion.  Complements deterministic_sample (proportional, zero
    shuffle): membership here is the quota-K prefix of each stratum under
    the deterministic (polyhash(doc_id), doc_id) total order, so the kept
    SET is reproducible across runs, engines and parallelism, and the
    DuckDB twin is the identical ROW_NUMBER() ... QUALIFY.

    Scale shape: ranking a 100 TB stratum to keep its first K rows must
    not sort the stratum.  Because the hash is uniform on [0, HASH_P),
    the K smallest (h, doc_id) all satisfy h < cutoff for any cutoff with
    at least K survivors — h < cutoff is a PREFIX of the sort order (a
    PMOD-bucket prefilter would not be: pmod is not monotone in h).  So
    with per-stratum counts n we prefilter at
    cutoff = HASH_P * min(1, safety*K/n), a codegen row filter right
    above the scan that keeps ~safety*K rows per stratum, and only rank
    the survivors.  The prefilter is RESULT-INVARIANT (asserted below and
    unit-tested against prefilter=False); safety=4 puts the starvation
    probability below exp(-K) for uniform hashes.

    counts_by_lang: pass catalog/audit stats (e.g. from domain_stats) to
    skip the counting pass; None runs one map-side-combinable
    groupBy(lang).count() job — the collect is a documented small side
    (rows = number of languages).

    Starvation guard: an undersized cutoff (bad counts, adversarial ids)
    cannot silently under-fill a stratum — a per-stratum ASSERT_TRUE
    compares kept count to LEAST(quota, n) and fails the JOB, matching
    the loud-failure discipline of the CC non-convergence guard."""
    from pyspark.sql import Window

    h = sqlfns.polyhash_spark("CAST(doc_id AS STRING)")
    quota = _quota_case(quota_by_lang, default_quota)
    # langs with quota 0 never rank: codegen filter at the scan
    base = docs.filter(F.expr(f"({quota}) > 0")).withColumn(
        "_h", F.expr(h))
    guard_expected: str | None = None
    if prefilter:
        if counts_by_lang is None:
            counts_by_lang = {r["lang"]: r["n"] for r in
                              base.groupBy("lang")
                              .agg(F.count("*").alias("n")).collect()}
        # a NULL-lang stratum would render as the literal 'None' in the
        # generated CASE arms (colliding with a real "None" lang and
        # matching no NULL row); NULL lang only reaches here when
        # default_quota > 0 — rank it in full via the ELSE arms instead
        counts_by_lang = {lg: n for lg, n in counts_by_lang.items()
                          if lg is not None}
        cutoff_by_lang = {}
        p = sqlfns.HASH_P
        for lg, n in counts_by_lang.items():
            k = int(quota_by_lang.get(lg, default_quota))
            cutoff_by_lang[lg] = (
                p if k <= 0 or safety * k >= n
                else (p * safety * k) // n + 1)
        if cutoff_by_lang:
            cutoff = ("CASE " + " ".join(
                f"WHEN lang = '{lg}' THEN CAST({c} AS BIGINT)"
                for lg, c in sorted(cutoff_by_lang.items()))
                # a lang absent from caller-provided counts is ranked in
                # full (cutoff = HASH_P passes every row) — never dropped
                + f" ELSE CAST({p} AS BIGINT) END")
            base = base.filter(F.expr(f"_h < ({cutoff})"))
        guard_expected = ("CASE " + " ".join(
            f"WHEN lang = '{lg}' THEN LEAST(CAST({quota} AS BIGINT), "
            f"CAST({int(n)} AS BIGINT))"
            for lg, n in sorted(counts_by_lang.items()))
            # unknown stratum size: nothing to assert against
            + " ELSE CAST(-1 AS BIGINT) END")
    w = Window.partitionBy("lang").orderBy(F.col("_h").asc(),
                                           F.col("doc_id").asc())
    kept = (base.withColumn("rk", F.row_number().over(w))
            .filter(F.expr(f"rk <= ({quota})")))
    if guard_expected is not None:
        # the kept set is <= K rows per stratum; the count window reuses
        # the rank window's partitioning (no extra exchange)
        kept = (kept.withColumn(
            "_kept_n", F.count("*").over(Window.partitionBy("lang")))
            .filter(F.expr(
                f"ASSERT_TRUE(({guard_expected}) = -1 OR "
                f"_kept_n = ({guard_expected}), CONCAT("
                f"'stratified_quota: prefilter starved stratum ', lang, "
                f"' (kept ', CAST(_kept_n AS STRING), '); raise safety or "
                f"fix counts_by_lang')) IS NULL"))
            .drop("_kept_n"))
    return kept.select("doc_id", "lang", "rk")


def global_shuffle(docs: DataFrame, n_shards: int = 64) -> DataFrame:
    """Reproducible corpus-wide shuffle — the training-order op: every doc
    gets a shard and a position such that reading shards in order yields
    a fixed pseudo-random permutation of the corpus, identical across
    runs, engines and parallelism.  shard = floor(n_shards * h / HASH_P)
    (h = polyhash(doc_id), uniform on [0, HASH_P)) is a DETERMINISTIC
    range bucketing — unlike repartitionByRange, whose sampled boundaries
    change run to run — and pos is the (h, doc_id) rank within the shard,
    so (shard, pos) is a total order with no RNG anywhere.  One shuffle
    (the rank window); the shard file write in a real pipeline is
    partitionBy("shard") on this frame.  Shards are balanced by hash
    uniformity (~n/n_shards ± sqrt), and a hot shard never exceeds the
    per-shard sort memory because pos ranks WITHIN the shard only —
    n_shards scales with the corpus, keeping each window partition at a
    fixed target size (e.g. 100 TB / 4 GB => ~25k shards)."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = sqlfns.polyhash_spark("CAST(doc_id AS STRING)")
    p = sqlfns.HASH_P
    # exact BIGINT arithmetic (n_shards * h < 2^46 for any sane shard
    # count) — float division here would hit the CAST-rounding split
    # between engines (Spark truncates, DuckDB rounds); _h < P makes
    # shard < n_shards by construction
    shard = f"CAST((CAST({int(n_shards)} AS BIGINT) * _h) DIV {p} AS INT)"
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(),
                                            F.col("doc_id").asc())
    return (docs.withColumn("_h", F.expr(h))
            .withColumn("shard", F.expr(shard))
            .withColumn("pos", F.row_number().over(w))
            .select("doc_id", "shard", "pos"))


def length_quantiles(docs: DataFrame, col: str = "n_chars",
                     ps: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """EXACT per-lang quantiles of a numeric column (default: the stored
    n_chars) — the length-distribution row of every dataset card.  Uses
    the standard (n-1)*p linear interpolation, but NOT the engine's
    percentile aggregate: engines disagree in internal summation order,
    so instead the formula is written out ONCE as SQL text and run
    verbatim on both engines (the repo's templated-exactness pattern).
    For dyadic p (k/2^m — 0.25/0.5/0.75), (n-1)*p and the interpolation
    fraction are EXACTLY representable doubles, so the whole expression
    performs the same two IEEE roundings on both engines and the DuckDB
    twin is bit-identical, not approximately equal.

    Plan: one rank window per lang (the audit runs on metadata columns,
    never text) + a conditional-agg pick of the two bracketing order
    statistics per quantile — no full sort ever leaves the window stage,
    and the agg is map-side combinable over the ranked rows."""
    for p in ps:
        # dyadic check: p * 2^20 integral <=> p = k/2^m, m <= 20
        if p <= 0 or p >= 1 or (p * (1 << 20)) != int(p * (1 << 20)):
            raise ValueError(
                f"p={p} is not dyadic in (0,1): bit-identical cross-engine "
                f"interpolation needs exactly-representable fractions")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col(col).asc(),
                                           F.col("doc_id").asc())
    ranked = (docs.select("lang", "doc_id", col)
              .withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count("*").over(Window.partitionBy("lang"))))
    aggs = [F.count("*").alias("n_docs")]
    posts = []
    for p in ps:
        tag = str(p).replace("0.", "q")
        idx = f"(CAST(n - 1 AS DOUBLE) * {p!r})"
        lo = f"MAX(CASE WHEN rk - 1 = CAST(FLOOR({idx}) AS BIGINT) THEN CAST({col} AS DOUBLE) END)"
        hi = f"MAX(CASE WHEN rk - 1 = CAST(CEIL({idx}) AS BIGINT) THEN CAST({col} AS DOUBLE) END)"
        frac = f"({idx} - FLOOR({idx}))"
        aggs += [F.expr(lo).alias(f"_lo_{tag}"), F.expr(hi).alias(f"_hi_{tag}"),
                 F.expr(f"MAX({frac})").alias(f"_f_{tag}")]
        posts.append(F.expr(
            f"_lo_{tag} + _f_{tag} * (_hi_{tag} - _lo_{tag})").alias(tag))
    return (ranked.groupBy("lang").agg(*aggs)
            .select("lang", "n_docs", *posts))


LM_SCALE = 1_000_000_000_000  # fixed-point scale for bigram probabilities


def lm_fluency(docs: DataFrame, ref: DataFrame,
               scale: int = LM_SCALE) -> DataFrame:
    """Reference-corpus language-model fluency score — the CCNet/Wikipedia-
    perplexity filtering shape (Wenzek et al. 2020): train a tiny LM on a
    trusted reference corpus, score every candidate document, keep the
    fluent tail.  Here the LM is a Laplace-smoothed bigram model and the
    score is the MEAN smoothed bigram probability in fixed point:

        p(w2 | w1) = (c2(w1 w2) + 1) / (c1(w1) + V)
        score_fx   = SUM over doc bigrams of floor(scale * p + 0.5)

    (arithmetic mean of probabilities, NOT the geometric mean behind true
    perplexity: LN/EXP are libm calls that drift by ulps between engines —
    the POWER(x,2) lesson — while one divide + one multiply per bigram is
    IEEE exact-rounded, and the BIGINT per-doc SUM is addition-order-free,
    so the score is bit-identical at any parallelism and in the DuckDB
    twin.  Monotone-enough for the filter's purpose: rare/OOV-bigram-heavy
    docs score low either way.)  Headroom: p <= 1 so each term <= scale
    (1e12); int64 overflows only past ~9e6 bigrams per document.

    At 100 TB the model side is the SMALL side by design — the reference
    corpus (Wikipedia-sized) yields a bigram table many orders below the
    candidate corpus, so both model joins broadcast; the candidate corpus
    is scan → explode → two broadcast joins → one hash agg, no big-side
    shuffle except the final per-doc combine.  OOV bigrams (c2 = 0,
    possibly c1 = 0 too) take the same formula via COALESCE — Laplace
    smoothing needs no special path.

    Output: (doc_id, n_bigrams, n_oov, score_fx).  Docs with < 2 tokens
    have no bigrams and score 0 with n_bigrams = 0 (kept, not dropped)."""
    t = _tokens()
    grams = (f"CASE WHEN SIZE({t}) >= 2 THEN TRANSFORM(SEQUENCE(1, "
             f"SIZE({t}) - 1), i -> CONCAT(ELEMENT_AT({t}, i), ' ', "
             f"ELEMENT_AT({t}, i + 1))) ELSE ARRAY() END")
    ref_g = (_spread(ref)
             .select(F.explode(F.expr(grams)).alias("bigram")))
    c2 = ref_g.groupBy("bigram").agg(F.count("*").cast("long").alias("c2"))
    # c1 derives from the AGGREGATED bigram table, not a second explode of
    # the reference corpus: c1(w1) = Σ_{bigrams starting w1} c2 — exact
    # same counts, one corpus pass instead of two (r6 optimization)
    c1 = (c2.select(F.expr("SPLIT(bigram, ' ')[0]").alias("w1"), "c2")
          .groupBy("w1").agg(F.sum("c2").cast("long").alias("c1")))
    v1 = (_spread(ref)
          .select(F.explode(F.expr(t)).alias("tok"))
          .agg(F.count_distinct("tok").cast("long").alias("_v")))
    doc_g = (_spread(docs)
             .select("doc_id",
                     F.explode_outer(F.expr(grams)).alias("bigram"))
             .withColumn("w1", F.expr("SPLIT(bigram, ' ')[0]")))
    p_fx = (f"CAST(FLOOR(CAST({scale} AS BIGINT) * "
            "(CAST(COALESCE(c2, 0) + 1 AS DOUBLE) / "
            "CAST(COALESCE(c1, 0) + _v AS DOUBLE)) + 0.5e0) AS BIGINT)")
    return (doc_g
            .join(F.broadcast(c2), "bigram", "left")
            .join(F.broadcast(c1), "w1", "left")
            .crossJoin(F.broadcast(v1))
            .groupBy("doc_id")
            .agg(F.count("bigram").cast("long").alias("n_bigrams"),
                 F.sum(F.expr("CASE WHEN bigram IS NOT NULL AND c2 IS NULL"
                              " THEN 1 ELSE 0 END")).cast("long")
                 .alias("n_oov"),
                 F.coalesce(
                     F.sum(F.when(F.col("bigram").isNotNull(),
                                  F.expr(p_fx))),
                     F.lit(0).cast("long")).alias("score_fx")))


def domain_topk(pages: DataFrame, k: int = 3, n_salt: int = 16) -> DataFrame:
    """Top-k pages per domain by the composite quality score — the 'best
    pages per site' reduction a corpus curator runs before sampling.

    Exact two-phase top-k, skew-capped: a single window over domain puts a
    hot domain's entire page set through one task's sort buffer (the dense
    urban cell of the text world).  Phase 1 windows over (domain, salt)
    where salt = doc_id % n_salt, keeping rank <= k per salted group —
    every global top-k row survives because it is top-k within its own
    salt bucket too (rank can only shrink when rows are removed).  Phase 2
    re-windows over domain on the <= n_salt*k survivors per domain.  Same
    result as the one-shot window at any parallelism; the heavy exchange
    carries (domain, salt) keys so no task sees more than ~1/n_salt of a
    hot domain.  Ties break (quality DESC, doc_id ASC) — deterministic
    top-k SET.  `pages` needs (doc_id, domain, lang, text)."""
    from pyspark.sql import Window
    q = quality_score(pages.select("doc_id", "lang", "text")).select(
        "doc_id", "quality")
    base = pages.select("doc_id", "domain").join(q, "doc_id").select(
        "domain", "doc_id", "quality",
        F.expr(f"CAST(doc_id % {n_salt} AS INT)").alias("_salt"))
    order = (F.desc("quality"), F.asc("doc_id"))
    w1 = Window.partitionBy("domain", "_salt").orderBy(*order)
    survivors = (base.withColumn("_r1", F.row_number().over(w1))
                 .filter(F.col("_r1") <= k))
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (survivors.withColumn("rk", F.row_number().over(w2).cast("int"))
            .filter(F.col("rk") <= k)
            .select("domain", "doc_id", "quality", "rk"))


DSIR_BUCKETS = 4096     # fixed feature-hash width — model size is corpus-
                        # independent by construction (DSIR uses 10k)
DSIR_SCALE = 1_000_000  # fixed-point scale for per-bucket probability ratios


def dsir_weights(docs: DataFrame, target: DataFrame,
                 n_buckets: int = DSIR_BUCKETS,
                 scale: int = DSIR_SCALE) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed-n-gram bag
    models on a trusted TARGET corpus (p) and on the RAW candidate corpus
    (q), then weight every candidate document by how target-like its
    n-gram distribution is.  Features are unigrams + bigrams hashed into
    ``n_buckets`` fixed buckets, exactly DSIR's feature space.

    Engine-exact deviation from the paper (same reasoning as lm_fluency):
    DSIR's weight is sum of log(p_b/q_b); LN is a libm call that drifts by
    ulps between engines, so the score here is the SUM of fixed-point
    per-bucket probability RATIOS

        ratio_fx(b) = floor(scale * (p_b / q_b) + 0.5)
        p_b = (ct_b + 1) / (CT + B),  q_b = (cr_b + 1) / (CR + B)
        score_fx(doc) = sum over the doc's gram occurrences of ratio_fx

    — one divide per side + one divide + one multiply, all IEEE
    exact-rounded with identical association on both engines, and the
    per-doc BIGINT sum is addition-order-free, so the score is
    bit-identical at any parallelism and in the DuckDB twin.  Monotone-
    enough for selection: docs whose grams sit in target-heavy buckets
    score high either way.  Headroom: ratio_fx <= scale * CT; at
    scale=1e6 an int64 overflows only past ~9e12/CT grams per document.

    At 100 TB the model side is B rows BY CONSTRUCTION (hash bucketing,
    not vocabulary): both count aggs are map-side-combinable down to
    <= B partials, the ratio table broadcasts, and the candidate corpus
    is scan -> explode -> one broadcast join -> one per-doc hash agg — no
    big-side shuffle except the final doc combine.  The raw model q is fit
    on ``docs`` itself (DSIR's q is the raw-corpus distribution), so every
    probed bucket exists on the raw side and the model join never misses.

    Output: (doc_id, n_grams, n_target_hit, score_fx); empty docs keep a
    row with n_grams = 0 and score_fx = 0.  Selection (top-quota by
    score) composes with stratified_quota / domain_topk downstream."""
    t = _tokens()
    bis = (f"CASE WHEN SIZE({t}) >= 2 THEN TRANSFORM(SEQUENCE(1, "
           f"SIZE({t}) - 1), i -> CONCAT(ELEMENT_AT({t}, i), ' ', "
           f"ELEMENT_AT({t}, i + 1))) ELSE ARRAY() END")
    grams = f"CONCAT({t}, {bis})"
    bkt = f"(({sqlfns.polyhash_spark('gram')}) % {n_buckets})"
    tg = (_spread(target)
          .select(F.explode(F.expr(grams)).alias("gram"))
          .select(F.expr(bkt).alias("bucket"))
          .groupBy("bucket").agg(F.count("*").cast("long").alias("ct")))
    # ONE gram-hash pass over the candidate corpus: the per-doc bucket
    # stream is persisted and feeds BOTH the raw model q (cr counts) and
    # the per-doc scoring join — the old shape exploded + hashed the
    # corpus twice (r6 optimization; weakref-scoped cache, knn pattern)
    import weakref

    from .spatial import _safe_unpersist
    doc_b = (_spread(docs)
             .select("doc_id", F.explode_outer(F.expr(grams)).alias("gram"))
             .select("doc_id",
                     F.when(F.col("gram").isNotNull(), F.expr(bkt))
                     .alias("bucket"))
             .persist())
    rg = (doc_b.filter(F.col("bucket").isNotNull())
          .groupBy("bucket").agg(F.count("*").cast("long").alias("cr")))
    tt = tg.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("_tt"))
    rt = rg.agg(F.coalesce(F.sum("cr"), F.lit(0)).cast("long").alias("_rt"))
    ratio_fx = (
        f"CAST(FLOOR(CAST({scale} AS BIGINT) * "
        f"((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / "
        f"CAST(_tt + {n_buckets} AS DOUBLE)) / "
        f"(CAST(cr + 1 AS DOUBLE) / "
        f"CAST(_rt + {n_buckets} AS DOUBLE))) + 0.5e0) AS BIGINT)")
    model = (rg.join(tg, "bucket", "left")
             .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(rt))
             .select("bucket",
                     F.coalesce(F.col("ct"), F.lit(0)).cast("long")
                     .alias("ct"),
                     F.expr(ratio_fx).alias("ratio_fx")))
    # gram IS NOT NULL ⟺ bucket IS NOT NULL by construction above, so the
    # cached (doc_id, bucket) stream carries everything the scoring needs
    result = (doc_b
              .join(F.broadcast(model), "bucket", "left")
              .groupBy("doc_id")
              .agg(F.count("bucket").cast("long").alias("n_grams"),
                   F.coalesce(
                       F.sum(F.expr("CASE WHEN bucket IS NOT NULL AND ct > 0 "
                                    "THEN 1 ELSE 0 END")), F.lit(0))
                   .cast("long").alias("n_target_hit"),
                   F.coalesce(
                       F.sum(F.when(F.col("bucket").isNotNull(),
                                    F.col("ratio_fx"))),
                       F.lit(0).cast("long")).alias("score_fx")))
    weakref.finalize(result, _safe_unpersist, doc_b)
    return result


MIX_SQRT_SCALE = 1_000      # fixed-point scale inside the integer sqrt
MIX_WEIGHT_SCALE = 1_000_000  # fixed-point scale of the emitted weights


def _isqrt_sql(x: str) -> str:
    """Exact integer sqrt of a BIGINT expression, engine-identical.

    FLOOR(SQRT(x)) alone is wrong at perfect-square boundaries (SQRT is
    correctly rounded but x > 2^53 loses bits on the CAST to DOUBLE, and
    sqrt of k^2 - 1 can round UP to k), so the double result is treated
    only as a seed and corrected with exact BIGINT comparisons.  The seed
    is off by at most 1 for x < 2^62 (relative double error ~1e-16 plus
    the <=512-ulp representation error of x contribute <1 to the root),
    so one +-1 correction step is exact."""
    s0 = f"CAST(FLOOR(SQRT(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    return (f"({s0} + (CASE WHEN ({s0} + 1) * ({s0} + 1) <= ({x}) "
            f"THEN 1 ELSE 0 END) - (CASE WHEN {s0} * {s0} > ({x}) "
            f"THEN 1 ELSE 0 END))")


def mixture_weights(docs: DataFrame, by: str = "lang",
                    budget: int = 1_000_000) -> DataFrame:
    """Temperature-scaled data-mixing weights (the multilingual-LM
    "alpha = 0.5" recipe: sample stratum i proportional to n_i^alpha so
    head strata are downweighted and tail strata upsampled relative to
    their raw share).  Emits, per stratum: the document count, the
    fixed-point sqrt mass s_i = floor(sqrt(n_i) * 1e3), the normalized
    sampling weight w_i = floor(1e6 * s_i / sum(s) + 0.5), and the
    per-epoch document quota floor(budget * s_i / sum(s) + 0.5).

    Engine-exactness: n_i^0.5 via the exact integer sqrt template (POWER/
    libm is the known 1-ulp cross-engine hazard); the normalizing sum is
    a BIGINT (order-free); the two emitted ratios are one exact-rounded
    double divide + multiply + floor with identical association on both
    engines.  At 100 TB the plan is one map-side-combinable count agg
    (strata cardinality = languages/domains, tiny) plus a broadcast
    one-row total — the corpus crosses the wire as count partials only.
    NULL strata count as their own row (GROUP BY keeps NULL).  Headroom:
    n_i * 1e6 must fit int64, i.e. n_i <= 9.2e12 docs per stratum."""
    s = _isqrt_sql(f"n_docs * {MIX_SQRT_SCALE ** 2}")
    counts = (docs.groupBy(F.col(by).alias("stratum"))
              .agg(F.count("*").cast("long").alias("n_docs"))
              .withColumn("sqrt_fx", F.expr(s).cast("long")))
    total = counts.agg(F.sum("sqrt_fx").cast("long").alias("_tot"))
    ratio = "(CAST(sqrt_fx AS DOUBLE) / CAST(_tot AS DOUBLE))"
    return (counts.crossJoin(F.broadcast(total))
            .select("stratum", "n_docs", "sqrt_fx",
                    F.expr(f"CAST(FLOOR({MIX_WEIGHT_SCALE} * {ratio} "
                           f"+ 0.5e0) AS BIGINT)").alias("weight_fx"),
                    F.expr(f"CAST(FLOOR({budget} * {ratio} "
                           f"+ 0.5e0) AS BIGINT)").alias("quota")))


HASH_EMBED_DIM = 64  # fixed feature-hash width (hashing trick)


def hash_embed(docs: DataFrame, dim: int = HASH_EMBED_DIM) -> DataFrame:
    """Feature-hashed bag-of-words document embedding (the hashing trick,
    Weinberger et al. 2009): token t contributes sign(h37(t)) to dimension
    pmod(h31(t), dim), the standard signed construction that makes hash
    collisions cancel in expectation.  Output is the SPARSE relation
    (doc_id, dim_id, val) with zero-sum dimensions dropped — the same
    index-as-a-relation stance as inverted_index: a dense array column is
    a presentation concern (see hash_embed_dense), the relation is what
    shuffles, buckets and joins at scale.

    All-integer (sign counts), so bit-identical on both engines at any
    parallelism.  Plan: scan -> explode -> ONE map-side-combinable
    (doc_id, dim_id) hash agg; no joins, no model side.  The two hashes
    ride the independent 31/37 polyhash bases (the fingerprint62 pair)."""
    t = _tokens()
    h31 = sqlfns.polyhash_spark("tok", mult=31)
    h37 = sqlfns.polyhash_spark("tok", mult=37)
    return (_spread(docs)
            .select("doc_id", F.explode(F.expr(t)).alias("tok"))
            .select("doc_id",
                    F.expr(f"PMOD({h31}, {dim})").cast("int").alias("dim_id"),
                    F.expr(f"CASE WHEN PMOD({h37}, 2) = 0 THEN 1 ELSE -1 "
                           f"END").alias("sgn"))
            .groupBy("doc_id", "dim_id")
            .agg(F.sum("sgn").cast("long").alias("val"))
            .filter("val != 0"))


def hash_embed_dense(docs: DataFrame, dim: int = HASH_EMBED_DIM) -> DataFrame:
    """Densify hash_embed into (doc_id, embedding array<double>[dim]) for
    ANN consumers (gemm_topk / lsh_topk / kmeans take array columns).
    One extra per-doc agg; docs with no tokens get the zero vector only if
    present in the sparse relation — join back to `docs` to keep them."""
    sparse = hash_embed(docs, dim)
    dense = (sparse.groupBy("doc_id")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("dim_id", "val"))).alias("m"))
             .select("doc_id",
                     F.expr(f"TRANSFORM(SEQUENCE(0, {dim} - 1), d -> "
                            f"CAST(COALESCE(ELEMENT_AT(m, d), 0) AS DOUBLE))")
                     .alias("embedding")))
    return (docs.select("doc_id").join(dense, "doc_id", "left")
            .select("doc_id",
                    F.expr(f"COALESCE(embedding, ARRAY_REPEAT(0.0e0, {dim}))")
                    .alias("embedding")))


def chunk_windows(docs: DataFrame, chunk_tokens: int = 128,
                  overlap: int = 32) -> DataFrame:
    """Fixed-size overlapping token-window chunking — the embedding/RAG
    prep shape (split every document into windows of ``chunk_tokens``
    whitespace tokens, each window starting ``chunk_tokens - overlap``
    tokens after the previous; the complement of cdc_chunks' content-
    defined boundaries: here boundaries are positional, so a one-token
    prefix edit shifts every downstream chunk — use cdc_chunks when
    shift-invariance matters, this when uniform window size does).

    Window starts come from SEQUENCE(0, n-1, stride) — no division, no
    off-by-one family: every start < n_tokens, the last chunk is the
    (possibly short) remainder, empty/NULL docs emit no rows (LEFT-join
    back on doc_id if presence is required).  Pure codegen/HOF projection
    above the scan: zero shuffles, zero python; chunk_no rides posexplode
    so ordering is positional, not sort-derived."""
    assert 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    t = _tokens()
    return (_spread(docs)
            .select("doc_id", F.expr(t).alias("toks"))
            .select("doc_id",
                    F.posexplode(
                        F.expr(f"CASE WHEN SIZE(toks) > 0 THEN "
                               f"SEQUENCE(0, SIZE(toks) - 1, {stride}) "
                               f"ELSE ARRAY() END"))
                    .alias("chunk_no", "start_tok"),
                    F.col("toks"))
            .select("doc_id", "chunk_no", "start_tok",
                    F.expr(f"SIZE(SLICE(toks, start_tok + 1, {chunk_tokens}))")
                    .cast("int").alias("n_tokens"),
                    F.expr(f"ARRAY_JOIN(SLICE(toks, start_tok + 1, "
                           f"{chunk_tokens}), ' ')").alias("chunk_text")))


# Fixed BPE merge table, rank order — shipped like a tokenizer's merges.txt
# (learned once offline by greedy pair-frequency BPE over the synthetic
# corpus' word distribution and frozen; the table is a model artifact, so
# at 100 TB it is a constant too — apply cost never depends on corpus size).
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
]


def bpe_apply_py(word: str, merges: list[tuple[str, str]] | None = None
                 ) -> list[str]:
    """Reference python twin of the SQL BPE apply (unit-test oracle):
    merges applied in rank order, each merging ALL current occurrences
    leftmost-first — the standard fast-apply contract (HF tokenizers'
    outcome for well-formed learned tables, where a pair's parts are
    always products of strictly lower ranks)."""
    syms = list(word)
    for a, b in (BPE_MERGES if merges is None else merges):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_chain_sql(col: str, dialect: str = "spark",
                  merges: list[tuple[str, str]] | None = None) -> str:
    """The whole BPE apply as ONE nested string expression, identical math
    on both engines (only the regexp replacement token differs).

    Sentinel encoding makes plain REPLACE a correct merge step: every
    non-space char c becomes '|c|', so a symbol occurrence is EXACTLY the
    substring '|sym|' (symbols never contain '|'), adjacent symbols meet
    as '||', and spaces stay bare so no pattern can span a word boundary.
    Merge (a,b) is then REPLACE(s, '|a||b|', '|ab|'):
      - each occurrence owns BOTH its delimiters, so left-to-right
        non-overlapping replacement (the Spark/Java AND DuckDB contract)
        merges ALL adjacent occurrences in one pass ('|a||b||a||b|'
        matches at 0 and 6 — nothing is consumed from the next match);
      - a pattern can never false-match inside a longer symbol ('|h||e|'
        does not occur in '|th||e|' — no '|' precedes that 'h').
    Everything is codegen string ops (REPLACE/REGEXP_REPLACE), not
    interpreted HOF lambdas — the cdc_chunks single-core lesson does not
    apply; the scan-parallelism _spread guard still does."""
    s = _sentinel_sql(col, dialect)
    for a, b in (BPE_MERGES if merges is None else merges):
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return s


def _sentinel_sql(col: str, dialect: str = "spark") -> str:
    """Sentinel-encode ``col``: every non-space char c becomes '|c|'
    (see bpe_chain_sql for why this makes REPLACE a correct merge step).
    Identical output on both engines; only the regex replacement token
    and the global flag differ."""
    rep = "$1" if dialect == "spark" else r"\1"
    flag = "" if dialect == "spark" else ", 'g'"
    return f"regexp_replace(COALESCE({col}, ''), '([^ ])', '|{rep}|'{flag})"


def bpe_tokenize(docs: DataFrame) -> DataFrame:
    """Real subword tokenization with a FIXED merge table — replaces
    token_stats' len/4 BPE estimate with an exact, engine-pinned token
    count (the number every data-mixing quota, sequence-packing budget,
    and per-token cost model actually needs).

    Output per doc: whitespace word count, exact BPE token count, number
    of merge applications (n_nonspace_chars - n_tokens, each application
    reduces the token count by exactly 1), and the tokenized text with
    '/' joining subwords within a word ('batch scan' -> 'batch s/c/an').

    Plan: scan -> one codegen projection (regexp_replace + 20 nested
    REPLACEs + length arithmetic), ZERO shuffles, zero python, zero joins;
    the merge table is a compile-time constant so there is no broadcast
    side at any scale."""
    s = bpe_chain_sql("text")
    toks = _tokens("COALESCE(text, '')")
    return (_spread(docs)
            .select("doc_id", F.expr(s).alias("s"),
                    F.expr(f"CAST(SIZE({toks}) AS BIGINT)")
                    .alias("n_words"),
                    F.expr("CAST(LENGTH(replace(COALESCE(text, ''), ' ', "
                           "'')) AS BIGINT)").alias("nc"))
            .select("doc_id", "n_words",
                    F.expr("CAST((LENGTH(s) - LENGTH(replace(s, '|', '')))"
                           " / 2 AS BIGINT)").alias("n_tokens"),
                    F.col("nc"), F.col("s"))
            .select("doc_id", "n_words", "n_tokens",
                    (F.col("nc") - F.col("n_tokens")).alias("n_merged"),
                    F.expr("replace(replace(s, '||', '/'), '|', '')")
                    .alias("tok_text")))


# --- BPE tokenizer TRAINING (greedy pair-frequency merge learning) ----------

BPE_LEARN_MERGES = 6  # fixed training budget for the registry/oracle entry


def bpe_learn_py(texts: list[str | None],
                 n_merges: int = BPE_LEARN_MERGES
                 ) -> list[tuple[int, str, str, int]]:
    """Reference python twin of ``bpe_learn`` (unit-test oracle): greedy
    BPE training — each round counts adjacent symbol POSITIONS over all
    words (the standard counting grain: 'aaa' contributes (a,a) twice),
    picks the most frequent pair (ties: smaller 'a\\x02b' key), and merges
    it everywhere left-to-right.  Returns [(merge_no, a, b, pair_count)].
    """
    words = [w for t in texts if t for w in t.split() if w]
    syms_list = [list(w) for w in words]
    out: list[tuple[int, str, str, int]] = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms in syms_list:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        (a, b), cnt = min(counts.items(),
                          key=lambda kv: (-kv[1], kv[0][0] + "\x02" + kv[0][1]))
        out.append((k, a, b, cnt))
        merged = []
        for syms in syms_list:
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            merged.append(ns)
        syms_list = merged
    return out


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """(pair, pair_count) over the sentinel-encoded corpus ``state``:
    pair = 'a\\x02b' for every adjacent symbol position within a word.
    One explode chain + ONE map-side-combinable hash agg; at 100 TB the
    only shuffle is the (pair -> partial count) exchange, whose width is
    the pair vocabulary, not the corpus."""
    return (state
            .select(F.explode(
                F.expr("FILTER(SPLIT(s, ' '), w -> LENGTH(w) > 0)"))
                .alias("w"))
            .select(F.expr("SPLIT(SUBSTRING(w, 2, LENGTH(w) - 2), "
                           "'\\\\|\\\\|')").alias("sy"))
            .select(F.explode(F.expr(
                "CASE WHEN SIZE(sy) < 2 THEN CAST(ARRAY() AS ARRAY<STRING>) "
                "ELSE TRANSFORM(SEQUENCE(1, SIZE(sy) - 1), x -> "
                "CONCAT(ELEMENT_AT(sy, x), CHR(2), ELEMENT_AT(sy, x + 1))) "
                "END")).alias("pair"))
            .groupBy("pair").agg(F.count("*").alias("pair_count")))


def bpe_learn(docs: DataFrame,
              n_merges: int = BPE_LEARN_MERGES) -> DataFrame:
    """Greedy BPE tokenizer TRAINING on the corpus — the learning
    complement of ``bpe_tokenize``'s fixed-table apply.  Returns the
    learned merge table (merge_no, a, b, pair_count), ``pair_count`` the
    adjacent-position frequency that won round ``merge_no``.

    Entirely in-plan — the argmax never touches the driver: each round is
      1. pair counts over the current tokenization (_bpe_pair_counts:
         explode + one map-side-combinable hash agg),
      2. top-1 via orderBy(count DESC, pair).limit(1) — compiled to
         TakeOrderedAndProject (per-partition top-1, no global sort),
      3. state update: LEFT broadcast join of the 1-row winner against
         the corpus + a single column-arg REPLACE.  COALESCE to a CHR(1)
         pattern (never present in sentinel strings) makes the empty-
         winner case (corpus fully merged) a no-op instead of wiping the
         corpus through an inner cross join.
    Tokenization state is the sentinel string of bpe_chain_sql — merges
    stay correct under plain REPLACE for the reasons documented there.
    Each round's state and winner are eager localCheckpoints (the round
    state of every fixpoint operator), so round k's plan reads them flat
    instead of recomputing rounds 1..k-1.

    100 TB: per round = one corpus scan + agg (combiner-backed) and one
    broadcast join; K rounds = K passes.  Production tokenizer training
    runs on a sample — compose with deterministic_sample(docs) upstream;
    the learned table then drives bpe_tokenize over the full corpus.
    """
    state = (_spread(docs)
             .select("doc_id", F.expr(_sentinel_sql("text")).alias("s"))
             .localCheckpoint())
    upd = ("REPLACE(s, COALESCE(CONCAT('|', a, '||', b, '|'), CHR(1)), "
           "COALESCE(CONCAT('|', a, b, '|'), ''))")
    bests = []
    for k in range(1, n_merges + 1):
        best = (_bpe_pair_counts(state)
                .orderBy(F.desc("pair_count"), "pair").limit(1)
                .select(F.lit(k).alias("merge_no"),
                        F.expr("SPLIT_PART(pair, CHR(2), 1)").alias("a"),
                        F.expr("SPLIT_PART(pair, CHR(2), 2)").alias("b"),
                        "pair_count")
                .localCheckpoint())
        bests.append(best)
        if k < n_merges:
            state = (state
                     .join(F.broadcast(best.select("a", "b")),
                           F.lit(True), "left")
                     .select("doc_id", F.expr(upd).alias("s"))
                     .localCheckpoint())
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def ccnet_buckets(docs: DataFrame, ref: DataFrame,
                  scale: int = LM_SCALE, n_q: int = 4096) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020 §4.3): score
    every document against a trusted-reference LM, then cut each language
    into thirds by score so a mixing recipe can oversample the fluent
    'head'.  The LM score is ``lm_fluency``'s engine-exact fixed-point
    mean-bigram-probability; the per-document key is its QUANTIZED mean

        qscore = (score_fx DIV n_bigrams) DIV (scale DIV n_q)  in [0, n_q]

    (two integer divisions — exact on both engines, no overflow: the mean
    is <= scale = 1e12 before the second divide).

    Thirds are THRESHOLDS on qscore, not row-number terciles: per lang we
    build the (lang, qscore) histogram — a BOUNDED relation of at most
    (n_q + 1) rows per language — take the running sum over that
    histogram, and pick t1/t2 = the smallest qscore whose cumulative
    count reaches n/3 and 2n/3 (integer cross-multiplication, no
    division).  Every doc with equal qscore lands in the same bucket, so
    the split is deterministic at any parallelism; tie-heavy languages
    spill whole score-classes into the lower bucket (CCNet's own
    threshold semantics).  Docs with no bigrams score 0 -> 'tail'.

    Scale shape: the only per-document window-free passes are one
    doc_id-grain equi-join (narrow columns: lang joins the score) and two
    map-side-combinable hash aggs; the ONLY window runs over the bounded
    histogram (<= n_q + 1 rows per lang), never over documents — the
    dedup_clusters cluster_size lesson (VERDICT r4 #1) applied from the
    start.  Thresholds are one row per language, broadcast back.

    Output: (doc_id, lang, n_bigrams, qscore, bucket)."""
    import weakref

    from .spatial import _safe_unpersist
    assert scale % n_q == 0, (scale, n_q)
    sc = lm_fluency(docs, ref, scale=scale)
    scored = (docs.select("doc_id", "lang")
              .join(sc, "doc_id")
              .select("doc_id", "lang", "n_bigrams", F.expr(
                  f"CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT) "
                  f"ELSE (score_fx DIV n_bigrams) DIV {scale // n_q} END")
                  .alias("qscore"))
              .persist())  # feeds the histogram AND the final labeling
    hist = (scored.groupBy("lang", "qscore")
            .agg(F.count("*").cast("long").alias("c")))
    tot = hist.groupBy("lang").agg(F.sum("c").alias("n"))
    cum = (hist.join(F.broadcast(tot), "lang")
           .withColumn("cum", F.expr(
               "SUM(c) OVER (PARTITION BY lang ORDER BY qscore "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")))
    thr = cum.groupBy("lang").agg(
        F.min(F.when(F.expr("cum * 3 >= n"), F.col("qscore"))).alias("t1"),
        F.min(F.when(F.expr("cum * 3 >= 2 * n"), F.col("qscore"))).alias("t2"))
    result = (scored.join(F.broadcast(thr), "lang")
              .select("doc_id", "lang", "n_bigrams", "qscore",
                      F.expr("CASE WHEN qscore <= t1 THEN 'tail' "
                             "WHEN qscore <= t2 THEN 'middle' "
                             "ELSE 'head' END").alias("bucket")))
    weakref.finalize(result, _safe_unpersist, scored)
    return result


def url_filter(pages: DataFrame, blocklist: DataFrame,
               bad_words: list[str] | None = None,
               max_bad: int = 2) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1): drop
    pages whose domain sits on a curated blocklist (UT1-class, millions
    of domains) or whose URL accumulates too many banned substrings.

    ``blocklist`` is a relation with one ``domain`` column — at UT1 size
    it is still ~100 MB, firmly broadcastable, so the check is a
    broadcast LEFT join marking hits (never a shuffle of the page side).
    ``bad_words`` scoring is exact substring occurrence counting,

        n_w = (LENGTH(url) - LENGTH(REPLACE(url, w, ''))) / LENGTH(w)

    an integer identity both engines compute bit-identically (no regex
    dialect risk).  The domain key is the lowercased authority from the
    ``url_dedup`` extraction template (scheme stripped).

    keep = domain not blocked AND total bad-word occurrences <= max_bad.
    Output: (url, domain, blocked, n_bad_words, keep) — one codegen
    projection + one broadcast join, zero shuffles of the page side."""
    bad_words = ["casino", "xxx"] if bad_words is None else bad_words
    host = "REGEXP_EXTRACT(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)"
    domain = (f"LOWER(REGEXP_REPLACE({host}, "
              f"'^[A-Za-z][A-Za-z0-9+.-]*://', ''))")
    counts = [
        f"((LENGTH(url) - LENGTH(REPLACE(url, '{w}', ''))) DIV {len(w)})"
        for w in bad_words]
    n_bad = "CAST(" + (" + ".join(counts) if counts else "0") + " AS BIGINT)"
    marked = (pages
              .select("url", F.expr(domain).alias("domain"),
                      F.expr(n_bad).alias("n_bad_words"))
              .join(F.broadcast(blocklist.select(
                  F.col("domain").alias("_bd"),
                  F.lit(True).alias("_hit"))),
                  F.col("domain") == F.col("_bd"), "left"))
    return marked.select(
        "url", "domain",
        F.coalesce("_hit", F.lit(False)).alias("blocked"),
        "n_bad_words",
        F.expr(f"COALESCE(_hit, FALSE) = FALSE AND "
               f"n_bad_words <= {int(max_bad)}").alias("keep"))


def dsir_sample(docs: DataFrame, target: DataFrame, k: int = 100,
                n_buckets: int = DSIR_BUCKETS,
                scale: int = DSIR_SCALE) -> DataFrame:
    """DSIR's RESAMPLING step (Xie et al. 2023 §2: importance
    resampling; the apply complement of ``dsir_weights``): select k
    candidate documents with inclusion tendency proportional to their
    importance weight, deterministically.

    The sampler is priority sampling (Duffield, Lund & Thorup 2007):
    each doc gets priority w / u with u a uniform on {1..1000003} — here
    a polynomial hash of doc_id, so the "randomness" is a fixed,
    replayable function of the data (the deterministic_sample
    discipline; DSIR's Gumbel-top-k needs LN, the libm hazard, while
    priority sampling needs one exact-rounded divide).  w = score_fx + 1
    keeps zero-weight docs sampleable at the floor rate.  Top-k by
    priority is a global argmax family — Spark compiles the
    orderBy+limit to TakeOrderedAndProject (per-partition top-k + a
    k-row driver merge, never a full sort; the bpe_learn argmax shape),
    so at 100 TB the only full pass is the weight computation itself.
    Ties break by doc_id ascending: the selected SET is deterministic
    at any parallelism and bit-identical in the DuckDB twin.

    Output: (doc_id, score_fx, u, pr_r6) for the k selected docs —
    u is surfaced so an auditor can recompute every priority."""
    w = dsir_weights(docs, target, n_buckets=n_buckets, scale=scale)
    u = (f"(({sqlfns.polyhash_spark('CAST(doc_id AS STRING)')}) "
         f"% 1000003) + 1")
    return (w.selectExpr("doc_id", "score_fx", f"{u} AS u")
            .selectExpr("doc_id", "score_fx", "u",
                        "CAST(score_fx + 1 AS DOUBLE) / CAST(u AS DOUBLE)"
                        " AS pr")
            .orderBy(F.desc("pr"), F.asc("doc_id")).limit(k)
            .select("doc_id", "score_fx", "u",
                    F.round("pr", 6).alias("pr_r6")))

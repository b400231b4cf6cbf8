"""Text analysis for LLM training-data pipelines (SURVEY.md §2 B.9 +
north-star extensions): per-language stats, quality scoring, token
counting, language-ID heuristic, document fingerprinting.

Everything is built-in expression work — regexp/split/length/hash run
inside whole-stage codegen, so at 100 TB these are pure map-side
columns appended during a single scan, shuffling only the final
per-group aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import docs, query, read_staged, staging_dir, t


@query(
    "text_stats",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (char/token counts)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars") / F.count("*").cast("double"), 6).alias("avg_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_lang_filter",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    """,
)
def text_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language slice + per-source aggregate."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "text_quality_score",
    """
    SELECT doc_id,
           n_tokens,
           ROUND(avg_token_len, 6) AS avg_token_len,
           ROUND(stopword_ratio, 6) AS stopword_ratio,
           ROUND(short_doc_penalty * 0.4 + stopword_ratio * 0.6, 6) AS quality_score
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1.0
                  ELSE len(string_split(text, ' ')) / 50.0 END AS short_doc_penalty
      FROM documents
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token length, stopword ratio, length
    penalty — the classic pre-training filter features."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_tok = F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "to"))).cast("double")
        / n_tokens
    )
    short_pen = F.when(n_tokens >= 50, F.lit(1.0)).otherwise(n_tokens / F.lit(50.0))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(short_pen * 0.4 + stop_ratio * 0.6, 6).alias("quality_score"),
    )


@query(
    "text_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_estimate_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex word/number/
    punct pieces, and the chars/4 estimate."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("byte_estimate_tokens"),
    )


@query(
    "text_langid_ngram",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, 'th|he|in|er|an')) AS s_en,
             len(regexp_extract_all(text, 'en|er|ch|de|ei')) AS s_de,
             len(regexp_extract_all(text, 'de|es|en|el|la')) AS s_es
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS predicted,
           s_en, s_de, s_es
    FROM scored
    """,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-ID heuristic: count signature bigrams
    per language, argmax with deterministic tie-break order.

    (The fixture corpus shares one vocabulary across langs, so accuracy
    is meaningless here — the operator exercises the scoring plumbing.)
    """
    d = t(spark, sf_dir, "documents")
    s_en = F.size(F.regexp_extract_all("text", F.lit("th|he|in|er|an"), 0))
    s_de = F.size(F.regexp_extract_all("text", F.lit("en|er|ch|de|ei"), 0))
    s_es = F.size(F.regexp_extract_all("text", F.lit("de|es|en|el|la"), 0))
    df = d.select("doc_id", "lang", s_en.alias("s_en"), s_de.alias("s_de"), s_es.alias("s_es"))
    return df.select(
        "doc_id",
        "lang",
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")), "en")
        .when(F.col("s_de") >= F.col("s_es"), "de")
        .otherwise("es")
        .alias("predicted"),
        "s_en",
        "s_de",
        "s_es",
    )


@query(
    "text_fingerprint",
    """
    WITH sh AS (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+3], ' ')
                     FOR i IN range(1, greatest(len(toks)-3, 1) + 1)]) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id,
           min(md5(shingle)) AS fingerprint,
           count(DISTINCT shingle) AS n_shingles
    FROM sh
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum md5 over 4-gram shingles (the
    1-hash MinHash / winnowing primitive, engine-portable via md5).

    Both aggregates are row-local — the shingle array is derived from
    the row's own text — so this is a pure map-side projection
    (array_min over transform, size over array_distinct): zero explode,
    zero shuffle, whole-stage codegen end to end.  At 100 TB this runs
    at scan speed with no exchange at all."""
    from ..operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    sh = shingles(F.col("text"), 4)
    return d.select(
        "doc_id",
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_shingles"),
    )


@query(
    "text_lm_quality",
    """
    WITH bg AS (
      SELECT doc_id, pr.w1, pr.w2 FROM (
        SELECT doc_id,
               unnest([{'w1': toks[i], 'w2': toks[i+1]}
                       FOR i IN range(1, len(toks))]) AS pr
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    bi  AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
    scored AS (
      SELECT bg.doc_id,
             CAST(ln(bi.c2 * 1.0 / uni.c1) AS DECIMAL(20,12)) AS lp
      FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
    )
    SELECT doc_id,
           CAST(ROUND(CAST(SUM(lp) AS DOUBLE) / count(*), 6) AS DOUBLE)
             AS avg_logprob,
           count(*) AS n_bigrams
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: a bigram LM is estimated from
    the corpus itself (c(w1,w2)/c(w1)) and every doc is scored by its
    average bigram log-probability — the KenLM-style quality filter of
    LLM data pipelines, expressed entirely in relational ops.

    Float-parity design: ln() of identical doubles may differ by an
    ulp across engines, so each log-prob is cast to DECIMAL(20,12)
    before the per-doc sum — the cast absorbs ulp drift, decimal
    addition is order-independent, and the final 6-dp rounding of the
    average is then bit-stable on both sides.

    Scale shape: occurrences collapse FIRST into per-doc bigram
    counts (one partial-aggregated shuffle over the exploded stream —
    the only pass that touches full occurrence volume); the model
    (c2, then c1 = Σ_w2 c2) and the scoring join all run over that
    much smaller distinct-per-doc relation, which is persisted so the
    explode subtree executes exactly once.  Identical answers: every
    occurrence of (doc, w1, w2) has the same log-prob, and n is cast
    to DECIMAL(8,0) before the multiply so the product type is
    DECIMAL(29,12) — exact at scale 12 (a bare decimal(20,12)×bigint
    would widen to decimal(38,9) and silently round each term at 9dp),
    hence n·lp_dec == Σ lp_dec over occurrences bit-for-bit.
    Zipf-skewed join keys are handled by AQE skew-join.  No UDFs,
    no driver state — the 'LM' is a DataFrame.
    """
    d = docs(spark, sf_dir)
    toks = F.split("text", " ")
    # Bigrams via zip_with over two slices of the token array: each
    # element binds (t_i, t_{i+1}) directly.  The element_at(toks, i)
    # formulation re-evaluated the split per element inside the
    # interpreted lambda — measured 5x slower at equal parallelism
    # (42s serial on the fixture's single input split).  A 1-token doc
    # yields empty slices, hence no pairs — exactly DuckDB's
    # end-exclusive range semantics.
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = d.select("doc_id", F.explode(pairs).alias("pr")).select(
        "doc_id", "pr.w1", "pr.w2"
    )
    # The per-doc bigram table is a pure function of the corpus — the
    # LM training pipeline's materialized count state — so it is a
    # STAGED fingerprint-gated layout (upgraded from an eager
    # localCheckpoint: same materialization boundary, plus steady-state
    # scoring skips the explode pass entirely and a regenerated
    # fixture rebuilds via the gate).
    from ..core import source_fingerprint, staged_build

    docbg_path = staging_dir(sf_dir, "lm_docbg_v1")
    token = source_fingerprint(sf_dir, "documents")
    with staged_build(spark, token, docbg_path) as need:
        if need:
            from ..core import staged_file_width

            (
                bg.groupBy("doc_id", "w1", "w2")
                .agg(F.count("*").alias("n"))
                # r17 (guide §6): size the staged per-doc bigram table
                # like the other staged artifacts (was AQE-default file
                # count)
                .repartition(staged_file_width(sf_dir, "documents"))
                .write.mode("overwrite")
                .parquet(docbg_path)
            )
    docbg = read_staged(spark, docbg_path)
    bi = docbg.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
    # unigram counts roll up from the bigram table (c1 = Σ_w2 c2):
    # one fewer pass over the bigram stream, and the rollup input is
    # already partitioned by (w1, w2).
    uni = bi.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        docbg.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .select(
            "doc_id",
            F.col("n"),
            F.log(F.col("c2") * F.lit(1.0) / F.col("c1"))
            .cast("decimal(20,12)")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            (F.sum(F.col("lp") * F.col("n").cast("decimal(8,0)"))).cast(
                "double"
            )
            / F.sum("n"),
            6,
        ).alias("avg_logprob"),
        F.sum("n").alias("n_bigrams"),
    )


@query(
    "text_repetition_filter",
    """
    WITH g AS (
      SELECT doc_id,
             [array_to_string(toks[i:i+1], ' ')
              FOR i IN range(1, greatest(len(toks)-1, 1) + 1)] AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    st AS (
      SELECT doc_id,
        len(grams) AS n_grams,
        list_max([len(list_filter(grams, y -> y = x))
                  FOR x IN list_distinct(grams)]) AS topc,
        list_sum([CASE WHEN len(list_filter(grams, y -> y = x)) > 1
                       THEN len(list_filter(grams, y -> y = x)) ELSE 0 END
                  FOR x IN list_distinct(grams)]) AS dupc
      FROM g
    )
    SELECT doc_id,
           n_grams,
           ROUND(topc * 1.0 / n_grams, 6) AS top_gram_frac,
           ROUND(dupc * 1.0 / n_grams, 6) AS dup_gram_frac,
           (topc * 1.0 / n_grams <= 0.1 AND dupc * 1.0 / n_grams <= 0.15)
             AS keep
    FROM st
    ORDER BY doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality filter: the
    fraction of 2-gram occurrences taken by the single most frequent
    2-gram (``top_gram_frac``) and by all repeated 2-grams
    (``dup_gram_frac``); docs above either cutoff are template/boilerplate
    suspects (Rae et al. 2021 use the same signals at 2-4 grams).

    Scale shape: repetition is a doc-LOCAL property, so the natural
    plan is explode -> count per (doc, gram) -> reduce per doc: both
    aggregates partial-aggregate map-side (each doc's grams live in
    one input row, hence one partition), so the exchanges move ~#docs
    rows, never gram volume.  (A literally shuffle-free formulation
    via nested higher-order functions — count = size(filter(grams,
    y -> y = x)) per distinct x — was measured 20x slower: HOF lambdas
    evaluate interpreted, outside codegen, and the nesting is
    O(distinct-grams x grams) per doc.  The codegen'd hash aggregate
    wins decisively; kept here as the cautionary note.)
    """
    from ..operators.dedup import shingles

    d = docs(spark, sf_dir)
    per_gram = (
        d.select("doc_id", F.explode(shingles(F.col("text"), 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    st = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("topc"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dupc"),
    )
    top_frac = F.col("topc") * F.lit(1.0) / F.col("n_grams")
    dup_frac = F.col("dupc") * F.lit(1.0) / F.col("n_grams")
    return st.select(
        "doc_id",
        "n_grams",
        F.round(top_frac, 6).alias("top_gram_frac"),
        F.round(dup_frac, 6).alias("dup_gram_frac"),
        ((top_frac <= 0.1) & (dup_frac <= 0.15)).alias("keep"),
    ).orderBy("doc_id")


def boiler_shingle_layouts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Staged corpus 3-gram state shared by ``text_boilerplate_ratio``
    and ``corpus_quality_pipeline``: the per-doc DISTINCT 3-gram
    relation and its corpus document-frequency vocabulary — both pure
    functions of the corpus (the boilerplate index a curation pipeline
    maintains), fingerprint-gated like the other staged indexes.
    Returns ``(sh, dfreq)``."""
    from ..core import source_fingerprint, staged_build
    from ..operators.dedup import shingles

    sh_path = staging_dir(sf_dir, "boiler_sh3_v1")
    df_path = staging_dir(sf_dir, "boiler_df3_v1")
    token = source_fingerprint(sf_dir, "documents")
    with staged_build(spark, token, sh_path, df_path) as need:
        if need:
            from ..core import staged_file_width

            width = staged_file_width(sf_dir, "documents")
            d = docs(spark, sf_dir)
            (
                d.select(
                    "doc_id",
                    F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias(
                        "shingle"
                    ),
                )
                # repartition, not coalesce (r17, ADVICE fix): keeps
                # the map-side shingle explode parallel; only the
                # output lands as `width` files
                .repartition(width)
                .write.mode("overwrite")
                .parquet(sh_path)
            )
            (
                spark.read.parquet(sh_path)
                .groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .repartition(width)
                .write.mode("overwrite")
                .parquet(df_path)
            )
    return read_staged(spark, sh_path), read_staged(spark, df_path)


@query(
    "text_boilerplate_ratio",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(toks[i:i+2], ' ')
                       FOR i IN range(1, greatest(len(toks)-2, 1) + 1)]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(SUM(CASE WHEN freq.df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           ROUND(CAST(SUM(CASE WHEN freq.df >= 10 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS boiler_ratio,
           (2 * SUM(CASE WHEN freq.df >= 10 THEN 1 ELSE 0 END) <= count(*)) AS keep
    FROM sh JOIN freq USING (shingle)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate filter (the cross-document complement
    of text_repetition_filter's within-document check): a doc whose
    distinct 3-grams are mostly CORPUS-FREQUENT (document frequency >=
    10 docs) is template/boilerplate-heavy — headers, nav bars, license
    blocks — and gets dropped by RefinedWeb/CCNet-style curation.

    Plan shape: one explode of per-doc DISTINCT 3-grams (no shuffle —
    array_distinct runs before the explode), one groupBy(shingle) for
    document frequency, one join back on shingle (reusing the same
    hash partitioning Catalyst already planned for the groupBy), one
    per-doc aggregate.  At 100 TB the frequent-gram set (df >= K) is
    tiny relative to the corpus and ships as a broadcast/bloom filter
    instead of the join-back; the keep rule is integer-exact
    (2*n_boiler <= n_grams), never a float ratio compare.
    """
    sh, dfreq = boiler_shingle_layouts(spark, sf_dir)
    joined = sh.join(dfreq, "shingle")
    boiler = F.sum(F.when(F.col("df") >= 10, 1).otherwise(0))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            boiler.alias("n_boiler"),
            F.round(boiler.cast("double") / F.count("*"), 6).alias("boiler_ratio"),
            (2 * boiler <= F.count("*")).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_entropy",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tc AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             SUM(CAST(c AS DECIMAL(8,0)) * CAST(ln(c) AS DECIMAL(20,12)))
               AS sum_clnc
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(ROUND(CAST(CAST(ln(n_tokens) AS DECIMAL(20,12)) AS DOUBLE)
                      - CAST(sum_clnc AS DOUBLE) / n_tokens, 6) AS DOUBLE)
             AS entropy_nats
    FROM agg ORDER BY doc_id
    """,
)
def text_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats):
    ``H = ln(n) − Σ c·ln(c) / n`` over the doc's unigram counts — the
    lexical-diversity quality signal (machine-generated spam and
    keyword-stuffed pages score low; natural prose scores near the
    corpus ceiling), sitting between text_repetition_filter's n-gram
    fractions and text_lm_quality's corpus-model score in the quality
    stack.

    Float-parity design (the text_lm_quality idiom): each ln() is
    cast to DECIMAL(20,12) — absorbing cross-engine ulp drift — and
    c is cast to DECIMAL(8,0) before the multiply so the per-term
    product is exact at scale 12; the per-doc sum is then
    order-independent decimal addition, and only the final
    single-divide-and-subtract runs in IEEE doubles (identical
    operands → identical result), rounded to 6 dp.

    Scale shape: the exploded token stream partial-aggregates
    map-side into per-(doc, token) counts — the one corpus-volume
    exchange, keyed by doc_id so the per-doc rollup that follows
    reuses the same partitioning — and the output is one row per
    document.  No UDFs, no iteration.
    """
    d = docs(spark, sf_dir)
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(
            F.col("c").cast("decimal(8,0)")
            * F.log(F.col("c").cast("double")).cast("decimal(20,12)")
        ).alias("sum_clnc"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log(F.col("n_tokens").cast("double")).cast("decimal(20,12)").cast("double")
            - F.col("sum_clnc").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy_nats"),
    ).orderBy("doc_id")


_FEATURE_HASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 200
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 1))::INT % 16 AS INT) AS bucket
  FROM toks
),
m AS (
  SELECT doc_id, bucket, COUNT(*) AS n FROM b GROUP BY doc_id, bucket
),
v AS (
  SELECT doc_id,
         list(bucket ORDER BY bucket) AS bks,
         list(n ORDER BY bucket) AS ns,
         CAST(SUM(n) AS BIGINT) AS n_tokens
  FROM m GROUP BY doc_id
)
SELECT doc_id,
       array_to_string(
         [COALESCE(ns[list_position(bks, i)], 0) FOR i IN range(0, 16)], ',')
         AS features,
       n_tokens
FROM v
ORDER BY doc_id
"""


@query("text_feature_hashing", _FEATURE_HASH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09): fixed-width
    hashed bag-of-words feature vectors — the no-vocabulary
    featurization a training pipeline uses when the token space is
    unbounded (16 buckets here; production uses 2^18+, same plan).

    Scale shape: ENTIRELY map-side — the bucket of each token and the
    per-bucket counts are computed inside the row's own token array
    with higher-order functions (transform + aggregate over a count
    accumulator), so feature extraction runs at scan speed with ZERO
    exchange; contrast vocabulary-based featurization (tfidf_top_terms)
    whose dictionary needs a corpus rollup.  The output array is the
    dense feature row a trainer consumes column-wise.

    Portable hash: bucket = first md5 nibble mod 16, identical
    literals on both engines (the same no-stored-model discipline as
    the portable LSH planes), so every count is value-checked.

    The feature vector ships as a comma-joined digit string (the
    agg_collect convention): the driver's canonicalizer is a pandas
    ``sort_values`` over all columns, and ndarray cells are unhashable
    there (r9 driver-err) — a delimited string is equally
    deterministic and stays hashable.  The array-typed variant is the
    internal form; tests exercise it directly.
    """
    n_buckets = 16
    d = docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    # Hash each token ONCE up front (transform -> small int array),
    # then run the 16 counting folds over the int array: the naive
    # form evaluated md5 inside every per-bucket fold — 16 digests
    # per token — where one suffices.  The folds over ints are
    # codegen'd integer compares, ~free next to the digest.
    bucket = lambda t: F.conv(F.substring(F.md5(t), 1, 1), 16, 10).cast("int") % n_buckets  # noqa: E731
    toks_b = F.transform(toks, bucket)

    # closure factory, NOT a default-arg lambda: `lambda acc, t, i=i`
    # parses as Spark's THREE-arg (acc, element, index) merge lambda
    # and fails analysis (same trap as dedup._minhash)
    def _count_bucket(i: int):
        return lambda acc, b: acc + F.when(b == F.lit(i), 1).otherwise(
            0
        ).cast("bigint")

    counts = F.array(
        *[
            F.aggregate(toks_b, F.lit(0).cast("bigint"), _count_bucket(i))
            for i in range(n_buckets)
        ]
    )
    return (
        d.select(
            "doc_id",
            F.array_join(
                F.transform(counts, lambda c: c.cast("string")), ","
            ).alias("features"),
            F.size(toks).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )

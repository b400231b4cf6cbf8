"""Keyword search over the documents corpus: BM25 ranking via an
inverted-index-shaped plan (SURVEY.md §2 B.9 family — retrieval is the
query-side twin of the dedup/similarity curation ops, and the lexical
half of a RAG stack next to sim_topk_* / text_chunk_overlap).

Scale notes: the plan IS the inverted index — the exploded token
stream is filtered to query terms BEFORE any exchange (predicate on
the generator output, so the posting lists are built only for the
terms asked about), per-(term, doc) term frequencies partial-aggregate
map-side, and the per-term document frequencies + corpus length stats
are control-plane-sized relations that broadcast.  At 100 TB the
posting lists for a handful of query terms are a vanishing fraction of
the corpus; the only full-corpus pass is the one scan that feeds both
the doc-length projection and the filtered explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import docs, query, staging_dir, t

_BM25_TERMS = ("vector", "stream", "window")
_BM25_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token IN ('vector', 'stream', 'window')
  GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         CAST(
           ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl))
           AS DECIMAL(20,12)) AS s
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
ranked AS (
  SELECT doc_id,
         CAST(ROUND(CAST(SUM(s) AS DOUBLE), 6) AS DOUBLE) AS score,
         count(*) AS n_terms_hit
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score, n_terms_hit,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
FROM ranked
ORDER BY rnk
LIMIT 20
"""



def _bm25_index(spark: SparkSession, sf_dir: str):
    """The staged inverted index both search keys read: full-vocabulary
    posting lists (token, doc_id, tf), per-token document frequencies,
    per-doc lengths, and the corpus stats scalars — all pure functions
    of the corpus, maintained fingerprint-gated exactly as a production
    retrieval deployment maintains its Lucene-shaped index (the
    minhash/PPJoin/IVF staging discipline).  Steady-state queries read
    posting lists for their terms (a pushed-down token filter over the
    token-range-partitioned layout — rowgroup skipping stands in for
    the 100-TB partitionBy(token-bucket) directory probe) instead of
    re-exploding the corpus.  Returns (tf, dfr, dl, n_docs, sum_dl)
    with the stats as PYTHON INTS (they re-enter the plan as
    constant-folded literals — identical IEEE operands to the
    crossJoin form they replace).
    """
    import json as _json

    from ..core import read_staged, source_fingerprint, staged_build

    tf_path, df_path, dl_path = (
        staging_dir(sf_dir, "bm25_tf_v1"),
        staging_dir(sf_dir, "bm25_df_v1"),
        staging_dir(sf_dir, "bm25_dl_v1"),
    )
    token = source_fingerprint(sf_dir, "documents")
    with staged_build(spark, token, tf_path, df_path, dl_path) as need:
        if need:
            d = docs(spark, sf_dir)
            toks = F.split("text", " ")
            dl_b = d.select("doc_id", F.size(toks).alias("dl"))
            tf_b = (
                d.select("doc_id", F.explode(toks).alias("token"))
                .groupBy("doc_id", "token")
                .agg(F.count("*").alias("tf"))
            )
            from ..core import staged_file_width

            width = staged_file_width(sf_dir, "documents")
            # r17 (guide §6, VERDICT item 7): the postings' range-
            # partition count is now source-size-derived like every
            # other staged artifact (was a constant 8) — one token-
            # sorted ~128 MB file per 128 MB of source at any scale,
            # so token-range file pruning keeps working at 100 TB
            # while the fixture stops paying 8 near-empty file opens.
            (
                tf_b.repartitionByRange(width, "token")
                .sortWithinPartitions("token")
                .write.mode("overwrite")
                .parquet(tf_path)
            )
            # df derives from the STORED postings (one vocab-sized agg at
            # build; steady state broadcasts the table)
            (
                spark.read.parquet(tf_path)
                .groupBy("token")
                .agg(F.count("*").alias("df"))
                .repartition(width)
                .write.mode("overwrite")
                .parquet(df_path)
            )
            # repartition, not coalesce (r17, ADVICE fix): keeps the
            # map-side tokenize+size pass parallel
            dl_b.repartition(width).write.mode("overwrite").parquet(dl_path)
            stats = dl_b.agg(
                F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
            ).first()
            with open(f"{dl_path}/_SG_META", "w") as fh:
                _json.dump(
                    {"n_docs": int(stats["n_docs"]), "sum_dl": int(stats["sum_dl"])}, fh
                )
    with open(f"{dl_path}/_SG_META") as fh:
        meta = _json.load(fh)
    return (
        read_staged(spark, tf_path),
        read_staged(spark, df_path),
        read_staged(spark, dl_path),
        meta["n_docs"],
        meta["sum_dl"],
    )


@query("search_bm25", _BM25_SQL)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: rank documents for a fixed query
    ('vector stream window'), k1=1.2, b=0.75, Lucene-style
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf (always positive, so
    corpus-frequent terms still contribute).

    Float-parity design: every input to the score is an integer
    (tf, dl, df, N, Σdl), the double arithmetic is the SAME expression
    tree on both engines (IEEE ops on identical operands are
    bit-identical), and the one transcendental — ln — is absorbed by a
    DECIMAL(20,12) cast per (doc, term) before the per-doc sum, so an
    engine ulp can't surface (the text_lm_quality pattern).  The
    decimal sum is order-independent; the final 6-dp rounding and the
    (score, doc_id) ranking are then bit-stable.

    Scale shape: see module docstring — query terms filter the
    exploded stream before any exchange (the posting-list build), the
    per-term df/idf table broadcasts, and the doc-length side rides
    the same corpus scan.  Top-k is a single window over the scored
    docs (bounded by docs containing ≥1 query term).
    """
    tf_all, df_all, dl, n_docs_i, sum_dl_i = _bm25_index(spark, sf_dir)
    # Posting-list read: the token filter pushes into the staged
    # parquet (sorted-by-token layout -> rowgroup skipping); df rows
    # for the query terms broadcast; the corpus stats are constant-
    # folded literals — identical IEEE operands to the crossJoin form.
    tf = tf_all.filter(F.col("token").isin(*_BM25_TERMS))
    df_t = df_all.filter(F.col("token").isin(*_BM25_TERMS))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .withColumn("n_docs", F.lit(n_docs_i))
        .withColumn("sum_dl", F.lit(sum_dl_i))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
                    )
                )
            )
            .cast("decimal(20,12)")
            .alias("s"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.round(F.sum("s").cast("double"), 6).alias("score"),
        F.count("*").alias("n_terms_hit"),
    )
    # Top-k via sort+limit FIRST (TakeOrderedAndProject: per-partition
    # partial top-20, no global-sort exchange), then rank the <=20
    # survivors — the (score, doc_id) order is total, so the kept set
    # and ranks are identical to a global row_number; the window's
    # single task now sees 20 rows instead of every scoring doc (the
    # sort_multi_nulls / vocab_topk shape; guide §2.4).
    top = ranked.orderBy(F.col("score").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        top.select(
            "doc_id", "score", "n_terms_hit", F.row_number().over(w).cast("long").alias("rnk")
        )
        .orderBy("rnk")
    )


_RRF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token IN ('vector', 'stream', 'window')
  GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
),
bm25 AS (
  SELECT tf.doc_id,
         CAST(ROUND(CAST(SUM(CAST(
           ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl))
           AS DECIMAL(20,12))) AS DOUBLE), 6) AS DOUBLE) AS score
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk_lex
  FROM bm25
  QUALIFY rnk_lex <= 20
),
e AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
),
qv AS (SELECT v AS q_vec FROM e WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY ROUND(list_cosine_similarity(qv.q_vec, e.v), 6) DESC,
                    e.vec_id) AS rnk_vec
  FROM e CROSS JOIN qv
  WHERE e.vec_id <> 0
  QUALIFY rnk_vec <= 20
)
SELECT doc_id,
       CAST(rnk_lex AS BIGINT) AS rnk_lex,
       CAST(rnk_vec AS BIGINT) AS rnk_vec,
       COALESCE(1000000000 // (60 + rnk_lex), 0)
         + COALESCE(1000000000 // (60 + rnk_vec), 0) AS rrf_ppb
FROM lex FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf_ppb DESC, doc_id
LIMIT 10
"""


@query("search_hybrid_rrf", _RRF_SQL)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the BM25 lexical
    top-20 and the exact-cosine vector top-20 (query = embedding 0,
    vec_id keying the same corpus ids) fused with
    ``RRF(d) = Σ_arms 1/(60 + rank_arm(d))`` — the standard
    lexical+semantic blend of a RAG retrieval stack (k=60 per the
    original RRF paper).

    Float-parity design: each arm's ranking is already
    engine-deterministic (rounded score + id tiebreak, the
    search_bm25 / sim_topk_bruteforce contracts); the fusion score is
    pure integer arithmetic — parts-per-billion contributions via
    exact integral division — so fused order is bit-stable.

    Scale shape: each arm ends in a bounded top-k (20 rows) — the
    fusion is a full outer join of two CONTROL-PLANE-sized rank lists,
    nothing corpus-sized flows past the per-arm retrieval.  The arms
    themselves carry the scale discipline (posting-list filter for
    BM25; at 100 TB the vector arm swaps in the IVF/PQ probes of
    sim_topk_ivfpq — any ranked retriever slots into the fusion).
    """
    lex = (
        search_bm25(spark, sf_dir)
        .select("doc_id", F.col("rnk").alias("rnk_lex"))
    )
    from .similarity import as_double, cosine

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("q_vec"))
    # Same top-k discipline as the lexical arm: score map-side, keep
    # the top 20 via sort+limit (TakeOrderedAndProject — per-partition
    # partial top-k, no corpus-wide single-task window), then rank the
    # 20 survivors.  (cs desc, doc_id) is a total order, so the kept
    # set and ranks match the previous global row_number exactly.
    vec_scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("q_vec"), F.col("v")), 6).alias("cs"),
        )
    )
    vec_top = vec_scored.orderBy(F.col("cs").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("cs").desc(), "doc_id")
    vec = vec_top.select("doc_id", F.row_number().over(w).alias("rnk_vec"))
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("rnk_lex").cast("long").alias("rnk_lex"),
            F.col("rnk_vec").cast("long").alias("rnk_vec"),
            (
                F.coalesce(F.expr("1000000000 div (60 + rnk_lex)"), F.lit(0))
                + F.coalesce(F.expr("1000000000 div (60 + rnk_vec)"), F.lit(0))
            ).alias("rrf_ppb"),
        )
        .orderBy(F.col("rrf_ppb").desc(), "doc_id")
        .limit(10)
    )
    return fused

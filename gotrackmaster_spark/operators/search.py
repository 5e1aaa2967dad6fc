"""Full-text relevance ranking over the caption/document corpus — the
retrieval leg of a training-data pipeline (query expansion, dedup
against a benchmark, corpus search).

`bm25_scores` is Okapi BM25 with EXACT-INTEGER arithmetic: float BM25
(ln-idf, float division) ranks identically on paper but its near-tie
order is engine- and accumulation-order-dependent, so the scores here
are integer-quantized — the `tile_top_terms` convention:

- idf_q(t)   = ((N − df)·QUANT) DIV df      (rational idf, no ln)
- term score = (idf_q·tf·44·T) DIV (20·T·tf + 6·T + 18·len·N)

which is idf_q · tf·(k1+1) / (tf + k1·(1−b) + k1·b·len·N/T) with
k1 = 6/5, b = 3/4 multiplied through by 20·T — every operand an exact
int64, every division a DIV.  Scores are Σ of per-term int64 quotients,
so ranking (score DESC, doc_id) is bit-deterministic in any engine.

int64 bound: idf_q·tf·44·T < 2⁶³ must hold — fine for corpora up to
~10⁶ docs × 10³ tokens at QUANT=10⁶; at web scale either drop QUANT or
use a float BM25 where bit-determinism is not required (ranking then
needs an epsilon-tie policy).

Plan at 100 TB: one tokenize explode (codegen split, O(tokens) rows);
doc lengths and corpus totals are map-side-combinable aggregates; the
query-term filter prunes the tf aggregate BEFORE its shuffle; df is a
per-query-term aggregate (≤|query| rows, broadcast); corpus scalars
(N, T) attach via an explicit crossJoin(broadcast(1-row)) — the openly
declared BNLJ of the registry plan-audit allowlist.  No self-joins, no
windows over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gotrackmaster_spark.session import local_frame

BM25_QUANT = 10**6


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    quant: int = BM25_QUANT,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer-quantized Okapi BM25 score of every document matching at
    least one query term.  Output: ``(doc_id, n_terms, score)`` —
    ``n_terms`` the number of distinct query terms present, ``score``
    the exact-int64 Σ of per-term quotients."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(text_col), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    doclen = words.groupBy(id_col).agg(F.count("*").alias("len"))
    corpus = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("len").alias("tot_len")
    )
    qw = words.filter(F.col("term").isin(list(query_terms)))
    tf = qw.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = qw.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
        .withColumn("idf_q", F.expr(f"((n_docs - df) * {quant}) DIV df"))
        .withColumn(
            "tscore",
            F.expr(
                "(idf_q * tf * 44 * tot_len) DIV "
                "(20 * tot_len * tf + 6 * tot_len + 18 * len * n_docs)"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_terms"), F.sum("tscore").alias("score")
    )


def sql_bm25_scores(query_terms: list[str], quant: int = BM25_QUANT) -> str:
    """DuckDB twin of :func:`bm25_scores` over the ``documents`` view."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
flt AS (SELECT * FROM words WHERE length(term) > 0),
doclen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM flt GROUP BY 1),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len) AS BIGINT) AS tot_len
  FROM doclen
),
qw AS (SELECT * FROM flt WHERE term IN ({terms})),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM qw GROUP BY 1, 2),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qw GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         (((n_docs - df.df) * {quant}) // df.df) * tf * 44 * tot_len
         // (20 * tot_len * tf + 6 * tot_len + 18 * d.len * n_docs) AS tscore
  FROM tf t
  JOIN df USING (term)
  JOIN doclen d ON t.doc_id = d.doc_id
  CROSS JOIN corpus
)
SELECT doc_id, count(*) AS n_terms, CAST(sum(tscore) AS BIGINT) AS score
FROM scored GROUP BY doc_id
"""


def skyline_2d(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group 2-D SKYLINE (Pareto frontier): the rows not dominated
    under (``x_col`` MINIMIZED, ``y_col`` MAXIMIZED) — q dominates p iff
    q.x <= p.x ∧ q.y >= p.y with at least one strict.  The multi-
    criteria "best offers" operator (earliest-and-highest frontier).

    Exact sort-based formulation, no self-join: after collapsing to
    DISTINCT (x, y) pairs (with multiplicity), order each group by
    (x ASC, y DESC); a pair is dominated iff the running MAX of y over
    STRICTLY-PRECEDING rows >= its own y — every preceding row has
    x < p.x, or x = p.x with (post-distinct) y strictly greater, so the
    test is exactly the dominance predicate.  Duplicate points are one
    frontier row with ``n_dups`` multiplicity (equal points never
    dominate each other).

    Plan at scale: ONE distinct-aggregate (map-side combinable — raw
    rows never reach the window) + ONE window per group key.  A single
    group's window is one sort task over its DISTINCT pairs; for a
    group whose distinct-pair set exceeds a task, range-partition on x
    and merge the per-range frontiers (same predicate) — the standard
    two-phase skyline.

    Output: ``(group_col, x_col, y_col, n_dups)`` — frontier rows only.
    """
    from pyspark.sql import Window

    pts = df.groupBy(group_col, x_col, y_col).agg(F.count("*").alias("n_dups"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(x_col).asc(), F.col(y_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pts.withColumn("__m", F.max(y_col).over(w))
    return flagged.filter(
        F.col("__m").isNull() | (F.col("__m") < F.col(y_col))
    ).select(group_col, x_col, y_col, "n_dups")


def stratum_tv_pairs(
    tokens: DataFrame,
    stratum_col: str = "stratum",
    term_col: str = "term",
) -> DataFrame:
    """Pairwise TOTAL-VARIATION distance between the term distributions
    of corpus strata (sources, languages, time slices) — the
    distribution-drift / contamination screen.  TV = ½ Σ_t |p_t − q_t|,
    made exact-integer:

      tv_num = Σ_shared |c_a·N_b − c_b·N_a|
               + (N_a − S_a)·N_b + (N_b − S_b)·N_a

    (the unshared-vocabulary mass enters through the totals identity
    Σ_{a-only} c_a = N_a − S_a, so NO outer join and no float SUM ever
    forms), and TV = tv_num / (2·N_a·N_b) is one fixed-order double
    division.  KL/JS were rejected for the exact contract: ln terms
    form a float sum whose accumulation order no engine pins.

    Plan at scale: one (stratum, term) aggregate, one term-keyed
    self-join whose per-term fan-out is bounded by strata² (strata
    counts are small by definition), totals broadcast.

    Output: ``(stratum_a, stratum_b, n_shared, tot_a, tot_b, tv_num,
    tv)`` for every unordered stratum pair that shares ≥ 1 term.
    """
    tc = tokens.groupBy(stratum_col, term_col).agg(F.count("*").alias("c"))
    tot = tokens.groupBy(stratum_col).agg(F.count("*").alias("n"))
    a = tc.select(
        F.col(stratum_col).alias("stratum_a"),
        F.col(term_col).alias("term"),
        F.col("c").alias("ca"),
    )
    b = tc.select(
        F.col(stratum_col).alias("stratum_b"),
        F.col(term_col).alias("term"),
        F.col("c").alias("cb"),
    )
    ta = tot.select(F.col(stratum_col).alias("stratum_a"), F.col("n").alias("tot_a"))
    tb = tot.select(F.col(stratum_col).alias("stratum_b"), F.col("n").alias("tot_b"))
    shared = (
        a.join(b, "term")
        .filter(F.col("stratum_a") < F.col("stratum_b"))
        .join(F.broadcast(ta), "stratum_a")
        .join(F.broadcast(tb), "stratum_b")
    )
    agg = shared.groupBy("stratum_a", "stratum_b", "tot_a", "tot_b").agg(
        F.count("*").alias("n_shared"),
        F.sum(
            F.abs(F.col("ca") * F.col("tot_b") - F.col("cb") * F.col("tot_a"))
        ).alias("d_shared"),
        F.sum("ca").alias("sa"),
        F.sum("cb").alias("sb"),
    )
    tv_num = (
        F.col("d_shared")
        + (F.col("tot_a") - F.col("sa")) * F.col("tot_b")
        + (F.col("tot_b") - F.col("sb")) * F.col("tot_a")
    )
    return agg.select(
        "stratum_a",
        "stratum_b",
        "n_shared",
        "tot_a",
        "tot_b",
        tv_num.alias("tv_num"),
        (
            tv_num.cast("double")
            / (F.lit(2.0) * (F.col("tot_a") * F.col("tot_b")).cast("double"))
        ).alias("tv"),
    )


def phrase_search(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """Positional phrase matching over a corpus — the inverted-index-
    with-positions primitive (exact n-gram search, dictionary tagging,
    benchmark-contamination probes at phrase granularity).

    One pass, ANY mix of phrase lengths: tokenize once into postings
    ``(doc_id, term, pos)``, broadcast-join the tiny (phrase, term,
    offset) dictionary, and reduce — a phrase of length L matches at
    ``start`` iff all L offsets land there, i.e. the group
    ``(doc, phrase, start = pos − offset)`` collects L DISTINCT offsets
    (DISTINCT so a repeated term inside one phrase can't double-count
    a single posting).  This is set-intersection phrase match: no
    per-phrase join chain, no window over the corpus, and the corpus
    side is touched by exactly one equi-join against a dictionary-
    filtered (hence tiny) build side.

    Output: ``(phrase, doc_id, n_matches, first_pos)`` — one row per
    (phrase, matching doc).

    At 10⁹ docs: postings explode is codegen; the term join prunes the
    corpus to dictionary terms before any shuffle; groups are bounded
    by matches, not tokens.
    """
    spark = docs.sparkSession
    arr = F.split(F.lower(F.col("text")), " ")
    post = docs.select("doc_id", F.posexplode(arr).alias("pos", "term"))
    rows = []
    for ph in phrases:
        terms = ph.split()
        for off, t in enumerate(terms):
            rows.append((ph, t, off, len(terms)))
    dic = local_frame(spark, rows, "phrase string, term string, off int, ph_len int")
    cand = post.join(F.broadcast(dic), "term").select(
        "doc_id", "phrase", "ph_len",
        (F.col("pos") - F.col("off")).cast("long").alias("start"),
        "off",
    )
    matches = (
        cand.groupBy("doc_id", "phrase", "ph_len", "start")
        .agg(F.countDistinct("off").alias("k"))
        .filter(F.col("k") == F.col("ph_len"))
    )
    return matches.groupBy("phrase", "doc_id").agg(
        F.count("*").alias("n_matches"),
        F.min("start").alias("first_pos"),
    )


def sql_phrase_search(phrases: list[str]) -> str:
    """DuckDB twin of :func:`phrase_search` over the same dictionary."""
    dic_rows = ", ".join(
        f"({ph!r}, {t!r}, {off}, {len(ph.split())})"
        for ph in phrases
        for off, t in enumerate(ph.split())
    )
    return f"""
WITH post AS (
  SELECT doc_id, unnest(arr) AS term,
         unnest(generate_series(0, len(arr) - 1)) AS pos
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS arr FROM documents) d
),
dic(phrase, term, off, ph_len) AS (VALUES {dic_rows}),
cand AS (
  SELECT p.doc_id, d.phrase, d.ph_len,
         CAST(p.pos - d.off AS BIGINT) AS start, d.off
  FROM post p JOIN dic d ON d.term = p.term
),
m AS (
  SELECT doc_id, phrase, ph_len, start, count(DISTINCT off) AS k
  FROM cand GROUP BY 1, 2, 3, 4
)
SELECT phrase, doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       min(start) AS first_pos
FROM m WHERE k = ph_len GROUP BY 1, 2
"""

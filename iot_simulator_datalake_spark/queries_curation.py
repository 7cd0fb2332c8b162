"""Corpus-curation filters from the public pre-training-data literature:
LM-perplexity filtering (CCNet, Wenzek et al. 2020), linear quality
classification over hashed features (the GPT-3 / fastText quality-filter
shape), SemDeDup-style semantic cluster pruning (Abbas et al. 2023), and
Gopher rule-based filtering (Rae et al. 2021, App. A).

These extend the [EXT] training-data surface (SURVEY §2 north stars:
dedup + text analysis); the reference pipeline itself stops at
warehouse-style models, so everything here is net-new capability a
100 TB curation user needs.

Oracle strategy matches the rest of the repo: irrational per-term math
(log2) quantizes to integer micro-units BEFORE any distributed sum so
results are order-independent and engine-exact; hashes are md5-hex
sliced to 15 hex chars and parsed base-16 — identical in Spark
(``conv(_,16,10)``) and DuckDB (``('0x'||_)::BIGINT``).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .functions.text import LANG_LEXICONS, ngrams, tokens
from .queries import load, q
from .queries_ext import O_TOKENS, o_lex_array
from .session import memo, scratch

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame, SparkSession


# =========================================================================
# Bigram-LM perplexity filter (CCNet-style)
# =========================================================================

#: DuckDB fragment: (doc_id, prev, cur) adjacent-token pairs.  Docs with
#: fewer than 2 tokens yield no rows (generate_series(1, 0) is empty) —
#: the Spark side guards the slice the same way.
_O_BIGRAMS = f"""
tok AS (
  SELECT doc_id, {O_TOKENS.format(c='text')} AS toks FROM documents
), idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - 1)) AS i
  FROM tok
), bi AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM idx
)"""


def _doc_bigrams(d: "DataFrame") -> "DataFrame":
    """(doc_id, prev, cur) adjacent-token pairs — map-only (array slice +
    zip, no posexplode self-join); docs with < 2 tokens vanish, matching
    the oracle's empty generate_series."""
    toks = tokens(F.col("text"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                   F.slice(toks, 2, F.size(toks) - 1),
                   lambda a, b: F.struct(a.alias("prev"), b.alias("cur")))
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    return (d.select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", "p.prev", "p.cur"))


@q("bigram_lm_score", ("F9", "A1", "J1"), oracle=f"""
WITH {_O_BIGRAMS},
v AS (SELECT COUNT(DISTINCT cur) AS vsz FROM bi),
c1 AS (SELECT prev, COUNT(*) AS n1 FROM bi GROUP BY 1),
c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
term AS (
  SELECT c2.prev, c2.cur,
         CAST(ROUND(-log2((n2 + 1.0) / (n1 + vsz)) * 1000000)
              AS BIGINT) AS ti
  FROM c2 JOIN c1 USING (prev), v
)
SELECT b.doc_id,
       COUNT(*)::INT AS n_bigrams,
       CAST(SUM(ti) AS DOUBLE) / (COUNT(*) * 1000000.0)
         AS avg_nll_bits
FROM bi b JOIN term t ON b.prev = t.prev AND b.cur = t.cur
GROUP BY 1
""")
def bigram_lm_score(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-document average negative log-likelihood under a corpus-trained
    add-one-smoothed bigram LM — the CCNet/KenLM perplexity filter
    (Wenzek et al., "CCNet", LREC 2020): low avg-NLL ≈ fluent in-domain
    prose, high ≈ gibberish/boilerplate.  Train and score in one plan.

    Scale design: bigram extraction is a map-only array zip (no
    posexplode self-join); the model (c2 ⋈ c1 + |V|) is
    distinct-bigram-sized, NOT corpus-sized, so the model build shuffles
    count partials only.  Scoring joins corpus bigram rows to the model
    on (prev, cur) — one hash shuffle whose payload is two short tokens
    per row; AQE picks broadcast when the model fits.  Per-term
    quantization to integer micro-bits before the per-doc sum keeps the
    distributed result bit-equal to any serial evaluation.
    """
    return _bigram_lm(load(spark, sf_dir, "documents"))


def _bigram_lm(d: "DataFrame", c2: "DataFrame | None" = None
               ) -> "DataFrame":
    """Core of :func:`bigram_lm_score` over any (doc_id, text) relation
    (separated so property tests can feed constructed corpora, and so
    an externally-maintained model — the incrementally-merged count
    table — can be injected in place of the in-plan aggregation)."""
    bi = _doc_bigrams(d)
    # The whole model derives from ONE corpus-sized aggregation: c2 is
    # the distinct-bigram count table (vocab²-bounded), and both the
    # conditional denominator c1 = Σ_cur c2 and |V| = |distinct cur|
    # re-aggregate c2, never the corpus.  The bigram relation is
    # therefore computed exactly twice (model pass + scoring pass),
    # both map-only off the scan — no 10⁹-row cache materialization,
    # which at ×10 was 1.5× the query's entire linear cost.
    if c2 is None:
        c2 = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("prev").agg(F.sum("n2").alias("n1"))
    vsz = c2.agg(F.countDistinct("cur").alias("vsz"))
    term = (c2.join(c1, "prev").crossJoin(F.broadcast(vsz))
            .select("prev", "cur",
                    F.round(-F.log2((F.col("n2") + F.lit(1.0)) /
                                    (F.col("n1") + F.col("vsz")))
                            * 1000000).cast("bigint").alias("ti")))
    return (bi.join(term, ["prev", "cur"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"),
                 # raw IEEE quotient of exact integers — bit-identical
                 # across engines; ROUND(q, 4) here was a cross-engine
                 # HALF_UP-vs-scaled-double hazard when the exact
                 # decimal lands on a x.xxxx5 boundary
                 (F.sum("ti").cast("double") /
                  (F.count(F.lit(1)) * 1000000.0))
                 .alias("avg_nll_bits")))


# =========================================================================
# Hashed-feature linear quality classifier (fastText / GPT-3 filter shape)
# =========================================================================

_CLS_BUCKETS = 1024


def _w_milli(tok: "Column") -> "Column":
    """Per-token classifier weight in milli-units: hash the token into
    one of ``_CLS_BUCKETS`` buckets, derive the bucket weight from md5
    of the bucket id — pure expression, identical recipe in the DuckDB
    oracles."""
    bkt = (F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
           .cast("bigint") % _CLS_BUCKETS)
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit("w#"), bkt.cast("string"))), 1, 15), 16, 10)
        .cast("bigint") % 2001 - 1000)


@q("quality_classifier_score", ("F9", "A1"), bench=True, oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({O_TOKENS.format(c='text')}) AS t FROM documents
), feat AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 15))::BIGINT % {_CLS_BUCKETS} AS bkt
  FROM tok
), w AS (
  SELECT doc_id,
         ('0x' || substr(md5('w#' || CAST(bkt AS VARCHAR)), 1, 15))::BIGINT
           % 2001 - 1000 AS w_milli
  FROM feat
)
SELECT doc_id,
       COUNT(*)::INT AS n_tokens,
       CAST(SUM(w_milli) AS DOUBLE) / (COUNT(*) * 1000.0)
         AS mean_weight,
       SUM(w_milli) > 0 AS keep
FROM w GROUP BY 1
""")
def quality_classifier_score(spark: "SparkSession", sf_dir: str
                             ) -> "DataFrame":
    """Linear quality classifier over hashed unigram features — the
    fastText-style filter GPT-3/LLaMA-class pipelines run over Common
    Crawl (hash each token into one of 1024 buckets, sum per-bucket
    weights, threshold the mean logit).  Weights here are a
    deterministic md5-derived stand-in (milli-units in [-1, 1]) so the
    *plumbing* — feature hashing, weight lookup as pure expression, one
    map-side-combining aggregate — is real and oracle-gated; swapping in
    trained weights is a broadcast-join against a 1024-row table.

    Scale design: everything before the per-doc aggregate is a map-only
    projection (hash → bucket → weight, no lookup table needed at all);
    the single shuffle carries (doc_id, partial sums).  At 100 TB this
    is scan-bound — the ideal shape for a corpus-wide filter.
    """
    return _classifier(load(spark, sf_dir, "documents"))


def _classifier(d: "DataFrame") -> "DataFrame":
    """Core of :func:`quality_classifier_score` over any (doc_id, text)
    relation — shared with the curation Engine DAG."""
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    return (t.select("doc_id", _w_milli(F.col("t")).alias("w_milli"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_tokens"),
                 # no rounding: numerator and denominator are exact
                 # integers < 2^53, so the single IEEE division is
                 # bit-identical in every engine — rounding a quotient
                 # that can land exactly on a .5 ulp boundary is what
                 # *breaks* cross-engine equality (milli-weights make
                 # x.xxx5 quotients common)
                 (F.sum("w_milli").cast("double") /
                  (F.count(F.lit(1)) * 1000.0)).alias("mean_weight"),
                 (F.sum("w_milli") > 0).alias("keep")))


# =========================================================================
# SemDeDup-style semantic cluster pruning
# =========================================================================

_SEM_TAU = 0.35
_SEM_TAU_MICRO = 350_000  # τ in the integer micro-units the cosines compare in

_O_SEM_EMB = ("SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec "
              "FROM embeddings")
# Cosine quantized to integer MICRO-UNITS (floor at 1e-6 granularity)
# rather than ROUND(…,6): a rounded double re-enters the
# HALF_UP-vs-scaled-double cross-engine boundary class the repo's
# determinism sweep eliminated everywhere else, while floor(x*1e6) is
# one IEEE multiply + floor — bit-identical in Spark and DuckDB given
# the bit-identical left-fold dot product (same precedent as
# maxsim_micro, queries_retrieval.py).
_O_SEM_COS = ("CAST(floor(list_dot_product(a.vec, b.vec) / "
              "(sqrt(list_dot_product(a.vec, a.vec)) * "
              "sqrt(list_dot_product(b.vec, b.vec))) * 1e6) AS BIGINT)")


def _max_lower_cos_micro(v: "DataFrame", key_cols: list) -> "DataFrame":
    """(id, max_lower_cos_micro): per vector, the max cosine (in integer
    micro-units — see ``_O_SEM_COS``) to ANY lower-id vector sharing
    ``key_cols`` — the shared core of every SemDeDup variant (sign-cell
    / k-means-cell / capped sub-cell).  ``v`` must carry id, vec, norm
    and the key columns."""
    from .functions.vector import dot
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    cos = F.floor(dot(F.col("a.vec"), F.col("b.vec")) /
                  (F.col("a.norm") * F.col("b.norm")) * F.lit(1e6))
    return (a.join(b, cond)
            .groupBy(F.col("b.id").alias("id"))
            .agg(F.max(cos).alias("max_lower_cos_micro")))


@q("semdedup_prune", ("F10", "J5", "W2"), oracle=f"""
WITH emb AS ({_O_SEM_EMB}),
bucketed AS (
  SELECT vec_id AS id, vec,
         (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM emb
), mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.id < b.id
  GROUP BY 1
)
SELECT e.id AS vec_id, e.bucket::INT AS cluster, m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM bucketed e LEFT JOIN mx m ON e.id = m.id
""")
def semdedup_prune(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SemDeDup (Abbas et al. 2023): cluster embeddings, and within each
    cluster prune every item whose cosine to ANY lower-id member
    (pruned or not) exceeds τ — semantic dedup where MinHash sees nothing
    (paraphrases, re-encodings).  Output is the full keep/prune
    decision per vector, not just pairs: ``pruned`` rows are the
    documents a curation pipeline drops.

    Clusters here are deterministic sign-LSH cells (first 4 dims), the
    same cells the near-dup pair miner uses; production SemDeDup swaps
    in k-means cells (``kmeans_lloyd``) — the pruning plan is identical.

    Scale design: pairwise cosine runs only WITHIN cells (Σ cell² ≪ N²,
    and cell size is capped in practice by the k-means K); the shuffle
    key is the cell id; the per-item MAX combines map-side, so the
    candidate matrix never materializes.  The keep-lowest-id rule makes
    the result order-independent — no iterative greedy pass needed.
    """
    from .functions.vector import l2_norm
    from .operators.similarity import sign_bucket
    e = load(spark, sf_dir, "embeddings")
    v = (e.select(F.col("vec_id").alias("id"),
                  F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("bucket", sign_bucket(F.col("vec"), 4))
         .withColumn("norm", l2_norm(F.col("vec"))))
    mx = _max_lower_cos_micro(v, ["bucket"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("bucket").cast("int").alias("cluster"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


# =========================================================================
# Gopher rule-based quality filter
# =========================================================================

#: Gopher App. A thresholds, adapted to the whitespace-token corpus
#: (the symbol/bullet/ellipsis rules need raw lines, which the synthetic
#: corpus lacks; the word-level rules are the load-bearing ones).
_GOPHER = {"min_words": 50, "max_words": 100_000,
           "min_mean_len": 3.0, "max_mean_len": 10.0,
           "min_alpha_frac": 0.8, "min_stop_hits": 2,
           "max_top_share": 0.2}


@q("gopher_quality_rules", ("F9", "P7", "A1"), bench=True,
   oracle=f"""
WITH tok AS (
  SELECT doc_id, {O_TOKENS.format(c='text')} AS toks FROM documents
), base AS (
  SELECT doc_id,
         len(toks)::INT AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x)))
              AS DOUBLE) / len(toks) AS mean_word_len,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha_frac,
         len(list_intersect(toks, {o_lex_array(sorted(LANG_LEXICONS['en']))}))
           AS stop_hits
  FROM tok WHERE len(toks) > 0
), tcnt AS (
  SELECT doc_id, COUNT(*) AS k
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY doc_id, t
), top AS (
  SELECT doc_id, MAX(k) AS top_k FROM tcnt GROUP BY 1
)
SELECT b.doc_id, b.n_words, b.mean_word_len, b.alpha_frac,
       CAST(t.top_k AS DOUBLE) / b.n_words AS top_tok_share,
       b.n_words BETWEEN {_GOPHER['min_words']} AND {_GOPHER['max_words']}
         AS ok_word_count,
       b.mean_word_len BETWEEN {_GOPHER['min_mean_len']}
         AND {_GOPHER['max_mean_len']} AS ok_mean_len,
       b.alpha_frac >= {_GOPHER['min_alpha_frac']} AS ok_alpha,
       b.stop_hits >= {_GOPHER['min_stop_hits']} AS ok_stopwords,
       CAST(t.top_k AS DOUBLE) / b.n_words
         <= {_GOPHER['max_top_share']} AS ok_repetition,
       (b.n_words BETWEEN {_GOPHER['min_words']} AND {_GOPHER['max_words']})
         AND (b.mean_word_len BETWEEN {_GOPHER['min_mean_len']}
              AND {_GOPHER['max_mean_len']})
         AND b.alpha_frac >= {_GOPHER['min_alpha_frac']}
         AND b.stop_hits >= {_GOPHER['min_stop_hits']}
         AND CAST(t.top_k AS DOUBLE) / b.n_words
               <= {_GOPHER['max_top_share']} AS keep
FROM base b JOIN top t USING (doc_id)
""")
def gopher_quality_rules(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gopher rule-based filter (Rae et al. 2021, App. A): per-document
    boolean verdicts for word-count bounds, mean-word-length bounds,
    alphabetic-token fraction, stopword presence, and max-single-token
    share (the repetition gate), plus the conjunction ``keep``.  Rule
    *flags* rather than a blended score — pipelines route rejects per
    rule (cf. ``text_quality_score`` for the scalar variant).

    Scale design (optimization r11): EVERY rule — repetition included —
    is a map-only array expression over the token array, so the whole
    filter is one scan-bound pass with zero exchanges; top_k (max
    single-token multiplicity) is the longest equal-run in the sorted
    token array, computed per row (see ``_gopher_rules``).
    """
    return _gopher_rules(load(spark, sf_dir, "documents"))


# _gopher_rules' heavy expressions go through session.memo
# (optimization r12): the tokenizer, stopword array and three
# interpreted folds cost ~0.15 s of py4j round-trips per build.


def _gopher_rules(d: "DataFrame") -> "DataFrame":
    """Core of :func:`gopher_quality_rules` over any (doc_id, text)
    relation — shared with the curation Engine DAG."""
    toks = memo("toks", lambda: tokens(F.col("text")))
    stop_arr = memo("stop_arr", lambda: F.array(
        *[F.lit(w) for w in sorted(LANG_LEXICONS["en"])]))
    # top_k (max single-token multiplicity) is a PER-ROW property of
    # the token array, so it is computed map-side as the longest run in
    # the sorted array (optimization r11): the previous shape exploded
    # the corpus to (doc_id, token) rows, paid a (doc_id, t) count
    # shuffle + a per-doc max shuffle, then joined the result back onto
    # the rule relation — two corpus-keyed exchanges and a join for a
    # value each row can derive from itself (guide §2.4: remove
    # shuffles outright).  The whole filter is now one map-only pass —
    # scan-bound at any scale, nothing to skew.  array_sort is a native
    # codegen'd expression; the fold does one comparison per token.
    # Measured sf0.1 (clean-steal passes): 0.96 s → 0.53 s, and the
    # plan drops from 6 Exchange nodes + a join to ZERO exchanges.
    run_next = lambda acc, x: F.when(
        x == acc.prev, acc.run + F.lit(1)).otherwise(F.lit(1))
    top_k = memo("top_k", lambda: F.aggregate(
        F.array_sort("toks"),
        F.struct(F.lit("").alias("prev"),
                 F.lit(0).cast("int").alias("run"),
                 F.lit(0).cast("int").alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"), run_next(acc, x).alias("run"),
            F.greatest(acc.best, run_next(acc, x)).alias("best")),
        lambda acc: acc.best).cast("bigint"))
    # raw IEEE quotients of exact ints (no ROUND): identical bits in
    # Spark and DuckDB, immune to the HALF_UP boundary hazard a 4-digit
    # ROUND carries
    mean_len = memo("mean_len", lambda: (
        F.aggregate("toks", F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.length(x)).cast("double") /
        F.size("toks")))
    alpha = memo("alpha", lambda: (
        F.size(F.filter("toks", lambda x: x.rlike("[a-z]")))
        .cast("double") / F.size("toks")))
    base = (d.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") > 0)
            .select(
                "doc_id",
                F.size("toks").cast("int").alias("n_words"),
                mean_len.alias("mean_word_len"),
                alpha.alias("alpha_frac"),
                F.size(F.array_intersect("toks", stop_arr))
                .alias("stop_hits"),
                top_k.alias("top_k")))
    g = _GOPHER
    share = F.col("top_k").cast("double") / F.col("n_words")
    ok_wc = F.col("n_words").between(g["min_words"], g["max_words"])
    ok_ml = F.col("mean_word_len").between(g["min_mean_len"],
                                           g["max_mean_len"])
    ok_al = F.col("alpha_frac") >= g["min_alpha_frac"]
    ok_st = F.col("stop_hits") >= g["min_stop_hits"]
    ok_rep = share <= g["max_top_share"]
    return base.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac",
        share.alias("top_tok_share"),
        ok_wc.alias("ok_word_count"), ok_ml.alias("ok_mean_len"),
        ok_al.alias("ok_alpha"), ok_st.alias("ok_stopwords"),
        ok_rep.alias("ok_repetition"),
        (ok_wc & ok_ml & ok_al & ok_st & ok_rep).alias("keep"))


# =========================================================================
# End-to-end curation funnel
# =========================================================================

_LM_TAU = 4.89     # splits the synthetic corpus ~50/50 (median ≈ 4.886)
_SRC_CAP = 30      # survivors kept per source (diversity quota)


def _funnel_oracle() -> str:
    """Composes the per-filter oracles (verbatim, from the registry) so
    the funnel's oracle cannot drift from the filters it chains."""
    from .queries import REGISTRY
    g = REGISTRY["gopher_quality_rules"].oracle
    l = REGISTRY["bigram_lm_score"].oracle
    c = REGISTRY["quality_classifier_score"].oracle
    return f"""
WITH flags AS (
  SELECT d.doc_id, d.source,
         g.keep AS g_ok,
         COALESCE(l.avg_nll_bits <= {_LM_TAU}, FALSE) AS l_ok,
         c.keep AS c_ok
  FROM documents d
  JOIN ({g}) g USING (doc_id)
  LEFT JOIN ({l}) l USING (doc_id)
  JOIN ({c}) c USING (doc_id)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY source, (g_ok AND l_ok AND c_ok)
      ORDER BY doc_id) AS rn
  FROM flags
), onerow AS (
  SELECT COUNT(*)::INT AS n0,
         COUNT(*) FILTER (WHERE g_ok)::INT AS n1,
         COUNT(*) FILTER (WHERE g_ok AND l_ok)::INT AS n2,
         COUNT(*) FILTER (WHERE g_ok AND l_ok AND c_ok)::INT AS n3,
         COUNT(*) FILTER (WHERE g_ok AND l_ok AND c_ok
                          AND rn <= {_SRC_CAP})::INT AS n4
  FROM ranked
)
SELECT ord, stage, n_docs, CAST(n_docs AS DOUBLE) / n0 AS frac FROM (
  SELECT 0 AS ord, 'total' AS stage, n0 AS n_docs, n0 FROM onerow
  UNION ALL SELECT 1, 'gopher_rules', n1, n0 FROM onerow
  UNION ALL SELECT 2, 'lm_perplexity', n2, n0 FROM onerow
  UNION ALL SELECT 3, 'quality_classifier', n3, n0 FROM onerow
  UNION ALL SELECT 4, 'per_source_cap', n4, n0 FROM onerow
)
"""


@q("curation_funnel_report", ("F9", "A1", "W3", "O1"),
   oracle=_funnel_oracle())
def curation_funnel_report(spark: "SparkSession", sf_dir: str
                           ) -> "DataFrame":
    """The standard corpus-curation funnel: total → Gopher rules →
    LM-perplexity gate → quality classifier → per-source diversity cap,
    reported as per-stage surviving-document counts and fractions (the
    table every data-curation paper prints, e.g. RefinedWeb Fig. 2's
    "removal rate per stage").

    Composes the three gated filters ABOVE by joining their outputs on
    doc_id, so this is also an integration gate: a regression in any
    filter moves these counts.  Exact dedup is omitted as a stage only
    because the synthetic corpus has no byte-identical pairs (all 500
    texts distinct at sf0.01) — composition is `exact_dedup` ∘ this.

    Scale design: each filter is one pass over the corpus (their own
    plans are gated individually); the funnel adds doc_id-keyed joins
    (AQE-local after each filter's aggregate), ONE window partitioned by
    (source, survivor-flag) for the cap — shuffle key has 2·|sources|
    cells, payload is flag rows, never text — and a 1-row global
    aggregate unpivoted to 5 stage rows driver-side-free via stack().
    """
    d = load(spark, sf_dir, "documents")
    g = (gopher_quality_rules(spark, sf_dir)
         .select("doc_id", F.col("keep").alias("g_ok")))
    l = (bigram_lm_score(spark, sf_dir)
         .select("doc_id", (F.col("avg_nll_bits") <= _LM_TAU)
                 .alias("l_ok")))
    c = (quality_classifier_score(spark, sf_dir)
         .select("doc_id", F.col("keep").alias("c_ok")))
    return _funnel_report(d, g, l, c)


def _funnel_report(d: "DataFrame", g: "DataFrame", l: "DataFrame",
                   c: "DataFrame") -> "DataFrame":
    """Funnel tail over pre-computed flag relations: g = (doc_id,
    g_ok), l = (doc_id, l_ok), c = (doc_id, c_ok) — shared with the
    curation Engine DAG, whose models materialize the flags first."""
    flags = (d.select("doc_id", "source")
             .join(g, "doc_id").join(l, "doc_id", "left").join(c, "doc_id")
             .withColumn("l_ok", F.coalesce("l_ok", F.lit(False))))
    surv = F.col("g_ok") & F.col("l_ok") & F.col("c_ok")
    ranked = flags.withColumn("rn", F.row_number().over(
        W.partitionBy("source", surv).orderBy("doc_id")))
    one = ranked.agg(
        F.count(F.lit(1)).cast("int").alias("n0"),
        F.count_if(F.col("g_ok")).cast("int").alias("n1"),
        F.count_if(F.col("g_ok") & F.col("l_ok")).cast("int").alias("n2"),
        F.count_if(surv).cast("int").alias("n3"),
        F.count_if(surv & (F.col("rn") <= _SRC_CAP)).cast("int")
        .alias("n4"))
    stages = ", ".join(
        f"{i}, '{s}', n{i}" for i, s in enumerate(
            ["total", "gopher_rules", "lm_perplexity",
             "quality_classifier", "per_source_cap"]))
    return (one.select(F.expr(f"stack(5, {stages}) AS (ord, stage, n_docs)"),
                       "n0")
            .select("ord", "stage", "n_docs",
                    (F.col("n_docs").cast("double") / F.col("n0"))
                    .alias("frac")))


def _semdedup_kmeans_oracle() -> str:
    from .queries_ml import _kmeans_assign_ctes
    return f"""
WITH {_kmeans_assign_ctes()},
emb AS ({_O_SEM_EMB}),
av AS (
  SELECT e.vec_id AS id, a.cid, e.vec
  FROM emb e JOIN afin a ON e.vec_id = a.vec_id
), mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM av a JOIN av b ON a.cid = b.cid AND a.id < b.id
  GROUP BY 1
)
SELECT v.id AS vec_id, v.cid::INT AS cluster, m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM av v LEFT JOIN mx m ON v.id = m.id
"""


def _kmeans_assigned_vectors(spark: "SparkSession", sf_dir: str,
                             afin: "DataFrame | None" = None,
                             auto_k: bool = False) -> "DataFrame":
    """(id, vec, cid, norm): embeddings joined to their trained Lloyd
    cell.  ``afin`` lets a caller that needs BOTH kmeans prune
    variants (the recall eval) train once and share the deterministic
    assignment — Lloyd dominates those queries' runtime.  ``auto_k``
    derives K from the corpus count (one bounded driver scalar) via
    :func:`queries_ml.auto_k_of` instead of the pinned K=8."""
    from .functions.vector import l2_norm
    from .queries_ml import auto_k_of, lloyd_final
    if afin is None:
        k = (auto_k_of(load(spark, sf_dir, "embeddings").count())
             if auto_k else None)
        _, afin, _ = lloyd_final(spark, sf_dir, k=k)
    e = load(spark, sf_dir, "embeddings")
    return (e.select(F.col("vec_id").alias("id"),
                     F.col("embedding").cast("array<double>").alias("vec"))
            .join(afin.select(F.col("vec_id").alias("id"), "cid"), "id")
            .withColumn("norm", l2_norm(F.col("vec"))))


@q("semdedup_kmeans_prune", ("F10", "J5", "W2", "A1"),
   oracle=_semdedup_kmeans_oracle())
def semdedup_kmeans_prune(spark: "SparkSession", sf_dir: str,
                          afin: "DataFrame | None" = None
                          ) -> "DataFrame":
    """SemDeDup over TRAINED clusters — the production path: Lloyd
    k-means (the exact deterministic rounds certified by
    ``kmeans_lloyd``) assigns every vector a cell, then within each
    cell any vector whose cosine to ANY lower-id member (pruned or
    not) exceeds τ is pruned — one pass, order-independent; the
    iterative keep-one-survivor greedy variant differs only when a
    chain's middle element is pruned.  The sign-LSH twin above trades cluster quality for a
    training-free assignment; this one is what SemDeDup (Abbas et al.
    2023) actually prescribes (their K ≈ 11k cells on LAION).

    Scale design: the clustering's per-round cost is one broadcast
    join + argmin aggregate (see queries_ml docstring); pruning is
    pairwise ONLY within cells, so its cost is Σ cell² — bounded by
    choosing K ∝ corpus/target-cell-size, exactly the K-selection rule
    the paper uses.  Nothing in the composition shuffles vectors more
    than once per stage, and the keep-lowest-id rule keeps the output
    independent of execution order.

    This gated instance pins K=8 for deterministic seeds, so at fixed
    K it is the UNCAPPED verification baseline (its ×100 probe is
    killed >10 min — SCALE.md): production runs
    ``semdedup_kmeans_prune_capped``, which composes the md5 sub-cell
    cap inside the trained cells and stays bounded whatever the corpus
    does to the cell distribution, with the recall cost gated by
    ``semdedup_kmeans_cap_recall_eval``.
    """
    v = _kmeans_assigned_vectors(spark, sf_dir, afin)
    mx = _max_lower_cos_micro(v, ["cid"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("cid").cast("int").alias("cluster"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


_SEM_CAP = 64  # max members per pruning cell (sub-split above this)


def _cap_sub(id_col, n_col):
    """The canonical md5 sub-cell split (0 under the cap, else one of
    ⌈n/cap⌉ deterministic id-hash splits) — ONE Spark source for the
    cap mechanism shared by ``_subcell`` and the multi-probe candidate
    builder; its SQL twin is :func:`_o_cap_sub`.  Keeping a single
    definition is what guarantees the multi-probe decision set stays a
    strict superset of the single-probe one."""
    return F.when(n_col <= _SEM_CAP, F.lit(0).cast("bigint")).otherwise(
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10)
        .cast("bigint") %
        F.floor((n_col + _SEM_CAP - 1) / _SEM_CAP).cast("bigint"))


def _o_cap_sub(id_expr: str, n_expr: str) -> str:
    """DuckDB twin of :func:`_cap_sub`, emitted at the shared CTE
    indentation (byte-identical to the pre-refactor ``_o_subcell``
    text for id/n, so already-gated oracles are unchanged)."""
    return (f"CASE WHEN {n_expr} <= {_SEM_CAP} THEN 0\n"
            f"              ELSE ('0x' || substr(md5(CAST({id_expr} AS "
            f"VARCHAR)), 1, 15))::BIGINT\n"
            f"                   % (({n_expr} + {_SEM_CAP - 1}) "
            f"// {_SEM_CAP})\n"
            f"         END")


def _subcell(v: "DataFrame", cell_col: str) -> "DataFrame":
    """Attach ``(n, sub)`` to ``v``: ``n`` the member count of the
    row's cell, ``sub`` the deterministic md5(id) sub-cell (0 when the
    cell is within ``_SEM_CAP``, else one of ⌈n/cap⌉ splits) — the
    shared cap mechanism of every capped SemDeDup variant.

    Cell sizes come from a cell-key-sized groupBy broadcast back onto
    the rows, NOT a count window: the window's exchange-by-cell would
    funnel every vector of a hot cell through one WindowExec task —
    the exact single-task pathology the cap exists to bound."""
    sizes = v.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))
    sub = _cap_sub(F.col("id"), F.col("n"))
    return v.join(F.broadcast(sizes), cell_col).withColumn("sub", sub)


@q("semdedup_prune_capped", ("F10", "J5", "W2"), oracle=f"""
WITH emb AS ({_O_SEM_EMB}),
bucketed AS (
  SELECT vec_id AS id, vec,
         (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM emb
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS n FROM bucketed
), sub AS (
  SELECT id, vec, bucket, n,
         CASE WHEN n <= {_SEM_CAP} THEN 0
              ELSE ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                   % ((n + {_SEM_CAP} - 1) // {_SEM_CAP})
         END AS sub
  FROM sized
), mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM sub a JOIN sub b
    ON a.bucket = b.bucket AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
)
SELECT s.id AS vec_id, s.bucket::INT AS cluster, s.sub::INT AS subcell,
       m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM sub s LEFT JOIN mx m ON s.id = m.id
""")
def semdedup_prune_capped(spark: "SparkSession", sf_dir: str
                          ) -> "DataFrame":
    """``semdedup_prune`` with a hard cell-size cap — the guard that
    makes within-cell pairwise pruning safe when the clustering is
    imperfect (the embedding analog of ``dedup_minhash_lsh_capped``'s
    hot-band cap): a cell with n > cap members is deterministically
    split into ⌈n/cap⌉ sub-cells by md5(id), so pair cost is bounded by
    cells·cap² no matter how skewed the cell distribution gets (a giant
    near-duplicate cluster, a degenerate quantizer, an all-zeros
    embedding bug).  The trade is recall ACROSS sub-cells of the same
    cell — exactly the trade SemDeDup makes by raising K, but enforced
    locally so one pathological cell cannot take down the stage.

    Plan: cell sizes come from a cell-key-sized groupBy broadcast back
    onto the rows (see ``_subcell`` — never a count window, whose
    exchange-by-cell would funnel every vector of a hot cell through
    one WindowExec task, the exact pathology the cap exists to bound),
    the sub-cell id is a pure expression, and the pair join key widens
    to (cell, sub-cell).
    """
    from .functions.vector import l2_norm
    from .operators.similarity import sign_bucket
    e = load(spark, sf_dir, "embeddings")
    v = (e.select(F.col("vec_id").alias("id"),
                  F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("bucket", sign_bucket(F.col("vec"), 4))
         .withColumn("norm", l2_norm(F.col("vec"))))
    v = _subcell(v, "bucket")
    mx = _max_lower_cos_micro(v, ["bucket", "sub"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("bucket").cast("int").alias("cluster"),
                    F.col("sub").cast("int").alias("subcell"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


def _o_subcell(src: str, cell: str, prefix: str = "") -> str:
    """DuckDB CTE pair replaying ``_subcell`` over relation ``src``
    with cell column ``cell`` → relation ``{prefix}sub`` (id, vec,
    {cell}, n, sub).  ``prefix`` renames the emitted CTEs so one
    oracle can replay TWO capped variants (the IVF recall eval)
    without name collisions."""
    return f"""{prefix}sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY {cell}) AS n FROM {src}
), {prefix}sub AS (
  SELECT id, vec, {cell}, n,
         {_o_cap_sub('id', 'n')} AS sub
  FROM {prefix}sized
)"""


def _semdedup_kmeans_capped_oracle(auto_k: bool = False) -> str:
    from .queries_ml import _kmeans_assign_ctes
    return f"""
WITH {_kmeans_assign_ctes(auto_k=auto_k)},
emb AS ({_O_SEM_EMB}),
av AS (
  SELECT e.vec_id AS id, a.cid, e.vec
  FROM emb e JOIN afin a ON e.vec_id = a.vec_id
), {_o_subcell('av', 'cid')}, mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM sub a JOIN sub b
    ON a.cid = b.cid AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
)
SELECT s.id AS vec_id, s.cid::INT AS cluster, s.sub::INT AS subcell,
       m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM sub s LEFT JOIN mx m ON s.id = m.id
"""


@q("semdedup_kmeans_prune_capped", ("F10", "J5", "W2", "A1"),
   oracle=_semdedup_kmeans_capped_oracle())
def semdedup_kmeans_prune_capped(spark: "SparkSession", sf_dir: str,
                                 afin: "DataFrame | None" = None
                                 ) -> "DataFrame":
    """``semdedup_kmeans_prune`` with the md5 sub-cell cap composed
    inside the TRAINED cells — the production form of the trained-
    quantizer path (VERDICT r4's one weak edge: at fixed K the cell
    size grows linearly with the corpus, so the uncapped variant's
    pairwise cost grows quadratically — its ×100 probe was killed
    after >10 min, while this one is bounded by cells·⌈n/cap⌉·cap²
    whatever the corpus does to the cell distribution).

    SemDeDup's own answer is "raise K with the corpus"; the cap is the
    same trade enforced LOCALLY, so it also covers the failure modes
    K-scaling cannot (a degenerate quantizer collapsing cells, one
    giant near-duplicate cluster).  The recall cost is measured, not
    assumed: ``semdedup_kmeans_cap_recall_eval`` gates it exactly like
    the sign-cell family's ``semdedup_cap_recall_eval``.

    Plan shape: one broadcast-join Lloyd assignment (see queries_ml),
    a cell-key-sized groupBy broadcast for sizes (``_subcell``), then
    the pairwise max-cosine join keyed on (cid, sub) — vectors shuffle
    once, and no single task ever sees more than cap members of any
    cell."""
    v = _subcell(_kmeans_assigned_vectors(spark, sf_dir, afin), "cid")
    mx = _max_lower_cos_micro(v, ["cid", "sub"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("cid").cast("int").alias("cluster"),
                    F.col("sub").cast("int").alias("subcell"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


@q("semdedup_autok_prune_capped", ("F10", "J5", "W2", "A1"),
   oracle=_semdedup_kmeans_capped_oracle(auto_k=True))
def semdedup_autok_prune_capped(spark: "SparkSession", sf_dir: str
                                ) -> "DataFrame":
    """``semdedup_kmeans_prune_capped`` with SemDeDup's OWN
    K-selection rule applied instead of the pinned K=8: K =
    max(8, ⌈N / target⌉) derived from the corpus count (Abbas et al.
    2023 scale K with the corpus — ~11k cells on LAION — precisely so
    that expected cell size stays constant as data grows).  The K
    derivation is one bounded driver scalar on the Spark side and the
    ``kk`` CTE in the oracle — the same exact integer rule, so both
    engines train the same K (it ENGAGES at the gate SF: 500 vectors
    → K=10 > 8) and seeds stay the deterministic first-K vec_ids.

    The md5 sub-cell cap still composes inside the trained cells:
    auto-K bounds the EXPECTED cell size, the cap bounds the worst
    cell (a degenerate quantizer collapsing cells, one giant
    near-duplicate cluster — failure modes K-scaling cannot fix), so
    the pairwise stage is bounded by cells·⌈n/cap⌉·cap² under both
    the average and the adversarial distribution.

    Scale note (measured family behavior, SCALE.md): the exact Lloyd
    assignment is N·K distance pairs, so auto-K trades assignment
    cost for pruning cost — at the 100 TB point the assignment swaps
    to the coarse-quantizer multi-probe (operators/similarity
    ``ivf_assign``) with the same downstream cell/cap shape, which is
    also what SemDeDup's faiss pipeline does."""
    v = _subcell(_kmeans_assigned_vectors(spark, sf_dir, auto_k=True),
                 "cid")
    mx = _max_lower_cos_micro(v, ["cid", "sub"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("cid").cast("int").alias("cluster"),
                    F.col("sub").cast("int").alias("subcell"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


def _semdedup_kmeans_recall_oracle() -> str:
    from .queries_ml import _kmeans_assign_ctes
    return f"""
WITH {_kmeans_assign_ctes()},
emb AS ({_O_SEM_EMB}),
av AS (
  SELECT e.vec_id AS id, a.cid, e.vec
  FROM emb e JOIN afin a ON e.vec_id = a.vec_id
), mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM av a JOIN av b ON a.cid = b.cid AND a.id < b.id
  GROUP BY 1
), uncapped AS (
  SELECT v.id, COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE)
           AS pruned
  FROM av v LEFT JOIN mx m ON v.id = m.id
), {_o_subcell('av', 'cid')}, mxc AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM sub a JOIN sub b
    ON a.cid = b.cid AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
), capped AS (
  SELECT s.id, COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE)
           AS pruned
  FROM sub s LEFT JOIN mxc m ON s.id = m.id
)
SELECT COUNT(*)::INT AS n_vectors,
       COUNT(*) FILTER (WHERE u.pruned)::INT AS pruned_uncapped,
       COUNT(*) FILTER (WHERE c.pruned)::INT AS pruned_capped,
       COUNT(*) FILTER (WHERE u.pruned AND c.pruned)::INT AS agree_pruned,
       CAST(COUNT(*) FILTER (WHERE u.pruned AND c.pruned) AS DOUBLE)
         / NULLIF(COUNT(*) FILTER (WHERE u.pruned), 0) AS cap_recall
FROM uncapped u JOIN capped c USING (id)
"""


@q("semdedup_kmeans_cap_recall_eval", ("F10", "A1"),
   oracle=_semdedup_kmeans_recall_oracle())
def semdedup_kmeans_cap_recall_eval(spark: "SparkSession", sf_dir: str
                                    ) -> "DataFrame":
    """Trust gate for the sub-cell cap inside TRAINED k-means cells:
    what fraction of ``semdedup_kmeans_prune``'s decisions does
    ``semdedup_kmeans_prune_capped`` preserve?  Same contract as
    ``semdedup_cap_recall_eval`` — the approximation's recall cost is
    itself oracle-gated, and a low reading says raise K or the cap.

    Runs BOTH variants (the uncapped one is the verification baseline,
    usable only at QA scale) — offline QA over a hash-sample in
    production, exactly like ``ann_recall_eval``."""
    from .queries_ml import lloyd_final
    # train ONCE: Lloyd dominates both variants' runtime and the
    # assignment is deterministic, so the eval shares it
    _, afin, _ = lloyd_final(spark, sf_dir)
    u = (semdedup_kmeans_prune(spark, sf_dir, afin=afin)
         .select(F.col("vec_id").alias("id"),
                 F.col("pruned").alias("u_pruned")))
    c = (semdedup_kmeans_prune_capped(spark, sf_dir, afin=afin)
         .select(F.col("vec_id").alias("id"),
                 F.col("pruned").alias("c_pruned")))
    both = u.join(c, "id")
    agree = F.count_if(F.col("u_pruned") & F.col("c_pruned"))
    n_u = F.count_if(F.col("u_pruned"))
    return both.agg(
        F.count(F.lit(1)).cast("int").alias("n_vectors"),
        n_u.cast("int").alias("pruned_uncapped"),
        F.count_if(F.col("c_pruned")).cast("int").alias("pruned_capped"),
        agree.cast("int").alias("agree_pruned"),
        (agree.cast("double") /
         F.nullif(n_u.cast("double"), F.lit(0.0))).alias("cap_recall"))


# =========================================================================
# SemDeDup at 100 TB: IVF coarse/fine assignment (the auto-K fix)
# =========================================================================

_CELL_PACK = 1 << 20  # (coarse, fine) cell pack; fine rank ≤ kf ≪ 2^20


def _ivf_fine_step(k: int) -> str:
    """One unrolled fine-level Lloyd round (the within-coarse-cell twin
    of queries_ml._STEP_SQL): assignment is restricted to the fine
    centroids of the vector's OWN coarse cell (join through ``iac``),
    the centroid update is the same exact floor-division integer mean,
    and empty fine cells keep their previous centroid."""
    prev = f"if{k - 1}"
    return f"""
, fd{k} AS MATERIALIZED (
  SELECT p.vec_id, c.fcid, SUM((p.qv - c.cv) * (p.qv - c.cv)) AS dist2
  FROM pts p JOIN iac a ON p.vec_id = a.vec_id
             JOIN {prev} c ON c.ccid = a.ccid AND c.d = p.d
  GROUP BY 1, 2
), fm{k} AS (
  SELECT vec_id, MIN(dist2) AS md FROM fd{k} GROUP BY 1
), fa{k} AS (
  SELECT d.vec_id, MIN(d.fcid) AS fcid
  FROM fd{k} d JOIN fm{k} m ON d.vec_id = m.vec_id AND d.dist2 = m.md
  GROUP BY 1
), fs{k} AS (
  SELECT a.ccid, f.fcid, p.d, CAST(SUM(p.qv) // COUNT(*) AS BIGINT) AS cv
  FROM pts p JOIN iac a USING (vec_id) JOIN fa{k} f USING (vec_id)
  GROUP BY 1, 2, 3
), if{k} AS MATERIALIZED (
  SELECT c.ccid, c.fcid, c.d, CAST(COALESCE(s.cv, c.cv) AS BIGINT) AS cv
  FROM {prev} c LEFT JOIN fs{k} s
    ON s.ccid = c.ccid AND s.fcid = c.fcid AND s.d = c.d
)"""


def _ivf_ctes(with_common: bool = False) -> str:
    """DuckDB CTE chain replaying the two-level trained IVF assignment
    → relations ``iac`` (vec_id → ccid) and ``iaf`` (vec_id → fcid):
    a Lloyd chain at kc = ⌈√K⌉ for the coarse level (prefix ``q`` —
    the exact queries_ml rounds, seed-count overridden), then an
    unrolled fine-level Lloyd at kf = ⌈K/kc⌉ WITHIN each coarse cell
    (seeds = the kf lowest-id members).  With ``with_common`` it also
    emits the shared ``kk`` (auto-K rule) and ``pts`` (quantized long
    format) CTEs; without, the caller has already defined them (the
    recall eval reuses the exact chain's).

    ``CEIL(SQRT(k))`` is the one floating-point step: IEEE-754 sqrt is
    correctly rounded in both engines, and k is an exact small
    integer, so kc is deterministic cross-engine (mirrored by
    ``math.ceil(math.sqrt(k))`` on the Spark side).

    The iterated CTEs (``iac``, ``fd{k}``, ``if{k}``, ``fdf``,
    ``iaf``) are ``AS MATERIALIZED``: DuckDB inlines multi-referenced
    CTEs, so without it each fine round re-evaluates the entire
    upstream chain — measured 0.3 s → 8.7 s → 145 s per round at a
    mere 500 vectors (exponential in rounds).  MATERIALIZED is
    semantically identical; it only pins evaluation order."""
    from .queries_ml import (_AUTOK_TARGET, _ITERS, _K, _PTS_SQL,
                             _kmeans_assign_ctes)
    common = (f"kk AS (SELECT GREATEST({_K}, (COUNT(*) + "
              f"{_AUTOK_TARGET - 1}) // {_AUTOK_TARGET}) AS k "
              f"FROM embeddings),\npts AS ({_PTS_SQL}),\n"
              if with_common else "")
    coarse = _kmeans_assign_ctes(prefix="q", ksql="(SELECT kc FROM dims)",
                                 emit_common=False)
    fine_steps = "".join(_ivf_fine_step(k) for k in range(1, _ITERS + 1))
    last = f"if{_ITERS}"
    return common + f"""dims AS (
  SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS kc,
         (k + CAST(CEIL(SQRT(k)) AS BIGINT) - 1)
           // CAST(CEIL(SQRT(k)) AS BIGINT) AS kf
  FROM kk
), {coarse},
iac AS MATERIALIZED (
  SELECT vec_id, cid AS ccid FROM qafin
), irk AS (
  SELECT vec_id, ccid,
         ROW_NUMBER() OVER (PARTITION BY ccid ORDER BY vec_id) AS r
  FROM iac
), if0 AS MATERIALIZED (
  SELECT r.ccid, r.r AS fcid, p.d, p.qv AS cv
  FROM irk r JOIN pts p USING (vec_id) CROSS JOIN dims
  WHERE r.r <= dims.kf
){fine_steps}
, fdf AS MATERIALIZED (
  SELECT p.vec_id, c.fcid, SUM((p.qv - c.cv) * (p.qv - c.cv)) AS dist2
  FROM pts p JOIN iac a ON p.vec_id = a.vec_id
             JOIN {last} c ON c.ccid = a.ccid AND c.d = p.d
  GROUP BY 1, 2
), fmf AS (
  SELECT vec_id, MIN(dist2) AS md FROM fdf GROUP BY 1
), iaf AS MATERIALIZED (
  SELECT d.vec_id, MIN(d.fcid) AS fcid
  FROM fdf d JOIN fmf m ON d.vec_id = m.vec_id AND d.dist2 = m.md
  GROUP BY 1
)"""


_IVF_NPROBE_C = 2  # coarse cells considered per vector (faiss nprobe)
_IVF_NPROBE = 3    # total probed (coarse, fine) cells incl the home cell


def _ivf_model(spark: "SparkSession", sf_dir: str) -> dict:
    """Train the two-level IVF quantizer and return its pieces:
    ``pts`` (quantized long format, cached), ``ccent`` (final coarse
    centroids: cid, d, cv), ``ac`` (vec_id → ccid, cached), ``fcent``
    (final fine centroids: ccid, fcid, d, cv — driver-pinned), ``af``
    (vec_id → fcid).

    K = auto_k_of(N) split as kc = ⌈√K⌉ coarse × kf = ⌈K/kc⌉ fine —
    hierarchical Lloyd: the coarse level is the exact deterministic
    rounds (``lloyd_final`` at k = kc) over the full corpus; the fine
    level runs the SAME rounds within each coarse cell (seeds = the kf
    lowest-id members, assignment restricted to the cell's own fine
    centroids, floor-division integer centroid update, empty cells
    keep their previous centroid).

    Per-round cost is N·(kc + kf) ≈ 2N·√K quantized-integer distances
    instead of the flat exact Lloyd's N·K — the assignment-cost fix
    for the auto-K family (K ∝ N makes flat assignment O(N²/target);
    measured 433 s at ×10's 20 k vectors, SCALE.md).  Training both
    levels matters: the untrained variant (arbitrary corpus vectors as
    centroids, the ``ivf_topk`` convention) measured 0.28 recall vs
    the exact decisions at sf0.01; trained, 0.46 single-probe.

    Scale limits, stated: fine centroids are K·d rows — driver-pinned
    between rounds like ``lloyd_final``'s (fine up to K ~ 1e5; past
    that keep them distributed and hash-partition both sides by ccid
    instead of broadcasting), and the fine-seed election window
    shuffles only (vec_id, ccid) pairs, never vectors."""
    import math

    from pyspark.sql import Window as W

    from .queries_ml import _ITERS, auto_k_of, lloyd_final, quantized_pts
    emb = load(spark, sf_dir, "embeddings")
    k = auto_k_of(emb.count())
    kc = math.ceil(math.sqrt(k))  # IEEE sqrt: correctly rounded, ≡ SQL
    kf = (k + kc - 1) // kc
    pts = quantized_pts(emb).cache()  # ONE quantized scan, shared with
    #                                   the coarse Lloyd training below
    ccent, ac, _ = lloyd_final(spark, sf_dir, k=kc, pts=pts)
    ac = (ac.select("vec_id", F.col("cid").alias("ccid"))
          .cache())  # id-sized (2 ints/row); consumed by every stage
    ptsc = pts.join(ac, "vec_id")  # (vec_id, d, qv, ccid)
    # fine seeds: the kf lowest-id members of each coarse cell
    w = W.partitionBy("ccid").orderBy("vec_id")
    fcent = (ac.withColumn("r", F.row_number().over(w))
             .filter(F.col("r") <= kf)
             .join(pts, "vec_id")
             .select("ccid", F.col("r").alias("fcid"), "d",
                     F.col("qv").alias("cv")))
    diff = F.col("qv") - F.col("cv")

    def assign_f(fcent: "DataFrame") -> "DataFrame":
        # restricted to the vector's own coarse cell via the (ccid, d)
        # join key; argmin with MIN(fcid) tie-break (Lloyd convention)
        dist = (ptsc.join(F.broadcast(fcent), ["ccid", "d"])
                .groupBy("vec_id", "fcid")
                .agg(F.sum(diff * diff).alias("dist2")))
        md = dist.groupBy("vec_id").agg(F.min("dist2").alias("md"))
        return (dist.join(md, "vec_id")
                .where(F.col("dist2") == F.col("md"))
                .groupBy("vec_id").agg(F.min("fcid").alias("fcid")))

    for _ in range(_ITERS):
        fa = assign_f(fcent)
        sums = (ptsc.join(fa, "vec_id")
                .groupBy("ccid", "fcid", "d")
                .agg(F.expr("sum(qv) div count(1)").alias("cv_new")))
        fcent = (fcent.join(sums, ["ccid", "fcid", "d"], "left")
                 .select("ccid", "fcid", "d",
                         F.coalesce("cv_new", "cv").cast("bigint")
                         .alias("cv")))
        # pin K·d centroid rows on the driver between rounds (the
        # lloyd_final convention — truncates the iterative lineage)
        fcent = spark.createDataFrame(fcent.collect(), fcent.schema)
    af = assign_f(fcent)
    return {"emb": emb, "pts": pts, "ccent": ccent, "ac": ac,
            "fcent": fcent, "af": af}


def _ivf_assigned_vectors(spark: "SparkSession", sf_dir: str,
                          model: dict | None = None) -> "DataFrame":
    """(id, vec, ccid, fcid, cell, norm): every embedding joined to its
    trained two-level IVF cell (see :func:`_ivf_model`); ``cell`` packs
    (ccid, fcid) into one bigint for single-column grouping."""
    from .functions.vector import l2_norm
    m = model if model is not None else _ivf_model(spark, sf_dir)
    e = m["emb"].select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"))
    return (e.join(m["ac"].select(F.col("vec_id").alias("id"), "ccid"),
                   "id")
            .join(m["af"].select(F.col("vec_id").alias("id"), "fcid"),
                  "id")
            .withColumn("cell", F.col("ccid") * F.lit(_CELL_PACK)
                        + F.col("fcid"))
            .withColumn("norm", l2_norm(F.col("vec"))))


def _ivf_probes(spark: "SparkSession", model: dict) -> "DataFrame":
    """(vec_id, cell): the multi-probe set — the home cell plus the
    ``_IVF_NPROBE - 1`` nearest OTHER fine cells drawn from the
    vector's ``_IVF_NPROBE_C`` nearest coarse cells (faiss's nprobe,
    applied to dedup: a vector is compared against lower-id HOME
    members of every probed cell, which recovers near-boundary pairs
    the single-cell assignment splits).  Including the home cell
    explicitly guarantees the probed decision set is a superset of the
    single-probe one.  Cost: N·kc coarse distances (reusing the final
    trained centroids) + N·nprobe_c·kf fine distances + id-only
    windows — still ≈ 2N√K, never N·K."""
    from pyspark.sql import Window as W
    diff = F.col("qv") - F.col("cv")
    pts = model["pts"]
    cdist = (pts.join(F.broadcast(model["ccent"]), "d")
             .groupBy("vec_id", "cid")
             .agg(F.sum(diff * diff).alias("dc2")))
    wc = W.partitionBy("vec_id").orderBy("dc2", "cid")
    ctop = (cdist.withColumn("cr", F.row_number().over(wc))
            .filter(F.col("cr") <= _IVF_NPROBE_C)
            .select("vec_id", F.col("cid").alias("ccid")))
    fdist = (pts.join(ctop, "vec_id")
             .join(F.broadcast(model["fcent"]), ["ccid", "d"])
             .groupBy("vec_id", "ccid", "fcid")
             .agg(F.sum(diff * diff).alias("df2")))
    cand = fdist.select(
        "vec_id",
        (F.col("ccid") * F.lit(_CELL_PACK) + F.col("fcid")).alias("cell"),
        "df2")
    home = (model["ac"].join(model["af"], "vec_id")
            .select("vec_id",
                    (F.col("ccid") * F.lit(_CELL_PACK)
                     + F.col("fcid")).alias("cell")))
    wn = W.partitionBy("vec_id").orderBy("df2", "cell")
    nonhome = (cand.join(home.withColumnRenamed("cell", "hcell"),
                         "vec_id")
               .filter(F.col("cell") != F.col("hcell"))
               .withColumn("pr", F.row_number().over(wn))
               .filter(F.col("pr") <= _IVF_NPROBE - 1)
               .select("vec_id", "cell"))
    return home.unionByName(nonhome)


def _semdedup_ivf_oracle() -> str:
    return f"""
WITH {_ivf_ctes(with_common=True)},
emb AS ({_O_SEM_EMB}),
av AS (
  SELECT e.vec_id AS id, e.vec, c.ccid * {_CELL_PACK} + f.fcid AS cell
  FROM emb e JOIN iac c ON e.vec_id = c.vec_id
             JOIN iaf f ON e.vec_id = f.vec_id
), {_o_subcell('av', 'cell')}, mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM sub a JOIN sub b
    ON a.cell = b.cell AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
)
SELECT s.id AS vec_id,
       (s.cell // {_CELL_PACK})::INT AS cluster_coarse,
       (s.cell % {_CELL_PACK})::INT AS cluster_fine,
       s.sub::INT AS subcell, m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM sub s LEFT JOIN mx m ON s.id = m.id
"""


@q("semdedup_ivf_prune", ("F10", "J5", "W2", "A1"),
   oracle=_semdedup_ivf_oracle())
def semdedup_ivf_prune(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The 100 TB form of auto-K SemDeDup: IVF coarse/fine assignment
    + the md5 sub-cell cap — what SemDeDup's faiss pipeline actually
    runs (Abbas et al. 2023 assign with a trained coarse quantizer,
    never exact K-way distances once K scales with the corpus).

    K follows the paper's own rule (auto_k_of: K = max(8, ⌈N/50⌉))
    but is realized as a TRAINED hierarchy — kc = ⌈√K⌉ Lloyd-trained
    coarse cells × kf = ⌈K/kc⌉ Lloyd-trained fine cells per coarse
    cell — so each round costs N·(kc+kf) ≈ 2N√K distances: at ×10
    that is ~40 per vector per round instead of 400 (the flat exact
    auto-K path measured 433 s there, and its ×10 oracle spilled
    >70 GB; this one is oracle-FEASIBLE because both unrolled Lloyd
    chains run at √K-sized centroid sets).  Expected cell size stays
    the paper's target (N/K = 50); the md5 sub-cell cap still bounds
    the adversarial cell, so pairwise cost ≤ cells·⌈n/cap⌉·cap² under
    any distribution.  The recall cost vs the exact auto-K decisions
    is measured by ``semdedup_ivf_recall_eval``, not assumed.

    Plan shape: cached quantized scan, broadcast-join argmin
    aggregates per round (centroids ≪ corpus; map-side combine on
    (vec_id, cid)), one id-only window for fine-seed election, then
    the shared capped pairwise stage — vectors shuffle once per
    stage and no task ever sees more than cap members of a cell."""
    v = _subcell(_ivf_assigned_vectors(spark, sf_dir), "cell")
    mx = _max_lower_cos_micro(v, ["cell", "sub"])
    return (v.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    (F.col("cell") / F.lit(_CELL_PACK)).cast("int")
                    .alias("cluster_coarse"),
                    (F.col("cell") % F.lit(_CELL_PACK)).cast("int")
                    .alias("cluster_fine"),
                    F.col("sub").cast("int").alias("subcell"),
                    "max_lower_cos_micro",
                    F.coalesce(F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("pruned")))


def _semdedup_ivf_recall_oracle() -> str:
    from .queries_ml import _kmeans_assign_ctes
    return f"""
WITH {_kmeans_assign_ctes(auto_k=True)},
emb AS ({_O_SEM_EMB}),
eav AS (
  SELECT e.vec_id AS id, a.cid, e.vec
  FROM emb e JOIN afin a ON e.vec_id = a.vec_id
), {_o_subcell('eav', 'cid', prefix='e')}, emx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS m
  FROM esub a JOIN esub b
    ON a.cid = b.cid AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
), exact AS (
  SELECT s.id, COALESCE(m.m >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM esub s LEFT JOIN emx m ON s.id = m.id
), {_ivf_ctes()},
iav AS (
  SELECT e.vec_id AS id, e.vec, c.ccid * {_CELL_PACK} + f.fcid AS cell
  FROM emb e JOIN iac c ON e.vec_id = c.vec_id
             JOIN iaf f ON e.vec_id = f.vec_id
), {_o_subcell('iav', 'cell', prefix='i')}, imx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS m
  FROM isub a JOIN isub b
    ON a.cell = b.cell AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
), approx AS (
  SELECT s.id, COALESCE(m.m >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM isub s LEFT JOIN imx m ON s.id = m.id
)
SELECT COUNT(*)::INT AS n_vectors,
       COUNT(*) FILTER (WHERE e.pruned)::INT AS pruned_exact,
       COUNT(*) FILTER (WHERE i.pruned)::INT AS pruned_ivf,
       COUNT(*) FILTER (WHERE e.pruned AND i.pruned)::INT AS agree_pruned,
       CAST(COUNT(*) FILTER (WHERE e.pruned AND i.pruned) AS DOUBLE)
         / NULLIF(COUNT(*) FILTER (WHERE e.pruned), 0) AS ivf_recall
FROM exact e JOIN approx i USING (id)
"""


@q("semdedup_ivf_recall_eval", ("F10", "A1"),
   oracle=_semdedup_ivf_recall_oracle())
def semdedup_ivf_recall_eval(spark: "SparkSession", sf_dir: str
                             ) -> "DataFrame":
    """Trust gate for the IVF assignment: of the vectors the EXACT
    auto-K capped path (``semdedup_autok_prune_capped`` — Lloyd-trained
    cells) prunes, what fraction does ``semdedup_ivf_prune`` also
    prune?  Same contract as ``semdedup_kmeans_cap_recall_eval``: the
    approximation's recall cost is itself oracle-gated, and a low
    reading says raise kf (more cells ⇒ finer split) or n-probe the
    pruning stage.  The exact twin is the verification baseline,
    usable only at QA scale — offline QA over a hash-sample in
    production, exactly like ``ann_recall_eval``."""
    ex = (semdedup_autok_prune_capped(spark, sf_dir)
          .select(F.col("vec_id").alias("id"),
                  F.col("pruned").alias("e_pruned")))
    iv = (semdedup_ivf_prune(spark, sf_dir)
          .select(F.col("vec_id").alias("id"),
                  F.col("pruned").alias("i_pruned")))
    both = ex.join(iv, "id")
    agree = F.count_if(F.col("e_pruned") & F.col("i_pruned"))
    n_e = F.count_if(F.col("e_pruned"))
    return both.agg(
        F.count(F.lit(1)).cast("int").alias("n_vectors"),
        n_e.cast("int").alias("pruned_exact"),
        F.count_if(F.col("i_pruned")).cast("int").alias("pruned_ivf"),
        agree.cast("int").alias("agree_pruned"),
        (agree.cast("double") /
         F.nullif(n_e.cast("double"), F.lit(0.0))).alias("ivf_recall"))


def _o_ivf_probes(sub: str = "sub", pfx: str = "") -> str:
    """DuckDB CTE chain replaying :func:`_ivf_probes` → relation
    ``{pfx}bpr`` (b_id, cell, sub): for each vector, the home fine
    cell plus the ``_IVF_NPROBE - 1`` nearest others (drawn from the
    ``_IVF_NPROBE_C`` nearest coarse cells by trained-centroid
    distance), each paired with the sub-cell the vector's id hashes to
    UNDER THAT CELL'S member count (``{sub}`` = the home-member
    subcell relation supplying cell sizes).  ``pfx`` renames the
    emitted CTEs so the recall eval can compose this next to the exact
    chain without collisions."""
    from .queries_ml import _ITERS
    return f"""{pfx}cdp AS (
  SELECT p.vec_id, c.cid, SUM((p.qv - c.cv) * (p.qv - c.cv)) AS dc2
  FROM pts p JOIN qc{_ITERS} c USING (d) GROUP BY 1, 2
), {pfx}ctp AS (
  SELECT vec_id, cid AS ccid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dc2, cid) AS cr
    FROM {pfx}cdp)
  WHERE cr <= {_IVF_NPROBE_C}
), {pfx}fdp AS MATERIALIZED (
  SELECT p.vec_id, c.ccid, c.fcid, SUM((p.qv - c.cv) * (p.qv - c.cv)) AS df2
  FROM pts p JOIN {pfx}ctp t ON p.vec_id = t.vec_id
             JOIN if{_ITERS} c ON c.ccid = t.ccid AND c.d = p.d
  GROUP BY 1, 2, 3
), {pfx}homc AS (
  SELECT c.vec_id, c.ccid * {_CELL_PACK} + f.fcid AS cell
  FROM iac c JOIN iaf f USING (vec_id)
), {pfx}nonh AS (
  SELECT vec_id, cell FROM (
    SELECT f.vec_id, f.ccid * {_CELL_PACK} + f.fcid AS cell,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
                              ORDER BY f.df2,
                                       f.ccid * {_CELL_PACK} + f.fcid) AS pr
    FROM {pfx}fdp f JOIN {pfx}homc h ON f.vec_id = h.vec_id
    WHERE f.ccid * {_CELL_PACK} + f.fcid <> h.cell)
  WHERE pr <= {_IVF_NPROBE - 1}
), {pfx}prb AS (
  SELECT * FROM {pfx}homc UNION ALL SELECT * FROM {pfx}nonh
), {pfx}csz AS (
  SELECT DISTINCT cell, n FROM {sub}
), {pfx}bpr AS (
  SELECT p.vec_id AS b_id, p.cell,
         {_o_cap_sub('p.vec_id', 'z.n')} AS sub
  FROM {pfx}prb p JOIN {pfx}csz z USING (cell)
)"""


def _mp_candidates(spark: "SparkSession", sf_dir: str,
                   model: dict | None = None) -> "DataFrame":
    """Home-member subcell relation ``v`` LEFT-joined to the
    multi-probe max-lower cosine: the Spark twin of
    ``_o_ivf_probes`` + the mx aggregate.  Returns ``v`` columns plus
    ``max_lower_cos_micro``."""
    from .functions.vector import dot
    m = model if model is not None else _ivf_model(spark, sf_dir)
    v = _subcell(_ivf_assigned_vectors(spark, sf_dir, m), "cell")
    probes = _ivf_probes(spark, m)
    cellsz = v.select("cell", "n").distinct()
    bp = (probes.join(F.broadcast(cellsz), "cell")
          .select(F.col("vec_id").alias("b_id"), "cell",
                  _cap_sub(F.col("vec_id"), F.col("n")).alias("sub")))
    cand = (bp.join(v.select("id", "vec", "norm", "cell", "sub"),
                    ["cell", "sub"])
            .filter(F.col("id") < F.col("b_id")))
    bside = v.select(F.col("id").alias("b_id"),
                     F.col("vec").alias("b_vec"),
                     F.col("norm").alias("b_norm"))
    cos = F.floor(dot(F.col("vec"), F.col("b_vec")) /
                  (F.col("norm") * F.col("b_norm")) * F.lit(1e6))
    mx = (cand.join(bside, "b_id")
          .groupBy(F.col("b_id").alias("id"))
          .agg(F.max(cos).alias("max_lower_cos_micro")))
    return v.join(mx, "id", "left")


def _semdedup_ivf_mp_oracle() -> str:
    return f"""
WITH {_ivf_ctes(with_common=True)},
emb AS ({_O_SEM_EMB}),
av AS (
  SELECT e.vec_id AS id, e.vec, c.ccid * {_CELL_PACK} + f.fcid AS cell
  FROM emb e JOIN iac c ON e.vec_id = c.vec_id
             JOIN iaf f ON e.vec_id = f.vec_id
), {_o_subcell('av', 'cell')}, {_o_ivf_probes('sub')}, mx AS (
  SELECT bp.b_id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM bpr bp
    JOIN sub a ON a.cell = bp.cell AND a.sub = bp.sub AND a.id < bp.b_id
    JOIN av b ON b.id = bp.b_id
  GROUP BY 1
)
SELECT s.id AS vec_id,
       (s.cell // {_CELL_PACK})::INT AS cluster_coarse,
       (s.cell % {_CELL_PACK})::INT AS cluster_fine,
       s.sub::INT AS subcell, m.max_lower_cos_micro,
       COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
FROM sub s LEFT JOIN mx m ON s.id = m.id
"""


@q("semdedup_ivf_multiprobe_prune", ("F10", "J5", "W2", "A1"),
   oracle=_semdedup_ivf_mp_oracle())
def semdedup_ivf_multiprobe_prune(spark: "SparkSession", sf_dir: str
                                  ) -> "DataFrame":
    """``semdedup_ivf_prune`` with faiss-style MULTI-PROBE pruning —
    the recall knob for the IVF approximation: each vector compares
    against lower-id HOME members of its home cell AND its
    ``_IVF_NPROBE - 1`` next-nearest fine cells (drawn from the
    ``_IVF_NPROBE_C`` nearest coarse cells by trained-centroid
    distance), recovering the near-boundary pairs a single-cell
    assignment splits — the dominant loss mode measured by
    ``semdedup_ivf_recall_eval`` (0.46 single-probe at sf0.01).

    In each probed cell the vector compares against the ONE sub-cell
    its id hashes to under that cell's member count (its own sub-cell
    at home, so the decision set is a strict superset of the
    single-probe one), keeping per-vector comparisons ≤ nprobe·cap —
    still bounded under any cell-size distribution.  Probe cost reuses
    the trained centroids: N·kc coarse + N·nprobe_c·kf fine distances
    ≈ 2N√K, never N·K.  Recall vs the exact auto-K decisions is
    measured by ``semdedup_ivf_mp_recall_eval``."""
    v = _mp_candidates(spark, sf_dir)
    return (v.select(F.col("id").alias("vec_id"),
                     (F.col("cell") / F.lit(_CELL_PACK)).cast("int")
                     .alias("cluster_coarse"),
                     (F.col("cell") % F.lit(_CELL_PACK)).cast("int")
                     .alias("cluster_fine"),
                     F.col("sub").cast("int").alias("subcell"),
                     "max_lower_cos_micro",
                     F.coalesce(
                         F.col("max_lower_cos_micro") >= _SEM_TAU_MICRO,
                         F.lit(False)).alias("pruned")))


def _semdedup_ivf_mp_recall_oracle() -> str:
    from .queries_ml import _kmeans_assign_ctes
    return f"""
WITH {_kmeans_assign_ctes(auto_k=True)},
emb AS ({_O_SEM_EMB}),
eav AS (
  SELECT e.vec_id AS id, a.cid, e.vec
  FROM emb e JOIN afin a ON e.vec_id = a.vec_id
), {_o_subcell('eav', 'cid', prefix='e')}, emx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS m
  FROM esub a JOIN esub b
    ON a.cid = b.cid AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
), exact AS (
  SELECT s.id, COALESCE(m.m >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM esub s LEFT JOIN emx m ON s.id = m.id
), {_ivf_ctes()},
iav AS (
  SELECT e.vec_id AS id, e.vec, c.ccid * {_CELL_PACK} + f.fcid AS cell
  FROM emb e JOIN iac c ON e.vec_id = c.vec_id
             JOIN iaf f ON e.vec_id = f.vec_id
), {_o_subcell('iav', 'cell', prefix='i')}, {_o_ivf_probes('isub', 'p')},
imx AS (
  SELECT bp.b_id AS id, MAX({_O_SEM_COS}) AS m
  FROM pbpr bp
    JOIN isub a ON a.cell = bp.cell AND a.sub = bp.sub AND a.id < bp.b_id
    JOIN iav b ON b.id = bp.b_id
  GROUP BY 1
), approx AS (
  SELECT s.id, COALESCE(m.m >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM isub s LEFT JOIN imx m ON s.id = m.id
)
SELECT COUNT(*)::INT AS n_vectors,
       COUNT(*) FILTER (WHERE e.pruned)::INT AS pruned_exact,
       COUNT(*) FILTER (WHERE i.pruned)::INT AS pruned_ivf,
       COUNT(*) FILTER (WHERE e.pruned AND i.pruned)::INT AS agree_pruned,
       CAST(COUNT(*) FILTER (WHERE e.pruned AND i.pruned) AS DOUBLE)
         / NULLIF(COUNT(*) FILTER (WHERE e.pruned), 0) AS ivf_recall
FROM exact e JOIN approx i USING (id)
"""


@q("semdedup_ivf_mp_recall_eval", ("F10", "A1"),
   oracle=_semdedup_ivf_mp_recall_oracle())
def semdedup_ivf_mp_recall_eval(spark: "SparkSession", sf_dir: str
                                ) -> "DataFrame":
    """Trust gate for the multi-probe IVF pruning: same contract as
    ``semdedup_ivf_recall_eval`` but over the multi-probe decision
    set — the number that certifies the nprobe knob actually buys back
    the recall the single-cell assignment loses."""
    ex = (semdedup_autok_prune_capped(spark, sf_dir)
          .select(F.col("vec_id").alias("id"),
                  F.col("pruned").alias("e_pruned")))
    iv = (semdedup_ivf_multiprobe_prune(spark, sf_dir)
          .select(F.col("vec_id").alias("id"),
                  F.col("pruned").alias("i_pruned")))
    both = ex.join(iv, "id")
    agree = F.count_if(F.col("e_pruned") & F.col("i_pruned"))
    n_e = F.count_if(F.col("e_pruned"))
    return both.agg(
        F.count(F.lit(1)).cast("int").alias("n_vectors"),
        n_e.cast("int").alias("pruned_exact"),
        F.count_if(F.col("i_pruned")).cast("int").alias("pruned_ivf"),
        agree.cast("int").alias("agree_pruned"),
        (agree.cast("double") /
         F.nullif(n_e.cast("double"), F.lit(0.0))).alias("ivf_recall"))


# =========================================================================
# Streaming curation: the classifier as a stateless stream transform
# =========================================================================

@q("streaming_quality_filter", ("ST1", "ST3", "ST4", "F9"), oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({O_TOKENS.format(c='text')}) AS t FROM documents
), w AS (
  SELECT doc_id,
         ('0x' || substr(md5('w#' || CAST(
             ('0x' || substr(md5(t), 1, 15))::BIGINT % {_CLS_BUCKETS}
           AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS w_milli
  FROM tok
)
SELECT doc_id,
       COUNT(*)::INT AS n_tokens,
       CAST(SUM(w_milli) AS DOUBLE) / (COUNT(*) * 1000.0) AS mean_weight,
       SUM(w_milli) > 0 AS keep
FROM w GROUP BY 1
""")
def streaming_quality_filter(spark: "SparkSession", sf_dir: str
                             ) -> "DataFrame":
    """The quality classifier running INSIDE a Structured Streaming
    query (ST4 stateless transform): readStream over the documents
    parquet → per-doc score computed as ONE array expression
    (aggregate over transform of the token array — no explode, no
    groupBy, therefore no streaming state at all) → append-mode memory
    sink drained with Trigger.AvailableNow.

    This is the shape a 100 TB ingest-time filter runs in production:
    scoring new documents as they land costs zero shuffle and zero
    state store — every row is scored and routed in the map stage of
    the micro-batch.  Result set equals the batch classifier (same
    oracle recipe), which is the equivalence the gate certifies.
    """
    from .queries_streaming import _stream_source
    from .streaming.runner import drain_to_memory
    stream = _stream_source(spark, sf_dir, table="documents")
    toks = tokens(F.col("text"))
    w_sum = F.aggregate(
        F.transform(toks, lambda t: _w_milli(t)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    n = F.size(toks)
    scored = (stream
              .filter(n > 0)
              .select("doc_id",
                      n.cast("int").alias("n_tokens"),
                      (w_sum.cast("double") / (n * 1000.0))
                      .alias("mean_weight"),
                      (w_sum > 0).alias("keep")))
    return drain_to_memory(scored, "append", "stream_qfilter")


# =========================================================================
# Exact-substring duplication coverage (Lee et al. 2022)
# =========================================================================

_SUB_W = 8  # window length in tokens (the paper uses 50 BPE tokens;
            # scaled to the short synthetic docs so values spread)


@q("substring_dup_coverage", ("W2", "J5", "F9"), oracle=f"""
WITH tok AS (
  SELECT doc_id, {O_TOKENS.format(c='text')} AS toks FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(toks) <= {_SUB_W}
           THEN [array_to_string(toks, ' ')]
           ELSE [array_to_string(toks[i:i+{_SUB_W - 1}], ' ')
                 for i in generate_series(1, len(toks) - {_SUB_W - 1})]
         END)) AS g
  FROM tok
), h AS (
  SELECT doc_id, md5(g) AS gh FROM sh
), cnt AS (
  SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY 1
)
SELECT doc_id,
       COUNT(*)::INT AS n_windows,
       COUNT(*) FILTER (WHERE nd > 1)::INT AS dup_windows,
       CAST(COUNT(*) FILTER (WHERE nd > 1) AS DOUBLE) / COUNT(*)
         AS dup_frac
FROM h JOIN cnt USING (gh)
GROUP BY 1
""")
def substring_dup_coverage(spark: "SparkSession", sf_dir: str
                           ) -> "DataFrame":
    """Exact-substring duplication coverage per document — the
    window-level dedup tier of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): a token window that
    appears verbatim in ANY other document is duplicated text, and a
    document's dup-window fraction is the signal for span-level
    removal (vs MinHash's whole-doc verdicts).  Their suffix-array
    oracle is replaced by the distributed equivalent: hash every
    distinct W-token window, count distinct docs per window hash, and
    roll back up to the document.

    Scale design: windows are hashed to 16-byte md5 BEFORE any
    shuffle, so both shuffles (per-window doc count; per-doc rollup)
    move (hash, id) pairs, never text — the contamination-check shape,
    turned inward on the corpus itself.  Both aggregates combine
    map-side; nothing is pairwise, so a window shared by a million
    docs costs one count row, not 10¹² pairs (the degenerate case that
    breaks pairwise dedup is the cheap case here).
    """
    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id",
                  F.explode(ngrams(tokens(F.col("text")), _SUB_W))
                  .alias("g"))
    h = sh.select("doc_id", F.md5("g").alias("gh"))
    cnt = h.groupBy("gh").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.count_if(F.col("nd") > 1)
    return (h.join(cnt, "gh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_windows"),
                 dup.cast("int").alias("dup_windows"),
                 (dup.cast("double") / F.count(F.lit(1)))
                 .alias("dup_frac")))


@q("incremental_bigram_lm_equals_batch", ("F9", "A1", "ST2"), oracle=f"""
WITH {_O_BIGRAMS},
v AS (SELECT COUNT(DISTINCT cur) AS vsz FROM bi),
c1 AS (SELECT prev, COUNT(*) AS n1 FROM bi GROUP BY 1),
c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
term AS (
  SELECT c2.prev, c2.cur,
         CAST(ROUND(-log2((n2 + 1.0) / (n1 + vsz)) * 1000000)
              AS BIGINT) AS ti
  FROM c2 JOIN c1 USING (prev), v
)
SELECT b.doc_id,
       COUNT(*)::INT AS n_bigrams,
       CAST(SUM(ti) AS DOUBLE) / (COUNT(*) * 1000000.0)
         AS avg_nll_bits
FROM bi b JOIN term t ON b.prev = t.prev AND b.cur = t.cur
GROUP BY 1
""")
def incremental_bigram_lm_equals_batch(spark: "SparkSession", sf_dir: str
                                       ) -> "DataFrame":
    """Incremental LM-model maintenance invariant: fold the corpus's
    bigram counts in TWO batches through ``IncrementalAggTable``
    (mergeable count partials at (prev, cur) granularity, one installed
    state version per refresh), inject the merged model into the scorer — the result must
    hash-equal the one-shot model (the batch oracle).  This is how the
    perplexity filter stays cheap on a growing corpus: new documents
    merge count partials (O(batch + model)), they never retrain
    (O(corpus)).  Smoothing (|V|, c1) derives from the maintained c2
    at read time, so the incremental path shares the scorer verbatim.
    """
    from .engine.incremental import IncrementalAggTable, MergeableAgg
    d = load(spark, sf_dir, "documents")
    t = IncrementalAggTable(
        spark, scratch("inc_lm_") + "/state",
        keys=["prev", "cur"],
        metrics=[MergeableAgg("n2", lambda: F.count(F.lit(1)),
                              lambda c: F.sum(F.col(c)))])
    t.refresh(_doc_bigrams(d.filter(F.col("doc_id") % 2 == 0)))
    t.refresh(_doc_bigrams(d.filter(F.col("doc_id") % 2 == 1)))
    return _bigram_lm(d, c2=t.read())


@q("substring_dedup_rewrite", ("W2", "J5", "F9"), oracle=f"""
WITH tok AS (
  SELECT doc_id, {O_TOKENS.format(c='text')} AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks))) AS p
  FROM tok
), tokp AS (
  SELECT doc_id, p, toks[p] AS t FROM pos
), win AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_SUB_W - 1})) AS i
  FROM tok WHERE len(toks) >= {_SUB_W}
), wh AS (
  SELECT doc_id, i,
         md5(array_to_string(toks[i:i+{_SUB_W - 1}], ' ')) AS gh
  FROM win
), dup AS (
  SELECT gh FROM wh GROUP BY gh HAVING COUNT(*) > 1
), covered AS (
  SELECT DISTINCT w.doc_id, w.i + off.o AS p
  FROM wh w JOIN dup USING (gh)
  CROSS JOIN (SELECT unnest(generate_series(0, {_SUB_W - 1})) AS o) off
), kept AS (
  SELECT tp.doc_id, tp.p, tp.t
  FROM tokp tp LEFT JOIN covered c
    ON tp.doc_id = c.doc_id AND tp.p = c.p
  WHERE c.p IS NULL
)
SELECT t.doc_id,
       len(t.toks)::INT AS n_tokens,
       (len(t.toks) - COUNT(k.p))::INT AS n_removed,
       COALESCE(string_agg(k.t, ' ' ORDER BY k.p), '') AS cleaned_text
FROM tok t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, len(t.toks)
""")
def substring_dedup_rewrite(spark: "SparkSession", sf_dir: str
                            ) -> "DataFrame":
    """Span-level dedup REWRITE (the second half of Lee et al. 2022):
    every token covered by a W-token window that appears more than once
    in the corpus is removed, and the document is reconstructed from
    the surviving tokens — the only operator in the dedup family that
    edits documents instead of issuing keep/drop verdicts.  (Their
    suffix-array pass removes one occurrence and keeps one; the
    remove-all-covered policy here is the conservative variant used
    when boilerplate — headers, license blocks — is the target.)

    Scale design: window hashes (16-byte md5) are the ONLY shuffled
    representation of text content — the dup set is found by one
    count-per-hash aggregate (never pairwise); covered positions
    explode from dup window STARTS (O(dup windows × W), proportional
    to the text being deleted, not the corpus); the rebuild is one
    per-doc sort-and-join of surviving tokens.  An all-boilerplate
    corpus maximizes deletions but stays linear — degenerate dup mass
    is again the cheap case.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    tokp = base.select(
        "doc_id", F.posexplode("toks").alias("p0", "t")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "t")
    win = (base.filter(F.size("toks") >= _SUB_W)
           .select("doc_id",
                   F.posexplode(F.expr(
                       f"transform(sequence(1, size(toks) - {_SUB_W - 1}),"
                       f" i -> array_join(slice(toks, i, {_SUB_W}), ' '))"
                   )).alias("i0", "g"))
           .select("doc_id", (F.col("i0") + 1).alias("i"),
                   F.md5("g").alias("gh")))
    dup = (win.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") > 1).select("gh"))
    covered = (win.join(dup, "gh")
               .select("doc_id",
                       F.explode(F.sequence(
                           F.col("i"), F.col("i") + _SUB_W - 1)).alias("p"))
               .distinct())
    kept = tokp.join(covered, ["doc_id", "p"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("p", "t"))),
                            lambda s: s["t"]), " ").alias("cleaned_text")))
    return (base.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.size("toks").cast("int").alias("n_tokens"),
                    (F.size("toks") - F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_removed"),
                    F.coalesce("cleaned_text", F.lit(""))
                    .alias("cleaned_text")))


@q("engine_curation_pipeline", ("O1", "O5", "F9", "A1", "W3"),
   oracle=_funnel_oracle())
def engine_curation_pipeline(spark: "SparkSession", sf_dir: str
                             ) -> "DataFrame":
    """The curation filter stack as the THIRD certified Engine DAG
    (pipeline/curation_models.py): bronze landing → materialized
    bigram-LM model table + flag tables → gold funnel report, with the
    quality contract (unique/relationship checks + a singular check
    that the funnel is monotonically non-increasing) asserted inside
    the gate.  Same oracle as ``curation_funnel_report`` — the DAG
    must produce byte-identical results to the single-plan query,
    proving materialization boundaries don't change semantics."""
    from .engine import Engine
    from .pipeline.curation_models import (attach_curation_checks,
                                           build_curation_registry)
    workdir = scratch("curation_pipeline_")
    eng = Engine(spark, build_curation_registry(),
                 config={"documents_path": f"{sf_dir}/documents.parquet"},
                 warehouse=f"{workdir}/wh")
    attach_curation_checks(eng)
    eng.run()
    failures = [r for r in eng.test() if not r.passed]
    if failures:
        raise AssertionError(f"curation checks failed: {failures}")
    return eng.table("gold.curation_funnel")


@q("embedding_decontaminate", ("F10", "J5", "P5"), oracle=f"""
WITH emb AS ({_O_SEM_EMB}),
b AS (
  SELECT vec_id AS id, vec,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
           % 100 AS bkt,
         (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS cell
  FROM emb
),
train AS (SELECT * FROM b WHERE bkt < 80),
eval_ AS (SELECT * FROM b WHERE bkt >= 90),
mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_train_cos_micro
  FROM train a JOIN eval_ b ON a.cell = b.cell
  GROUP BY 1
)
SELECT e.id AS vec_id, m.max_train_cos_micro,
       COALESCE(m.max_train_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS contaminated
FROM eval_ e LEFT JOIN mx m ON e.id = m.id
""")
def embedding_decontaminate(spark: "SparkSession", sf_dir: str
                            ) -> "DataFrame":
    """Embedding-level benchmark decontamination: flag every EVAL
    vector whose cosine to any TRAIN vector exceeds τ — the semantic
    twin of ``contamination_ngram`` (n-gram leakage catches verbatim
    copies; embedding leakage catches paraphrased eval items, the
    failure mode n-grams miss).  Splits reuse dataset_split's md5
    buckets (train < 80, eval ≥ 90) so all three leakage surfaces
    agree on what "train" and "eval" mean.

    Scale design: the scoring join is sign-cell-keyed (never
    all-pairs) and ASYMMETRIC — eval is benchmark-sized (≤10% here, a
    fixed suite in production), so Spark broadcasts the eval side and
    the 100 TB train side never shuffles; per-eval MAX combines
    map-side.  Production swaps sign cells for the trained k-means
    cells exactly as in ``semdedup_kmeans_prune``.
    """
    from .functions.vector import dot, l2_norm
    from .operators.similarity import sign_bucket
    e = load(spark, sf_dir, "embeddings")
    bkt = (F.conv(F.substring(
        F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100)
    v = (e.select(F.col("vec_id").alias("id"),
                  F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("bkt", bkt)
         .withColumn("cell", sign_bucket(F.col("vec"), 4))
         .withColumn("norm", l2_norm(F.col("vec"))))
    train = v.filter(F.col("bkt") < 80)
    ev = v.filter(F.col("bkt") >= 90)
    a, b = train.alias("a"), ev.alias("b")
    cos = F.floor(dot(F.col("a.vec"), F.col("b.vec")) /
                  (F.col("a.norm") * F.col("b.norm")) * F.lit(1e6))
    mx = (a.join(b, F.col("a.cell") == F.col("b.cell"))
          .groupBy(F.col("b.id").alias("id"))
          .agg(F.max(cos).alias("max_train_cos_micro")))
    return (ev.join(mx, "id", "left")
            .select(F.col("id").alias("vec_id"), "max_train_cos_micro",
                    F.coalesce(F.col("max_train_cos_micro") >= _SEM_TAU_MICRO,
                               F.lit(False)).alias("contaminated")))


@q("semdedup_cap_recall_eval", ("F10", "A1"), oracle=f"""
WITH emb AS ({_O_SEM_EMB}),
bucketed AS (
  SELECT vec_id AS id, vec,
         (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM emb
), mx AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.id < b.id
  GROUP BY 1
), uncapped AS (
  SELECT e.id, COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM bucketed e LEFT JOIN mx m ON e.id = m.id
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS n FROM bucketed
), sub AS (
  SELECT id, vec, bucket,
         CASE WHEN n <= {_SEM_CAP} THEN 0
              ELSE ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                   % ((n + {_SEM_CAP} - 1) // {_SEM_CAP})
         END AS sub
  FROM sized
), mxc AS (
  SELECT b.id AS id, MAX({_O_SEM_COS}) AS max_lower_cos_micro
  FROM sub a JOIN sub b
    ON a.bucket = b.bucket AND a.sub = b.sub AND a.id < b.id
  GROUP BY 1
), capped AS (
  SELECT s.id, COALESCE(m.max_lower_cos_micro >= {_SEM_TAU_MICRO}, FALSE) AS pruned
  FROM sub s LEFT JOIN mxc m ON s.id = m.id
)
SELECT COUNT(*)::INT AS n_vectors,
       COUNT(*) FILTER (WHERE u.pruned)::INT AS pruned_uncapped,
       COUNT(*) FILTER (WHERE c.pruned)::INT AS pruned_capped,
       COUNT(*) FILTER (WHERE u.pruned AND c.pruned)::INT AS agree_pruned,
       CAST(COUNT(*) FILTER (WHERE u.pruned AND c.pruned) AS DOUBLE)
         / NULLIF(COUNT(*) FILTER (WHERE u.pruned), 0) AS cap_recall
FROM uncapped u JOIN capped c USING (id)
""")
def semdedup_cap_recall_eval(spark: "SparkSession", sf_dir: str
                             ) -> "DataFrame":
    """Trust gate for the SemDeDup cell-size cap (the analog of
    ``ann_recall_eval`` for the prune path): what fraction of the
    uncapped prune decisions does the capped variant preserve?
    ``cap_recall`` below ~0.9 says the cap is splitting real duplicate
    neighborhoods and K (or the cap) needs raising — measured, not
    assumed, which is the repo's standing rule for every approximate
    path.

    Cost note: this runs BOTH variants, so it is an offline QA query
    over a sample, not a production stage; at 100 TB you run it on a
    deterministic hash-sample (hash_sample_* pattern) exactly like
    `ann_recall_eval`.
    """
    u = (semdedup_prune(spark, sf_dir)
         .select(F.col("vec_id").alias("id"),
                 F.col("pruned").alias("u_pruned")))
    c = (semdedup_prune_capped(spark, sf_dir)
         .select(F.col("vec_id").alias("id"),
                 F.col("pruned").alias("c_pruned")))
    both = u.join(c, "id")
    agree = F.count_if(F.col("u_pruned") & F.col("c_pruned"))
    n_u = F.count_if(F.col("u_pruned"))
    return both.agg(
        F.count(F.lit(1)).cast("int").alias("n_vectors"),
        n_u.cast("int").alias("pruned_uncapped"),
        F.count_if(F.col("c_pruned")).cast("int").alias("pruned_capped"),
        agree.cast("int").alias("agree_pruned"),
        (agree.cast("double") /
         F.nullif(n_u.cast("double"), F.lit(0.0))).alias("cap_recall"))

"""The LLM corpus pipeline inside the correctness gate.

``engine_corpus_pipeline`` runs the REAL four-model corpus DAG
(pipeline/corpus_models.py) through the Engine — bronze parquet
landing → silver tokenize/gate/dedup contract → gold splits + packed
sequences — then reports one row per (shard, split): document count,
packed-sequence count, and total packed tokens.  The DuckDB oracle
replays the whole pipeline in SQL (QUALIFY dedup, md5 sharding,
windowed concat-and-chunk arithmetic), so the driver's hash compare
certifies DAG execution, materializations, the dedup/gate contract,
the packing operator, and the split assignment together — the corpus
twin of engine_pipeline_fact.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .engine import Engine
from .operators.prefix import ranged_prefix
from .pipeline.corpus_models import (CORPUS, attach_corpus_checks,
                                     build_corpus_registry)
from .queries import load, q
from .queries_ext import O_TOKENS
from .session import scratch

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def _corpus_oracle() -> str:
    c = CORPUS
    bucket = ("('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
              "::BIGINT % 100")
    shard = (f"('0x' || substr(md5('{c['seed']}:' || "
             f"CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {c['shards']}")
    return f"""
WITH tok AS (
  SELECT doc_id, {O_TOKENS.format(c='text')} AS toks, text
  FROM documents WHERE lang IS NOT NULL
), gated AS (
  SELECT doc_id, len(toks) AS n, text FROM tok
  WHERE len(toks) BETWEEN {c["min_toks"]} AND {c["max_toks"]}
), silver AS (
  SELECT doc_id, n FROM gated
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), sharded AS (
  SELECT doc_id, n, CAST({shard} AS INT) AS shard,
         CASE WHEN {bucket} < {c["train_hi"]} THEN 'train'
              WHEN {bucket} < {c["val_hi"]} THEN 'validation'
              ELSE 'test' END AS split
  FROM silver
), packed AS (
  SELECT shard, split, doc_id, n,
         CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
  FROM sharded
)
SELECT shard, split,
       COUNT(*) AS n_docs,
       {{sum_pieces}} AS n_pieces,
       CAST(SUM(n) AS BIGINT) AS n_tokens
FROM packed
GROUP BY shard, split
""".replace("{sum_pieces}",
            f"CAST(SUM((e - 1) // {c['block']} "
            f"- (e - n) // {c['block']} + 1) AS BIGINT)")


@q("engine_corpus_pipeline",
   ("O1", "O5", "W2", "F9", "P6", "A1"), oracle=_corpus_oracle())
def engine_corpus_pipeline(spark: "SparkSession",
                           sf_dir: str) -> "DataFrame":
    """Run the corpus-prep DAG end to end; per (shard, split) report
    docs, packed pieces, and packed tokens from the materialized gold
    tables.  ``n_pieces`` counts document-pieces after block cutting —
    each doc contributes one piece per block it spans, so the count is
    derivable in closed form for the oracle while fully exercising the
    explode path Spark-side."""
    workdir = scratch("corpus_pipeline_")
    eng = Engine(spark, build_corpus_registry(),
                 config={"documents_path": f"{sf_dir}/documents.parquet"},
                 warehouse=f"{workdir}/wh")
    attach_corpus_checks(eng)
    eng.run()
    failures = [r for r in eng.test() if not r.passed]
    if failures:  # the gate must also prove the quality contract holds
        raise AssertionError(f"corpus checks failed: {failures}")
    packed = eng.table("gold.packed_sequences")
    splits = eng.table("gold.corpus_splits")
    pieces = (packed
              .withColumn("k", F.size(F.filter(
                  F.split("piece", r"\s+"), lambda x: x != "")))
              .join(splits, "doc_id"))
    return (pieces.groupBy("shard", "split")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_pieces"),
                 F.sum("k").alias("n_tokens")))


# =========================================================================
# Lexicon-based sentiment ([EXT] — SURVEY §2.7 F9's worked example)
# =========================================================================

#: fixed polarity lexicon over the synthetic vocabulary (weights in
#: milli-units); the POINT is the join shape, not the lexicography
_SENT_LEXICON = (("fast", 1000), ("big", 500), ("merge", 250),
                 ("slow", -1000), ("small", -500), ("dup", -750),
                 ("error", -1000))


def _sent_values() -> str:
    return ", ".join(f"('{w}', {s})" for w, s in _SENT_LEXICON)


@q("text_sentiment_lexicon", ("F9", "A1", "J1"), oracle=f"""
WITH lex(term, weight) AS (SELECT * FROM (VALUES {_sent_values()})),
t AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), n AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT t.doc_id, CAST(SUM(lex.weight) AS BIGINT) AS polarity_sum
  FROM t JOIN lex ON t.term = lex.term
  GROUP BY t.doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(COALESCE(s.polarity_sum, 0) AS BIGINT) AS polarity_sum,
       CAST((COALESCE(s.polarity_sum, 0) * 1000) // n.n_tokens AS BIGINT)
           AS sentiment_milli
FROM n LEFT JOIN s ON n.doc_id = s.doc_id
""")
def text_sentiment_lexicon(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Lexicon-based sentiment per document — SURVEY §2.7 F9's worked
    EXT example ("lexicon-based sentiment via map lookup"): token
    stream ⋈ broadcast polarity lexicon, polarity sum normalized by
    document length in integer milli-units.

    Scale design: the lexicon is the canonical broadcast dim — the
    exploded token stream never shuffles for the lookup (map-side hash
    probe), the per-doc sum map-side combines, and docs with no
    lexicon hits rejoin with COALESCE(0) through the doc-id relation.
    Swapping the word list for a real polarity lexicon (or the join
    for a pandas_udf model scorer) changes nothing structural — that
    is the point of stating it as a relational plan.  Floor division
    matches Spark div ≡ DuckDB // on negatives (truncation), exercised
    here because polarity sums go negative.
    """
    d = load(spark, sf_dir, "documents")
    lex = F.broadcast(d.sparkSession.createDataFrame(
        list(_SENT_LEXICON), "term string, weight long"))
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    s = (toks.join(lex, "term")
         .groupBy("doc_id").agg(F.sum("weight").alias("polarity_sum")))
    n = d.select("doc_id", F.size(F.split("text", " ")).cast("long")
                 .alias("n_tokens"))
    return (n.join(s, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("polarity_sum", F.lit(0)).cast("long")
                    .alias("polarity_sum"))
            .selectExpr("doc_id", "n_tokens", "polarity_sum",
                        "(polarity_sum * 1000) div n_tokens"
                        " AS sentiment_milli"))


# =========================================================================
# Chunk-level duplication ratio ([EXT] — the boilerplate signal)
# =========================================================================

_CHD = dict(chunk=32)


@q("chunk_dup_ratio", ("W2", "F9", "A1"), oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0
), idx AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST((n - 1) // {_CHD['chunk']}
                                        AS BIGINT))) AS i,
         toks
  FROM sized
), chunks AS (
  SELECT doc_id, i,
         md5(array_to_string(
           toks[i * {_CHD['chunk']} + 1 : (i + 1) * {_CHD['chunk']}],
           ' ')) AS h
  FROM idx
), freq AS (SELECT h, COUNT(*) AS c FROM chunks GROUP BY h)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       CAST((SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS dup_milli
FROM chunks JOIN freq f USING (h)
GROUP BY doc_id
""")
def chunk_dup_ratio(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Chunk-granular duplication: split each document into disjoint
    {chunk}-token chunks, hash them, and report per document how many
    chunks appear ANYWHERE else in the corpus — the sub-document
    boilerplate signal (headers, licence blocks, templated passages)
    that document-level dedup cannot see and RefinedWeb-class
    pipelines filter on.

    Scale design: chunks shuffle as 32-byte md5 hashes, never text
    (the exact-dedup doctrine, one level down); the chunk-frequency
    relation map-side combines, and the dup flag comes back via a
    hash-keyed join — at corpus scale the frequency table is the
    dedup index you already maintain.  Ratio is integer milli.
    """
    ch = _CHD["chunk"]
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", F.split("text", " ").alias("toks"))
         .filter(F.size("toks") > 0)
         .select("doc_id", "toks",
                 F.explode(F.sequence(
                     F.lit(0),
                     ((F.size("toks") - 1) / ch).cast("long"))).alias("i")))
    chunks = d.select(
        "doc_id", "i",
        F.md5(F.array_join(F.slice("toks", F.col("i") * ch + 1, ch), " "))
        .alias("h"))
    freq = chunks.groupBy("h").agg(F.count("*").alias("c"))
    return (chunks.join(freq, "h")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                 .cast("long").alias("n_dup_chunks"))
            .selectExpr("doc_id", "n_chunks", "n_dup_chunks",
                        "(n_dup_chunks * 1000) div n_chunks AS dup_milli"))


# =========================================================================
# Cross-source overlap matrix ([EXT] — corpus provenance governance)
# =========================================================================

def _overlap_oracle() -> str:
    from .queries_ext import _simhash_oracle
    return f"""
WITH fp AS ({_simhash_oracle()}),
hs AS (
  SELECT DISTINCT f.simhash AS h, d.source
  FROM fp f JOIN documents d ON d.doc_id = f.doc_id
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS shared_classes
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
"""


@q("cross_source_overlap", ("W2", "A1", "J5"), oracle=_overlap_oracle())
def cross_source_overlap(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Pairwise source-overlap matrix at NEAR-dup granularity: for
    every source pair, how many 16-bit SimHash identity classes both
    contain — the provenance audit that catches mirrored scrapes and
    templated cross-postings before they double-weight the training
    mix (exact-hash overlap is the same query with md5(text) as the
    class key; on this corpus exact overlap is empty, near-dup overlap
    is not — which is exactly why the near-dup form is the useful
    audit).

    Scale design: documents reduce to DISTINCT (fingerprint, source)
    first — content never joins, per-source copies collapse before the
    pair join, and the self-join keys on the fingerprint, so work is
    Σ (sources-per-class)² ≤ |sources|² per class, never corpus².
    """
    from .operators.dedup import simhash
    d = load(spark, sf_dir, "documents")
    fp = simhash(d, "text", "doc_id")
    hs = (fp.join(d.select("doc_id", "source"), "doc_id")
          .select(F.col("simhash").alias("h"), "source").distinct())
    a = hs.select(F.col("h"), F.col("source").alias("source_a"))
    b = hs.select(F.col("h").alias("hb"), F.col("source").alias("source_b"))
    return (a.join(b, (F.col("h") == F.col("hb")) &
                   (F.col("source_a") < F.col("source_b")))
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("shared_classes")))


# =========================================================================
# Zipf fit ([EXT] — the corpus-naturalness diagnostic)
# =========================================================================

@q("zipf_fit", ("A1", "W1", "F7"), oracle="""
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY term
), ranked AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
  FROM tf
), q AS (
  SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1e9) AS BIGINT) AS x,
         CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1e9) AS BIGINT) AS y
  FROM ranked
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
  FROM q
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
           AS zipf_slope
FROM m
""")
def zipf_fit(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Zipf-law fit: OLS slope of ln(frequency) against ln(rank) over
    the corpus vocabulary — natural language sits near −1; templated /
    synthetic corpora (like this one) flatten toward 0, which makes
    the slope a cheap corpus-naturalness gate beside entropy and
    repetition (text_char_entropy, duplicate-trigram).

    Scale design: term frequencies map-side combine to the
    vocabulary relation; ln(rank)/ln(freq) are QUANTIZED to int64
    nanos FIRST, so the regression moments accumulate exactly
    (doctrine 4 applied to a log-log fit) and only the final slope
    ratio is floating point.  The rank comes from
    ``operators.prefix.ranged_prefix`` (two-level bucketed
    row_number), so even a web-scale vocabulary never funnels through
    a single-partition window; the fit math is unchanged.
    """
    d = load(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("term"))
          .groupBy("term").agg(F.count("*").cast("long").alias("freq")))
    ranked, _ = ranged_prefix(
        tf, [F.col("freq").desc(), F.col("term")], rank_col="rnk")
    q_ = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1e9).cast("long")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1e9).cast("long")
        .alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = q_.groupBy().agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    return m.select(n.cast("long").alias("vocab_size"),
                    F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
                    .alias("zipf_slope"))


# =========================================================================
# Vocabulary coverage curve ([EXT] — tokenizer sizing diagnostic)
# =========================================================================

_VCOV = dict(targets=(50, 90, 99))


@q("vocab_coverage_curve", ("A1", "W1"), oracle=f"""
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY term
), ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk,
         SUM(freq) OVER (ORDER BY freq DESC, term
                         ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(freq) OVER () AS tot
  FROM tf
)
SELECT t.pct,
       CAST(MIN(CASE WHEN cum * 100 >= tot * t.pct THEN rnk END)
            AS BIGINT) AS vocab_needed
FROM ranked CROSS JOIN (SELECT UNNEST([50, 90, 99]) AS pct) t
GROUP BY t.pct
""")
def vocab_coverage_curve(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Vocabulary coverage: the smallest top-k vocabulary that covers
    50/90/99% of token mass — the sizing question every tokenizer /
    embedding table answers before training (99%-coverage vocab size
    is the practical UNK-rate knob).

    Scale design: the same ranked-cumsum-over-the-vocabulary shape as
    zipf_fit/abc_pareto, through ``operators.prefix.ranged_prefix``
    (two-level rank + cumsum, total token mass as a literal from the
    bucket totals — no single-partition window at any vocabulary
    size), with the coverage test as the integer cross-multiplication
    cum·100 ≥ tot·pct evaluated for all targets in ONE pass over the
    ranked relation (the targets ride along as a 3-row explode) — no
    per-threshold rescans.
    """
    d = load(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("term"))
          .groupBy("term").agg(F.count("*").cast("long").alias("freq")))
    ranked, totals = ranged_prefix(
        tf, [F.col("freq").desc(), F.col("term")],
        sums={"cum": "freq"}, rank_col="rnk")
    tot = F.lit(totals["cum"]).cast("long")
    targets = F.explode(F.array(*[F.lit(p) for p in _VCOV["targets"]]))
    return (ranked.select("rnk", "cum", targets.alias("pct"))
            .groupBy("pct")
            .agg(F.min(F.when(F.col("cum") * 100 >=
                              tot * F.col("pct"), F.col("rnk")))
                 .cast("long").alias("vocab_needed")))


# =========================================================================
# Classifier confusion matrix ([EXT] — the language-ID eval harness)
# =========================================================================

def _confusion_oracle() -> str:
    from .queries_ext import _lang_oracle
    return f"""
WITH pred AS ({_lang_oracle()})
SELECT lang_label, lang_pred, COUNT(*) AS n,
       CAST(SUM(CASE WHEN lang_label = lang_pred THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct
FROM pred GROUP BY lang_label, lang_pred
"""


@q("langid_confusion", ("F9", "A1"), oracle=_confusion_oracle())
def langid_confusion(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Confusion matrix of the language-ID classifier against the
    declared labels — the evaluation harness every in-pipeline
    classifier needs (per-cell counts ARE precision/recall's
    sufficient statistic; n_correct is diagonal mass).  The pattern
    generalizes to any label-vs-prediction pair: quality-gate
    decisions, dedup verdicts, drift flags.

    Scale design: the classifier is map-only (broadcast lexicons);
    the confusion aggregate map-side combines to ≤|langs|² cells, so
    the eval costs exactly one scan on top of inference — and because
    both query and oracle reuse text_language_id's generator, the
    harness can never drift from the production classifier.
    """
    from .functions.text import language_id
    d = load(spark, sf_dir, "documents")
    pred = d.select(F.col("lang").alias("lang_label"),
                    language_id(F.col("text")).alias("lang_pred"))
    return (pred.groupBy("lang_label", "lang_pred")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("lang_label") == F.col("lang_pred"), 1)
                       .otherwise(0)).cast("long").alias("n_correct")))


# =========================================================================
# Cross-source quantile normalization ([EXT] — score calibration)
# =========================================================================

@q("quantile_normalize_scores", ("W1", "J1", "A1"), oracle="""
WITH base AS (
  SELECT doc_id, source, n_chars FROM documents
), ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS ns,
         COUNT(*) OVER () AS n
  FROM base
), pooled AS (
  SELECT n_chars AS pooled_value,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS prank
  FROM base
)
SELECT rk.doc_id, rk.source, rk.n_chars,
       p.pooled_value AS normalized_chars
FROM ranked rk
JOIN pooled p
  ON p.prank = (CAST(rk.r AS HUGEINT) * rk.n + rk.ns - 1) // rk.ns
""")
def quantile_normalize_scores(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Quantile normalization of a per-document score (n_chars as the
    stand-in) ACROSS sources: each doc's within-source rank maps to
    the pooled distribution's value at the same quantile — the
    batch-norm of corpus curation, making "top 10% of source X"
    comparable to "top 10% of source Y" before a global quality cut
    (raw thresholds systematically favor verbose sources).

    Scale design: the per-source rank window is partitioned (fine at
    any scale); the POOLED rank comes from
    ``operators.prefix.ranged_prefix`` (two-level bucketed
    row_number — no single-partition window over the full corpus),
    and the global count N rides back as a literal from the bucket
    totals.  The equi-join on the integer target rank
    ceil(r·N/n_s) — computed with the cross-multiplied ceiling
    (r·N + n_s − 1) div n_s — keeps the quantile mapping exact
    integer arithmetic, no float quantiles.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    ws = W.partitionBy("source").orderBy("n_chars", "doc_id")
    pooled, totals = ranged_prefix(
        d.select(F.col("n_chars").alias("pooled_value"),
                 F.col("doc_id").alias("_pdoc")),
        [F.col("pooled_value"), F.col("_pdoc")], rank_col="prank")
    ranked = d.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(ws).alias("r"),
        F.count("*").over(W.partitionBy("source")).alias("ns"),
        F.lit(totals["n"]).cast("long").alias("n"))
    return (ranked
            .withColumn("target",
                        # 128-bit cross-multiply: r·N is corpus² and
                        # exits int64 past ~3e9 docs; the target RANK
                        # quotient (≤ N) stays long-safe
                        F.expr("(CAST(r AS DECIMAL(38,0)) * n + ns - 1)"
                               " div ns"))
            .join(pooled.select("pooled_value", "prank"),
                  F.col("target") == F.col("prank"))
            .select("doc_id", "source", "n_chars",
                    F.col("pooled_value").alias("normalized_chars")))


# Interpolate the parameter placeholders into the real
# __doc__ attributes (a '"""...""".format(...)' first statement
# is a discarded expression, not a docstring — help()/inspect
# saw None for these functions until this pass).
chunk_dup_ratio.__doc__ = chunk_dup_ratio.__doc__.format(**_CHD)

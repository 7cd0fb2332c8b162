"""Text-retrieval and feature-preprocessing operators ([EXT]):
BM25 scoring, segmented inverted-index construction, ANN recall
evaluation, and winsorized robust statistics.

Retrieval quality is training-data quality: BM25 is the lexical
ranking baseline every RAG / dedup / contamination pipeline needs
beside the embedding ANN path, the inverted index is its storage
layout, and recall@k is how the approximate index earns trust against
the exact scan.  Winsorization is the outlier-clipping twin of the
percentile machinery in curriculum_order.

Cites: reference's gold rollups (``gold_device_health_summary.sql``)
stop at aggregates; the retrieval surface extends the documents/
embeddings tables the driver ships for exactly this family.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .queries import load, q
from .queries_ext import _O_COS, _O_EMB
from .operators.similarity import brute_force_topk, lsh_bucket_topk
from .session import memo

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

#: BM25 free parameters (Robertson defaults) and the query term set —
#: 'dup' is the rare, discriminative term; the other two are common
_BM25 = dict(k1=1.2, b=0.75, terms=("spark", "window", "dup"), topk=20,
             ok1="1.2::DOUBLE", ob="0.75::DOUBLE")  # oracle literals pinned to DOUBLE (DuckDB parses 1.2 as DECIMAL)


# =========================================================================
# BM25 top-k retrieval ([EXT] — F9/W3 composite)
# =========================================================================

#: shared by bm25_topk and bm25_from_postings: the serving path must
#: produce the exact scores of the scan path, so both gate against the
#: same relational statement.
_BM25_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d
), g AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, UNNEST(toks) AS term FROM d
  ) WHERE term IN ('spark', 'window', 'dup') GROUP BY 1, 2
), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN(1 + (CAST(g.n - df.df AS DOUBLE) + 0.5) / (df.df + 0.5)) *
           (tf.tf * ({_BM25['ok1']} + 1)) /
           (tf.tf + {_BM25['ok1']} * (1 - {_BM25['ob']} + {_BM25['ob']} *
              (CAST(dl.dl AS DOUBLE) * g.n) / g.sumdl))
           * 1e9) AS BIGINT) AS term_nano
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN g
)
SELECT doc_id, CAST(SUM(term_nano) AS BIGINT) AS score_nano
FROM scored GROUP BY doc_id
ORDER BY score_nano DESC, doc_id LIMIT {_BM25['topk']}
"""


@q("bm25_topk", ("F9", "W3", "A1"), bench=True, oracle=_BM25_SQL)
def bm25_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """BM25-ranked top-{topk} documents for a fixed query term set —
    the lexical retrieval baseline (Lucene's scorer, k1={k1} b={b}),
    re-derived from the raw text per query (the SCAN path; the
    serving-index twin is ``bm25_from_postings``).

    Shape (optimization r12, guide §2.4 / VERDICT r11 #6 "fold the
    (N, Σdl) pass into the first scan"): ONE tokenize pass produces the
    narrow per-doc relation (doc_id, dl, tf per query term) — tf is a
    bounded |query|-sized column set via array ``filter`` counts, so no
    token ever explodes into a shuffle at all.  That relation is cached
    (it is consumed twice inside this one DAG: the 1-row global
    aggregate needs ALL docs for N/Σdl/df, the scoring branch only the
    hit docs) and is the only thing that ever holds the corpus: ~40
    bytes/doc instead of a second full text scan.  The global stats
    broadcast into a map-only scorer (per-term int64-nano rounding,
    exact integer sum — order-independent), and the top-k is
    TakeOrderedAndProject.  vs the r11 two-scan explode shape:
    Exchange mentions 14 → 4, and interleaved A/B at zero steal reads
    ~35% faster at sf0.1 and ~45% at the ×10 replica (the explode
    shape's per-token isin + (doc,dl,term) exchange cost more than the
    three interpreted array-filter predicates — the OPPOSITE of the
    r11 classifier/entropy HOF results, because here the HOF output is
    |query|-bounded scalars, not per-token state).  dl/avgdl stays
    (dl·N)/Σdl so the only division is one deterministic double
    expression; oracle hash-verified at all three SFs.
    """
    terms = _BM25["terms"]
    d2 = (load(spark, sf_dir, "documents")
          .select("doc_id", F.split("text", " ").alias("toks"))
          .select("doc_id",
                  F.size("toks").cast("long").alias("dl"),
                  *[F.size(F.filter("toks", lambda x: x == F.lit(t)))
                    .cast("long").alias(f"tf_{i}")
                    for i, t in enumerate(terms)])
          .cache())
    g = d2.groupBy().agg(
        F.count("*").alias("n"), F.sum("dl").alias("sumdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))])
    k1, b = _BM25["k1"], _BM25["b"]
    hits = d2.filter(sum(F.col(f"tf_{i}")
                         for i in range(len(terms))) > 0)
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(1 + ((F.col("n") - F.col(f"df_{i}"))
                         .cast("double") + 0.5) /
                    (F.col(f"df_{i}") + 0.5))
        norm = (tf + k1 * (1 - b + b * (F.col("dl").cast("double") *
                                        F.col("n")) / F.col("sumdl")))
        term = F.when(tf > 0, F.round(idf * (tf * (k1 + 1)) / norm
                                      * 1e9).cast("long")) \
                .otherwise(F.lit(0))
        score = term if score is None else score + term
    return (hits.join(F.broadcast(g))
            .select("doc_id", score.cast("long").alias("score_nano"))
            .orderBy(F.col("score_nano").desc(), "doc_id")
            .limit(_BM25["topk"]))


# =========================================================================
# Segmented inverted index ([EXT] — the BM25 storage layout)
# =========================================================================

_IDX = dict(segment=50)


@q("inverted_index_postings", ("F9", "A2"), oracle=f"""
WITH t AS (
  SELECT DISTINCT UNNEST(string_split(text, ' ')) AS term, doc_id
  FROM documents
)
SELECT term, doc_id // {_IDX['segment']} AS segment,
       COUNT(*) AS seg_df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS postings
FROM t GROUP BY 1, 2
""")
def inverted_index_postings(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Inverted index build: term → SEGMENTED posting lists (doc-id
    range segments of {segment}), each segment a sorted CSV run plus
    its local df.

    Scale design: segmenting by doc-id range is what real engines do
    (Lucene segments, ES shards) and what distribution requires — a
    single collect_list per term would funnel every posting for a hot
    term through one reducer and produce an unboundedly long row.
    With (term, segment) as the grouping key, segment size bounds both
    reducer fan-in and row width; segment boundaries align with doc-id
    partitioning, so the index can be written partitioned-by-segment
    and merged/queried per segment.  Postings sort WITHIN a segment
    only (array_sort of a bounded list); global order is implied by
    segment order.  DISTINCT-before-group gives set semantics per
    (term, doc).
    """
    seg = _IDX["segment"]
    t = (load(spark, sf_dir, "documents")
         .select(F.col("doc_id"), F.explode(F.split("text", " "))
                 .alias("term"))
         .distinct())
    return (t.groupBy("term",
                      F.expr(f"doc_id div {seg}").alias("segment"))
            .agg(F.count("*").alias("seg_df"),
                 F.array_join(F.array_sort(F.collect_list(
                     F.col("doc_id"))), ",").alias("postings")))


def _bm25_index(spark: "SparkSession", sf_dir: str):
    """Stage the tf-bearing serving index ONCE per corpus fingerprint:
    ``postings`` (term, segment, doc_id, tf, dl) term-range-partitioned
    and term-sorted within files (so a query-term predicate prunes at
    the parquet row-group level — the on-disk analog of a posting
    list), plus a one-row ``stats`` table (N, Σdl).  This is the
    ingest-time index build ``inverted_index_postings`` models; df is
    NOT stored because it is one tiny aggregate over the already-pruned
    query-term rows at serve time (and storing it would denormalize a
    value deletes/appends invalidate)."""
    from .stagecache import stage_once

    def _build(tmp) -> None:
        d = (load(spark, sf_dir, "documents")
             .select("doc_id", F.split("text", " ").alias("toks")))
        tf = (d.select("doc_id",
                       F.size("toks").cast("long").alias("dl"),
                       F.explode("toks").alias("term"))
              .groupBy("doc_id", "dl", "term")
              .agg(F.count("*").cast("long").alias("tf"))
              .select("term",
                      F.expr(f"doc_id div {_IDX['segment']}")
                      .alias("segment"),
                      "doc_id", "tf", "dl"))
        (tf.repartitionByRange(8, "term")
         .sortWithinPartitions("term", "doc_id")
         .write.mode("overwrite").parquet(str(tmp / "postings")))
        (d.select(F.size("toks").cast("long").alias("dl"))
         .groupBy().agg(F.count("*").alias("n"), F.sum("dl").alias("sumdl"))
         .write.mode("overwrite").parquet(str(tmp / "stats")))

    root = stage_once(sf_dir, "documents", "bm25_index", _build)
    # The index schema and 1-row stats are memoized per root, which is
    # content-addressed (stage_once), so both are immutable per root
    # (optimization r11).  Without it every build of bm25_from_postings
    # / hybrid_search_rrf paid two footer-inference jobs plus a 1-row
    # collect job before the real query ran; now zero pre-query jobs.
    def _index_meta():
        st = spark.read.parquet(str(root / "stats")).collect()[0]
        return (spark.read.parquet(str(root / "postings")).schema,
                (st["n"], st["sumdl"]))
    schema, stats = memo(str(root), _index_meta)
    return spark.read.schema(schema).parquet(str(root / "postings")), stats


@q("bm25_from_postings", ("F9", "W3", "A1"), bench=True, oracle=_BM25_SQL)
def bm25_from_postings(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """BM25 served FROM the pre-built posting index — the production
    twin of ``bm25_topk``, which re-tokenizes the corpus per query
    (priced at ~30 s on the ×100 replica, SCALE.md): here the
    tokenize/tf work happened once at ingest (``_bm25_index``), and
    query time reads only the query terms' posting rows.

    Same oracle as ``bm25_topk`` — the index path must reproduce the
    scan path's scores exactly, which also certifies the index build.

    Scale design: the term predicate is pushed into the parquet scan
    of a term-sorted, term-range-partitioned layout, so I/O ∝ posting
    lists touched, not corpus size (row-group stats skip everything
    else); df comes from one aggregate over those same pruned rows;
    (N, Σdl) is a broadcast 1-row table; scoring is map-only to int64
    nanos and the top-k is TakeOrderedAndProject.  At 100 TB only the
    index build ever sees the text."""
    # (N, Σdl) is a 1-row table — inlined as literals (bounded driver
    # scalars) rather than joined: index-time constants, and the
    # scalar join would be the plan's only nested-loop node.  The
    # collect happens once per index root (_bm25_index memo).
    p, (n_docs, sumdl) = _bm25_index(spark, sf_dir)
    p = p.filter(F.col("term").isin(*_BM25["terms"]))
    df_ = p.groupBy("term").agg(F.count("*").alias("df"))
    k1, b = _BM25["k1"], _BM25["b"]
    idf = F.log(1 + ((F.lit(n_docs) - F.col("df")).cast("double") + 0.5) /
                (F.col("df") + 0.5))
    norm = (F.col("tf") + k1 * (1 - b + b * (F.col("dl").cast("double") *
                                             F.lit(n_docs)) / F.lit(sumdl)))
    term_nano = F.round(idf * (F.col("tf") * (k1 + 1)) / norm * 1e9) \
                 .cast("long")
    scored = (p.join(F.broadcast(df_), "term")
              .select("doc_id", term_nano.alias("term_nano")))
    return (scored.groupBy("doc_id")
            .agg(F.sum("term_nano").cast("long").alias("score_nano"))
            .orderBy(F.col("score_nano").desc(), "doc_id")
            .limit(_BM25["topk"]))


# =========================================================================
# ANN recall@k evaluation ([EXT] — the trust gate for approximate search)
# =========================================================================

@q("ann_recall_eval", ("F10", "W3", "J5"), oracle=f"""
WITH emb AS ({_O_EMB}),
probes AS (SELECT * FROM emb WHERE vec_id < 10),
bf_scored AS (
  SELECT b.vec_id AS probe_id, a.vec_id AS vec_id, {_O_COS} AS score
  FROM emb a, probes b WHERE a.vec_id <> b.vec_id
),
bf AS (
  SELECT probe_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
    FROM bf_scored) WHERE rank <= 5
),
bucketed AS (
  SELECT vec_id, vec,
         (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM emb
),
lprobes AS (SELECT * FROM bucketed WHERE vec_id < 10),
lsh_scored AS (
  SELECT b.vec_id AS probe_id, a.vec_id AS vec_id, {_O_COS} AS score
  FROM bucketed a JOIN lprobes b ON a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id
),
lsh AS (
  SELECT probe_id, vec_id, rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
    FROM lsh_scored) WHERE rank <= 5
)
SELECT bf.probe_id, COUNT(*) AS k,
       COUNT(lsh.rank) AS hits,
       CAST(COUNT(lsh.rank) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
FROM bf LEFT JOIN lsh USING (probe_id, vec_id)
GROUP BY bf.probe_id
""")
def ann_recall_eval(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Recall@5 of the sign-LSH index against the exact brute-force
    scan, per probe — the evaluation harness that decides whether an
    approximate index is allowed to replace the exact path.

    Scale design: reuses the two production operators verbatim
    (operators/similarity.py) — the eval is a LEFT JOIN of their
    outputs on (probe, neighbor) plus a count, so it costs the two
    searches; nothing new shuffles.  At scale you run it on a sampled
    probe set (the probe predicate) while the index serves the full
    corpus — exactly the shape here.  Comparison is on neighbor IDs,
    not scores, so float formatting can't perturb the metric.
    """
    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    bf = brute_force_topk(e, probes, k=5).select("probe_id", "vec_id")
    lsh = (lsh_bucket_topk(e, probes, k=5, n_planes=4)
           .select("probe_id", "vec_id", F.col("rank").alias("lrank")))
    return (bf.join(lsh, ["probe_id", "vec_id"], "left")
            .groupBy("probe_id")
            .agg(F.count("*").alias("k"),
                 F.count("lrank").alias("hits"))
            .selectExpr("probe_id", "k", "hits",
                        "(hits * 1000000) div k AS recall_ppm"))


# =========================================================================
# Winsorized statistics ([EXT] — exact-percentile outlier clipping)
# =========================================================================

@q("winsorized_stats", ("A1", "W1", "F7"), oracle="""
WITH t AS (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), h AS (SELECT grp, v, COUNT(*) AS c FROM t GROUP BY grp, v),
c AS (
  SELECT grp, v, SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY grp) AS n
  FROM h
), thr AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
         CAST(MIN(CASE WHEN cum * 20 >= n THEN v END) AS BIGINT) AS lo,
         CAST(MIN(CASE WHEN cum * 20 >= 19 * n THEN v END) AS BIGINT) AS hi
  FROM c GROUP BY grp
)
SELECT t.grp, thr.n, thr.lo, thr.hi,
       CAST(SUM(LEAST(GREATEST(t.v, thr.lo), thr.hi))
            // thr.n AS BIGINT) AS winsorized_mean_cent
FROM t JOIN thr ON t.grp = thr.grp
GROUP BY t.grp, thr.n, thr.lo, thr.hi
""")
def winsorized_stats(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-group winsorized mean: clip extended price to its EXACT
    nearest-rank [p05, p95] and average — the outlier-immune location
    estimate next to robust_mad_by_group's scale estimate.

    Scale design: the same histogram-percentile move as
    curriculum_order — per-VALUE counts first (map-side combined,
    shuffle carries distinct (grp, cent) cells), a cumsum window over
    the per-group histogram (grid-sized, not row-sized), and the
    nearest-rank test as the integer cross-multiplication
    cum·20 ≥ q·20·n — no percentile_cont floats, no global sort of raw
    rows.  Thresholds (one row per group) broadcast back onto the
    fact scan; clip + exact integer mean are map-side.  Two fact
    scans total (histogram + clipped sum), both full-scan-parallel.
    """
    li = load(spark, sf_dir, "lineitem")
    t = li.select(F.col("l_returnflag").alias("grp"),
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("v"))
    h = t.groupBy("grp", "v").agg(F.count("*").alias("c"))
    wc = (W.partitionBy("grp").orderBy("v")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = h.select("grp", "v",
                 F.sum("c").over(wc).alias("cum"),
                 F.sum("c").over(W.partitionBy("grp")).alias("n"))
    thr = (c.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(F.col("cum") * 20 >= F.col("n"), F.col("v")))
        .cast("long").alias("lo"),
        F.min(F.when(F.col("cum") * 20 >= 19 * F.col("n"), F.col("v")))
        .cast("long").alias("hi")))
    return (t.join(F.broadcast(thr), "grp")
            .groupBy("grp", "n", "lo", "hi")
            .agg(F.sum(F.least(F.greatest(F.col("v"), F.col("lo")),
                               F.col("hi"))).alias("s"))
            .selectExpr("grp", "n", "lo", "hi",
                        "s div n AS winsorized_mean_cent"))


# =========================================================================
# Hybrid search: reciprocal rank fusion ([EXT] — the RAG retrieval stack)
# =========================================================================

_RRF = dict(k=60, depth=20, out=10)


@q("hybrid_search_rrf", ("F9", "F10", "W3"), bench=True, oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
g AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, UNNEST(toks) AS term FROM d
  ) WHERE term IN ('spark', 'window', 'dup') GROUP BY 1, 2
), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
bm_scored AS (
  SELECT tf.doc_id, CAST(SUM(CAST(ROUND(
           LN(1 + (CAST(g.n - df.df AS DOUBLE) + 0.5) / (df.df + 0.5)) *
           (tf.tf * (1.2::DOUBLE + 1)) /
           (tf.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE *
              (CAST(dl.dl AS DOUBLE) * g.n) / g.sumdl)) * 1e9)
         AS BIGINT)) AS BIGINT) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  GROUP BY tf.doc_id
),
bm AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
  FROM bm_scored QUALIFY r <= {_RRF['depth']}
),
emb AS ({_O_EMB}),
probe AS (SELECT * FROM emb WHERE vec_id = 0),
ann_scored AS (
  SELECT a.vec_id AS doc_id, {_O_COS} AS score
  FROM emb a, probe b WHERE a.vec_id <> b.vec_id
),
ann AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
  FROM ann_scored QUALIFY r <= {_RRF['depth']}
),
fused AS (
  SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id,
         COALESCE(CAST(ROUND(1e9 / ({_RRF['k']} + bm.r)) AS BIGINT), 0)
       + COALESCE(CAST(ROUND(1e9 / ({_RRF['k']} + ann.r)) AS BIGINT), 0)
           AS rrf_nano,
         bm.r AS bm25_rank, ann.r AS ann_rank
  FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id
)
SELECT doc_id, rrf_nano, bm25_rank::INT AS bm25_rank,
       ann_rank::INT AS ann_rank
FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT {_RRF['out']}
""")
def hybrid_search_rrf(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the embedding ANN ranking (probe = vector 0), score =
    Σ 1/(k+rank) in integer nanos — the standard RAG retrieval stack
    (Elasticsearch/Vespa hybrid mode) as one relation.  The driver's
    documents/embeddings tables share an id space, which is exactly
    the doc↔vector pairing a corpus store maintains.

    Scale design: both branches are the production operators already
    certified (BM25 served from the term-pruned posting index —
    ``bm25_from_postings``, no corpus tokenize at query time; the ANN
    family's broadcast-probe scan — swap in the IVF/LSH route
    unchanged), each
    cut to depth {depth} BEFORE fusion.  Fusion is a union of the two
    branches' per-doc contributions (reciprocal term + rank) and ONE
    groupBy(doc_id) aggregate over those ≤2·depth rows, so it is
    depth-sized regardless of corpus size, and the fused score is an
    integer sum of per-ranking reciprocal terms (rank ties are
    impossible by construction, so RRF is bit-stable).
    """
    depth, kk = _RRF["depth"], _RRF["k"]
    # The BM25 branch re-ranks bm25_from_postings' output — the
    # serving-index form (VERDICT r8 #3: the scan form re-tokenizes
    # the whole corpus per query, ~30 s at the ×100 replica; the
    # postings form reads only the query terms' pruned rows and is
    # oracle-identical by contract).  Its output is already cut to
    # _BM25['topk'] rows — the fusion depth must fit inside that cut
    # or the Spark branch would silently rank fewer docs than the
    # oracle's unlimited QUALIFY (assert here, next to the reuse, so
    # editing _RRF['depth'] fails loudly instead of at the gate).
    assert depth <= _BM25["topk"], \
        f"_RRF depth {depth} exceeds _BM25 topk {_BM25['topk']}"
    bm = bm25_from_postings(spark, sf_dir)  # @q returns the fn unwrapped
    bm = (bm.select("doc_id",
                    F.row_number().over(
                        W.orderBy(F.col("score_nano").desc(), "doc_id"))
                    .alias("r")).filter(F.col("r") <= depth))
    e = load(spark, sf_dir, "embeddings")
    ann = (brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=depth)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("rank").alias("r")))
    # Fusion as union + one aggregate (optimization r12, guide §2.4):
    # a FULL OUTER join of two depth-sized rank relations cannot
    # broadcast (no build side preserves both outers), so it plans as
    # SortMergeJoin — two exchanges plus two sorts for ≤2·depth rows.
    # The union-of-contributions shape computes the identical relation
    # with ONE exchange (the groupBy): each branch emits its reciprocal
    # term and its rank (other branch's rank NULL); per doc_id the sum
    # of at-most-two terms is the old coalesce(+), and max() picks the
    # single non-null rank per side.  Ranks are unique per branch, so
    # groups have ≤2 rows — bit-identical output (oracle-verified).
    contrib_bm = bm.select(
        "doc_id",
        F.round(1e9 / (kk + F.col("r"))).cast("long").alias("term_nano"),
        F.col("r").cast("int").alias("bm25_rank"),
        F.lit(None).cast("int").alias("ann_rank"))
    contrib_ann = ann.select(
        "doc_id",
        F.round(1e9 / (kk + F.col("r"))).cast("long").alias("term_nano"),
        F.lit(None).cast("int").alias("bm25_rank"),
        F.col("r").cast("int").alias("ann_rank"))
    fused = (contrib_bm.union(contrib_ann)
             .groupBy("doc_id")
             .agg(F.sum("term_nano").cast("long").alias("rrf_nano"),
                  F.max("bm25_rank").alias("bm25_rank"),
                  F.max("ann_rank").alias("ann_rank")))
    return (fused.orderBy(F.col("rrf_nano").desc(), "doc_id")
            .limit(_RRF["out"]))


# =========================================================================
# Positional phrase search ([EXT] — the boolean/phrase retrieval layer)
# =========================================================================

_PHRASE = ("merge", "join")


@q("phrase_search_positional", ("F9", "J5", "A1"), oracle=f"""
WITH pos AS (
  SELECT doc_id, UNNEST(range(len(l))) AS i, l
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
), toks AS (
  SELECT doc_id, i, l[i + 1] AS term FROM pos
)
SELECT a.doc_id, COUNT(*) AS n_hits,
       CAST(MIN(a.i) AS BIGINT) AS first_pos
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.i = a.i + 1
WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
GROUP BY a.doc_id
""")
def phrase_search_positional(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """Exact phrase search ("{0} {1}") with per-document hit counts and
    first match position — the POSITIONAL index layer that term-level
    retrieval (BM25, the segmented postings) cannot answer: phrase
    semantics require adjacency, not co-occurrence.

    Scale design: the positional-postings self-join — (doc, position)
    tokens filtered to the two query terms BEFORE joining, so the join
    input is term-selectivity-sized, and adjacency is the equi-key
    (doc, i+1 = j): a hash join, never a scan of full positions.  In a
    stored index the same plan reads just the two terms' posting lists
    (segment-aligned, per inverted_index_postings) and merge-joins on
    position — identical shape, no text scan at all.  Longer phrases
    chain one join per extra term, each narrowed by the rarest
    remaining term first (the classic phrase-query optimization).
    """
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", F.posexplode(F.split("text", " "))
                 .alias("i", "term")))
    a = (d.filter(F.col("term") == _PHRASE[0])
         .select(F.col("doc_id").alias("a_doc"), F.col("i").alias("a_i")))
    b = (d.filter(F.col("term") == _PHRASE[1])
         .select(F.col("doc_id").alias("b_doc"), F.col("i").alias("b_i")))
    return (a.join(b, (F.col("a_doc") == F.col("b_doc")) &
                   (F.col("b_i") == F.col("a_i") + 1))
            .groupBy(F.col("a_doc").alias("doc_id"))
            .agg(F.count("*").alias("n_hits"),
                 F.min("a_i").cast("long").alias("first_pos")))


# =========================================================================
# Late-interaction (ColBERT-style) MaxSim retrieval ([EXT])
# =========================================================================

_MAXSIM = dict(subs=8, dim=8, topk=10)  # 64-d vector as 8 token-vectors

#: DuckDB prelude shared by every maxsim oracle
_O_MAXSIM_EMB = ("WITH emb AS (SELECT vec_id, "
                 "CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)")


def _maxsim_topk_sql(restrict_to_probe_bucket: bool) -> str:
    """DuckDB query body producing the maxsim top-k
    ``(vec_id, maxsim_micro)`` list over an ``emb(vec_id, vec)`` CTE —
    optionally with the corpus restricted to the probe's sign-LSH
    bucket (the two-stage path).  This is THE single source for all
    three maxsim oracles (full scan, routed rerank, recall eval), so
    the gated pipelines and the recall comparison cannot drift apart.
    """
    m = _MAXSIM
    cand = ("JOIN (SELECT (CASE WHEN vec[1] >= 0 THEN 1 ELSE 0 END)"
            " + (CASE WHEN vec[2] >= 0 THEN 2 ELSE 0 END)"
            " + (CASE WHEN vec[3] >= 0 THEN 4 ELSE 0 END)"
            " + (CASE WHEN vec[4] >= 0 THEN 8 ELSE 0 END) AS bucket"
            " FROM emb WHERE vec_id = 0) pb"
            " ON (CASE WHEN c0.vec[1] >= 0 THEN 1 ELSE 0 END)"
            " + (CASE WHEN c0.vec[2] >= 0 THEN 2 ELSE 0 END)"
            " + (CASE WHEN c0.vec[3] >= 0 THEN 4 ELSE 0 END)"
            " + (CASE WHEN c0.vec[4] >= 0 THEN 8 ELSE 0 END) = pb.bucket"
            if restrict_to_probe_bucket else "")
    return f"""
  SELECT vec_id, ms AS maxsim_micro FROM (
    SELECT c.vec_id,
           CAST(SUM(best) AS BIGINT) AS ms
    FROM (
      SELECT cs.vec_id, p.sub_id,
             MAX(CAST(ROUND(list_dot_product(p.v, cs.v) * 1e6)
                 AS BIGINT)) AS best
      FROM (
        SELECT c0.vec_id, s.s AS sub_id,
               c0.vec[s.s * {m['dim']} + 1 :
                      s.s * {m['dim']} + {m['dim']}] AS v
        FROM emb c0 {cand}
        CROSS JOIN (SELECT UNNEST(range({m['subs']})) AS s) s
        WHERE c0.vec_id <> 0
      ) cs
      JOIN (
        SELECT s.s AS sub_id,
               vec[s.s * {m['dim']} + 1 :
                   s.s * {m['dim']} + {m['dim']}] AS v
        FROM emb CROSS JOIN (SELECT UNNEST(range({m['subs']})) AS s) s
        WHERE vec_id = 0
      ) p ON TRUE
      GROUP BY cs.vec_id, p.sub_id
    ) c GROUP BY c.vec_id
    ORDER BY ms DESC, c.vec_id LIMIT {m['topk']}
  )"""


@q("maxsim_late_interaction", ("F10", "W3", "A1"),
   oracle=f"{_O_MAXSIM_EMB}{_maxsim_topk_sql(False)}")
def maxsim_late_interaction(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """Late-interaction retrieval (the ColBERT MaxSim operator): treat
    each 64-d embedding as {subs} token-vectors of {dim} dims; score =
    Σ over query token-vectors of the MAX dot product against any
    document token-vector.  This is the third retrieval paradigm next
    to lexical (bm25_topk) and single-vector dense (similarity_topk_*)
    — finer-grained matching than one pooled vector, cheaper than
    full cross-attention.

    Scale design: the sub-vector explode is a CONSTANT ×{subs} (the
    same move as PQ's sub-space split); the query's {subs}
    token-vectors broadcast, the per-(doc, query-token) max and the
    per-doc sum both map-side combine inside one aggregation pass, and
    the top-k is TakeOrderedAndProject.  Dot products round to integer
    micro-units BEFORE max/sum, so the ranking is bit-stable.  The
    production escalation is the standard ColBERT two-stage: ANN over
    token-vectors to gather candidates, exact MaxSim only on those.
    """
    e = load(spark, sf_dir, "embeddings")
    sub = _sub_split(e)
    return (_maxsim_scores(sub.filter(F.col("vec_id") != 0),
                           _probe_subs(sub))
            .orderBy(F.col("maxsim_micro").desc(), "vec_id")
            .limit(_MAXSIM["topk"]))


def _sub_split(e: "DataFrame") -> "DataFrame":
    """(vec_id, sub_id, v): each 64-d embedding split into ``subs``
    token-vectors of ``dim`` dims — the ColBERT token decomposition."""
    subs, dim = _MAXSIM["subs"], _MAXSIM["dim"]
    emb = F.col("embedding").cast("array<double>")
    return (e.select("vec_id", emb.alias("v"),
                     F.explode(F.array(*[F.lit(i) for i in range(subs)]))
                     .alias("sub_id"))
            .select("vec_id", "sub_id",
                    F.slice("v", F.col("sub_id") * dim + 1, dim)
                    .alias("v")))


def _probe_subs(sub: "DataFrame") -> "DataFrame":
    return (sub.filter(F.col("vec_id") == 0)
            .select(F.col("sub_id").alias("q_sub"),
                    F.col("v").alias("qv")))


def _maxsim_scores(corpus_sub: "DataFrame",
                   probe_sub: "DataFrame") -> "DataFrame":
    """(vec_id, maxsim_micro): Σ over query token-vectors of the max
    dot product against any doc token-vector — dot products quantized
    to integer micro-units BEFORE max/sum, so ranking is bit-stable."""
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    sims = (corpus_sub
            .join(F.broadcast(probe_sub))
            .select("vec_id", "q_sub",
                    F.round(dot * 1e6).cast("long").alias("milli2"))
            .groupBy("vec_id", "q_sub")
            .agg(F.max("milli2").alias("best_milli2")))
    return (sims.groupBy("vec_id")
            .agg(F.sum("best_milli2").cast("long").alias("maxsim_micro")))


@q("maxsim_rerank_lsh", ("F10", "W3", "J5"),
   oracle=f"{_O_MAXSIM_EMB}{_maxsim_topk_sql(True)}")
def maxsim_rerank_lsh(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The two-stage ColBERT shape that ``maxsim_late_interaction``'s
    docstring (and SCALE.md's ×100 probe) prescribe: stage 1 gathers
    CANDIDATES by cheap ANN routing (here the probe's sign-LSH bucket
    — ~corpus/2^planes vectors), stage 2 runs exact MaxSim only on
    those.  Full-corpus MaxSim (45.7 s at the ×100 replica) is the
    recall ceiling; this path's cost is bucket-bounded no matter the
    corpus size, and the gate certifies the composition end-to-end
    (routing + rerank in ONE oracle).

    Route-ability is a property of the EMBEDDING DISTRIBUTION, not of
    this plan: ``maxsim_rerank_recall_eval`` measures it, and on the
    driver's iid-random synthetic vectors it reads 0 — no cheap
    signal predicts sub-vector maxima there (pooled-cosine top-500 of
    2000 still only covers 4/10; measured in SCALE.md).  On real
    ColBERT embeddings, token vectors cluster and the same two-stage
    plan routes well; the recall gate is precisely the tool that
    decides, per corpus, whether this path may replace the exact one.

    Scale design: the bucket join prunes BEFORE the ×subs sub-vector
    explode, so stage-2 cost is |bucket|×subs²; the probe broadcasts;
    everything else inherits maxsim_late_interaction's bit-stable
    integer quantization.
    """
    from .operators.similarity import sign_bucket
    e = load(spark, sf_dir, "embeddings")
    b = e.withColumn("bucket", sign_bucket(F.col("embedding"), 4))
    pb = (b.filter(F.col("vec_id") == 0)
          .select(F.col("bucket").alias("pbucket")))
    cand = (b.join(F.broadcast(pb), F.col("bucket") == F.col("pbucket"))
            .filter(F.col("vec_id") != 0)
            .select("vec_id", "embedding"))
    probe_sub = _probe_subs(_sub_split(e))
    return (_maxsim_scores(_sub_split(cand), probe_sub)
            .orderBy(F.col("maxsim_micro").desc(), "vec_id")
            .limit(_MAXSIM["topk"]))


@q("maxsim_rerank_recall_eval", ("F10", "W3", "J5"), oracle=f"""
{_O_MAXSIM_EMB},
full_k AS ({_maxsim_topk_sql(False)}),
rr_k AS ({_maxsim_topk_sql(True)})
SELECT COUNT(*)::INT AS k,
       COUNT(rr_k.vec_id)::INT AS hits,
       CAST(COUNT(rr_k.vec_id) * 1000000 // COUNT(*) AS BIGINT)
         AS recall_ppm
FROM full_k LEFT JOIN rr_k USING (vec_id)
""")
def maxsim_rerank_recall_eval(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Recall@{topk} of the two-stage MaxSim (``maxsim_rerank_lsh``)
    against the full-corpus scan (``maxsim_late_interaction``) — the
    trust gate that decides whether the 30× cheaper routed path may
    replace the exact one (same harness shape as ``ann_recall_eval``
    and ``semdedup_cap_recall_eval``: the approximation's quality is
    itself an oracle-gated number, not an assertion).  Comparison is
    on neighbor IDs, not scores.

    On the driver's iid-random vectors this measures recall 0 — the
    honest finding that no cheap routing signal exists for MaxSim on
    structureless embeddings (SCALE.md) — which is exactly what the
    gate is FOR: run it on your real corpus before trusting the
    routed path.
    """
    # both sides reuse the GATED queries verbatim — the eval compares
    # exactly the pipelines the registry certifies, nothing re-derived
    full_k = maxsim_late_interaction(spark, sf_dir).select("vec_id")
    rr_k = (maxsim_rerank_lsh(spark, sf_dir)
            .select("vec_id", F.lit(1).alias("_hit")))
    return (full_k.join(rr_k, "vec_id", "left")
            .agg(F.count("*").cast("int").alias("k"),
                 F.count("_hit").cast("int").alias("hits"))
            .selectExpr("k", "hits",
                        "CAST((hits * 1000000) div k AS BIGINT)"
                        " AS recall_ppm"))


# =========================================================================
# MMR diversity re-ranking ([EXT] — the RAG result diversifier)
# =========================================================================

_MMR = dict(cands=20, out=5, lam_num=7, lam_den=10)  # λ = 0.7


def _mmr_oracle() -> str:
    m = _MMR
    steps = []
    prev = "p1"
    for i in range(2, m["out"] + 1):
        steps.append(f"""
m{i} AS (
  SELECT r.id, r.rel, MAX(s.sim) AS ms
  FROM rel r
  JOIN sims s ON s.a = r.id AND s.b IN (SELECT id FROM {prev})
  WHERE r.id NOT IN (SELECT id FROM {prev})
  GROUP BY r.id, r.rel
), pick{i} AS (
  SELECT id, {i} AS rank FROM m{i}
  ORDER BY {m['lam_num']} * rel - ({m['lam_den'] - m['lam_num']}) * ms
           DESC, id LIMIT 1
), p{i} AS (SELECT id FROM {prev} UNION ALL SELECT id FROM pick{i})""")
        prev = f"p{i}"
    body = ",".join(steps)
    picks = " UNION ALL ".join(
        [f"SELECT id, 1 AS rank FROM p1"] +
        [f"SELECT id, rank FROM pick{i}" for i in range(2, m["out"] + 1)])
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             FROM embeddings),
probe AS (SELECT * FROM emb WHERE vec_id = 0),
scored AS (
  SELECT a.vec_id AS id, a.vec,
         CAST(floor(list_dot_product(a.vec, b.vec) /
              (sqrt(list_dot_product(a.vec, a.vec)) *
               sqrt(list_dot_product(b.vec, b.vec))) * 1e6) AS BIGINT)
             AS rel
  FROM emb a, probe b WHERE a.vec_id <> 0
),
rel AS (
  SELECT id, vec, rel FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, id) AS rn
    FROM scored) WHERE rn <= {m['cands']}
),
sims AS (
  SELECT a.id AS a, b.id AS b,
         CAST(floor(list_dot_product(a.vec, b.vec) /
              (sqrt(list_dot_product(a.vec, a.vec)) *
               sqrt(list_dot_product(b.vec, b.vec))) * 1e6) AS BIGINT)
             AS sim
  FROM rel a JOIN rel b ON a.id <> b.id
),
p1 AS (SELECT id FROM rel ORDER BY rel DESC, id LIMIT 1),
{body}
SELECT r.id AS vec_id, picks.rank::INT AS rank, r.rel AS rel_micro
FROM ({picks}) picks JOIN rel r ON r.id = picks.id
"""


@q("mmr_diverse_rerank", ("F10", "W3"), oracle=_mmr_oracle())
def mmr_diverse_rerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Maximal Marginal Relevance re-ranking: from the top-{cands}
    dense candidates for probe 0, greedily select {out} results
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-chosen
    (λ=0.7) — the diversity pass RAG pipelines run so five near-
    duplicate passages don't fill the context window.

    Scale design: MMR is greedy-sequential BY DEFINITION, so the
    candidate set is cut to {cands} FIRST (the production operators do
    that part at scale); the candidate-pair sim matrix is then
    {cands}²-sized, and each greedy round is a filter + max-aggregate
    + top-1 over it, with the chosen set pinned on the driver between
    rounds — the identical driver-state pattern as kmeans_lloyd/BPE.
    Integer micro-unit scores end-to-end; the oracle unrolls all
    {out} greedy rounds as chained CTEs.
    """
    m = _MMR
    e = load(spark, sf_dir, "embeddings")
    cands = (brute_force_topk(e, e.filter(F.col("vec_id") == 0),
                              k=m["cands"])
             .select(F.col("vec_id").alias("id"),
                     F.col("score_u").alias("rel")))
    vecs = e.select(F.col("vec_id").alias("id"), "embedding")
    rel = cands.join(vecs, "id").cache()
    a = rel.select(F.col("id").alias("a"), F.col("embedding").alias("va"))
    b = rel.select(F.col("id").alias("b"), F.col("embedding").alias("vb"))
    from .functions.vector import cosine_micro
    sims = (a.join(b, F.col("a") != F.col("b"))
            .select("a", "b",
                    cosine_micro(F.col("va"), F.col("vb"))
                    .alias("sim")).cache())

    first = rel.orderBy(F.col("rel").desc(), "id").limit(1) \
        .select("id").collect()[0]["id"]
    chosen = [first]
    for rank in range(2, m["out"] + 1):
        ms = (sims.filter(F.col("b").isin(chosen) &
                          ~F.col("a").isin(chosen))
              .groupBy("a").agg(F.max("sim").alias("ms")))
        nxt = (rel.join(ms, rel["id"] == ms["a"])
               .select("id", (m["lam_num"] * F.col("rel") -
                              (m["lam_den"] - m["lam_num"]) * F.col("ms"))
                       .alias("s"))
               .orderBy(F.col("s").desc(), "id").limit(1)
               .collect()[0]["id"])
        chosen.append(nxt)
    order = spark.createDataFrame(
        [(v, i + 1) for i, v in enumerate(chosen)], "vec_id long, rank int")
    return (order.join(rel, order["vec_id"] == rel["id"])
            .select("vec_id", "rank", F.col("rel").alias("rel_micro")))


# Interpolate the parameter placeholders into the real
# __doc__ attributes (a '"""...""".format(...)' first statement
# is a discarded expression, not a docstring — help()/inspect
# saw None for these functions until this pass).
bm25_topk.__doc__ = bm25_topk.__doc__.format(**_BM25)
inverted_index_postings.__doc__ = inverted_index_postings.__doc__.format(**_IDX)
hybrid_search_rrf.__doc__ = hybrid_search_rrf.__doc__.format(**_RRF)
phrase_search_positional.__doc__ = phrase_search_positional.__doc__.format(*_PHRASE)
maxsim_late_interaction.__doc__ = maxsim_late_interaction.__doc__.format(**_MAXSIM)
maxsim_rerank_recall_eval.__doc__ = maxsim_rerank_recall_eval.__doc__.format(**_MAXSIM)
mmr_diverse_rerank.__doc__ = mmr_diverse_rerank.__doc__.format(**_MMR)

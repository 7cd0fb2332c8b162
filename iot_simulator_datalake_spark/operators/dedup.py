"""Deduplication operators ([EXT] north star; W1/W2 from SURVEY §2.5).

Five tiers, all shuffle-architected for 100 TB:

- :func:`exact_dedup`        — hash-groupBy on content (or md5(content):
                               group keys stay ~32 bytes on the wire).
- :func:`fingerprint_dedup`  — order-insensitive token-set fingerprint.
- :func:`window_dedup`       — latest-record-wins per key (W1/W2 —
                               the CDC ROW_NUMBER pattern,
                               README_DBT.md:103,242-244).
- :func:`minhash_lsh_pairs`  — near-dup candidate pairs via MinHash
                               banding: shingle → K min-hashes → B band
                               keys → equi-join on band key → exact
                               Jaccard on candidates only.  Never a
                               cross join; the shuffle key is the band
                               hash, and identical docs land in the
                               same bucket with probability → 1.
- :func:`simhash`            — 16-bit SimHash fingerprint (bit-majority
                               of token hashes); hamming-adjacent docs
                               share fingerprints.

Hashing is md5-based (not Spark's murmur ``F.hash``) so every operator
has a bit-exact DuckDB oracle twin; md5 costs a bit more per token but
keeps the entire dedup surface inside the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import ngrams, tokens
from ..session import memo


def exact_dedup(df: DataFrame, content_col: str, key_col: str,
                hash_content: bool = True) -> DataFrame:
    """Exact dedup: keep the lowest-key row per distinct content.

    ``hash_content=True`` groups by md5(content) so the shuffle moves a
    32-byte key instead of full documents — the difference between a
    workable and an impossible shuffle at 100 TB.  (md5 collision risk
    ~2^-64 at petabyte scale — standard for content-addressed dedup.)
    """
    group = F.md5(F.col(content_col)) if hash_content else F.col(content_col)
    return (df.withColumn("_rn", F.row_number().over(
                W.partitionBy(group).orderBy(F.col(key_col))))
            .filter(F.col("_rn") == 1).drop("_rn"))


def fingerprint_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Dedup by sorted-distinct-token fingerprint — collapses reordered /
    re-whitespaced variants that exact hashing misses."""
    from ..functions.text import fingerprint
    fp = fingerprint(F.col(text_col))
    return (df.withColumn("_rn", F.row_number().over(
                W.partitionBy(fp).orderBy(F.col(key_col))))
            .filter(F.col("_rn") == 1).drop("_rn"))


def window_dedup(df: DataFrame, keys: list[str],
                 order_by: list[Column]) -> DataFrame:
    """W1/W2: latest-record-wins per key (CDC dedup with ROW_NUMBER —
    README_DBT.md:103).  Callers pass a deterministic tie-breaker in
    ``order_by``; one shuffle on ``keys``."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# -- MinHash-LSH ----------------------------------------------------------

#: hex chars per signature slice: 5 hex = 20 bits per surrogate
_SLICE = 5

# The MinHash operators' parameter-pure Column expressions go through
# session.memo (optimization r12, guide §5 driver work): the shingle /
# signature / band-key expressions cost ~590 py4j round-trips
# (~0.3–0.5 ms each) per build — ~0.2 s of driver latency per dedup
# query construction, paid again for every bench pass.


def _shingle_expr(text_col: str, shingle_n: int) -> Column:
    """explode(ngrams(tokens(text_col), shingle_n)) — memoized."""
    return memo(("shingle", text_col, shingle_n),
                lambda: F.explode(ngrams(tokens(F.col(text_col)),
                                         shingle_n)))


def minhash_signatures(df: DataFrame, text_col: str, key_col: str, *,
                       n_hashes: int = 6,
                       shingle_n: int = 3) -> DataFrame:
    """(key, sig_0..sig_{K-1}): MinHash signatures per document.

    One md5 per shingle, split into K disjoint 20-bit hex slices — each
    slice is an independent uniform hash, so ``min(slice_i)`` over the
    shingle set is a permutation surrogate (the classic
    one-hash-split-into-k MinHash trick).  Compared to K salted md5s
    this cuts the hash work K× — at 10⁹ docs × 50 shingles that is the
    difference between 50 G and 300 G md5 evaluations.  (128/K ≥ 20
    bits per slice caps K at 6 here; raise to xxhash64 pairs for more.)

    Implementation shape matters at scale: shingles are EXPLODED to
    (key, shingle) rows, the hash is one codegen'd projection, and the
    K mins combine map-side.  The obvious alternative (K
    array_min(transform(...)) columns over the shingle array) leaves
    every hash inside interpreted higher-order-function lambdas — ~10×
    slower per row.
    """
    if n_hashes * _SLICE > 32:
        raise ValueError(f"n_hashes ≤ {32 // _SLICE} with md5 slicing")
    ex = df.select(F.col(key_col).alias("key"),
                   _shingle_expr(text_col, shingle_n).alias("s"))
    return _sigs_from_exploded(ex, n_hashes)


def _sigs_from_exploded(ex: DataFrame, n_hashes: int,
                        with_size: bool = False) -> DataFrame:
    """Signatures from (key, shingle) rows: one md5 projection, K
    slice-mins with map-side combine.

    The slice-min deliberately runs over the hex STRING slices even
    though min(string) plans as SortAggregate (HashAggregateExec needs
    fixed-width mutable buffers): the numeric alternative —
    ``min(cast(conv(slice, 16, 10) as long))``, order-preserving on
    fixed-width lowercase hex, which does plan as a two-phase
    HashAggregate with zero sorts — was A/B-measured in the r11
    optimization round and LOST at both sf0.1 (~8–15%) and the ×10
    replica (~12%, clean-steal passes): six ``conv`` string-parses per
    exploded shingle row cost more than the SortAggregate's sorts save,
    at every scale measured.  See OPTIMIZATION_r11.md.

    ``with_size=True`` (optimization r12) additionally emits the
    per-key row count as ``sz`` — the shingle-SET size, because the
    (key, s) rows are distinct by construction.  It rides the
    signature shuffle as one extra long per key, which lets
    minhash_lsh_pairs serve the Jaccard denominator straight from the
    cached signature relation instead of paying a second aggregate
    (exchange) over the candidate-restricted shingle rows."""
    h, mins, cnt = memo(("sigaggs", n_hashes), lambda: (
        F.md5(F.col("s")),
        [F.min(F.substring("h", i * _SLICE + 1, _SLICE))
         for i in range(n_hashes)],
        F.count(F.lit(1))))
    hashed = ex.select("key", h.alias("h"))
    aggs = [m.alias(f"sig_{i}") for i, m in enumerate(mins)]
    if with_size:
        aggs.append(cnt.alias("sz"))
    return hashed.groupBy("key").agg(*aggs)


def _band_key_col(n_hashes: int, bands: int) -> Column:
    """Array of ``bands`` band keys from sig_0..sig_{K-1} columns: each
    band key is md5 over its band index + its rows_per_band signature
    slices, so two docs share a band key iff that whole band agrees."""
    # bands > n_hashes would make rows_per_band 0 — every band key
    # degenerates to md5(band_index), EVERY document shares EVERY
    # bucket, and the band self-join goes O(n²) corpus-wide (a silent
    # never-finishes at scale, not a wrong answer).  Non-divisible
    # bands would silently drop trailing signatures (quietly lower
    # recall than the caller asked for).  Both are config errors.
    if not 1 <= bands <= n_hashes:
        raise ValueError(f"bands must be in [1, n_hashes={n_hashes}], "
                         f"got {bands}")
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into "
                         f"bands={bands} (got remainder {n_hashes % bands}"
                         f" — trailing signatures would be ignored)")
    rows_per_band = n_hashes // bands
    return memo(("bandkeys", n_hashes, bands), lambda: F.array(*[
        F.md5(F.concat_ws("|", F.lit(str(b)),
                          *[F.col(f"sig_{b * rows_per_band + r}")
                            for r in range(rows_per_band)]))
        for b in range(bands)]))


def _lsh_index(df: DataFrame, text_col: str, key_col: str, *,
               n_hashes: int, bands: int, shingle_n: int,
               max_band_bucket: int | None
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One corpus side's LSH index: ``(ex, sigs, slim)`` = its cached
    exploded (key, shingle) rows, its cached (key, sig_*, sz)
    signatures and its (key, band) rows, hot bands past
    ``max_band_bucket`` dropped (None keeps every band).

    ``ex`` feeds the signatures AND the exact-Jaccard verification, so
    tokenization/shingling runs once; every downstream op is a codegen
    join/aggregate, and no shingle array ever rides a shuffle
    (MEMORY_AND_DISK + LRU eviction keeps the cache safe on long-lived
    sessions; its size, O(total shingles), is the operator's working
    set).  ``sigs`` is cached because with the cap on, ``slim`` feeds
    both the band counts and the capped join.  with_size: the Jaccard
    denominators ride the signature shuffle as one long per key, so
    the verify tail never re-aggregates shingle rows (optimization
    r12, guide §2.4).
    """
    ex = df.select(
        F.col(key_col).alias("key"),
        _shingle_expr(text_col, shingle_n).alias("s")
    ).cache()
    sigs = _sigs_from_exploded(ex, n_hashes, with_size=True).cache()
    slim = sigs.select("key",
                       F.explode(_band_key_col(n_hashes, bands)).alias("band"))
    if max_band_bucket is not None:
        # Hot-band guard (SCALE.md): a band bucket with B members costs
        # B² candidate pairs; buckets past the cap are boilerplate /
        # exact-dup clusters — drop them here and route those docs
        # through exact_dedup/fingerprint_dedup instead, keeping the
        # worst-case pair count ≤ buckets × cap².
        counts = slim.groupBy("band").agg(
            F.count(F.lit(1)).alias("_bn"))
        slim = (slim.join(counts, "band")
                .filter(F.col("_bn") <= max_band_bucket).drop("_bn"))
    return ex, sigs, slim


def _verify_jaccard(cand: DataFrame, first: tuple[str, DataFrame, str],
                    second: tuple[str, DataFrame, str],
                    threshold: float) -> DataFrame:
    """Exact-Jaccard tail over distinct candidate pairs: keeps the
    pairs with jaccard ≥ threshold as ``(k1, k2, jaccard)``.

    ``first``/``second`` = ``(cand key column, cached (key, s, sz)
    rows of the candidate keys, size alias "sz_a" or "sz_b")``, joined
    in that order.  |a∩b| comes from joining the pairs to both sides'
    shingle rows; |a∪b| = |a| + |b| − |a∩b| (ngrams() array_distincts,
    so shingle sets are distinct).  min(sz) is exact: sz is constant
    per key, so per pair group both mins ARE the two sizes.
    """
    (k1, ex1, sz1), (k2, ex2, sz2) = first, second
    inter = (cand
             .join(ex1.select(F.col("key").alias(k1), "s",
                              F.col("sz").alias(sz1)), k1)
             .join(ex2.select(F.col("key").alias(k2), "s",
                              F.col("sz").alias(sz2)), [k2, "s"])
             .groupBy(k1, k2)
             .agg(F.count(F.lit(1)).alias("inter"),
                  F.min("sz_a").alias("sz_a"),
                  F.min("sz_b").alias("sz_b")))
    # raw IEEE quotient of exact ints (no ROUND): bit-identical across
    # engines; ROUND(q, 6) was a cross-engine HALF_UP boundary hazard
    # whenever inter/union lands exactly on a x.xxxxxx5 decimal
    jac = (F.col("inter") /
           (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return (inter.filter(jac >= threshold)
            .select(k1, k2, jac.alias("jaccard")))


def minhash_lsh_pairs(df: DataFrame, text_col: str, key_col: str, *,
                      n_hashes: int = 6, bands: int = 3,
                      shingle_n: int = 3,
                      threshold: float = 0.5,
                      max_band_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs (key_a < key_b, jaccard ≥ threshold).

    Plan shape (the part that must survive 100×): docs are exploded to
    ``bands`` rows each (not shingles — band keys only), shuffled once
    on the band hash, self-joined within buckets, deduped to distinct
    candidate pairs, and only then pay the exact-Jaccard array
    intersection.  Candidate count ≈ true-positive pairs + banding
    false positives; nothing is quadratic in corpus size.
    """
    # Stats-gated spread before the CPU-bound md5/shingle map work —
    # shared helper since r12; rationale, the r11 rdd-probe history and
    # the no-op-at-scale guarantee live on hints.spread_if_under_split.
    # (r12 note: the same gate was A/B-measured on the similarity
    # brute-force scan and rejected there — the dot folds are cheap
    # enough that the exchange costs what the parallelism saves; the
    # shingle/md5 work here is an order of magnitude heavier per row,
    # which is why the spread pays on this path.)
    from .hints import spread_if_under_split
    ex, sigs, slim = _lsh_index(
        spread_if_under_split(df), text_col, key_col, n_hashes=n_hashes,
        bands=bands, shingle_n=shingle_n, max_band_bucket=max_band_bucket)
    cand = (slim.alias("a")
            .join(slim.alias("b"), (F.col("a.band") == F.col("b.band")) &
                  (F.col("a.key") < F.col("b.key")))
            .select(F.col("a.key").alias("key_a"),
                    F.col("b.key").alias("key_b"))
            .dropDuplicates(["key_a", "key_b"])
            .cache())  # feeds the key-filter AND the intersection join
    # Verification only ever needs the shingles of documents that appear
    # in some candidate pair — a tiny fraction of the corpus when banding
    # is doing its job.  Restrict to those keys BEFORE the intersection
    # joins so the (key, shingle) shuffle is O(candidate shingles), not
    # O(corpus shingles) — at 10⁹ docs this is the difference between
    # re-shuffling ~50 G rows and ~10 M.  ckeys deliberately keeps
    # duplicates (optimization r11: a .distinct() here was a pure extra
    # exchange — the r12 four-variant interleaved A/B re-confirmed it
    # 0.7–0.8 s SLOWER at sf0.1 and ×10) and is built with one
    # explode(array(..)) generate instead of union-of-selects (one scan
    # of the cached cand, not two).
    ckeys = cand.select(
        F.explode(F.array("key_a", "key_b")).alias("key"))
    # (key, sz) for candidate keys only: served straight from the
    # cached signature relation — sz rode the signature shuffle, so
    # no size aggregate runs here (optimization r12).  sigs is already
    # hash-partitioned by key from its groupBy, so only the tiny ckeys
    # side exchanges for this semi join.
    kz = sigs.select("key", "sz").join(ckeys, "key", "leftsemi")
    # Attach sz to each candidate shingle row (inner join ≡ the old
    # left-semi restriction, kz is per-key distinct): the Jaccard
    # denominators then flow THROUGH the intersection aggregate as
    # constant-per-group mins, deleting the two post-aggregate size
    # joins and their exchanges (optimization r12, guide §2.4).
    exc = ex.join(kz, "key").cache()
    return _verify_jaccard(cand, ("key_a", exc, "sz_a"),
                           ("key_b", exc, "sz_b"), threshold)


def minhash_lsh_cross_pairs(batch: DataFrame, base: DataFrame,
                            text_col: str, key_col: str, *,
                            n_hashes: int = 6, bands: int = 3,
                            shingle_n: int = 3,
                            threshold: float = 0.5,
                            max_band_bucket: int | None = None,
                            broadcast_batch: bool | None = None) -> DataFrame:
    """(batch_key, base_key, jaccard): near-dup pairs ACROSS corpora —
    every ``batch`` doc matched against ``base`` docs only (no
    batch×batch or base×base pairs).

    This is the INCREMENTAL dedup primitive: production corpora are not
    re-deduped end-to-end per ingest; the daily delta is matched against
    the standing corpus.  Plan shape for that regime:

    - The base side's (band, key) index and (key, shingle) store are
      computed from the corpus ONCE per snapshot — in production they
      are persisted artifacts (partitioned by band / bucketed by key),
      and this function's base-side lineage is exactly the job that
      builds them.
    - The delta's band relation broadcasts into the band join — so the
      corpus-sized base index never pays a shuffle for the candidate
      join — under ``broadcast_batch``: ``True`` forces the hint (the
      production ingest case, where the CALLER knows the delta is
      bounded — Catalyst's stats for an aggregate-derived relation are
      the unknown sentinel or an inherited scan estimate, so a stats
      gate alone cannot see that a multi-TB-base/small-delta join is
      broadcastable), ``None`` (default) applies the hint only when
      plan stats prove the relation small (hints.maybe_broadcast —
      fires at test scale, defers to AQE otherwise), ``False`` never
      hints.
    - Exact-Jaccard verification touches base shingles ONLY for
      candidate keys (leftsemi first), so the expensive side's read is
      candidate-proportional, not corpus-proportional.

    Same signature recipe as minhash_lsh_pairs (one md5 per shingle
    split into K 20-bit slice-mins), so a batch doc identical to a base
    doc is GUARANTEED a candidate (identical shingle sets → identical
    signatures → same band keys).
    """
    from .hints import maybe_broadcast

    ex_b, sigs_b, slim_b = _lsh_index(
        batch, text_col, key_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n, max_band_bucket=None)
    # The hot-band cap guards the BASE side only (the unbounded one):
    # a bucket with B base members costs B candidates per batch doc
    # hitting it (the uncapped ×100 probe does not finish; SCALE.md).
    # Byte-identical batch docs still match in the md5 tier.
    ex_a, sigs_a, slim_a = _lsh_index(
        base, text_col, key_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n, max_band_bucket=max_band_bucket)
    bands_b = slim_b.select(F.col("key").alias("batch_key"), "band")
    if broadcast_batch is True:
        bands_b = F.broadcast(bands_b)
    elif broadcast_batch is None:
        bands_b = maybe_broadcast(bands_b)
    cand = (bands_b
            .join(slim_a.select(F.col("key").alias("base_key"), "band"),
                  "band")
            .select("batch_key", "base_key")
            .dropDuplicates(["batch_key", "base_key"])
            .cache())  # feeds both key-filters AND the intersection join
    # Candidate-key restriction + sz attach, mirroring minhash_lsh_pairs
    # (optimization r12): the per-key shingle-set sizes come from the
    # cached signature aggregates (they rode that shuffle), flow through
    # the intersection aggregate as constant-per-group mins, and the two
    # post-aggregate size joins (plus both size aggregates) disappear.
    # No .distinct() on the key lists — semi-join semantics ignore
    # right-side duplicates (r11; re-confirmed by the r12 bisect A/B).
    kz_b = (sigs_b.select("key", "sz")
            .join(cand.select(F.col("batch_key").alias("key")),
                  "key", "leftsemi"))
    kz_a = (sigs_a.select("key", "sz")
            .join(cand.select(F.col("base_key").alias("key")),
                  "key", "leftsemi"))
    exc_b = ex_b.join(kz_b, "key").cache()
    exc_a = ex_a.join(kz_a, "key").cache()
    return _verify_jaccard(cand, ("batch_key", exc_b, "sz_b"),
                           ("base_key", exc_a, "sz_a"), threshold)


def ngram_jaccard_pairs(df: DataFrame, text_col: str, key_col: str, *,
                        block_col: str, shingle_n: int = 2,
                        threshold: float = 0.2) -> DataFrame:
    """Blocked n-gram-Jaccard similarity join: pairs within the same
    ``block_col`` value scored by token-shingle Jaccard.

    Blocking bounds the pair count to Σ block² instead of corpus²; at
    scale callers block on a cheap stable key (length bucket, lang,
    LSH band).  For unblocked near-dup mining use minhash_lsh_pairs.
    """
    sh = ngrams(tokens(F.col(text_col)), shingle_n)
    docs = df.select(F.col(key_col).alias("key"),
                     F.col(block_col).alias("block"), sh.alias("sh"))
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (a.join(b, (F.col("a.block") == F.col("b.block")) &
                    (F.col("a.key") < F.col("b.key")))
             .select(F.col("a.key").alias("key_a"),
                     F.col("b.key").alias("key_b"),
                     # raw int quotient — see minhash_lsh_pairs note
                     (F.size(F.array_intersect("a.sh", "b.sh")) /
                      F.size(F.array_union("a.sh", "b.sh")))
                     .alias("jaccard")))
    return pairs.filter(F.col("jaccard") >= threshold)


# -- SimHash --------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(df: DataFrame, text_col: str, key_col: str,
            out_col: str = "simhash", bits: int = SIMHASH_BITS) -> DataFrame:
    """(key, simhash): per-bit majority vote over token hashes.

    Same explode-then-aggregate shape as minhash_signatures: tokens
    explode to rows, the 60-bit hash is one codegen'd expression, and
    the per-bit votes are map-side-combining conditional sums — no
    interpreted array folds.  Tokenless documents get fingerprint 0
    (all-bits-negative), preserved via the left join back to the keys.
    """
    toked = df.select(F.col(key_col).alias("key"),
                      F.explode_outer(tokens(F.col(text_col))).alias("t"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    votes = toked.groupBy("key").agg(*[
        F.sum(F.when(h.isNull(), 0)
              .when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1))
        .alias(f"v{i}") for i in range(bits)])
    fp = None
    for i in range(bits):
        contrib = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(0)
        fp = contrib if fp is None else fp + contrib
    return votes.select("key", fp.cast("long").alias(out_col)) \
                .withColumnRenamed("key", key_col)


def ngram_containment_pairs(df: DataFrame, text_col: str, key_col: str, *,
                            block_col: str, shingle_n: int = 2,
                            threshold: float = 0.5) -> DataFrame:
    """Blocked asymmetric shingle-containment join:
    ``|sh(a) ∩ sh(b)| / |sh(a)|`` for ordered pairs in the same block.

    Containment catches what Jaccard structurally cannot: a short
    document embedded verbatim in a much longer one scores near 1.0
    containment but near-zero Jaccard (the union is dominated by the
    long side).  That is the quote/boilerplate/subset-duplication case
    in corpus dedup.  Same Σ block² bound as ngram_jaccard_pairs; both
    directions are emitted because containment is directional.
    """
    sh = F.array_distinct(ngrams(tokens(F.col(text_col)), shingle_n))
    docs = df.select(F.col(key_col).alias("key"),
                     F.col(block_col).alias("block"), sh.alias("sh"))
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (a.join(b, (F.col("a.block") == F.col("b.block")) &
                    (F.col("a.key") != F.col("b.key")))
             .filter(F.size("a.sh") > 0)
             .select(F.col("a.key").alias("key_src"),
                     F.col("b.key").alias("key_in"),
                     # raw int quotient — see minhash_lsh_pairs note
                     (F.size(F.array_intersect("a.sh", "b.sh")) /
                      F.size("a.sh")).alias("containment")))
    return pairs.filter(F.col("containment") >= threshold)


def simhash_hamming_pair_join(sh: DataFrame, *, key_col: str = "doc_id",
                              fp_col: str = "simhash",
                              band_bits: int = 4,
                              bands: int = 4,
                              max_hamming: int = 3) -> DataFrame:
    """(key_a < key_b, hamming): pairs within ``max_hamming`` bits, by
    banding over DISTINCT fingerprints + output-bound family expansion.

    Requires ``max_hamming < bands`` (pigeonhole: d differing bits can
    touch at most d bands, so every qualifying pair shares ≥1 of
    ``bands`` bands).  The banding self-join runs on the
    distinct-fingerprint relation — bounded by the fingerprint space,
    not the corpus — and qualifying fingerprint pairs (tiny) broadcast
    into two equi-joins that expand to document pairs.  See SCALE.md
    (round-2 section) for the probe that motivated this shape: doc-
    granularity banding goes quadratic on template-heavy corpora.
    """
    if max_hamming >= bands:
        raise ValueError("need max_hamming < bands for pigeonhole recall")
    sh = sh.select(F.col(key_col).alias("key"),
                   F.col(fp_col).alias("fp")).cache()
    fps = sh.select("fp").distinct()
    mask = (1 << band_bits) - 1
    bandrel = fps.select(
        "fp",
        F.posexplode(F.array(*[
            F.expr(f"shiftright(fp, {band_bits * i}) & {mask}")
            for i in range(bands)])).alias("band", "bkey"))
    fa, fb = bandrel.alias("fa"), bandrel.alias("fb")
    qp = (fa.join(fb, [F.col("fa.band") == F.col("fb.band"),
                       F.col("fa.bkey") == F.col("fb.bkey"),
                       F.col("fa.fp") <= F.col("fb.fp")])
          .select(F.col("fa.fp").alias("fpa"), F.col("fb.fp").alias("fpb"))
          .distinct()
          .withColumn("hamming",
                      F.expr("cast(bit_count(fpa ^ fpb) as bigint)"))
          .filter(F.col("hamming") <= max_hamming))
    da, db = sh.alias("da"), sh.alias("db")
    return (F.broadcast(qp)
            .join(da, F.col("da.fp") == F.col("fpa"))
            .join(db, F.col("db.fp") == F.col("fpb"))
            .filter((F.col("fpa") != F.col("fpb")) |
                    (F.col("da.key") < F.col("db.key")))
            .select(F.least("da.key", "db.key").alias("key_a"),
                    F.greatest("da.key", "db.key").alias("key_b"),
                    "hamming"))

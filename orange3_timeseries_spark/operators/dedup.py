"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Design for 100 TB:

- **exact**: one hash-groupBy with map-side partial aggregation; the digest
  (md5) is computed scan-side so only (digest, id) shuffles.
- **minhash_lsh**: shingle -> k seeded min-hashes -> b bands; candidate
  generation is an equi-join on (band, band_key) — i.e. a shuffle on small
  keys, never an all-pairs product; verification computes exact Jaccard only
  on candidates.  All hashing uses the portable md5-based ``phash`` so the
  DuckDB oracle replays the *identical* pipeline.
- **simhash**: 32-bit signature via per-token bit votes folded with one
  higher-order aggregate; near-dup candidates join on band prefixes.
- **ngram_jaccard_pairs**: the exact quadratic variant for modest
  partitions (blocked by a key column when given) — the LSH path is the
  scale path, this is the verifier.
- **embedding near-dup**: cosine >= tau pairs, blocked by an LSH bucket or a
  provided key at scale.

No Python UDFs anywhere — everything is Catalyst expressions.
"""

from __future__ import annotations

import weakref
from typing import NamedTuple, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_timeseries_spark.operators import index_store as _store
from orange3_timeseries_spark.operators.hashing import phash
from orange3_timeseries_spark.operators.partitioning import widen_partitions
from orange3_timeseries_spark.operators.text import tokens_expr

#: per-SparkContext memo of CONSTRUCTED Column expression trees, keyed
#: by the parameters they are a pure function of.  This caches driver
#: plan-construction CPU only — never data, executed plans, or results:
#: the signature/band trees cost ~0.1-0.25 s of py4j construction
#: traffic per call (guide §4: the Python boundary includes plan
#: building), and a lifecycle query constructs the same tree 4-6 times.
#: Column objects are immutable unresolved expressions, safe to re-use
#: across DataFrames; keying on the SparkContext (weakly) drops the
#: cache with the JVM that owns the underlying expression handles.
_EXPR_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _cached_expr(sc, key, build):
    try:
        d = _EXPR_CACHE.get(sc)
        if d is None:
            d = {}
            _EXPR_CACHE[sc] = d
    except TypeError:            # non-weakrefable stand-in (mocks)
        return build()
    c = d.get(key)
    if c is None:
        c = build()
        d[key] = c
    return c


# ----------------------------------------------------------------- exact dedup
def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                keep: str = "min") -> DataFrame:
    """Exact duplicate groups by content digest; keeps the min-id (or
    max-id) representative and counts members."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (df.select(F.md5(F.col(text_col)).alias("digest"), id_col)
            .groupBy("digest")
            .agg(agg.alias("keep_id"),
                 F.count(F.lit(1)).alias("n_members")))


def exact_dedup_filter(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The deduplicated corpus: one representative row per distinct text."""
    keep = exact_dedup(df, text_col, id_col)
    return (df.join(F.broadcast(keep.select(F.col("keep_id").alias(id_col))),
                    on=id_col, how="left_semi"))


# -------------------------------------------------------------------- shingles
def shingles_expr(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    Built by chaining ``zip_with(acc, shifted_tokens, concat)`` — both
    zip inputs are argument positions, evaluated once per ROW.  The naive
    ``transform(sequence(...), i -> slice(toks, i+1, n))`` form puts the
    token array inside the lambda body, so Catalyst re-evaluates the
    whole tokenizer per array ELEMENT — measured ~100x slower on
    300-token documents.
    """
    toks = tokens_expr(c)
    if n == 1:
        return F.array_distinct(toks)
    sz = F.size(toks)
    acc = toks
    for j in range(1, n):
        ln = F.greatest(sz - j, F.lit(0))
        acc = F.zip_with(F.slice(acc, 1, ln), F.slice(toks, j + 1, ln),
                         lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(sz >= n, F.array_distinct(acc)) \
        .otherwise(F.array().cast("array<string>"))


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / F.nullif(union, F.lit(0.0))


# --------------------------------------------------------------------- minhash
#: Mersenne prime modulus for the permutation family (int64-safe products)
MINHASH_P = (1 << 31) - 1
_MINHASH_BASE_MOD = 1 << 30


def minhash_coeffs(k: int):
    """Deterministic (a_i, b_i) for the universal-hash family
    ``h_i(x) = (a_i * base(x) + b_i) mod P`` — LCG-derived so the DuckDB
    oracle regenerates the identical constants."""
    a = [((1103515245 * (i + 1) + 12345) % _MINHASH_BASE_MOD) | 1
         for i in range(k)]
    b = [(69069 * (i + 1) + 1) % MINHASH_P for i in range(k)]
    return a, b


def minhash_signature_expr(sh: Column, k: int = 16,
                           hash_family: str = "md5") -> Column:
    """k-permutation MinHash signature via ONE base hash per shingle
    plus k linear permutations ``(a_i*h + b_i) mod P`` folded in a
    single ``aggregate``/``zip_with`` pass (empty set -> all-P
    sentinel).

    The permutation trick matters at scale: the naive per-seed form
    re-evaluates the shingle-construction expression k times per row
    (Catalyst inlines the alias), turning one scan into k — measured 70x
    slower at k=16.  Here the shingle array and its base hashes are bound
    lambda variables, evaluated exactly once per element.

    ``hash_family``: ``'md5'`` (default) is the portable hash every
    DuckDB oracle replays; ``'xxhash64'`` is the PRODUCTION fast path —
    same banding/collision logic, ~2-3x cheaper base hash (the
    signature stage is pure CPU at scale), but engine-specific, so use
    it when verifiability-by-replay isn't required.  Collision classes
    differ between families; pick one per corpus.
    """
    a, b = minhash_coeffs(k)
    if hash_family == "xxhash64":
        base = F.transform(
            sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_BASE_MOD)))
    else:
        base = F.transform(sh, lambda s: phash(s) % F.lit(_MINHASH_BASE_MOD))
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * k)
    return F.aggregate(
        base, init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[(F.lit(a[i]) * h + F.lit(b[i])) % F.lit(MINHASH_P)
                      for i in range(k)]),
            lambda x, y: F.least(x, y)))


def _minhash_sig_col(sc, text_col: str, k: int, n: int,
                     hash_family: str) -> Column:
    """The (memoized) minhash-signature Column over ``text_col`` —
    ~0.13 s of py4j construction per build, a pure function of its
    key."""
    return _cached_expr(
        sc, ("minhash_sig", text_col, k, n, hash_family),
        lambda: minhash_signature_expr(
            shingles_expr(F.col(text_col), n), k, hash_family))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int = 16, n: int = 3,
                       hash_family: str = "md5") -> DataFrame:
    # shingle+minhash is CPU-per-row: widen a too-coarse scan first
    sc = df.sparkSession.sparkContext
    df = widen_partitions(df.select(id_col, text_col))
    return df.select(F.col(id_col),
                     _minhash_sig_col(sc, text_col, k, n, hash_family)
                     .alias("sig"))


def _band_entries(df: DataFrame, text_col: str, id_col: str,
                  k: int, bands: int, n: int,
                  hash_family: str = "md5") -> DataFrame:
    """Skinny (id, band, band_key) LSH band entries — candidate
    generation operates on these only: the shingle arrays stay out of
    the band join and the pair-dedup shuffle.  Band keys never surface
    (any injective hash of the band tuple gives the same collision
    classes) — xxhash64 over the signature slots skips both the md5 and
    the string concat."""
    rows_per_band = k // bands
    sc = df.sparkSession.sparkContext
    df = widen_partitions(df.select(id_col, text_col))
    base = df.select(F.col(id_col),
                     _minhash_sig_col(sc, text_col, k, n, hash_family)
                     .alias("sig"))
    bandpos = _cached_expr(
        sc, ("band_pos", k, bands),
        lambda: F.posexplode(F.array(*[
            F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                         for r in range(rows_per_band)])
            for b in range(bands)
        ])))
    return base.select(id_col, bandpos.alias("band", "band_key"))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      k: int = 16, bands: int = 4, n: int = 3,
                      threshold: float = 0.2,
                      hash_family: str = "md5") -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) for verified pairs with
    jaccard >= threshold.  rows_per_band = k // bands; a pair collides when
    one band of the signature matches exactly.
    """
    df = df.select(id_col, text_col)
    band_entries = _band_entries(df, text_col, id_col, k, bands, n,
                                 hash_family)
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    cand = (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.band_key") == F.col("b.band_key"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # verification: re-attach raw TEXT by id and shingle AFTER the join —
    # shingling before the join would re-tokenize the entire corpus a
    # second time just to discard the non-candidates; post-join, only
    # docs that actually collided pay the shingle cost (candidates <<
    # corpus at any scale), and the join moves strings, not arrays
    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("__t_a__"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("__t_b__"))
    verified = (cand.join(ta, "id_a").join(tb, "id_b")
                .withColumn("sh_a", shingles_expr(F.col("__t_a__"), n))
                .withColumn("sh_b", shingles_expr(F.col("__t_b__"), n)))
    return (verified.select("id_a", "id_b",
                            jaccard_expr(F.col("sh_a"), F.col("sh_b"))
                            .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_lsh_pairs_between(df_a: DataFrame, df_b: DataFrame,
                              text_col: str, id_col: str,
                              k: int = 16, bands: int = 4, n: int = 3,
                              threshold: float = 0.2) -> DataFrame:
    """Cross-corpus near-duplicate JOIN: (id_a, id_b, jaccard) where
    id_a ∈ df_a, id_b ∈ df_b and Jaccard ≥ threshold — the train/test
    LEAKAGE audit at near-duplicate (not just exact n-gram) level.

    Same plan shape as :func:`minhash_lsh_pairs` — skinny band-entry
    equi-join, texts re-attached only for colliding candidates — so the
    cost is |A|+|B| signature passes plus a banded join, never |A|×|B|.
    When one side is a small eval/benchmark set its band entries
    broadcast for free under AQE."""
    ea = _band_entries(df_a, text_col, id_col, k, bands, n).alias("a")
    eb = _band_entries(df_b, text_col, id_col, k, bands, n).alias("b")
    cand = (ea.join(eb, [F.col("a.band") == F.col("b.band"),
                         F.col("a.band_key") == F.col("b.band_key")])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ta = df_a.select(F.col(id_col).alias("id_a"),
                     F.col(text_col).alias("__t_a__"))
    tb = df_b.select(F.col(id_col).alias("id_b"),
                     F.col(text_col).alias("__t_b__"))
    verified = (cand.join(ta, "id_a").join(tb, "id_b")
                .withColumn("sh_a", shingles_expr(F.col("__t_a__"), n))
                .withColumn("sh_b", shingles_expr(F.col("__t_b__"), n)))
    return (verified.select("id_a", "id_b",
                            jaccard_expr(F.col("sh_a"), F.col("sh_b"))
                            .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


# --------------------------------------------------------------------- simhash
def simhash_expr(c: Column, bits: int = 32) -> Column:
    """SimHash signature: per-token bit votes (+1/-1 per bit of the token's
    portable hash), folded with one higher-order aggregate; bit i of the
    result is 1 when the summed vote is positive."""
    hashes = F.transform(tokens_expr(c), lambda t: phash(t))
    votes = F.aggregate(
        hashes,
        F.array(*[F.lit(0).cast("long") for _ in range(bits)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                       F.lit(1).cast("long"))
                 .otherwise(F.lit(-1).cast("long"))
                for i in range(bits)]),
            lambda a, v: a + v))
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(F.element_at(votes, i + 1) > 0,
                           F.lit(1 << i).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return out


def hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two integer signatures (via bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       bits: int = 32) -> DataFrame:
    """SimHash signatures as a two-stage aggregation: explode tokens,
    hash once each, then ``bits`` conditional vote-sums folded by one
    ``groupBy(id)`` — fully partial-aggregatable (map-side combine), so at
    scale the shuffle carries ``bits`` ints per document, not token lists.
    The per-row HOF fold (:func:`simhash_expr`) computes the identical
    signature without a shuffle — prefer it inside row-wise pipelines,
    this one when signatures feed a grouped/join stage anyway."""
    sc = df.sparkSession.sparkContext
    df = widen_partitions(df.select(id_col, text_col))
    tok = df.select(F.col(id_col),
                    F.explode(tokens_expr(F.col(text_col))).alias("t"))
    th = tok.select(id_col, phash(F.col("t")).alias("h"))
    # each vote sum / the bit fold is ONE parsed SQL expression, not
    # ~12 py4j Column calls per bit: the parsed tree is the identical
    # CaseWhen/Add chain (same literals, same left-assoc order), but
    # plan construction drops from ~0.9s to ~0.05s per call at bits=48
    # — and the parsed Columns are memoized per (bits) on top (r14:
    # ~0.2s of residual per-call parse traffic, 4-6 calls per
    # lifecycle query)
    vote_cols = _cached_expr(
        sc, ("simhash_votes", bits),
        lambda: tuple(
            F.expr(f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
                   f"THEN 1 ELSE -1 END)").alias(f"b{i}")
            for i in range(bits)))
    votes = th.groupBy(id_col).agg(*vote_cols)
    sig_col = _cached_expr(
        sc, ("simhash_sig", bits),
        lambda: F.expr(" + ".join(
            ["CAST(0 AS BIGINT)"]
            + [f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) "
               f"ELSE CAST(0 AS BIGINT) END)" for i in range(bits)])))
    return votes.select(F.col(id_col), sig_col.alias("sig"))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  bits: int = 32, max_distance: int = 3,
                  band_bits: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of the ``bits/band_bits``
    signature bands (a pair within distance d < bands collides on >= one
    band by pigeonhole), verify exact Hamming distance.

    Band-key width is the scale dial: candidate volume is
    ``sum_bucket |bucket|^2``, and bucket occupancy is driven by
    ``2^band_bits`` vs corpus size — 8-bit keys (256 buckets/band) blow up
    beyond a few thousand docs (measured: 2.7M candidates from 5k docs),
    while 12-bit keys cut accidental collisions 16x at identical recall
    for ``max_distance < bits/band_bits`` (pigeonhole).  Hamming verify
    runs BEFORE the pair-dedup so the distinct shuffles only true
    near-dups.

    Signatures come from the GROUPED vote-sum (:func:`simhash_signatures`)
    rather than the per-row HOF fold: at wide signatures the fold's
    per-token ``bits``-element array allocations fall off the codegen
    cliff (measured at sf0.1: 5-40s erratic for the 48-bit HOF vs a
    stable 1.8s grouped), and the grouped form is partial-aggregatable —
    the shuffle carries ``bits`` ints per doc, never token lists."""
    sigs = simhash_signatures(df, text_col, id_col, bits=bits)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    entries = sigs.select(
        id_col, "sig",
        F.posexplode(F.array(*[
            F.shiftright(F.col("sig"), b * band_bits)
             .bitwiseAND(F.lit(mask)).cast("long")
            for b in range(n_bands)])).alias("band", "band_key"))
    a, b = entries.alias("a"), entries.alias("b")
    # hamming-verify inside the join projection, BEFORE the distinct:
    # a band bucket of m docs emits m^2 candidate rows, and only the true
    # near-dups (<= max_distance) survive into the dedup shuffle
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.band_key") == F.col("b.band_key"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    hamming_expr(F.col("a.sig"), F.col("b.sig"))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_distance)
            .dropDuplicates(["id_a", "id_b"]))


# ------------------------------------------------------------- n-gram jaccard
def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.2,
                        block_col: Optional[str] = None,
                        max_df: Optional[int] = 64,
                        order: str = "auto") -> DataFrame:
    """Exact n-gram Jaccard pairs via an **inverted-index set-similarity
    join** — never an all-pairs product.

    Two physical plans, selected by ``order``:

    - ``'count'``: explode distinct shingles to skinny postings
      ``(shingle, id, |set|)``, equi-join postings on the shingle (plus
      ``block_col`` when given), count shared shingles per id pair with
      one map-side-combining ``groupBy``, and close the Jaccard form
      ``inter / (n_a + n_b - inter)`` from the carried set sizes — no
      second join, no array shuffles.  Join volume is ``sum_s df(s)^2``.
    - ``'hash'`` / ``'df'``: **PPJoin-style prefix-filtered** candidate
      generation (Chaudhuri et al. SSJoin / Xiao et al. PPJoin).
      Shingles are put in a consistent global total order and each doc
      indexes only its first ``m - ceil(t*m) + 1`` shingles in that
      order — any pair with Jaccard >= t MUST collide inside these
      prefixes (pigeonhole: skipping more elements of either set leaves
      fewer than the required overlap), so exactness is preserved while
      the candidate join pays only ``sum_s df_prefix(s)^2``.  Collided
      pairs are then verified ONCE each against the full shingle-hash
      arrays (JVM ``array_intersect``).  ``'hash'`` orders by the
      shingle's xxhash64 (a free order: the prefix is
      ``slice(array_sort(hashes))``, zero extra shuffles — candidate
      volume falls ~``(1-t)^2`` uniformly); ``'df'`` is the classic
      ascending-document-frequency order (rare shingles sort into
      prefixes, so the high-df quadratic-cost shingles mostly never get
      indexed — sharper cuts on skewed corpora, at the price of one
      per-doc ranking window over the postings).
    - ``'auto'`` (default): ``'count'`` below threshold 0.5, ``'hash'``
      above.  Measured at sf0.1 (5 000 docs, near-uniform df, t=0.2):
      the prefix keeps 81% of postings and 878k candidate pairs still
      reach the verifier, so count-aggregation wins (~9s vs ~11s cold);
      at t>=0.5 the prefix is <=50% + the length filter bites and the
      verified-candidate plan wins.  On zipfian corpora 'df' wins
      earlier — the crossover is threshold- and skew-dependent, hence a
      heuristic, not a hard rule.

    Cost control at 100 TB: ``max_df`` drops shingles appearing in more
    than ``max_df`` docs (a single stop-shingle in 10^6 docs would alone
    contribute 10^12 join rows) — implemented as a map-side-combining
    heavy-hitter aggregation + **broadcast anti-join** (the blacklist is
    tiny by definition; a count-over-window would re-shuffle every
    posting by shingle just to drop a handful).  The cap is ON BY
    DEFAULT (64); pass ``max_df=None`` for the fully uncapped exact
    join.  A pair sharing ONLY dropped shingles is missed; with any
    reasonable ``max_df`` such a pair is far below any useful threshold
    (its intersection consists of corpus-ubiquitous shingles).
    """
    from pyspark.sql import Window

    if order == "auto":
        order = "count" if threshold < 0.5 else "hash"
    if order not in ("count", "hash", "df"):
        raise ValueError("order must be 'auto', 'count', 'hash' or 'df'")
    blk = [block_col] if block_col else []
    df = widen_partitions(df.select(id_col, text_col, *blk))

    def _cap(posting):
        if max_df is None:
            return posting
        hot = (posting.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
               .where(F.col("c") > max_df).select("s"))
        return posting.join(F.broadcast(hot), "s", "left_anti")

    if order == "count":
        # postings join on a 64-bit hash of the shingle, not the string:
        # int64 keys shuffle/compare ~3x cheaper and the two self-join
        # sides share one identical exchange (ReusedExchange computes the
        # scan once).  xxhash64, not the md5 phash: the hash never
        # surfaces in the output (only ids + jaccard do), so oracle
        # portability doesn't apply and the JVM-native hash saves one md5
        # per posting row — the scan's dominant CPU at ~500 shingles/doc.
        sh = df.select(F.col(id_col),
                       shingles_expr(F.col(text_col), n).alias("sh"),
                       *blk)
        posting = sh.select(F.col(id_col), F.size("sh").alias("n"),
                            F.explode("sh").alias("s"), *blk) \
                    .select(F.col(id_col), "n",
                            F.xxhash64(F.col("s")).alias("s"), *blk)
        posting = _cap(posting)
        a, b = posting.alias("a"), posting.alias("b")
        conds = [F.col("a.s") == F.col("b.s"),
                 F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
        if block_col:
            conds.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        inter = (a.join(b, conds)
                 .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                          F.col(f"b.{id_col}").alias("id_b"),
                          F.col("a.n").alias("n_a"),
                          F.col("b.n").alias("n_b"))
                 .agg(F.count(F.lit(1)).alias("inter")))
        jac = F.col("inter").cast("double") / \
            F.nullif((F.col("n_a") + F.col("n_b")
                      - F.col("inter")).cast("double"), F.lit(0.0))
        return (inter.select("id_a", "id_b", jac.alias("jaccard"))
                .where(F.col("jaccard") >= threshold))

    # ---- prefix-filtered candidate generation + full-array verification
    # Full shingle-hash arrays (one row per doc) — the verification side.
    # Persisted ONCE: three consumers (prefix postings and the a/b
    # verification sides) would otherwise each re-run the tokenizer +
    # hash over the corpus — the dominant scan CPU.  Same precedent as
    # the LSH pair generator's edge-list persist below.  Arrays are kept
    # hash-sorted so the 'hash'-order prefix is a plain slice.
    toks = df.select(
        F.col(id_col),
        F.array_sort(F.transform(shingles_expr(F.col(text_col), n),
                                 lambda s: F.xxhash64(s))).alias("ts"),
        *blk).select(F.col(id_col), "ts", F.size("ts").alias("n"),
                     *blk).persist()
    if order == "hash":
        plen = F.least(
            F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int")
            + F.lit(1), F.col("n"))
        prefix = _cap(toks.select(
            F.col(id_col), "n",
            F.explode(F.slice("ts", F.lit(1), plen)).alias("s"), *blk))
    else:  # 'df'
        posting = toks.select(F.col(id_col), "n",
                              F.explode("ts").alias("s"), *blk)
        # document frequency doubles as the max_df guard and the order
        # key — one window pass over the postings provides both
        posting = posting.withColumn(
            "__df__", F.count(F.lit(1)).over(Window.partitionBy("s")))
        if max_df is not None:
            posting = posting.where(F.col("__df__") <= max_df)
        wdoc = Window.partitionBy(F.col(id_col)).orderBy("__df__", "s")
        ranked = (posting
                  .withColumn("pos", F.row_number().over(wdoc))
                  .withColumn("m", F.count(F.lit(1)).over(
                      Window.partitionBy(F.col(id_col)))))
        prefix = ranked.where(
            F.col("pos") <= F.col("m")
            - F.ceil(F.lit(threshold) * F.col("m")) + F.lit(1)) \
            .select(F.col(id_col), "n", "s", *blk)
    a, b = prefix.alias("a"), prefix.alias("b")
    conds = [F.col("a.s") == F.col("b.s"),
             F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
             # length filter: J >= t forces t*|x| <= |y| both ways
             F.col("b.n").cast("double") >= F.lit(threshold) * F.col("a.n"),
             F.col("a.n").cast("double") >= F.lit(threshold) * F.col("b.n")]
    if block_col:
        conds.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cand = (a.join(b, conds)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # Verify each candidate pair ONCE against the full arrays; two linear
    # equi-joins on id — never an all-pairs product.
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("ts").alias("ts_a"),
                     F.col("n").alias("n_a"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("ts").alias("ts_b"),
                     F.col("n").alias("n_b"))
    verified = (cand.join(ta, "id_a").join(tb, "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("ts_a", "ts_b"))))
    jac = F.col("inter").cast("double") / \
        F.nullif((F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                 F.lit(0.0))
    return (verified.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


# ---------------------------------------------------------- substring dedup
def substring_fingerprints(df: DataFrame, text_col: str, id_col: str,
                           gram_len: int = 40, mod: int = 4) -> DataFrame:
    """Content-selected positional character-gram fingerprints — the
    posting side of :func:`substring_pairs`.

    Every position's ``gram_len``-char gram is hashed with the portable
    ``phash`` and a gram is SELECTED when ``hash % mod == 0`` — selection
    depends only on gram *content* (MOSS-style mod-sampling), so the same
    gram is selected in every document containing it regardless of
    alignment; no stride-alignment assumption is needed.  Expected 1/mod
    of positions survive, so postings stay ~``len/mod`` per doc.
    """
    t = F.col(text_col)
    n_pos = F.length(t) - F.lit(gram_len) + 1
    grams = F.when(
        n_pos >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_pos, F.lit(1))),
            lambda i: F.struct(
                i.alias("pos"),
                phash(t.substr(i, F.lit(gram_len))).alias("h")))
    ).otherwise(F.array().cast("array<struct<pos:int,h:long>>"))
    return (df.select(F.col(id_col), F.explode(grams).alias("g"))
            .select(F.col(id_col), F.col("g.pos").alias("pos"),
                    F.col("g.h").alias("h"))
            .where(F.col("h") % mod == 0))


def substring_pairs(df: DataFrame, text_col: str, id_col: str,
                    min_len: int = 150, gram_len: int = 40,
                    mod: int = 4,
                    max_df: Optional[int] = 1000) -> DataFrame:
    """Document pairs sharing a long contiguous substring — the
    suffix-array-style exact-substring dedup modality, approximated
    Spark-natively with positional gram postings + run-length merge
    (cf. the suffix-array dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" — same goal, join-friendly plan).

    Plan: content-selected fingerprints (see
    :func:`substring_fingerprints`) self-equi-join on the gram hash —
    matching grams at positions ``(pa, pb)`` of a shared substring all
    lie on one diagonal ``pa - pb`` — then a per-(pair, diagonal) window
    merges consecutive matches into runs, splitting where the position
    gap exceeds ``gram_len``.  Because two grams on the same diagonal at
    gap <= gram_len OVERLAP, every byte of a merged run is covered by
    some matched gram: the reported ``longest = max(pa) - min(pa) +
    gram_len`` is a PROVEN contiguous identical substring (no false
    positives modulo md5 collision).  A true shared run can be split /
    shortened only if content-selection leaves a > ``gram_len`` gap
    inside it — probability ``(1 - 1/mod)^gram_len`` per position
    (~1e-5 at the defaults), and deterministic given the content, so an
    oracle replays bit-identically.

    Scale: postings are ``len/mod`` per doc; the join emits ``sum
    df(h)^2`` rows, so ubiquitous grams are THE quadratic hazard —
    measured on a synthetic low-entropy 500k-doc corpus, candidate rows
    grew 121x for a 10x corpus (df reached 52) until the ``max_df`` cap
    restored linearity (see PLANS.md round-5 smoke).  ``max_df`` drops
    gram hashes appearing in more than that many DOCUMENTS before the
    self-join — boilerplate grams carry no dedup signal, and a true
    shared run survives unless every one of its selected grams is
    boilerplate.  ``None`` disables the cap (exact postings).  Windows
    run per (pair, diagonal) — tiny partitions, no global sort.
    """
    from pyspark.sql import Window

    sel = substring_fingerprints(
        widen_partitions(df.select(id_col, text_col)),
        text_col, id_col, gram_len, mod)
    if max_df is not None:
        rare = (sel.groupBy("h")
                .agg(F.count_distinct(id_col).alias("__df__"))
                .where(F.col("__df__") <= max_df).select("h"))
        sel = sel.join(rare, "h")
    a, b = sel.alias("a"), sel.alias("b")
    m = (a.join(b, [F.col("a.h") == F.col("b.h"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
         .select(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a.pos").alias("pa"),
                 (F.col("a.pos") - F.col("b.pos")).alias("diag")))
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (m.withColumn(
                "nr", F.when(F.lag("pa").over(w).isNull()
                             | (F.col("pa") - F.lag("pa").over(w)
                                > gram_len), 1).otherwise(0))
            .withColumn("run", F.sum("nr").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("id_a", "id_b", "diag", "run")
            .agg((F.max("pa") - F.min("pa") + gram_len).alias("run_len")))
    return (runs.groupBy("id_a", "id_b")
            .agg(F.max("run_len").alias("longest"))
            .where(F.col("longest") >= min_len))


# ------------------------------------------------------------------ clustering
def _driver_fast_path_ok(n_edges: int, avg_id_bytes: float,
                         budget_bytes: int) -> bool:
    """Gate for the driver union-find fast path: edge COUNT alone is the
    wrong bound (5M edges of 8-byte ints is ~hundreds of MB of Python
    objects; 5M edges of kilobyte URL ids is tens of GB), so the gate
    estimates driver bytes as ``edges x (avg id width + object
    overhead) x 2 endpoints x parent-map factor`` and compares against
    an explicit budget."""
    per_edge = (avg_id_bytes + 60.0) * 2 * 2  # 60B CPython str/int
    # header+padding per endpoint; x2 for the Row list + parent dict
    return n_edges * per_edge <= budget_bytes


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                   max_iterations: int = 20,
                   driver_budget_bytes: int = 1 << 30) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every doc
    gets the MINIMUM id of its component as ``cluster_id`` (the canonical
    representative) — the standard "collapse near-dup clusters, keep one"
    step after any pair generator (minhash/simhash/embedding).

    Plan: iterative min-label propagation — each round joins current
    labels across the (symmetrized) edge list and takes the per-node min;
    the loop stops when a round changes nothing.  Label propagation
    converges in O(diameter) rounds; near-dup components are shallow
    (diameter is small because similarity is near-transitive), so the
    rounds stay in single digits at any corpus size.  All data stays in
    DataFrames; the driver only sees the changed-row count per round.
    """
    nodes = df.select(F.col(id_col).alias("n")).distinct()
    # the pair generator upstream (LSH banding etc.) is usually the
    # expensive part — materialize it once instead of recomputing for the
    # count, the edge iteration, and every propagation round
    edge_list = pairs.select("id_a", "id_b").distinct().persist()
    stats = edge_list.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.octet_length(F.col("id_a").cast("string"))
               + F.octet_length(F.col("id_b").cast("string"))) / 2
              ).alias("w")).first()
    n_edges = stats["n"]
    avg_id_bytes = float(stats["w"] or 0.0)
    if n_edges <= 5_000_000 and _driver_fast_path_ok(
            n_edges, avg_id_bytes, driver_budget_bytes):
        # near-dup pair graphs are tiny relative to the corpus (pairs ~
        # duplicates, not documents): resolve with driver union-find and
        # broadcast the label MAP — one collect of the edges, zero
        # iterative jobs.  The distributed loop below is the path for
        # pathological pair volumes; the gate bounds estimated BYTES
        # (edge count x measured id width), not just edge count, so
        # long-string-id corpora can't blow the driver under the count
        # ceiling.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        # collect, not toLocalIterator: the latter runs one job PER
        # PARTITION (32 sequential jobs for a 256-row edge list); the
        # threshold above bounds collect memory
        for row in edge_list.collect():
            ra, rb = find(row["id_a"]), find(row["id_b"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        edge_list.unpersist()
        mapping = [(k, find(k)) for k in list(parent)]
        spark = df.sparkSession
        if mapping:
            from orange3_timeseries_spark.operators.localrel import (
                local_df,
            )
            id_ddl = df.schema[id_col].dataType.simpleString()
            map_df = local_df(spark, mapping,
                              f"n_m {id_ddl}, lab_m {id_ddl}")
            return (nodes.join(F.broadcast(map_df),
                               nodes.n == map_df.n_m, "left")
                    .select(F.col("n").alias(id_col),
                            F.coalesce("lab_m", "n").alias("cluster_id")))
        return nodes.select(F.col("n").alias(id_col),
                            F.col("n").alias("cluster_id"))

    fwd = edge_list.select(F.col("id_a").alias("src"),
                           F.col("id_b").alias("dst"))
    edges = fwd.union(
        edge_list.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst"))).distinct()
    labels = nodes.select("n", F.col("n").alias("label"))
    for _ in range(max_iterations):
        nbr_min = (edges.join(labels, edges.dst == labels.n)
                   .groupBy("src").agg(F.min("label").alias("nl")))
        new_labels = (labels.join(nbr_min, labels.n == nbr_min.src, "left")
                      .select(F.col("n"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nl"),
                                                 F.col("label")))
                              .alias("label")))
        changed = (new_labels.alias("a")
                   .join(labels.alias("b"), F.col("a.n") == F.col("b.n"))
                   .where(F.col("a.label") != F.col("b.label")).count())
        labels = new_labels.localCheckpoint(eager=True)
        if changed == 0:
            break
    edge_list.unpersist()
    return labels.select(F.col("n").alias(id_col),
                         F.col("label").alias("cluster_id"))


def dedup_corpus(df: DataFrame, pairs: DataFrame, id_col: str,
                 keep_by: Optional[str] = None) -> DataFrame:
    """Materialize the DEDUPLICATED corpus: keep exactly one document per
    near-duplicate cluster and every unclustered document — the terminal
    step of any dedup pipeline, emitting the corpus that actually ships
    to training.

    Canonical choice: by default the minimum-id representative; with
    ``keep_by`` the cluster member with the LARGEST value of that column
    (ties -> min id) — e.g. ``keep_by='n_chars'`` keeps the richest
    duplicate, ``keep_by='quality'`` a precomputed quality score, the
    usual retention policy when duplicates differ in truncation or
    boilerplate.

    Plan: :func:`dedup_clusters` labels (one bounded collect or the
    distributed label loop), canonical selection on SKINNY (id, label[,
    keep_by]) rows only, then a semi join back onto the full rows.  The
    keep-set is one id per survivor, so Spark broadcasts it at any
    realistic dup rate; the full document payload is never shuffled."""
    from pyspark.sql import Window

    labels = dedup_clusters(df, pairs, id_col)
    if keep_by is None:
        keep = (labels.where(F.col("cluster_id") == F.col(id_col))
                .select(id_col))
    else:
        ranked = labels.join(df.select(id_col, keep_by), id_col)
        w = Window.partitionBy("cluster_id").orderBy(
            F.col(keep_by).desc(), F.col(id_col))
        keep = (ranked.withColumn("__rk__", F.row_number().over(w))
                .where(F.col("__rk__") == 1).select(id_col))
    return df.join(keep, id_col, "left_semi")


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str,
                text_col: str, status_col: str = "status") -> DataFrame:
    """Snapshot diff between two corpus versions by content digest:
    one row per id with status ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` — the audit artifact between crawls or after a
    cleaning stage ("what did this pass actually touch?").

    Digests are computed before the join, so the full-outer join moves
    (id, 32-byte digest) rows only — never document payloads — and
    shuffles once on the id at any corpus size.  Null text digests to a
    sentinel (``md5(NULL)`` is NULL, which would make a present-but-null
    row read as absent): null-vs-null compares ``unchanged``,
    null-vs-text ``changed``."""
    digest = lambda c: F.coalesce(F.md5(F.col(c)), F.lit("__null__"))  # noqa: E731
    da = old.select(F.col(id_col), digest(text_col).alias("__da__"))
    db = new.select(F.col(id_col), digest(text_col).alias("__db__"))
    j = da.join(db, id_col, "full_outer")
    status = (F.when(F.col("__db__").isNull(), F.lit("removed"))
              .when(F.col("__da__").isNull(), F.lit("added"))
              .when(F.col("__da__") != F.col("__db__"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select(id_col, status.alias(status_col))


def ngram_novelty(df: DataFrame, text_col: str, id_col: str,
                  n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a document's distinct
    word n-grams whose first corpus appearance (lowest ``id_col``) is
    this document.  The memorization/redundancy dial of corpus curation:
    boilerplate-heavy or near-duplicate documents score near 0, fresh
    content scores near 1 — the aggregate complement of pairwise dedup
    (which only asks "is there A duplicate", not "how much is new").

    Plan: explode distinct shingles (map-side), one map-combining
    ``min(id)`` per shingle (the only corpus-wide shuffle, keyed on the
    shingle hash — uniform), equi-join back, per-doc count.  Documents
    too short for any n-gram keep a row with ``n_shingles = 0`` and
    NULL novelty."""
    sh = df.select(F.col(id_col),
                   F.explode(shingles_expr(F.col(text_col), n))
                   .alias("__g__"))
    first = sh.groupBy("__g__").agg(F.min(id_col).alias("__first__"))
    per = (sh.join(first, "__g__")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum((F.col("__first__") == F.col(id_col))
                      .cast("long")).alias("n_novel")))
    out = (df.select(id_col).join(per, id_col, "left")
           .select(id_col,
                   F.coalesce("n_shingles", F.lit(0)).cast("long")
                   .alias("n_shingles"),
                   F.coalesce("n_novel", F.lit(0)).cast("long")
                   .alias("n_novel")))
    return out.withColumn(
        "novelty",
        F.when(F.col("n_shingles") > 0,
               F.round(F.col("n_novel") / F.col("n_shingles"), 6)))


def paragraph_dedup(df: DataFrame, text_col: str, id_col: str,
                    min_len: int = 20) -> DataFrame:
    """CCNet-style exact SEGMENT-level deduplication (Wenzek et al.
    2020; the RefinedWeb/FineWeb recipe's first pass): split every
    document into sentence-ish segments, keep each distinct normalized
    segment ONLY at its first occurrence corpus-wide (min doc id, then
    min position — the deterministic first-introducer rule the n-gram
    novelty scorer also uses), and report per-document survival:
    ``(id, n_segments, n_kept, kept_ratio, kept_text)``.

    Sub-document dedup is the modality exact/minhash DOC-level dedup
    cannot express: boilerplate headers, navigation chrome, and quoted
    reposts repeat across millions of otherwise-distinct pages, and
    dropping them at segment level recovers the unique prose.

    Segments are ``[^.!?]+[.!?]*`` runs (RE2-safe — no lookbehind),
    deduped on their lowercased trimmed form when at least ``min_len``
    chars (short segments pass through — "Yes." is not boilerplate
    worth globalizing).  ``kept_text`` is the in-order rejoin of
    surviving segments.

    Scale: one explode + one (segment-key) shuffle for the
    first-occurrence window + one doc-key regroup.  The window
    partitions on the normalized segment TEXT (the rebuilt-text output
    needs the strings shuffled anyway, so a hashed key would not
    shrink the exchange); a stats-only variant that drops
    ``kept_text`` could key on a 64-bit hash instead.  All counts are
    exact — bit-identical cross-engine."""
    from pyspark.sql import Window

    toks = F.regexp_extract_all(F.col(text_col),
                                F.lit(r"[^.!?]+[.!?]*"), 0)
    base = (df.select(F.col(id_col).alias("__id__"),
                      F.posexplode(toks).alias("__pos__", "__seg__")))
    norm = F.lower(F.trim(F.col("__seg__")))
    base = base.withColumn("__k__", norm) \
               .where(F.length(F.trim(F.col("__seg__"))) > 0)
    w = Window.partitionBy("__k__").orderBy("__id__", "__pos__")
    first = F.row_number().over(w) == 1
    keep = F.when(F.length(F.col("__k__")) < F.lit(min_len),
                  F.lit(True)).otherwise(first)
    marked = base.withColumn("__keep__", keep)
    return (marked.groupBy(F.col("__id__").alias(id_col))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                 F.sum(F.col("__keep__").cast("int")).cast("bigint")
                 .alias("n_kept"),
                 F.round(F.sum(F.col("__keep__").cast("int"))
                         .cast("double")
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("kept_ratio"),
                 # NULL (not '') when nothing survives — the SQL
                 # string_agg convention, and the honest value
                 F.nullif(
                     F.concat_ws(" ", F.transform(
                         F.filter(
                             F.array_sort(F.collect_list(F.struct(
                                 "__pos__", "__keep__", "__seg__"))),
                             lambda s: s["__keep__"]),
                         lambda s: F.trim(s["__seg__"]))),
                     F.lit("")).alias("kept_text")))





# ------------------------------------------------- persisted LSH dedup index
class LshIndex(NamedTuple):
    """A persisted-or-persistable MinHash-LSH near-duplicate index under
    the same build-once/serve-refit-free contract as ``Bm25Index``
    (operators/retrieval.py) and the forecaster model tables
    (models/registry.py) — plain parquet columns, no pickle.

    - ``entries``: one row per (doc, band) — ``(<id_col>, band,
      band_key, bucket)``.  ``bucket = pmod(band_key, n_buckets)`` is
      the parquet partition key: probing prunes whole partitions by
      the delta's band-key buckets before the candidate join runs.
    - ``docs``: ``(<id_col>, <text_col>)`` — kept so a probe can
      VERIFY candidates with exact Jaccard against the indexed text
      (the same semantics as :func:`minhash_lsh_pairs_between`); a
      dedup-at-ingest service needs the indexed content anyway.

    Band keys are integers from the same expressions the live path
    uses, so a write→read round-trip is exact and a probe against the
    loaded index collides on exactly the pairs a live cross-corpus run
    would.
    """

    entries: DataFrame
    docs: DataFrame
    k: int = 16
    bands: int = 4
    n: int = 3
    n_buckets: int = 64
    hash_family: str = "md5"
    id_col: str = "doc_id"
    text_col: str = "text"


def lsh_build_index(docs: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 16, bands: int = 4,
                    n: int = 3, n_buckets: int = 64,
                    hash_family: str = "md5") -> LshIndex:
    """Build the corpus-side LSH index ONCE: one signature pass over
    the corpus (the only corpus-sized work — CPU-bound shingle+minhash,
    widened scan), emitting skinny (id, band, band_key, bucket) rows.
    Unlike the live :func:`minhash_lsh_pairs_between` there is no
    probe-side pruning here — the index must serve ANY future ingest
    batch — which is exactly why it pays to persist it: every probe
    afterwards touches only the delta's buckets."""
    entries = _band_entries(docs, text_col, id_col, k, bands, n,
                            hash_family)
    entries = entries.select(
        id_col, "band", "band_key",
        F.pmod(F.col("band_key"), F.lit(n_buckets)).cast("int")
        .alias("bucket"))
    return LshIndex(entries, docs.select(id_col, text_col),
                    k, bands, n, n_buckets, hash_family, id_col,
                    text_col)


def _lsh_open(spark, vpath, tables, small) -> LshIndex:
    p = small["params"][0]
    return LshIndex(tables["entries"], tables["docs"], int(p.k),
                    int(p.bands), int(p.n), int(p.n_buckets),
                    p.hash_family, p.id_col, p.text_col)


_LSH = _store._IndexFamily(
    "lsh",
    (_store._StateTable("entries", "bucket"),
     # an id-hash bucket: the probe's VERIFY join prunes the indexed
     # text to the colliding candidates' buckets
     _store._StateTable(
         "docs", "dbucket",
         part_expr=lambda ix: F.pmod(F.xxhash64(F.col(ix.id_col)),
                                     F.lit(ix.n_buckets)).cast("int"))),
    # the banding scheme, so a reader probes with the SAME (k, bands,
    # n, hash family) the index was built with
    (_store._SmallTable(
        "params", "k int, bands int, n int, n_buckets int, "
        "hash_family string, id_col string, text_col string",
        lambda ix: [(ix.k, ix.bands, ix.n, ix.n_buckets, ix.hash_family,
                     ix.id_col, ix.text_col)]),),
    ("docs", None,
     "duplicate its band entries and self-pair on every later probe"),
    lambda base, new: lsh_build_index(
        new, text_col=base.text_col, id_col=base.id_col, k=base.k,
        bands=base.bands, n=base.n, n_buckets=base.n_buckets,
        hash_family=base.hash_family),
    _lsh_open)


def write_lsh_index(index: LshIndex, path: str) -> None:
    """Persist the index as three parquet state tables (overwrite):
    ``entries`` partitioned by ``bucket`` (probe-time bucket filters
    become parquet PartitionFilters), ``docs`` partitioned by an
    id-hash bucket ``dbucket`` (the VERIFY join prunes to the
    colliding candidates' buckets instead of rescanning the whole
    indexed text — the dominant bytes at scale), ``params`` one row
    recording the banding scheme so a reader probes with the SAME
    (k, bands, n, hash family) the index was built with.

    The write lands in a FRESH generation directory ``path/v=<n>`` and
    atomically swaps the ``path/_CURRENT`` pointer
    (operators/index_store.py) — read→merge→write on the same logical
    path is supported, and a crash mid-write leaves readers on the
    last complete generation."""
    _store._write_index(_LSH, index, path)


def read_lsh_index(spark, path: str) -> LshIndex:
    """Load a persisted index.  Only the one-row params table is read
    eagerly; entries/docs stay lazy until a probe runs.  ``path`` is
    the logical root — the ``_CURRENT`` generation pointer resolves
    first (operators/index_store.py), bare layout fallback."""
    return _store._read_index(_LSH, spark, path)


def lsh_probe_index(index: LshIndex, new_docs: DataFrame, *,
                    threshold: float = 0.2,
                    prune_buckets: bool = True) -> DataFrame:
    """Probe an ingest batch against a LOADED index — the
    dedup-at-ingest serve path: no corpus re-signature, no corpus
    rescan beyond the probed buckets.  Returns ``(id_new, id_index,
    jaccard)`` for verified near-duplicate pairs (``id_new`` from
    ``new_docs``, ``id_index`` from the indexed corpus, exact text
    Jaccard >= threshold — identical semantics to
    :func:`minhash_lsh_pairs_between`).

    Plan: the delta's band entries are computed live (ONE signature
    pass over the DELTA only — with ``prune_buckets`` they are pinned
    with an eager localCheckpoint so the bucket collect and the
    candidate join share the pass); the distinct buckets — a bounded
    collect of <= |delta| * bands ints, small by the same ingest-batch
    contract that lets the delta broadcast — filter the entries scan
    down to the touched parquet partitions.  The candidate join
    broadcasts the delta entries; texts are re-attached only for
    colliding candidates, so the verify cost is candidates, not
    corpus.  Caller contract: ``new_docs`` ids are disjoint from the
    indexed ones (an overlapping id would self-pair; see
    :func:`lsh_merge_index`'s guard)."""
    id_col, text_col = index.id_col, index.text_col
    delta = new_docs.select(id_col, text_col)
    eb = _band_entries(delta, text_col, id_col, index.k, index.bands,
                       index.n, index.hash_family)
    entries = index.entries
    if prune_buckets:
        eb = eb.localCheckpoint()  # skinny: |delta| * bands int rows
        bks = [r[0] for r in
               eb.select(F.pmod(F.col("band_key"),
                                F.lit(index.n_buckets)).cast("int")
                         .alias("b")).distinct().collect()]
        entries = entries.where(F.col("bucket").isin(bks))
    a = entries.alias("a")
    b = eb.alias("b")
    cand = (a.join(F.broadcast(b),
                   [F.col("a.band") == F.col("b.band"),
                    F.col("a.band_key") == F.col("b.band_key")])
            .select(F.col(f"b.{id_col}").alias("id_new"),
                    F.col(f"a.{id_col}").alias("id_index"))
            .dropDuplicates(["id_new", "id_index"]))
    docs = index.docs
    if prune_buckets and "dbucket" in docs.columns:
        # prune the VERIFY scan too: without this, every probe
        # re-reads the ENTIRE indexed text table (the dominant bytes)
        # just to attach text for a handful of candidates.  The
        # candidate set is pinned (it is bounded by near-dup density —
        # the quantity a dedup gate exists to keep small), its ids'
        # buckets collect, and the docs scan prunes to those parquet
        # partitions.
        cand = cand.localCheckpoint()
        dbks = [r[0] for r in
                cand.select(F.pmod(F.xxhash64(F.col("id_index")),
                                   F.lit(index.n_buckets)).cast("int")
                            .alias("b")).distinct().collect()]
        docs = docs.where(F.col("dbucket").isin(dbks))
    tn = delta.select(F.col(id_col).alias("id_new"),
                      F.col(text_col).alias("__t_n__"))
    ti = docs.select(F.col(id_col).alias("id_index"),
                     F.col(text_col).alias("__t_i__"))
    verified = (cand.join(F.broadcast(tn), "id_new").join(ti, "id_index")
                .withColumn("sh_n", shingles_expr(F.col("__t_n__"),
                                                  index.n))
                .withColumn("sh_i", shingles_expr(F.col("__t_i__"),
                                                  index.n)))
    return (verified.select("id_new", "id_index",
                            jaccard_expr(F.col("sh_n"), F.col("sh_i"))
                            .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def lsh_merge_index(base: LshIndex, new_docs: DataFrame, *,
                    check_disjoint: bool = True) -> LshIndex:
    """Fold an ingested batch INTO the index without rebuilding it —
    the maintenance path of a dedup-at-ingest service (probe first,
    then merge the survivors).  Band entries are per-doc independent,
    so a merge is exactly a delta signature pass + append: merged
    state == rebuilt state row-for-row.  Caller contract: ``new_docs``
    ids are disjoint from the indexed ones — a re-ingested id would
    duplicate its entries and self-pair on every later probe.
    ``check_disjoint`` (default True) enforces this LOUDLY with a
    semi-join of the new ids into the indexed docs (one early-exit
    scan at merge time, the same fail-loud rule as
    ``bm25_merge_index``)."""
    return _store._merge_index(_LSH, base, new_docs, check_disjoint)


def lsh_append_index(spark, path: str, new_docs: DataFrame, *,
                     check_disjoint: bool = True) -> None:
    """FAST-INGEST append for a persisted LSH index: sign the delta
    under the persisted banding scheme and land its band entries and
    docs as a JOURNALED DELTA (``v=<n>/delta=<k>`` + per-delta
    ``_COMMITTED`` marker, same contract as ``bm25_append_index``) —
    ingest IO proportional to the batch, never the corpus
    (``lsh_merge_index`` + ``write_lsh_index`` computes the same delta
    but rewrites the full entries/docs state into a new generation),
    and crash-atomic: an unmarked delta is invisible, the pre-append
    state keeps probing.  Band entries and docs are pure per-doc rows
    and readers union committed deltas, so an appended index probes
    identically to a rebuild.  One delta dir per ingest accumulates
    until ``compact_lsh_index`` resets it.  The expected cadence of a
    dedup-at-ingest service: probe → append survivors → compact on a
    schedule."""
    _store._append_index(_LSH, spark, path, new_docs, check_disjoint)


def compact_lsh_index(spark, path: str) -> None:
    """Rewrite the current LSH generation into a fresh one and swap the
    pointer: the versioned write repartitions entries by ``bucket`` and
    docs by ``dbucket``, collapsing the per-ingest delta files back to
    ~1 per partition.  Probes are row-identical before/after."""
    _store._compact_index(_LSH, spark, path)




# ---------------------------------------------- persisted SimHash dedup index
class SimHashIndex(NamedTuple):
    """A persisted-or-persistable SimHash near-duplicate index — the
    Hamming-distance sibling of :class:`LshIndex` under the same
    build-once/serve-refit-free contract (plain parquet columns, no
    pickle).  ONE state table suffices: unlike MinHash-LSH, whose
    verification needs the indexed TEXT (exact Jaccard), SimHash
    verifies on the signatures themselves (exact Hamming ``bit_count``)
    — so each band-entry row carries its doc's signature and the index
    never stores the corpus content.

    - ``entries``: one row per (doc, band) — ``(<id_col>, sig, band,
      band_key, bucket)`` with ``band_key = (sig >> band*band_bits) &
      (2^band_bits - 1)`` and ``bucket = pmod(band_key, n_buckets)``
      as the parquet partition key (probe-time bucket filters become
      PartitionFilters).
    - ``params`` (on disk): one row recording (bits, band_bits,
      n_buckets, id_col, text_col) so a reader probes with the SAME
      banding scheme the index was built with.

    Signatures are per-doc (token bit votes over that doc only), so
    band entries are per-doc independent: merge/append are pure delta
    passes and merged state == rebuilt state row-for-row, exactly like
    the LSH family.
    """

    entries: DataFrame
    bits: int = 48
    band_bits: int = 12
    n_buckets: int = 64
    id_col: str = "doc_id"
    text_col: str = "text"


def _simhash_entries(docs: DataFrame, text_col: str, id_col: str,
                     bits: int, band_bits: int,
                     n_buckets: int) -> DataFrame:
    """(id, sig, band, band_key, bucket) rows via the grouped vote-sum
    signature (the scale form — the shuffle carries ``bits`` ints per
    doc) and the same band decomposition as :func:`simhash_pairs`."""
    sigs = simhash_signatures(docs, text_col, id_col, bits=bits)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return (sigs.select(
        id_col, "sig",
        F.posexplode(F.array(*[
            F.shiftright(F.col("sig"), b * band_bits)
             .bitwiseAND(F.lit(mask)).cast("long")
            for b in range(n_bands)])).alias("band", "band_key"))
        .withColumn("bucket",
                    F.pmod(F.col("band_key"),
                           F.lit(n_buckets)).cast("int")))


def simhash_build_index(docs: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", bits: int = 48,
                        band_bits: int = 12,
                        n_buckets: int = 64) -> SimHashIndex:
    """Build the corpus-side SimHash index ONCE: one signature pass
    over the corpus (explode tokens, ``bits`` map-side-combining vote
    sums — the only corpus-sized work), emitting skinny
    (id, sig, band, band_key, bucket) rows.  Every later probe touches
    only the delta's buckets."""
    return SimHashIndex(
        _simhash_entries(docs, text_col, id_col, bits, band_bits,
                         n_buckets),
        bits, band_bits, n_buckets, id_col, text_col)


def _simhash_open(spark, vpath, tables, small) -> SimHashIndex:
    p = small["params"][0]
    return SimHashIndex(tables["entries"], int(p.bits), int(p.band_bits),
                        int(p.n_buckets), p.id_col, p.text_col)


_SIMHASH = _store._IndexFamily(
    "simhash",
    (_store._StateTable("entries", "bucket"),),
    (_store._SmallTable(
        "params", "bits int, band_bits int, n_buckets int, "
        "id_col string, text_col string",
        lambda ix: [(ix.bits, ix.band_bits, ix.n_buckets, ix.id_col,
                     ix.text_col)]),),
    ("entries", None,
     "duplicate its band entries and self-pair on every later probe"),
    lambda base, new: simhash_build_index(
        new, text_col=base.text_col, id_col=base.id_col, bits=base.bits,
        band_bits=base.band_bits, n_buckets=base.n_buckets),
    _simhash_open)


def write_simhash_index(index: SimHashIndex, path: str) -> None:
    """Persist the index into a FRESH generation directory
    ``path/v=<n>`` and atomically swap the ``path/_CURRENT`` pointer
    (operators/index_store.py): entries partitioned by ``bucket``, one
    params row recording the banding scheme."""
    _store._write_index(_SIMHASH, index, path)


def read_simhash_index(spark, path: str) -> SimHashIndex:
    """Load a persisted index; only the one-row params table is read
    eagerly.  ``path`` is the logical root — the ``_CURRENT``
    generation pointer resolves first, bare layout fallback."""
    return _store._read_index(_SIMHASH, spark, path)


def simhash_probe_index(index: SimHashIndex, new_docs: DataFrame, *,
                        max_distance: int = 3,
                        prune_buckets: bool = True) -> DataFrame:
    """Probe an ingest batch against a LOADED index — dedup-at-ingest:
    returns ``(id_new, id_index, hamming)`` for every (delta doc,
    indexed doc) pair within ``max_distance`` (identical semantics to
    a cross-corpus :func:`simhash_pairs` run; pigeonhole guarantees
    recall for ``max_distance < bits/band_bits``).

    Plan: ONE signature pass over the DELTA only (pinned with an eager
    localCheckpoint so the bucket collect and the candidate join share
    it); the distinct buckets — a bounded collect of <= |delta| × bands
    ints — prune the entries scan to the touched parquet partitions;
    the candidate join broadcasts the delta entries; the Hamming
    verify is an inline ``bit_count`` on the carried signatures (runs
    BEFORE the pair-dedup, so the distinct shuffles only true
    near-dups).  No second table, no text re-attach — the signature IS
    the verification state.  Caller contract: ``new_docs`` ids are
    disjoint from the indexed ones."""
    id_col = index.id_col
    eb = _simhash_entries(new_docs, index.text_col, id_col, index.bits,
                          index.band_bits, index.n_buckets)
    entries = index.entries
    if prune_buckets:
        eb = eb.localCheckpoint()   # skinny: |delta| × bands rows
        bks = [r[0] for r in eb.select("bucket").distinct().collect()]
        entries = entries.where(F.col("bucket").isin(bks))
    a = entries.alias("a")
    b = eb.alias("b")
    return (a.join(F.broadcast(b),
                   [F.col("a.band") == F.col("b.band"),
                    F.col("a.band_key") == F.col("b.band_key")])
            .select(F.col(f"b.{id_col}").alias("id_new"),
                    F.col(f"a.{id_col}").alias("id_index"),
                    hamming_expr(F.col("a.sig"), F.col("b.sig"))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_distance)
            .dropDuplicates(["id_new", "id_index"]))


def simhash_merge_index(base: SimHashIndex, new_docs: DataFrame, *,
                        check_disjoint: bool = True) -> SimHashIndex:
    """Fold an ingested batch INTO the index without rebuilding it:
    signatures are per-doc, so the merge is one delta signature pass +
    append — merged state == rebuilt state row-for-row.  Same loud
    disjoint-ids guard as every index family."""
    return _store._merge_index(_SIMHASH, base, new_docs, check_disjoint)


def simhash_append_index(spark, path: str, new_docs: DataFrame, *,
                         check_disjoint: bool = True) -> None:
    """FAST-INGEST append for a persisted SimHash index: sign the
    delta under the persisted scheme and land its entry rows as a
    JOURNALED DELTA — same contract and trade-offs as
    ``lsh_append_index`` (delta-proportional IO, crash-atomic via the
    per-delta ``_COMMITTED`` marker, fragments until
    ``compact_simhash_index``)."""
    _store._append_index(_SIMHASH, spark, path, new_docs, check_disjoint)


def compact_simhash_index(spark, path: str) -> None:
    """Rewrite the current SimHash generation into a fresh one and
    swap the pointer, collapsing per-ingest delta files back to ~1 per
    bucket partition.  Probes are row-identical before/after."""
    _store._compact_index(_SIMHASH, spark, path)

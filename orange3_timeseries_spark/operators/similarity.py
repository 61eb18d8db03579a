"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path.

Scale design: brute-force is a broadcast of the (small) query set against
the full corpus — a map-only pass, no shuffle of the corpus; per-query top-k
uses a window rank on (query, score).  The LSH variant buckets both sides by
sign-bit signatures so each query only scans its bucket — the classic
sub-linear ANN trade; recall is tunable by signature bits / multi-probe.
All dot products run through ``aggregate``/``zip_with`` higher-order
functions (JVM-side, no UDFs).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from orange3_timeseries_spark.operators import index_store as _store
from orange3_timeseries_spark.operators.hashing import phash
from orange3_timeseries_spark.operators.localrel import local_df
from orange3_timeseries_spark.operators.partitioning import (
    scaled_width,
    widen_partitions,
)


def _dbl_array_lit(vals) -> Column:
    """Array-of-doubles literal as ONE parsed expr: element-by-element
    ``F.array(F.lit(...))`` pays a py4j round-trip per element (~0.15 s
    per 64-float vector of pure driver time — guide §4 applies to plan
    construction too).  ``repr()`` emits the shortest exact round-trip
    decimal and the ``D`` suffix parses to the identical DOUBLE Literal
    node (verified bit-identical incl. subnormals)."""
    return F.expr("array(" + ",".join(repr(float(x)) + "D" for x in vals)
                  + ")")


# The functional HOF builders (F.aggregate/zip_with with Python
# lambdas) cost ~0.1 s of py4j round-trips PER construction; passing
# the operands as SQL fragments (column names or literal-array text)
# parses the whole expression once (~2 ms), to the semantically
# identical tree — only the lambda variable names differ (__hx__ vs
# the API's x_<n>), chosen obscure so they cannot shadow a real
# column.  Column operands keep the functional path unchanged.

_DOT_SQL = ("aggregate(zip_with(({a}), ({b}), (__hx__, __hy__) -> "
            "__hx__ * __hy__), 0.0D, (__ha__, __hv__) -> __ha__ + __hv__)")
_NORM_SQL = ("sqrt(aggregate(transform(({a}), __hx__ -> __hx__ * __hx__),"
             " 0.0D, (__ha__, __hv__) -> __ha__ + __hv__))")


def dot_expr(a: "Column | str", b: "Column | str") -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_DOT_SQL.format(a=a, b=b))
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: "Column | str") -> Column:
    if isinstance(a, str):
        return F.expr(_NORM_SQL.format(a=a))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a: "Column | str", b: "Column | str") -> Column:
    """Cosine similarity of two double arrays.  Operands may be
    Columns or SQL fragments (column names / array-literal text) —
    the fragment form parses the whole cosine once instead of paying
    ~10 py4j lambda round-trips."""
    if isinstance(a, str) and isinstance(b, str):
        na = _NORM_SQL.format(a=a)
        nb = _NORM_SQL.format(a=b)
        return F.expr(f"({_DOT_SQL.format(a=a, b=b)}) / "
                      f"nullif(({na}) * ({nb}), 0.0D)")
    return dot_expr(a, b) / F.nullif(norm_expr(a) * norm_expr(b), F.lit(0.0))


def _cosine_prenorm_expr(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine from PRECOMPUTED norms: ``dot(a,b) / nullif(na*nb, 0)``
    — the bit-identical value of :func:`cosine_expr` when ``na``/``nb``
    hold exactly ``norm_expr(a)``/``norm_expr(b)`` (same IEEE sqrt,
    multiply, nullif, divide).  A pair-scoring join evaluates its
    select once per JOINED row, so inlined norms are recomputed
    fan-out-many times even though each depends on only one side;
    hoisting them into the join inputs (one projection per side)
    evaluates each norm once per input row — the cosine twin of the
    BM25 term-unit hoist (guide §2.2), cutting the per-pair work from
    three array passes to one."""
    return F.expr(f"({_DOT_SQL.format(a=a, b=b)}) / "
                  f"nullif(({na}) * ({nb}), 0.0D)")


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _cosine_rank_topk(corpus: DataFrame, queries: DataFrame,
                      vec_col: str, id_col: str, query_id_col: str,
                      k: int, exclude: "DataFrame | None" = None
                      ) -> DataFrame:
    """The shared exact-cosine scoring kernel: broadcast the query
    set, score every (query, corpus) pair with the 6-dp-rounded
    cosine, optionally EXCLUDE a broadcast (query_id, nn_id) pair set
    BEFORE the rank window, rank per query with corpus-id tie-break.
    Both :func:`brute_force_topk` and :func:`hard_negative_topk` route
    here — their cosine/tie-break contract stays identical
    structurally, not by copy-paste sync."""
    c = widen_partitions(corpus.select(F.col(id_col).alias("nn_id"),
                                       _as_double(F.col(vec_col))
                                       .alias("cvec"))) \
        .withColumn("__cn__", norm_expr("cvec"))
    q = queries.select(F.col(query_id_col),
                       _as_double(F.col(vec_col)).alias("qvec")) \
        .withColumn("__qn__", norm_expr("qvec"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col(query_id_col) != F.col("nn_id")))
    if exclude is not None:
        scored = scored.join(F.broadcast(exclude),
                             [query_id_col, "nn_id"], "left_anti")
    scored = scored.select(
        query_id_col, "nn_id",
        F.round(_cosine_prenorm_expr("cvec", "qvec", "__cn__", "__qn__"),
                6)
        .alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def brute_force_topk(corpus: DataFrame, queries: DataFrame,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id", k: int = 5,
                     ) -> DataFrame:
    """Exact top-k by cosine: broadcast the query set, rank per query.
    Ties break on the corpus id for determinism."""
    return _cosine_rank_topk(corpus, queries, vec_col, id_col,
                             query_id_col, k)


def hard_negative_topk(corpus: DataFrame, queries: DataFrame,
                       positives: DataFrame,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       query_id_col: str = "query_id",
                       k: int = 5) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive/embedding training: per
    query, the top-``k`` most-similar corpus vectors that are NOT in
    that query's positive set — the highest-value negatives precisely
    because the model currently confuses them with positives (the
    standard retrieval-training recipe: positives from supervision,
    hard negatives from the current index).

    ``positives``: (query_id, vec_id) pairs to EXCLUDE.  Exclusion
    runs BEFORE the rank window — an excluded positive frees its rank
    for the next-nearest candidate, which is what training wants
    (top-k *negatives*, not top-k-minus-positives).

    Plan: the same broadcast-queries cosine kernel as
    :func:`brute_force_topk` (corpus never shuffles; one rank-window
    exchange bounded by |queries| × corpus-partition top-k), with the
    positive set broadcast into a left-anti join — positives are
    supervision-sized (pairs per query), tiny by construction.  For
    billion-vector corpora swap the scoring side for the IVF/PQ serve
    kernels; the anti-join stage is unchanged."""
    pos = positives.select(F.col(query_id_col),
                           F.col(id_col).alias("nn_id")).distinct()
    return _cosine_rank_topk(corpus, queries, vec_col, id_col,
                             query_id_col, k, exclude=pos)


def lsh_signature_expr(vec: Column | str,
                       planes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(vec . plane_i).  Planes are
    deterministic (seeded) and broadcast as literals.

    When ``vec`` is a column NAME the whole signature is built as ONE
    parsed SQL expression: the per-object form pays ~n_planes·dim py4j
    round-trips of driver time (16×64 planes measured ~1 s per call —
    guide §4, the Python boundary includes plan construction).  The SQL
    HOFs parse to the identical aggregate/zip_with lambda tree, `D`/`L`
    suffixed literals round-trip exactly, and the `+` chain is
    left-associative in both forms, so the resulting signature column is
    bit-identical."""
    if isinstance(vec, str):
        name = f"`{vec}`"
        terms = []
        for i, p in enumerate(planes):
            arr = "array(" + ",".join(repr(float(x)) + "D" for x in p) + ")"
            dot = (f"aggregate(zip_with({name}, {arr}, (x, y) -> x * y), "
                   "0.0D, (acc, v) -> acc + v)")
            terms.append(f"CASE WHEN {dot} > 0 THEN {1 << i}L ELSE 0L END")
        return F.expr(" + ".join(terms))
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot_expr(vec, plane) > 0,
                           F.lit(1 << i).cast("long"))
                     .otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def make_planes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes (numpy, driver-side)."""
    import numpy as np
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_topk(corpus: DataFrame, queries: DataFrame,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id", k: int = 5,
             n_planes: int = 8, dim: int = 64, seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Sub-linear per query at scale; recall < 1 by construction."""
    planes = make_planes(dim, n_planes, seed)
    c = widen_partitions(corpus.select(F.col(id_col).alias("nn_id"),
                                       _as_double(F.col(vec_col))
                                       .alias("cvec")))
    c = c.withColumn("bucket", lsh_signature_expr("cvec", planes)) \
        .withColumn("__cn__", norm_expr("cvec"))
    q = queries.select(F.col(query_id_col),
                       _as_double(F.col(vec_col)).alias("qvec"))
    q = q.withColumn("bucket", lsh_signature_expr("qvec", planes)) \
        .withColumn("__qn__", norm_expr("qvec"))
    scored = (c.join(F.broadcast(q), "bucket")
              .where(F.col(query_id_col) != F.col("nn_id"))
              .select(query_id_col, "nn_id",
                      F.round(_cosine_prenorm_expr("cvec", "qvec",
                                                   "__cn__", "__qn__"), 6)
                       .alias("cosine")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", threshold: float = 0.99,
                            block_col: Optional[str] = None,
                            n_blocks: int = 8) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, as a **blocked
    triangle join with vectorized GEMM** — the standard distributed
    all-pairs-similarity plan.

    Ids are hashed into ``n_blocks`` blocks; each of the
    ``n_blocks*(n_blocks+1)/2`` unordered block pairs becomes one
    ``applyInPandas`` group that multiplies its two row-normalized
    sub-matrices with one NumPy matmul and emits only above-threshold
    pairs.  Replication factor is ~``n_blocks`` per row (each row meets
    every other block once) — choose ``n_blocks`` so one block of vectors
    fits an executor core's memory; every pair of vectors is compared
    exactly once, never materialized row-wise.

    With ``block_col`` (e.g. an LSH bucket or a shard key), comparison is
    further restricted to equal ``block_col`` values — the sub-quadratic
    path for corpora where a full triangle is unaffordable.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    extra = [block_col] if block_col else []
    base = widen_partitions(
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"),
                  *extra))
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tagged = base.withColumn("__blk__", blk)
    pair_structs = F.array(*[
        F.struct(F.lit(i).alias("pa"), F.lit(j).alias("pb"))
        for i in range(n_blocks) for j in range(i, n_blocks)])
    rep = (tagged
           .withColumn("__pk__", F.explode(F.filter(
               pair_structs,
               lambda p: (p["pa"] == F.col("__blk__"))
                         | (p["pb"] == F.col("__blk__")))))
           .select(F.col("__pk__.pa").alias("pa"),
                   F.col("__pk__.pb").alias("pb"),
                   "__blk__", id_col, "v", *extra))

    id_field = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_field), T.StructField("id_b", id_field),
        T.StructField("cosine", T.DoubleType()),
    ])
    group_keys = ["pa", "pb"] + extra

    def gemm(keys, pdf: pd.DataFrame):
        pa, pb = keys[0], keys[1]
        X = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        ids = pdf[id_col].to_numpy()
        same = pa == pb
        if same:
            ia = ib = np.arange(len(ids))
        else:
            ia = np.flatnonzero((pdf["__blk__"] == pa).to_numpy())
            ib = np.flatnonzero((pdf["__blk__"] == pb).to_numpy())
        if not len(ia) or not len(ib):
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        # chunk the GEMM over rows of A: the full |A|x|B| similarity
        # matrix is O(block²) doubles (a 62k-row block -> 31 GB, an
        # instant executor OOM at scale); ~4M cells per chunk caps the
        # scratch at ~32 MB however large the blocks are, at identical
        # output (strict-upper-triangle filter applied per chunk via the
        # global row offset)
        chunk = max(1, (4 << 20) // max(len(ib), 1))
        outs = []
        for r0 in range(0, len(ia), chunk):
            sub = np.round(Xn[ia[r0:r0 + chunk]] @ Xn[ib].T, 6)
            ri, ci = np.nonzero(sub >= threshold)
            if same:
                keepm = ci > (ri + r0)
                ri, ci = ri[keepm], ci[keepm]
            if not len(ri):
                continue
            id_a = ids[ia[ri + r0]]
            id_b = ids[ib[ci]]
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            outs.append(pd.DataFrame({"id_a": lo, "id_b": hi,
                                      "cosine": sub[ri, ci]}))
        if not outs:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        return pd.concat(outs, ignore_index=True)

    # pin the pre-GEMM shuffle width: AQE's size-based coalescing would
    # merge the (small-bytes, huge-CPU) block-pair shuffle down to one
    # partition and serialize the matmuls; a user repartition is exempt.
    # Width scales with estimated replicated bytes — a 1k-vector corpus
    # gets a handful of tasks (Python-worker startup would dominate a
    # full-width pin), a large one still gets every core.  Python stages
    # use a coarser bytes/task than JVM stages: each task pays an Arrow
    # batch + worker round-trip, so ~4 tasks at bench scale (measured
    # 11 s -> 1.2 s vs the full-width pin).
    n_par = min(n_blocks * (n_blocks + 1) // 2,
                scaled_width(rep, bytes_per_task=256 << 10))
    rep = rep.repartition(n_par, *group_keys)
    return rep.groupBy(*group_keys).applyInPandas(gemm, schema=out_schema)


# ------------------------------------------------------------------- IVF ANN
def train_ivf_centroids(corpus: DataFrame, vec_col: str = "embedding",
                        n_centroids: int = 16, sample: int = 2048,
                        iters: int = 10, seed: int = 7,
                        id_col: Optional[str] = None):
    """Deterministic coarse quantizer: k-means (Lloyd, fixed iterations)
    on a driver-side sample.  The sample is tiny and the centroid table
    is broadcast — the classic IVF split: heavy data stays distributed,
    the O(k*d) model rides the closure.

    With ``id_col`` the whole training is CONTENT-deterministic (no RNG,
    no row-order dependence): the sample is the ``sample`` smallest ids
    (``orderBy.limit`` — a distributed TakeOrdered, never a full
    collect), initial centroids are evenly spaced through that ordered
    sample, assignment is argmax(x·c − |c|²/2) with first-index
    tie-break, empty clusters keep their centroid, and centroids are
    rounded to 6 decimals after every iteration so an independent SQL
    replay (unrolled Lloyd in DuckDB — see ``ann_ivf_topk``'s oracle)
    reproduces them exactly instead of chasing float-associativity
    noise.  Without ``id_col`` the legacy seeded-RNG path on an
    arbitrary ``limit`` sample is kept for callers that don't need
    replayability."""
    import numpy as np

    if id_col is not None:
        pdf = (corpus.select(id_col, vec_col).orderBy(id_col)
               .limit(sample).toPandas().sort_values(id_col))
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        n = len(X)
        if n == 0:
            raise ValueError("IVF training needs a non-empty corpus")
        # always n_centroids picks — a sample smaller than n_centroids
        # repeats indices, producing DUPLICATE centroids, exactly as the
        # SQL replay's (i*cnt)//n_centroids join does; the first-index
        # argmax tie-break keeps assignment deterministic on both sides
        cent = X[[(i * n) // n_centroids
                  for i in range(n_centroids)]].copy()
        for _ in range(iters):
            scores = X @ cent.T - 0.5 * (cent * cent).sum(1)
            assign = scores.argmax(1)
            for j in range(len(cent)):
                m = assign == j
                if m.any():
                    cent[j] = X[m].mean(0)
            cent = np.round(cent, 6)
        return cent.tolist()

    pdf = (corpus.select(vec_col).limit(sample).toPandas())
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)),
                        replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            m = assign == j
            if m.any():
                cent[j] = X[m].mean(0)
    return cent.tolist()


def _assign_centroid(df: DataFrame, vec_col: str, centroids,
                     out: str = "centroid_id",
                     two_level: bool = False) -> DataFrame:
    """Nearest-centroid assignment via one NumPy GEMM per Arrow batch.

    ``two_level=True`` switches to coarse-group assignment (the
    FAISS-IMI move): the k centroids are themselves clustered into
    ~sqrt(k) groups driver-side, each point routes to its nearest GROUP
    first and only scores that group's centroids — per-point cost drops
    from ``k·d`` to ``~2·sqrt(k)·d``.  With the "clusters ∝ corpus"
    dial (k = n/3000), flat assignment is the ONE superlinear term in
    the semantic-dedup pipeline (n·k·d = n²·d/3000; the r9 decade smoke
    measured exponent 1.42 through it), and two-level assignment
    restores ~n^1.25.  The routing is approximate — a point near a
    group boundary can land in a neighboring centroid's cell — which is
    fine for bucketing-style consumers (SemDeDup candidate clusters,
    IVF probe lists) and still fully deterministic (same argmax +
    first-index tie rules at both levels)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.array(centroids, dtype=float)
    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField(out, T.IntegerType())])

    groups = None
    if two_level and len(C) >= 16:
        n_groups = max(2, int(len(C) ** 0.5))
        # tiny driver-side Lloyd over the centroid table itself, same
        # deterministic rules as train_ivf_centroids(id_col=...)
        G = C[[(i * len(C)) // n_groups for i in range(n_groups)]].copy()
        for _ in range(8):
            sc = C @ G.T - 0.5 * (G * G).sum(1)
            a = sc.argmax(1)
            for j in range(n_groups):
                m = a == j
                if m.any():
                    G[j] = C[m].mean(0)
        member = C @ G.T - 0.5 * (G * G).sum(1)
        ga = member.argmax(1)
        # centroid indices per group, padded into a ragged list
        groups = (G, [np.flatnonzero(ga == j) for j in range(n_groups)])

    def assign(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if not len(X):
                yield pdf.assign(**{out: pd.Series([], dtype="int32")})
                continue
            if groups is None:
                # argmin ||x-c||^2 = argmax (x.c - |c|^2/2)
                scores = X @ C.T - 0.5 * (C * C).sum(1)
                yield pdf.assign(**{out: scores.argmax(1).astype("int32")})
                continue
            G, idx_lists = groups
            gs = X @ G.T - 0.5 * (G * G).sum(1)
            ga = gs.argmax(1)
            res = np.empty(len(X), dtype="int32")
            for j, idxs in enumerate(idx_lists):
                m = np.flatnonzero(ga == j)
                if not m.size:
                    continue
                if not idxs.size:
                    # group centroids are fitted on the CENTROID table,
                    # so a group can end up memberless while arbitrary
                    # points still route to it — those points fall back
                    # to the exact flat scan (never a fixed bogus cell)
                    sc = X[m] @ C.T - 0.5 * (C * C).sum(1)
                    res[m] = sc.argmax(1).astype("int32")
                    continue
                Cg = C[idxs]
                sc = X[m] @ Cg.T - 0.5 * (Cg * Cg).sum(1)
                res[m] = idxs[sc.argmax(1)].astype("int32")
            yield pdf.assign(**{out: res})

    return df.mapInPandas(assign, schema=schema)


def _ivf_probe_order(X, C, nprobe: int):
    """THE probe computation — one definition for the distributed
    per-batch probe and the driver-side partition-prune set, so the
    parquet filter can never exclude a cell the probe selects.  Stable
    argsort: an exact centroid-score tie at the nprobe boundary must
    resolve lowest-cid-first, matching the oracle's ORDER BY score
    DESC, cid."""
    import numpy as np

    # clamp: an oversized probe request against a small index would
    # slice fewer columns than the caller repeats rows for, crashing
    # the Python worker with an opaque pandas length mismatch
    nprobe = min(int(nprobe), C.shape[0])
    scores = X @ C.T - 0.5 * (C * C).sum(1)
    return np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]


def _ivf_probe_table(qbase: DataFrame, C, nprobe: int,
                     query_id_col: str) -> DataFrame:
    """The ``(query_id, qvec, centroid_id)`` probe table every IVF /
    IVF-PQ serve join broadcasts.  ``qbase`` must carry
    ``(query_id_col, qvec ARRAY<DOUBLE>)``.

    Two shapes, same :func:`_ivf_probe_order` GEMM (so they cannot
    diverge):

    - **driver-side** (default): queries are driver-bounded by the
      same contract that broadcasts them — ONE collect + the probe
      GEMM on the driver emit the table as a JVM LocalRelation (r13
      batch 5, guide §4: no Python-eval node in the serve plan, the
      broadcast build reads driver-local bytes);
    - **distributed** fallback when Catalyst's size estimate of the
      query side exceeds the driver-collect budget
      (operators/localrel.driver_collect_ok): the probe runs as a
      mapInPandas over the query partitions — the graceful-degradation
      shape for a caller that hands a corpus-sized queries DF, where
      the old unbounded collect would OOM the driver (r13 VERDICT
      item 2).  Rows and types are identical either way.
    """
    import numpy as np

    from orange3_timeseries_spark.operators.localrel import (
        driver_collect_ok,
    )

    idt = dict(qbase.dtypes)[query_id_col]
    schema = (f"{query_id_col} {idt}, qvec array<double>,"
              " centroid_id int")
    if driver_collect_ok(qbase):
        rows = qbase.collect()
        if rows:
            X = np.array([r["qvec"] for r in rows], dtype=np.float64)
            order = _ivf_probe_order(X, C, nprobe)
            prows = [(r[query_id_col],
                      [float(x) for x in r["qvec"]], int(c))
                     for r, oc in zip(rows, order) for c in oc]
        else:
            prows = []
        return local_df(qbase.sparkSession, prows, schema)

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array([[float(x) for x in v]
                          for v in pdf["qvec"]], dtype=np.float64)
            order = _ivf_probe_order(X, C, nprobe)
            ids, vecs, cids = [], [], []
            for i in range(len(pdf)):
                qv = [float(x) for x in pdf["qvec"].iloc[i]]
                qid = pdf[query_id_col].iloc[i]
                for c in order[i]:
                    ids.append(qid)
                    vecs.append(qv)
                    cids.append(int(c))
            yield pd.DataFrame({query_id_col: ids, "qvec": vecs,
                                "centroid_id": cids})

    return qbase.mapInPandas(probe, schema=schema)


def _ivf_probe_score_topk(lists: DataFrame, queries: DataFrame, C,
                          *, query_id_col: str, nprobe: int,
                          k: int) -> DataFrame:
    """The shared IVF serve kernel: ``lists`` = inverted-listed corpus
    ``(centroid_id, nn_id, cvec)``, ``C`` = the centroid matrix.  Each
    query GEMM-probes its ``nprobe`` nearest centroids, candidates come
    from ONE equi-join on ``centroid_id`` (probe table broadcast — the
    corpus never shuffles), exact cosine + rank window finish.  Both
    the live :func:`ivf_topk` and the persisted-index serve path
    :func:`ivf_topk_from_index` route here — bit-identical serving is
    structural."""
    qbase = queries.select(F.col(query_id_col),
                           _as_double(F.col("__qv_in__")).alias("qvec"))
    # probe table: driver-side LocalRelation under the collect budget,
    # distributed mapInPandas above it (_ivf_probe_table — guide §4/§5)
    q = _ivf_probe_table(qbase, C, nprobe, query_id_col) \
        .withColumn("__qn__", norm_expr("qvec"))
    scored = (lists.withColumn("__cn__", norm_expr("cvec"))
              .join(F.broadcast(q), "centroid_id")
              .where(F.col(query_id_col) != F.col("nn_id"))
              .select(query_id_col, "nn_id",
                      F.round(_cosine_prenorm_expr("cvec", "qvec",
                                                   "__cn__", "__qn__"), 6)
                       .alias("cosine")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id", k: int = 5,
             n_centroids: int = 16, nprobe: int = 4,
             centroids=None, seed: int = 7) -> DataFrame:
    """IVF approximate top-k: corpus rows are inverted-listed by nearest
    centroid; each query probes its ``nprobe`` nearest lists only.

    Plan: centroid assignment is a narrow GEMM map on both sides; the
    candidate join is an equi-join on ``centroid_id`` (queries exploded
    to their probe list, then broadcast) — corpus never shuffles.  Probing
    more lists trades compute for recall, the standard IVF dial.
    """
    import numpy as np

    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                        seed=seed, id_col=id_col)
    C = np.array(centroids, dtype=float)

    c = _assign_centroid(
        corpus.select(F.col(id_col).alias("nn_id"),
                      _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", centroids)
    qin = queries.select(F.col(query_id_col),
                         F.col(vec_col).alias("__qv_in__"))
    return _ivf_probe_score_topk(c, qin, C, query_id_col=query_id_col,
                                 nprobe=nprobe, k=k)


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding",
                         out: Optional[str] = None) -> DataFrame:
    """L2-normalize an embedding column (zero vectors pass through
    unchanged) — the standard pre-pass so cosine becomes a dot product
    downstream. Pure Catalyst HOF expression, no UDF."""
    out = out or vec_col
    v = _as_double(F.col(vec_col))
    # Bind the O(d) norm as its OWN column before the transform: referencing
    # the aggregate inside the lambda body makes Catalyst re-evaluate the
    # whole norm per array ELEMENT — O(d^2)/row, measured ~6x slower at
    # sf0.1 (1.99s vs 0.34s).  Same anti-pattern note as shingles_expr.
    nrm_col = "__l2_nrm__"
    tagged = df.withColumn(nrm_col, norm_expr(v))
    n = F.col(nrm_col)
    normed = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    return tagged.withColumn(out, normed).drop(nrm_col)


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        bits: int = 8) -> DataFrame:
    """Symmetric scalar quantization of an embedding column to
    ``bits``-bit signed integers — the 4x (fp32->int8) storage/bandwidth
    cut applied before ANN indexing at corpus scale.

    Per vector: ``scale = max|v| / qmax`` (``qmax = 2^(bits-1) - 1``),
    ``q_i = floor(v_i/scale + 0.5)`` (explicit half-up — identical
    semantics in Spark and DuckDB, unlike engine-native ``round``), and
    the reconstruction ``q_i * scale``.  All-zero vectors quantize to
    zeros with ``scale = 0``.

    Returns ``(id_col, scale, qvec, max_abs_err)`` where ``max_abs_err``
    is the worst per-component |reconstruction − original| (bounded by
    ``scale/2``).  Map-only Catalyst HOFs — no shuffle, no UDF; the
    per-row aggregates (max|v|, max err) are bound as columns before any
    lambda references them (the O(d^2) re-evaluation trap)."""
    qmax = (1 << (bits - 1)) - 1
    v = _as_double(F.col(vec_col))
    tagged = df.withColumn("__mx__", F.array_max(F.transform(
        v, lambda x: F.abs(x))))
    scale = (F.col("__mx__") / F.lit(float(qmax))).alias("scale")
    tagged = tagged.withColumn("__scale__", scale)
    s = F.col("__scale__")
    qvec = F.when(s > 0, F.transform(
        v, lambda x: F.floor(x / s + F.lit(0.5)).cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0)))
    tagged = tagged.withColumn("__q__", qvec)
    err = F.when(s > 0, F.array_max(F.zip_with(
        v, F.col("__q__"), lambda x, q: F.abs(q.cast("double") * s - x)))) \
        .otherwise(F.lit(0.0))
    return tagged.select(F.col(id_col), s.alias("scale"),
                         F.col("__q__").alias("qvec"),
                         err.alias("max_abs_err"))


# ------------------------------------------------------ product quantization
def _dists_to_codebook(vec: Column, off: int, ds: int, cb) -> Column:
    """Array of squared L2 distances from one subvector of ``vec``
    (elements off+1..off+ds) to each centroid of one codebook.

    Shape chosen after measuring two failure modes: (a) fully unrolled
    K·ds literal chains compile ~14 s of janino codegen for 8×16×8;
    (b) nested HOFs over bound slice columns run interpreted AND
    CollapseProject inlines the slice+cast into the lambda, re-evaluating
    the O(d) cast per centroid (≈7 s/5 000 rows).  This form keeps ONE
    interpreted HOF (transform over the centroid literal) whose body is
    scalar ``element_at(vec, i)::double`` arithmetic — no array slicing,
    no intermediate arrays, left-associated sums so the SQL oracle
    replays the exact IEEE order (float→double element cast is exact)."""
    import functools
    import operator

    # ONE parsed expr instead of ~K·ds F.lit py4j calls: building the
    # codebook literal column-object-by-object measured ~0.3-0.45 s of
    # driver time PER SUBSPACE (guide §4 — the Python boundary applies
    # to plan construction too).  repr() gives the shortest exact
    # round-trip decimal and the `D` suffix makes Spark parse each as
    # the identical DOUBLE Literal node the F.lit path produced.
    cb_lit = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
            for c in cb) + ")")  # nested form of _dbl_array_lit

    def dist(c):
        terms = []
        for i in range(ds):
            d = (F.element_at(vec, off + i + 1).cast("double")
                 - F.element_at(c, i + 1))
            terms.append(d * d)
        return functools.reduce(operator.add, terms)

    return F.transform(cb_lit, dist)


def pq_encode(df: DataFrame, codebooks,
              vec_col: str = "embedding", id_col: str = "vec_id",
              code_col: str = "pq_code") -> DataFrame:
    """Product-quantization encoding: split each vector into M subspaces
    and store only the nearest-centroid index per subspace — d floats
    become M small ints (64×4 bytes → 8 bytes here), the standard
    memory-compression step for billion-vector ANN serving.

    ``codebooks``: M lists of K centroids (each d/M floats).

    Encoding runs as an Arrow-batched ``mapInPandas`` numpy stage —
    measured against both Catalyst forms: fully unrolled scalar chains
    whole-stage-compile for ~14 s (M·K·ds literal terms of janino), and
    HOF loops evaluate interpreted (higher-order functions are
    CodegenFallback) at ~7 s per 5 000 rows.  The numpy kernel
    accumulates the squared distance DIMENSION-SEQUENTIALLY
    (``acc += d·d`` per dim, vectorized across rows/centroids), so the
    IEEE summation order equals the SQL oracle's explicit
    ``t₁ + t₂ + …`` chain and ``np.argmin``'s first-minimum tie matches
    the oracle's ``ORDER BY dist, j`` — exact value parity at numpy
    speed (float32→float64 element casts are exact)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    M = len(codebooks)
    ds = len(codebooks[0][0])
    C = [np.array(cb, dtype=np.float64) for cb in codebooks]
    id_field = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_field),
        T.StructField(code_col, T.ArrayType(T.IntegerType()))])

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype="int32")
            for m in range(M):
                acc = np.zeros((len(X), C[m].shape[0]))
                for i in range(ds):
                    d = X[:, m * ds + i][:, None] - C[m][None, :, i]
                    acc = acc + d * d
                codes[:, m] = np.argmin(acc, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                code_col: [list(r) for r in codes]})

    base = widen_partitions(df.select(F.col(id_col), F.col(vec_col)))
    return base.mapInPandas(encode, schema)


def pq_topk(corpus: DataFrame, queries: DataFrame, codebooks,
            k: int = 5, vec_col: str = "embedding",
            id_col: str = "vec_id", query_id_col: str = "query_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an M×K lookup table of subspace distances once; scoring a corpus
    vector is then M table lookups instead of d multiplies — the serving
    arithmetic that makes PQ sub-linear in memory traffic.

    Plan: the corpus carries only its codes (M bytes of payload), the
    LUT side is a handful of query rows broadcast to it; the only
    shuffle is the skinny (query_id, nn_id, approx) top-k window.  Ranks
    order by the ROUNDED distance (6 dp) then id so engine-order ties
    are deterministic."""
    codes = pq_encode(
        corpus.select(F.col(id_col).alias("nn_id"), vec_col),
        codebooks, vec_col=vec_col, id_col="nn_id")
    return _pq_adc_topk(codes, queries, codebooks, k=k,
                        vec_col=vec_col, query_id_col=query_id_col)


def _pq_adc_topk(codes: DataFrame, queries: DataFrame, codebooks,
                 k: int = 5, vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """The shared ADC scoring kernel over an (nn_id, pq_code) codes
    table — both the live :func:`pq_topk` (encode-then-score) and the
    persisted-index serve path (:func:`pq_topk_from_index`, LOADED
    codes) route through it, so their scores are bit-identical by
    construction."""
    import functools
    import operator

    M = len(codebooks)
    ds = len(codebooks[0][0])
    luts = queries.select(
        F.col(query_id_col),
        *[_dists_to_codebook(F.col(vec_col), m * ds, ds, cb)
          .alias(f"__lut{m}__")
          for m, cb in enumerate(codebooks)])
    joined = (codes.crossJoin(F.broadcast(luts))
              .where(F.col("nn_id") != F.col(query_id_col)))
    approx = functools.reduce(operator.add, [
        F.element_at(F.col(f"__lut{m}__"),
                     F.element_at(F.col("pq_code"), m + 1) + 1)
        for m in range(M)])
    scored = joined.select(query_id_col, "nn_id",
                           F.round(approx, 6).alias("approx_l2"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_l2").asc(), F.col("nn_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def train_pq_codebooks(corpus: DataFrame, vec_col: str = "embedding",
                       n_subspaces: int = 8, n_centroids: int = 16,
                       sample: int = 2048, seed: int = 7):
    """Train PQ codebooks: seeded k-means per subspace on a driver-side
    sample (same bounded split as :func:`train_ivf_centroids` — the
    O(M·K·ds) model rides the closure, the corpus never moves)."""
    import numpy as np

    pdf = corpus.select(vec_col).limit(sample).toPandas()
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    d = X.shape[1]
    ds = d // n_subspaces
    books = []
    rng = np.random.RandomState(seed)
    for m in range(n_subspaces):
        S = X[:, m * ds:(m + 1) * ds]
        cent = S[rng.choice(len(S), size=min(n_centroids, len(S)),
                            replace=False)].copy()
        for _ in range(10):
            dist = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for j in range(len(cent)):
                msk = assign == j
                if msk.any():
                    cent[j] = S[msk].mean(0)
        books.append(cent.tolist())
    return books


def ivfpq_index(corpus: DataFrame, centroids, codebooks,
                vec_col: str = "embedding", id_col: str = "vec_id",
                code_col: str = "pq_code") -> DataFrame:
    """Build the IVF-PQ index in ONE corpus pass: every vector gets its
    nearest coarse centroid (inverted-list key) AND its PQ code —
    ``(id, centroid_id, pq_code)``, M+4 bytes of payload per vector.
    This is the production index layout for billion-vector ANN (FAISS
    IVFPQ): the coarse quantizer bounds the scan, the codes bound the
    memory traffic.  Single Arrow stage, both models ride the closure;
    the corpus never shuffles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.array(centroids, dtype=np.float64)
    M = len(codebooks)
    ds = len(codebooks[0][0])
    B = [np.array(cb, dtype=np.float64) for cb in codebooks]
    id_field = corpus.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_field),
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField(code_col, T.ArrayType(T.IntegerType()))])

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # coarse assign: argmin ||x-c||^2 = argmax (x.c - |c|^2/2)
            scores = X @ C.T - 0.5 * (C * C).sum(1)
            cid = scores.argmax(1).astype("int32")
            # PQ encode, dimension-sequential accumulation (IEEE order
            # == the SQL oracle's explicit term chain, cf. pq_encode)
            codes = np.empty((len(X), M), dtype="int32")
            for m in range(M):
                acc = np.zeros((len(X), B[m].shape[0]))
                for i in range(ds):
                    d = X[:, m * ds + i][:, None] - B[m][None, :, i]
                    acc = acc + d * d
                codes[:, m] = np.argmin(acc, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "centroid_id": cid,
                                code_col: [list(r) for r in codes]})

    base = widen_partitions(corpus.select(F.col(id_col), F.col(vec_col)))
    return base.mapInPandas(build, schema)


def _ivfpq_probe_adc_topk(entries: DataFrame, qbase: DataFrame, C,
                          codebooks, *, nprobe: int, k: int,
                          query_id_col: str) -> DataFrame:
    """The shared IVF-PQ serving kernel: probe each query's ``nprobe``
    nearest coarse cells (``_ivf_probe_order`` GEMM per Arrow batch),
    broadcast the per-query M×K ADC lookup tables as array columns,
    equi-join candidates on ``centroid_id`` (the corpus side moves
    only (id, cell, M codes)), score with M ``element_at`` lookups,
    rank by the 6-dp-rounded distance then id.  Both the live
    :func:`ivfpq_topk` and the persisted serve
    :func:`ivfpq_topk_from_index` route here — bit-identity between
    live and loaded serving is structural, the same shared-kernel
    contract as ``_ivf_probe_score_topk`` / ``_bm25_score_topk``.
    ``qbase`` must carry (query_id_col, qvec ARRAY<DOUBLE>)."""
    import functools
    import operator

    M = len(codebooks)
    ds = len(codebooks[0][0])
    # same gated probe as _ivf_probe_score_topk: driver-side
    # LocalRelation under the collect budget (the ADC LUT arrays
    # constant-fold over it at optimization time, guide §4),
    # distributed mapInPandas above it (_ivf_probe_table)
    q = _ivf_probe_table(qbase, C, nprobe, query_id_col)
    luts = q.select(
        query_id_col, "centroid_id",
        *[_dists_to_codebook(F.col("qvec"), m * ds, ds, cb)
          .alias(f"__lut{m}__") for m, cb in enumerate(codebooks)])
    joined = (entries.join(F.broadcast(luts), "centroid_id")
              .where(F.col("nn_id") != F.col(query_id_col)))
    approx = functools.reduce(operator.add, [
        F.element_at(F.col(f"__lut{m}__"),
                     F.element_at(F.col("pq_code"), m + 1) + 1)
        for m in range(M)])
    scored = joined.select(query_id_col, "nn_id",
                           F.round(approx, 6).alias("approx_l2"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_l2").asc(), F.col("nn_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, codebooks,
               k: int = 5, vec_col: str = "embedding",
               id_col: str = "vec_id", query_id_col: str = "query_id",
               n_centroids: int = 16, nprobe: int = 4,
               centroids=None, seed: int = 7) -> DataFrame:
    """IVF-PQ composite ANN top-k — probe lists bound the candidates,
    asymmetric-distance (ADC) code lookups bound the arithmetic: the
    production serving shape for 100 TB embedding corpora (both halves
    individually verified as ``ivf_topk`` / ``pq_topk``).

    Plan: the index (:func:`ivfpq_index`) is one Arrow pass over the
    corpus; queries explode to their ``nprobe`` nearest lists and carry
    their M×K ADC lookup tables as Catalyst array columns; candidates
    come from an equi-join on ``centroid_id`` with the (tiny) query side
    broadcast — the corpus side moves only (id, centroid_id, M codes),
    never vectors; scoring is M ``element_at`` lookups.  Ranks order by
    the ROUNDED distance (6 dp) then id, ties deterministic."""
    import numpy as np

    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                        seed=seed, id_col=id_col)
    C = np.array(centroids, dtype=np.float64)

    index = ivfpq_index(
        corpus.select(F.col(id_col).alias("nn_id"), F.col(vec_col)),
        centroids, codebooks, vec_col=vec_col, id_col="nn_id")
    qbase = queries.select(F.col(query_id_col),
                           _as_double(F.col(vec_col)).alias("qvec"))
    return _ivfpq_probe_adc_topk(index, qbase, C, codebooks,
                                 nprobe=nprobe, k=k,
                                 query_id_col=query_id_col)


def semantic_dedup_flags(corpus: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", n_centroids: int = 16,
                         tau: float = 0.4, centroids=None,
                         seed: int = 7,
                         two_level_assign: bool = False) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the
    content-deterministic Lloyd quantizer, then WITHIN each cluster drop
    every vector that has a lower-id neighbor with cosine ≥ ``tau``
    (keep-lowest-id, the deterministic stand-in for the paper's
    keep-one-per-group).  Returns one row per input vector:
    ``(id, centroid_id, is_kept)``.

    Scale: the all-pairs comparison is confined to clusters — pair cost
    is Σ|cluster|², not N² — and runs as ONE blocked NumPy GEMM per
    cluster under ``applyInPandas`` (the paper's own kernel), not a
    per-pair expression: the round-7 scaling smoke measured the
    Catalyst-fold pair join ~100× slower at 3k-vector clusters, so the
    Arrow+BLAS path IS the scale path.  ``n_centroids`` is the dial
    that bounds cluster size (clusters ∝ corpus keeps vectors/cluster
    flat).  Block size caps the similarity-matrix slice at
    |cluster|×1024 doubles regardless of cluster size.  Cosine
    comparisons use the 6-dp-rounded value, matching the SQL replay.

    ``two_level_assign=True`` is the LARGE-k scale dial: with clusters
    ∝ corpus, flat assignment is n·k·d — the pipeline's one superlinear
    term — and coarse-group routing cuts it to ~n·2·sqrt(k)·d (see
    ``_assign_centroid``).  Bucketing becomes approximate near group
    boundaries (identical/near-identical vectors still co-route), so
    keep it OFF for oracle-replayed small-k queries."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                        seed=seed, id_col=id_col)
    assigned = _assign_centroid(
        corpus.select(F.col(id_col).alias("__id__"),
                      _as_double(F.col(vec_col)).alias("__v__")),
        "__v__", centroids, two_level=two_level_assign)
    schema = T.StructType([
        T.StructField("__id__", assigned.schema["__id__"].dataType),
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("is_kept", T.BooleanType()),
    ])
    t = float(tau)

    def flags(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__id__", kind="stable") \
            .reset_index(drop=True)
        X = np.array(pdf["__v__"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        N = X / nrm[:, None]
        m = len(N)
        drop = np.zeros(m, dtype=bool)
        B = 1024
        for j0 in range(1, m, B):
            j1 = min(j0 + B, m)
            S = N[:j1] @ N[j0:j1].T           # (j1, j1-j0) slice
            for lj in range(j1 - j0):
                j = j0 + lj
                drop[j] = bool(np.any(np.round(S[:j, lj], 6) >= t))
        return pd.DataFrame({
            "__id__": pdf["__id__"],
            "centroid_id": pdf["centroid_id"].astype("int32"),
            "is_kept": ~drop,
        })

    out = assigned.groupBy("centroid_id").applyInPandas(flags, schema)
    return out.select(F.col("__id__").alias(id_col), "centroid_id",
                      "is_kept")


class IvfIndex:
    """A persisted-or-persistable IVF index under the same build-once/
    serve-refit-free contract as the BM25 and forecaster registries
    (``models/registry.py``): two plain parquet state tables, no
    pickle.

    - ``centroids``: ``(centroid_id INT, centroid ARRAY<DOUBLE>)`` —
      O(k·d), broadcast/collected at serve time (the same "model rides
      the closure" contract the live path uses).
    - ``lists``: the inverted lists — every corpus vector with its
      assigned cell, ``(centroid_id INT, nn_id, cvec ARRAY<DOUBLE>)``,
      PARTITIONED by ``centroid_id`` so a serve's probe set prunes
      whole parquet partitions.

    Doubles round-trip bit-exactly through parquet and assignment is
    persisted (never recomputed), so a serve from the loaded index is
    bit-identical to live :func:`ivf_topk` with the same centroids —
    both route through :func:`_ivf_probe_score_topk`."""

    def __init__(self, centroids: DataFrame, lists: DataFrame,
                 id_col: str = "vec_id", two_level: bool = False):
        self.centroids = centroids
        self.lists = lists
        self.id_col = id_col
        # the assignment rule the lists were built with — persisted
        # (write_ivf_index params table) so an incremental merge can
        # never silently assign its delta under a DIFFERENT rule than
        # the base lists (flat vs two-level differ on boundary vectors)
        self.two_level = two_level


def ivf_build_index(corpus: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_centroids: int = 16,
                    centroids=None, sample: int = 2048,
                    two_level_assign: bool = False) -> IvfIndex:
    """Build the IVF index ONCE: train (or inject) the coarse
    quantizer, assign every corpus vector to its nearest centroid (one
    GEMM map pass — ``two_level_assign`` for the clusters-∝-corpus
    regime), and emit the two state tables.  The expensive part — the
    full-corpus assignment — is exactly what persisting avoids
    recomputing per query batch."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                        sample=sample, id_col=id_col)
    spark = corpus.sparkSession
    cent_df = local_df(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>")
    lists = _assign_centroid(
        corpus.select(F.col(id_col).alias("nn_id"),
                      _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", centroids, two_level=two_level_assign
    ).select("centroid_id", "nn_id", "cvec")
    return IvfIndex(cent_df, lists, id_col, two_level=two_level_assign)


def write_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the index into a FRESH generation directory
    ``path/v=<n>`` and atomically swap the ``path/_CURRENT`` pointer
    (operators/index_store.py) — read→merge→write on the same logical
    path is supported, and a crash mid-write leaves readers on the
    last complete generation.  Inverted lists partitioned by
    ``centroid_id`` so serve-time probe filters become parquet
    PartitionFilters; a one-row params table records the assignment
    rule so merges after a read cannot desynchronize from it."""
    _store._write_index(_IVF, index, path)


def _centroid_list(index):
    """The frozen coarse quantizer as plain lists, in centroid-id order
    (O(k·d) — a LocalTableScan on any index built or read here)."""
    return [[float(x) for x in r["centroid"]]
            for r in index.centroids.orderBy("centroid_id").collect()]


def _centroids_from_rows(spark, rows):
    """Persisted centroid rows as the SAME local-relation shape the live
    build path produces — every later ``collect()`` at a
    serve/merge/append/drift site is then a LocalTableScan, not a
    repeated parquet scan job."""
    return local_df(
        spark,
        [(int(r["centroid_id"]), [float(x) for x in r["centroid"]])
         for r in sorted(rows, key=lambda r: int(r["centroid_id"]))],
        "centroid_id int, centroid array<double>")


def _ivf_delta(base: IvfIndex, new_vectors: DataFrame,
               vec_col: str = "embedding") -> IvfIndex:
    # assigned under the base's rule (two_level, persisted in params):
    # flat vs two-level differ on boundary vectors
    lists = _assign_centroid(
        new_vectors.select(F.col(base.id_col).alias("nn_id"),
                           _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", _centroid_list(base), two_level=base.two_level
    ).select("centroid_id", "nn_id", "cvec")
    return IvfIndex(base.centroids, lists, base.id_col,
                    two_level=base.two_level)


def _ivf_open(spark, vpath, tables, small, id_col="vec_id") -> IvfIndex:
    if not small["params"]:
        raise ValueError(
            f"read_ivf_index: no readable params table under {vpath!r} "
            "— cannot recover the assignment rule this index was "
            "built with (flat vs two-level assign differ on boundary "
            "vectors, so a merge under a guessed rule would silently "
            "desynchronize from the lists). Rebuild the index with "
            "the current write_ivf_index, or write the one-row params "
            "parquet yourself if the rule is known.")
    return IvfIndex(_centroids_from_rows(spark, small["centroids"]),
                    tables["lists"], id_col,
                    two_level=bool(small["params"][0]["two_level"]))


# centroids are O(k·d) by contract (collected at serve time), so they
# persist driver-side like params/codebooks
_CENTROIDS = _store._SmallTable(
    "centroids", "centroid_id int, centroid array<double>",
    lambda ix: [(int(r["centroid_id"]), [float(x) for x in r["centroid"]])
                for r in ix.centroids.select("centroid_id",
                                             "centroid").collect()])

_IVF = _store._IndexFamily(
    "ivf",
    (_store._StateTable("lists", "centroid_id"),),
    (_CENTROIDS,
     # the assignment rule, so merges after a read cannot desync from it
     _store._SmallTable("params", "two_level boolean",
                        lambda ix: [(bool(ix.two_level),)],
                        optional=True)),
    ("lists", "nn_id", "duplicate its list entry"),
    _ivf_delta, _ivf_open)


def read_ivf_index(spark, path: str, id_col: str = "vec_id") -> IvfIndex:
    """Load a persisted IVF index; only the one-row params table is
    read eagerly.  An index WITHOUT a params table is rejected LOUDLY:
    the assignment rule (flat vs two-level) is unknowable from the
    lists alone, and guessing wrong reproduces exactly the silent
    merge desync the params table exists to prevent — rebuild the
    index (or write the missing params table if the rule is known).

    ``path`` is the LOGICAL index root: the ``_CURRENT`` generation
    pointer resolves first (operators/index_store.py), falling back to
    the bare legacy layout when no pointer exists."""
    return _store._read_index(_IVF, spark, path, id_col=id_col)


def _probe_prelude(who: str, what: str, index, cells: DataFrame,
                   q: DataFrame, query_id_col: str, vcol: str,
                   nprobe: int, prune: bool):
    """The shared serve prelude of the IVF and IVF-PQ from-index paths:
    validate and collect the O(k·d) centroid table, and — when the
    queries fit the driver-collect budget — collect them ONCE to feed
    both the probed-cell partition prune of ``cells`` and the kernel
    (re-handed down as a LocalRelation, so the kernel's own collect is
    a zero-task driver read).  Above the budget the prune is skipped:
    it is a scan-pruning aid only (the centroid_id equi-join restricts
    candidates to probed cells regardless), and the kernel's own gate
    routes the probe through the distributed shape.  Returns
    ``(cells, q, C)``."""
    import numpy as np

    from orange3_timeseries_spark.operators.localrel import (
        driver_collect_ok,
    )

    cent_rows = index.centroids.orderBy("centroid_id").collect()
    # the probe emits ARGSORT POSITIONS into C as join keys against
    # centroid_id — valid only when ids are exactly 0..k-1; a gapped
    # hand-edited centroid table would silently probe the WRONG cells
    ids = [int(r["centroid_id"]) for r in cent_rows]
    if ids != list(range(len(ids))):
        raise ValueError(
            f"{who}: persisted centroid_ids are not the contiguous range "
            f"0..{len(ids) - 1} (got {ids[:8]}…) — probe positions would "
            f"desynchronize from the {what}. Rebuild the index "
            "(the build functions number cells contiguously).")
    C = np.array([r["centroid"] for r in cent_rows], dtype=float)
    if prune and driver_collect_ok(q):
        qrows = q.collect()
        idt = dict(q.dtypes)[query_id_col]
        q = local_df(
            q.sparkSession,
            [(r[query_id_col],
              [float(x) for x in r[vcol]] if r[vcol] is not None
              else None) for r in qrows],
            f"{query_id_col} {idt}, {vcol} array<double>")
        if qrows:
            X = np.array([[float(x) for x in r[vcol]] for r in qrows],
                         dtype=np.float64)
            # the SAME probe computation the serve kernel runs — the
            # filter cannot desynchronize
            order = _ivf_probe_order(X, C, nprobe)
            probed = sorted({int(c) for c in order.ravel()})
            cells = cells.where(F.col("centroid_id").isin(probed))
    return cells, q, C


def ivf_topk_from_index(index: IvfIndex, queries: DataFrame,
                        vec_col: str = "embedding",
                        query_id_col: str = "query_id", k: int = 5,
                        nprobe: int = 4,
                        prune_partitions: bool = True) -> DataFrame:
    """Serve IVF top-k from a LOADED index — no corpus rescan, no
    re-assignment: collect the O(k·d) centroid table (the same bounded
    driver-side footprint the live path's closure carries), GEMM-probe
    each query's ``nprobe`` cells, optionally prune the lists scan to
    the UNION of probed cells (a ≤ k-int filter → parquet partition
    pruning), and score through the shared kernel.  Exchanges are
    bounded by |queries| × nprobe list sizes, independent of corpus
    size."""
    lists, qin, C = _probe_prelude(
        "ivf_topk_from_index", "inverted lists", index, index.lists,
        queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qv_in__")),
        query_id_col, "__qv_in__", nprobe, prune_partitions)
    return _ivf_probe_score_topk(lists, qin, C,
                                 query_id_col=query_id_col,
                                 nprobe=nprobe, k=k)


def ivf_range_search(corpus: DataFrame, queries: DataFrame,
                     radius: float, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     n_centroids: int = 16, nprobe: int = 4,
                     centroids=None, seed: int = 7) -> DataFrame:
    """IVF approximate RANGE search: every corpus neighbor with cosine
    ≥ ``radius`` among the query's ``nprobe`` probed lists — top-k's
    sibling for radius workloads (dedup sweeps, "everything this
    similar" audits).  Same plan as :func:`ivf_topk` (probe explode,
    broadcast equi-join on ``centroid_id``, corpus never shuffles); the
    rank window is replaced by a pushable cosine filter, so the
    operator is join + filter — no window at all."""
    import numpy as np

    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_centroids,
                                        seed=seed, id_col=id_col)
    C = np.array(centroids, dtype=float)

    c = _assign_centroid(
        corpus.select(F.col(id_col).alias("nn_id"),
                      _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", centroids)
    qbase = queries.select(F.col(query_id_col),
                           _as_double(F.col(vec_col)).alias("qvec"))
    # gated probe table: driver-side LocalRelation under the collect
    # budget, distributed mapInPandas above it (_ivf_probe_table)
    q = _ivf_probe_table(qbase, C, nprobe, query_id_col) \
        .withColumn("__qn__", norm_expr("qvec"))
    return (c.withColumn("__cn__", norm_expr("cvec"))
            .join(F.broadcast(q), "centroid_id")
            .where(F.col(query_id_col) != F.col("nn_id"))
            .select(query_id_col, "nn_id",
                    F.round(_cosine_prenorm_expr("cvec", "qvec",
                                                 "__cn__", "__qn__"),
                            6).alias("cosine"))
            .where(F.col("cosine") >= F.lit(float(radius))))


def pca_top_component(corpus: DataFrame, vec_col: str = "embedding",
                      iters: int = 8):
    """Top principal component of the (mean-centered) embedding cloud by
    POWER ITERATION — the whitening/compression primitive of embedding
    pipelines, in the engine's standard split: each iteration is one
    distributed corpus pass (dot products + per-dimension sums, 64-key
    map-combining shuffle), the driver holds only the dim-sized vector.

    Determinism firewall (what makes the unrolled SQL replay exact):
    the mean vector and every per-dimension sum round to 6 dp, the
    iterate renormalizes FROM the rounded sums and rounds again, and the
    Catalyst dot product folds sequentially exactly like the replay's
    ``list_inner_product`` — so both engines carry bit-identical
    iterates.  Final sign: the largest-|loading| dimension (lowest
    index on ties) is made positive.

    Returns ``(v, eigenvalue, var_share, mean)`` where ``v`` is the
    unit top component (list of 64 floats), ``eigenvalue`` the Rayleigh
    quotient Σ(x_c·v)²/n, and ``var_share`` its share of total
    per-dimension population variance (both rounded 6 dp)."""
    import math

    x = _as_double(F.col(vec_col)).alias("__x__")
    base = corpus.select(x).localCheckpoint()
    dim = len(base.first()["__x__"])
    exploded = base.select(F.posexplode("__x__").alias("__d__", "__val__"))
    mean_rows = (exploded.groupBy("__d__")
                 .agg(F.avg("__val__").alias("m")).collect())
    m = [0.0] * dim
    for r in mean_rows:
        m[r["__d__"]] = round(r["m"], 6)

    v = [round(1.0 / math.sqrt(dim), 6)] * dim
    m_lit = _dbl_array_lit(m)
    for _ in range(iters):
        v_lit = _dbl_array_lit(v)
        xc = F.zip_with(F.col("__x__"), m_lit, lambda a, b: a - b)
        d = F.aggregate(F.zip_with(xc, v_lit, lambda a, b: a * b),
                        F.lit(0.0), lambda acc, y: acc + y)
        srows = (base.select(xc.alias("__xc__"), d.alias("__dd__"))
                 .select(F.posexplode("__xc__").alias("__d__", "__val__"),
                         "__dd__")
                 .groupBy("__d__")
                 .agg(F.sum(F.col("__val__") * F.col("__dd__"))
                      .alias("s"))
                 .collect())
        s = [0.0] * dim
        for r in srows:
            s[r["__d__"]] = round(r["s"], 6)
        nrm = math.sqrt(sum(y * y for y in s))
        if nrm == 0.0:
            # degenerate (constant) cloud: every centered projection is
            # zero — keep the previous iterate instead of dividing by 0
            break
        v = [round(y / nrm, 6) for y in s]

    # deterministic sign: largest-|loading| dim (lowest index on tie)
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-y for y in v]

    v_lit = _dbl_array_lit(v)
    xc = F.zip_with(F.col("__x__"), m_lit, lambda a, b: a - b)
    d = F.aggregate(F.zip_with(xc, v_lit, lambda a, b: a * b),
                    F.lit(0.0), lambda acc, y: acc + y)
    lam_row = base.agg(
        (F.sum(d * d) / F.count(F.lit(1))).alias("lam")).first()
    lam = round(lam_row["lam"], 6)
    tot_row = (exploded.groupBy("__d__")
               .agg(F.var_pop("__val__").alias("vv"))
               .agg(F.sum("vv").alias("tot")).first())
    tot = round(tot_row["tot"], 6)
    return v, lam, (round(lam / tot, 6) if tot else None), m




def centroid_cosine(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label",
                    quantize: int = 7) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the class-geometry audit behind semantic dedup and embedding
    drift: which sources/classes have collapsed onto each other?  One
    row per unordered label pair ``(label_a < label_b)``:
    ``(label_a, label_b, cosine)``.

    Plan: posexplode → one (label, dim) mean aggregation (map-side
    partial means: the shuffle carries labels × dims rows, never
    vectors), then norms and dot products over that SKINNY centroid
    table (labels × dims rows; the pairwise stage is labels² × dims on
    already-reduced data — labels are a small dimension by
    construction, the billion-row vector table is touched exactly
    once).

    Determinism firewall: centroid components are rounded to
    ``quantize`` dp at the aggregation (round-at-source), the norm and
    dot sums are rounded again before the final division, so both
    engines divide identical doubles."""
    exploded = df.select(
        F.col(label_col).alias("__l__"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("__d__", "__v__"))
    cent = (exploded.groupBy("__l__", "__d__")
            .agg(F.round(F.avg("__v__"), quantize).alias("__cv__")))
    norms = (cent.groupBy("__l__")
             .agg(F.round(F.sum(F.col("__cv__") * F.col("__cv__")),
                          quantize).alias("__nsq__")))
    a = cent.select(F.col("__l__").alias("label_a"), "__d__",
                    F.col("__cv__").alias("__ca__"))
    b = cent.select(F.col("__l__").alias("label_b"), "__d__",
                    F.col("__cv__").alias("__cb__"))
    dots = (a.join(b, on="__d__")
            .where(F.col("label_a") < F.col("label_b"))
            .groupBy("label_a", "label_b")
            .agg(F.round(F.sum(F.col("__ca__") * F.col("__cb__")),
                         quantize).alias("__dot__")))
    na = norms.select(F.col("__l__").alias("label_a"),
                      F.col("__nsq__").alias("__na__"))
    nb = norms.select(F.col("__l__").alias("label_b"),
                      F.col("__nsq__").alias("__nb__"))
    out = dots.join(na, "label_a").join(nb, "label_b")
    cos = F.col("__dot__") / F.sqrt(F.col("__na__") * F.col("__nb__"))
    return out.select("label_a", "label_b",
                      F.round(cos, 6).alias("cosine"))



def kcenter_select(corpus: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int = 8,
                   quantize: int = 7,
                   sample: float | None = None,
                   sample_salt: str = "") -> DataFrame:
    """Greedy k-center (Gonzalez 1985) diversity selection over an
    embedding column — the coreset/diversity-sampling primitive of
    data curation (pick K maximally-spread exemplars; 2-approximation
    of the optimal covering radius).  Returns the K selected rows as
    ``(sel_order, id, sel_dist)`` where ``sel_dist`` is the point's
    min cosine-distance to the already-selected set at the moment it
    was picked (monotone non-increasing — the coverage-radius curve;
    NULL for the seed).

    Deterministic contract: seed = lowest id; each step picks the
    point with the LARGEST min-distance to the selected set, lowest id
    on ties; distances are ``round(1 − round(dot, q)/sqrt(nsq_a·nsq_c),
    6)`` with squared norms rounded at source (``quantize`` dp) — rank
    cuts on rounded values, the house firewall.  Zero-norm vectors are
    excluded (cosine undefined).

    Scale: K passes over a persisted skinny ``(id, vec, nsq)``
    projection, each a Catalyst ``zip_with`` dot against K broadcast
    literal centers + one TakeOrdered(1) — driver state is K rows (the
    centers), never the corpus.  K scans of a 100 TB table is the
    honest cost of exact greedy k-center; for larger K pass
    ``sample=rate``: the corpus routes through the deterministic,
    partitioning-independent ``sampling.hash_sample`` on ``id_col``
    BEFORE the K scans (the standard coreset-of-a-sample
    construction), so every scan reads ``rate`` of the data and the
    selection stays a pure function of the data — same rows on any
    cluster layout, replayable in SQL."""
    spark = corpus.sparkSession
    if sample is not None:
        from orange3_timeseries_spark.operators.sampling import (
            hash_sample,
        )
        corpus = hash_sample(corpus, id_col, sample, sample_salt)
    nsq = F.round(F.aggregate(F.transform(F.col("__v__"),
                                          lambda x: x * x),
                              F.lit(0.0), lambda a, v: a + v), quantize)
    base = (corpus.select(F.col(id_col).alias("__id__"),
                          _as_double(F.col(vec_col)).alias("__v__"))
            .withColumn("__nsq__", nsq)
            .where(F.col("__nsq__") > 0)
            .persist())
    try:
        seed = base.orderBy("__id__").limit(1).collect()[0]
        sel = [(1, seed["__id__"], None)]
        centers = [(seed["__v__"], seed["__nsq__"])]
        for step in range(2, k + 1):
            dists = [
                F.round(
                    F.lit(1.0)
                    - F.round(dot_expr(F.col("__v__"),
                                       _dbl_array_lit(cv)),
                              quantize)
                    / F.sqrt(F.col("__nsq__") * F.lit(float(cn))), 6)
                for cv, cn in centers]
            mind = dists[0] if len(dists) == 1 else F.least(*dists)
            picked = [r[1] for r in sel]
            cand = (base.where(~F.col("__id__").isin(picked))
                    .select("__id__", "__v__", "__nsq__",
                            mind.alias("__d__"))
                    .orderBy(F.desc("__d__"), F.asc("__id__"))
                    .limit(1).collect())
            if not cand:
                break
            row = cand[0]
            sel.append((step, row["__id__"], float(row["__d__"])))
            centers.append((row["__v__"], row["__nsq__"]))
    finally:
        base.unpersist()
    schema = ("sel_order int, {} {}, sel_dist double"
              .format(id_col, dict(corpus.dtypes)[id_col]))
    return local_df(spark, sel, schema)


def jl_project(df: DataFrame, vec_col: str = "embedding",
               id_cols: Sequence[str] = ("vec_id",),
               out_dim: int = 8, unit_scale: int = 6,
               engine: str = "catalyst") -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    dimensions via a DETERMINISTIC Achlioptas-style sparse sign
    matrix: ``(id..., p0..p{k-1})`` — the cheap embedding compressor
    that preserves pairwise distances within (1±ε) (Achlioptas 2003,
    "Database-friendly random projections"), used before LSH
    bucketing / coarse clustering when 64 dims of float are 8× more
    bytes than a distance sketch needs.

    The projection entry is ``r(t,j) = (((1103515245·(d·t+j) + 12345)
    mod 2³¹) >> 16) mod 3 − 1 ∈ {−1,0,+1}`` — an LCG hash of the flat
    matrix index with the high bits taken (an affine-in-(t,j) mod-3
    formula would repeat rows every 3 output dims) — uniform thirds,
    variance ⅔, scaled by ``√(3/(2k))`` so expected norms are
    preserved: a hash-derived matrix instead of a stored one,
    reproducible on any engine/worker with zero state.
    Determinism: components quantize to 10^unit_scale integer units at
    source, each output is an exact BIGINT dot product (sign flips and
    adds only) times one literal double scale — bit-identical
    cross-engine, order-free.

    Scale: map-only (ZERO shuffle), no UDF, embarrassingly parallel.
    Throughput note: higher-order functions evaluate per-element
    OUTSIDE whole-stage codegen, and the quantize-once fold costs
    O(in_dim · out_dim) per row — fine at out_dim=8 but LINEAR in the
    output width.  ``engine='gemm'`` runs the SAME LCG matrix and
    quantization through a vectorized ``mapInPandas`` stage (one NumPy
    int64 ``U @ Rᵀ`` per Arrow batch) — value-identical output (exact
    integer arithmetic in both paths; HALF_UP unit rounding replayed
    sign-aware in NumPy) whose cost is Arrow-transfer-bound and
    out_dim-INVARIANT.  Measured at 500k×64 on local[32], warm
    (PLANS.md): out_dim=8 the two tie (~3s vs ~3.6s — the r7
    quantize-once rework closed the historical 100× HOF gap); at
    out_dim=32 GEMM is 3.3× faster (23s vs 7s) and the ratio keeps
    growing ~linearly with out_dim.  Rule: Catalyst for oracle-grade
    narrow sketches, GEMM when JL is the hot path or out_dim ≳ 16."""
    import math

    id_cols = list(id_cols)
    if engine not in ("catalyst", "gemm"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "gemm":
        return _jl_project_gemm(df, vec_col, id_cols, out_dim,
                                unit_scale)
    scale = F.lit(math.sqrt(3.0 / (2 * out_dim)) / float(10 ** unit_scale))
    # Quantize ONCE into a (u, j) struct array behind a projection
    # barrier, then run out_dim allocation-free scalar folds over it:
    # the per-dim naive form re-walked the raw array out_dim times
    # re-rounding every element (measured 8x slower at 500k x 64), and
    # a single fold carrying an out_dim-array accumulator allocated a
    # fresh array per ELEMENT (GC-bound).  Integer sums are order-free,
    # so the oracle's per-dim replay is value-identical.
    dim_hint = 4096
    pre = F.transform(
        F.col(vec_col),
        lambda e, j: F.struct(
            F.round(e.cast("double") * F.lit(float(10 ** unit_scale)))
            .cast("bigint").alias("u"),
            j.cast("bigint").alias("j")))
    tmp = df.select(*id_cols, pre.alias("__uj__"))

    def fold(t):
        def step(acc, s):
            idx = F.lit(dim_hint * t) + s["j"]
            h = (F.lit(1103515245) * idx + F.lit(12345)) % F.lit(2 ** 31)
            return acc + s["u"] * (F.shiftright(h, 16) % 3 - 1)
        return F.aggregate(F.col("__uj__"), F.lit(0).cast("bigint"),
                           step)

    return tmp.select(
        *id_cols,
        *[(fold(t).cast("double") * scale).alias(f"p{t}")
          for t in range(out_dim)])


# the shared exact tie-rule kernel — single definition, single test
# surface (functions/_rounding.py); re-exported under the historical
# module-level name so the direct boundary tests keep driving it here
from orange3_timeseries_spark.functions._rounding import (  # noqa: E402
    half_up_exact as _half_up_exact,
)


def _jl_project_gemm(df: DataFrame, vec_col: str, id_cols: list,
                     out_dim: int, unit_scale: int) -> DataFrame:
    """``jl_project(engine='gemm')``: the identical LCG sign matrix and
    integer quantization as one NumPy int64 GEMM per Arrow batch.

    Equivalence contract with the Catalyst path: units are HALF_UP
    (away from zero — Spark's ``F.round``) integer micro-units, the
    projection sum is exact int64 (same integers in any order), and
    the single float conversion + literal scale multiply are the same
    IEEE ops — so outputs are bit-identical, not approximately equal.
    The matrix is rebuilt per (worker, input dim) from the hash — zero
    broadcast state.

    Dirty-data contract: a row whose vector is NULL, or contains any
    NULL/NaN/Inf element, yields NULL projections (never a silently
    wrong number — int64-casting a non-finite is undefined)."""
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    scale_const = math.sqrt(3.0 / (2 * out_dim)) / float(10 ** unit_scale)
    unit_mult = float(10 ** unit_scale)
    dim_hint = 4096
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in id_cols]
        + [StructField(f"p{t}", DoubleType()) for t in range(out_dim)])
    narrow = df.select(*id_cols, vec_col)

    def gemm(batches):
        import numpy as np

        r_cache: dict = {}

        def matrix(d):
            r = r_cache.get(d)
            if r is None:
                idx = (dim_hint * np.arange(out_dim, dtype=np.int64)
                       [:, None]
                       + np.arange(d, dtype=np.int64)[None, :])
                h = (1103515245 * idx + 12345) % (2 ** 31)
                r = ((h >> 16) % 3 - 1).astype(np.int64)
                r_cache[d] = r
            return r

        for pdf in batches:
            out = pdf[id_cols].copy()
            n = len(pdf)
            if n == 0:
                for t in range(out_dim):
                    out[f"p{t}"] = np.empty(0, dtype=float)
                yield out
                continue
            # NULL vectors → NULL outputs (the Catalyst path's
            # behavior); ragged lengths group by dim, each group one
            # GEMM.  Rows with element-level NULL/NaN/Inf also emit
            # NULL projections — casting a non-finite to int64 would
            # silently produce INT64_MIN garbage.
            vecs = pdf[vec_col].reset_index(drop=True)
            lens = vecs.map(lambda v: -1 if v is None else len(v))
            if lens.nunique() == 1 and lens.iloc[0] != -1:
                x = np.asarray(list(vecs), dtype=float) * unit_mult
                finite = np.isfinite(x).all(axis=1)
                if finite.all():
                    # the common case — homogeneous, null-free,
                    # all-finite batch: plain float64 columns, no
                    # object boxing on the Arrow-bound hot path
                    u = _half_up_exact(x).astype(np.int64)
                    p = (u @ matrix(int(lens.iloc[0])).T) \
                        .astype(float) * scale_const
                    for t in range(out_dim):
                        out[f"p{t}"] = p[:, t]
                    yield out
                    continue
                # element-level NULL/NaN/Inf rows → NULL outputs
                # (int64 cast of a non-finite is UB garbage, never
                # emit it); the finite rows still take one GEMM
                p_obj = np.empty((n, out_dim), dtype=object)
                idxs = np.flatnonzero(finite)
                if idxs.size:
                    u = _half_up_exact(x[idxs]).astype(np.int64)
                    p = (u @ matrix(int(lens.iloc[0])).T) \
                        .astype(float) * scale_const
                    for t in range(out_dim):
                        p_obj[idxs, t] = p[:, t]
                for t in range(out_dim):
                    out[f"p{t}"] = p_obj[:, t]
                yield out
                continue
            p_obj = np.empty((n, out_dim), dtype=object)
            for d, grp in lens.groupby(lens):
                idxs = grp.index.to_numpy()
                if d == -1:
                    continue                     # leave None cells
                x = np.asarray(list(vecs.iloc[idxs]),
                               dtype=float) * unit_mult
                finite = np.isfinite(x).all(axis=1)
                idxs = idxs[finite]              # non-finite → None
                if not idxs.size:
                    continue
                u = _half_up_exact(x[finite]).astype(np.int64)
                p = (u @ matrix(int(d)).T).astype(float) * scale_const
                for t in range(out_dim):
                    p_obj[idxs, t] = p[:, t]
            for t in range(out_dim):
                out[f"p{t}"] = p_obj[:, t]
            yield out

    return narrow.mapInPandas(gemm, schema=out_schema)



class PqIndex:
    """A persisted-or-persistable product-quantization index under the
    same build-once/serve-refit-free contract as :class:`IvfIndex`:
    two plain parquet state tables, no pickle.

    - ``codes``: every corpus vector's PQ code — ``(nn_id,
      pq_code ARRAY<INT>)``, M small ints instead of d floats (the
      memory-compression half of billion-vector serving; the expensive
      mapInPandas encode runs ONCE at build time).
    - ``codebooks``: the M×K subspace centroids in long form —
      ``(m INT, j INT, centroid ARRAY<DOUBLE>)`` — O(M·K·d/M),
      collected at serve time (the same "model rides the closure"
      contract the live path uses).

    Codes are exact integers and centroid doubles round-trip
    bit-exactly through parquet, so a serve from the loaded index is
    bit-identical to live :func:`pq_topk` with the same codebooks —
    both route through :func:`_pq_adc_topk`."""

    def __init__(self, codes: DataFrame, codebooks,
                 id_col: str = "vec_id"):
        self.codes = codes
        self.codebooks = codebooks
        self.id_col = id_col


def pq_build_index(corpus: DataFrame, codebooks=None,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   n_subspaces: int = 8, n_centroids: int = 16,
                   sample: int = 2048) -> PqIndex:
    """Build the PQ index ONCE: train (or inject) the codebooks and
    run the Arrow-batched encode over the whole corpus — the one
    corpus-sized pass persisting avoids repeating per query batch."""
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, vec_col, n_subspaces,
                                       n_centroids, sample=sample)
    codes = pq_encode(
        corpus.select(F.col(id_col).alias("nn_id"), vec_col),
        codebooks, vec_col=vec_col, id_col="nn_id")
    return PqIndex(codes, codebooks, id_col)


def write_pq_index(index: PqIndex, path: str) -> None:
    """Persist the index into a FRESH generation directory
    ``path/v=<n>`` and atomically swap the ``path/_CURRENT`` pointer
    (operators/index_store.py) — read→merge→write on the same logical
    path is supported, and a crash mid-write leaves readers on the
    last complete generation.  Codes as skinny parquet, the codebooks
    exploded to (m, j, centroid) rows."""
    _store._write_index(_PQ, index, path)


def _codebooks_from_rows(rows, path, who):
    """Reconstruct + validate persisted PQ codebooks from (m, j,
    centroid) rows.  The (m, j) grid must be complete and rectangular
    before positional reconstruction: a gapped table (partial write)
    would silently SHIFT later centroids into earlier code slots and
    every serve would return plausible-but-wrong distances."""
    by_m: dict = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), {})[int(r["j"])] = \
            [float(x) for x in r["centroid"]]
    if not by_m:
        raise ValueError(
            f"{who}: the codebooks table under {path!r} is EMPTY — "
            "no subspace centroids to serve with. Rebuild/rewrite "
            "the index.")
    M = len(by_m)
    if sorted(by_m) != list(range(M)):
        raise ValueError(
            f"{who}: codebook subspaces are gapped "
            f"({sorted(by_m)[:8]}…) — the state table under {path!r} "
            "is incomplete. Rebuild/rewrite the index.")
    K = len(by_m[0])
    ds = len(next(iter(by_m[0].values())))
    for m in range(M):
        if sorted(by_m[m]) != list(range(K)):
            raise ValueError(
                f"{who}: codebook m={m} has centroid ids "
                f"{sorted(by_m[m])[:8]}… (expected 0..{K - 1}) — a "
                "gapped table would shift centroids into wrong code "
                "slots. Rebuild/rewrite the index.")
        if any(len(c) != ds for c in by_m[m].values()):
            raise ValueError(
                f"{who}: codebook m={m} has ragged centroid "
                f"widths (expected {ds}) — subspace offsets would "
                "desynchronize. Rebuild/rewrite the index.")
    return [[by_m[m][j] for j in range(K)] for m in range(M)]


_CODEBOOKS = _store._SmallTable(
    "codebooks", "m int, j int, centroid array<double>",
    lambda ix: [(m, j, [float(x) for x in c])
                for m, cb in enumerate(ix.codebooks)
                for j, c in enumerate(cb)])

_PQ = _store._IndexFamily(
    "pq",
    (_store._StateTable("codes"),),
    (_CODEBOOKS,),
    ("codes", "nn_id", "duplicate its code row"),
    lambda base, new, vec_col="embedding": PqIndex(
        pq_encode(new.select(F.col(base.id_col).alias("nn_id"), vec_col),
                  base.codebooks, vec_col=vec_col, id_col="nn_id"),
        base.codebooks, base.id_col),
    lambda spark, vpath, tables, small, id_col="vec_id": PqIndex(
        tables["codes"],
        _codebooks_from_rows(small["codebooks"], vpath, "read_pq_index"),
        id_col))


def read_pq_index(spark, path: str, id_col: str = "vec_id") -> PqIndex:
    """Load a persisted PQ index.  Only the O(M·K) codebook table is
    collected eagerly (the serve-time LUTs need it driver-side, the
    same bounded footprint the live path carries); codes stay lazy.
    ``path`` is the logical root — the ``_CURRENT`` generation pointer
    resolves first (operators/index_store.py), bare layout fallback."""
    return _store._read_index(_PQ, spark, path, id_col=id_col)


def pq_topk_from_index(index: PqIndex, queries: DataFrame, k: int = 5,
                       vec_col: str = "embedding",
                       query_id_col: str = "query_id") -> DataFrame:
    """Serve ADC top-k from a LOADED index — no corpus rescan, no
    re-encode: the scan reads M ints per vector, each query broadcasts
    its M×K lookup table, and scoring is M ``element_at`` lookups per
    (query, vector) through the shared :func:`_pq_adc_topk` kernel."""
    return _pq_adc_topk(index.codes, queries, index.codebooks, k=k,
                        vec_col=vec_col, query_id_col=query_id_col)


def ivf_merge_index(base: IvfIndex, new_vectors: DataFrame,
                    vec_col: str = "embedding", *,
                    check_disjoint: bool = True) -> IvfIndex:
    """Fold newly ingested vectors INTO an IVF index without
    re-assigning the existing lists: assignment depends only on the
    (frozen) centroids, so the merge is exactly one delta assignment
    pass + append — merged state == rebuilt state row-for-row, and a
    serve from the merged index is bit-identical to a rebuild over the
    union.  The delta is assigned under the SAME rule the base lists
    were built with (``base.two_level``, persisted through
    write/read — a flag mismatch would silently put boundary vectors
    in different cells than a rebuild).  Caller contract:
    ``new_vectors`` ids are disjoint from the indexed ones
    (``check_disjoint`` enforces it LOUDLY, same rule as
    ``bm25_merge_index`` / ``lsh_merge_index``).  Note the centroids
    are NOT retrained — the standard serving trade-off; retrain +
    rebuild when drift accumulates."""
    return _store._merge_index(_IVF, base, new_vectors, check_disjoint,
                               vec_col=vec_col)


def pq_merge_index(base: PqIndex, new_vectors: DataFrame,
                   vec_col: str = "embedding", *,
                   check_disjoint: bool = True) -> PqIndex:
    """Fold newly ingested vectors INTO a PQ index without re-encoding
    the corpus: codes depend only on the (frozen) codebooks, so the
    merge is one delta encode pass + append — merged state == rebuilt
    state row-for-row.  Same disjoint-ids contract and loud guard as
    the other index families; codebooks are NOT retrained."""
    return _store._merge_index(_PQ, base, new_vectors, check_disjoint,
                               vec_col=vec_col)


def ivf_append_index(spark, path: str, new_vectors: DataFrame,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id", *,
                     check_disjoint: bool = True) -> None:
    """FAST-INGEST append for a persisted IVF index: assign the delta
    under the persisted rule (frozen centroids + the params table's
    flat/two-level flag) and land its list rows as a JOURNALED DELTA
    (``lists/delta=<k>`` partition dirs + per-delta ``_COMMITTED``
    marker, index_store.begin_delta/commit_delta/delta_table_path) —
    ingest IO proportional to
    the batch, never the corpus (``write_ivf_index`` after a merge
    rewrites every list), and crash-atomic: an unmarked delta is
    invisible, the pre-append state keeps serving.  Serve-exactness is
    structural: lists are pure per-id appends and readers union
    committed deltas, so an appended index serves row-identically to a
    rebuild.  Fragmentation (~1 delta dir per ingest) accumulates
    until ``compact_ivf_index`` resets it."""
    _store._append_index(_IVF, spark, path, new_vectors, check_disjoint,
                         {"id_col": id_col}, vec_col=vec_col)


def compact_ivf_index(spark, path: str, id_col: str = "vec_id") -> None:
    """Rewrite the current IVF generation into a fresh one and swap the
    pointer: the versioned write's ``repartition('centroid_id')``
    collapses the per-ingest delta files back to ~1 per centroid
    partition; centroids/params are tiny and rewrite as-is.  Serves are
    row-identical before/after."""
    _store._compact_index(_IVF, spark, path, id_col=id_col)


def pq_append_index(spark, path: str, new_vectors: DataFrame,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id", *,
                    check_disjoint: bool = True) -> None:
    """FAST-INGEST append for a persisted PQ index: Arrow-encode the
    delta against the persisted (frozen) codebooks and land its code
    rows as a JOURNALED DELTA (``codes/delta=<k>`` partition dirs +
    per-delta ``_COMMITTED`` marker) — ingest IO proportional to the
    batch, and
    crash-atomic: an unmarked delta is invisible, the pre-append state
    keeps serving.  Codes are pure per-id rows and readers union
    committed deltas, so an appended index serves row-identically to a
    rebuild.  One delta dir per ingest accumulates until
    ``compact_pq_index`` resets it."""
    _store._append_index(_PQ, spark, path, new_vectors, check_disjoint,
                         {"id_col": id_col}, vec_col=vec_col)


def ivf_drift_stats(index: IvfIndex, new_vectors: DataFrame,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    unit_scale: int = 6) -> DataFrame:
    """Centroid-drift monitor for a frozen-centroid serving index — the
    retrain signal the incremental-merge/append lifecycle needs: every
    IVF ingest assigns new vectors under centroids trained on OLD data,
    and as the distribution drifts the new vectors sit ever farther
    from their assigned centers (recall decays silently).  This
    compares the ingest batch against the INDEXED population, per cell:

    ``(centroid_id, n_index, n_new, new_share, mean_cos_index,
    mean_cos_new, cos_drift)`` — occupancy of the batch across cells
    (``new_share`` = this cell's fraction of the batch; a skewed share
    vs the indexed occupancy means the centroids no longer tile the
    data) and mean vector→assigned-centroid cosine for both
    populations, with ``cos_drift = mean_cos_new − mean_cos_index``
    (negative = the batch fits its cells worse than the indexed
    corpus did — retrain when it crosses the operator's threshold).
    Cells the batch never touches keep a row (n_new = 0, NULL means) —
    emptying cells are themselves a drift signal.

    Determinism: each per-vector cosine rounds ONCE to 6 dp (the
    ANN-tier firewall), quantizes to integer micro-units, and per-cell
    sums are exact BIGINTs — order-free, so the DuckDB replay is exact;
    means/shares/drift are fixed IEEE division trees emitted unrounded.

    Scale: the batch pays one assignment GEMM map pass (the same
    kernel every ingest already runs); the indexed side is ONE
    map-side-combining aggregate over the stored lists (no
    re-assignment — the lists ARE the assignment); everything after is
    ≤ n_centroids rows."""
    from pyspark.sql import Window

    delta = _assign_centroid(
        new_vectors.select(F.col(id_col).alias("nn_id"),
                           _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", _centroid_list(index), two_level=index.two_level
    ).select("centroid_id", "nn_id", "cvec")

    unit = float(10 ** unit_scale)
    # the centroid norm is per-CELL, not per-row: hoist it into the
    # broadcast side so the per-row cosine is dot + one hoisted row
    # norm instead of re-deriving the centroid norm on every assigned
    # row (bit-identical — see _cosine_prenorm_expr)
    cents = F.broadcast(index.centroids
                        .select("centroid_id",
                                F.col("centroid").alias("__cv__"))
                        .withColumn("__cvn__", norm_expr("__cv__")))

    def cell_stats(assigned, n_name, cu_name):
        cu = F.round(F.round(_cosine_prenorm_expr("cvec", "__cv__",
                                                  "__cn__", "__cvn__"),
                             6) * F.lit(unit)).cast("bigint")
        return (assigned.withColumn("__cn__", norm_expr("cvec"))
                .join(cents, "centroid_id")
                .groupBy("centroid_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias(n_name),
                     F.sum(cu).alias(cu_name)))

    base = cell_stats(index.lists, "n_index", "__cui__")
    new = cell_stats(delta, "n_new", "__cun__")
    spine = index.centroids.select("centroid_id")
    out = (spine.join(base, "centroid_id", "left")
           .join(new, "centroid_id", "left"))
    n_new = F.coalesce(F.col("n_new"), F.lit(0).cast("bigint"))
    total_new = F.sum(n_new).over(
        Window.partitionBy())          # ≤ n_centroids rows by now
    mean_i = (F.col("__cui__").cast("double")
              / F.col("n_index").cast("double")) / F.lit(unit)
    mean_n = (F.col("__cun__").cast("double")
              / F.col("n_new").cast("double")) / F.lit(unit)
    return out.select(
        "centroid_id",
        F.coalesce(F.col("n_index"), F.lit(0).cast("bigint"))
        .alias("n_index"),
        n_new.alias("n_new"),
        (n_new.cast("double") / total_new.cast("double"))
        .alias("new_share"),
        mean_i.alias("mean_cos_index"),
        mean_n.alias("mean_cos_new"),
        (mean_n - mean_i).alias("cos_drift"))


def ivf_retrain_cells(spark, path: str, cell_ids, *,
                      id_col: str = "vec_id", sample: int = 2048,
                      iters: int = 10) -> None:
    """Close the drift loop :func:`ivf_drift_stats` opens: re-cluster
    ONLY the flagged cells of a persisted IVF index and publish the
    result as a new generation — the targeted remedy between "serve
    degrading recall" and "full rebuild".  A frozen-centroid serving
    index degrades exactly where the data drifted; cells the monitor
    clears keep their centroids, their list rows, and therefore their
    serve behavior bit-identically.

    Procedure (all content-deterministic, so a DuckDB replay oracle
    can verify it end to end — ``ann_ivf_retrain_cells``):

    1. pull the flagged cells' vectors from the persisted lists (a
       parquet partition-pruned scan — committed append deltas
       included; the lists ARE the assignment, nothing re-assigns);
    2. run the same content-deterministic Lloyd the initial training
       used (:func:`train_ivf_centroids` with ``id_col``: ordered
       sample, evenly spaced init, first-index argmax tie-break,
       6-dp centroid rounding per round) with ``k = len(cell_ids)``
       over ONLY those vectors;
    3. replace the flagged centroids in place — retrained centroid
       ``j`` takes the id ``sorted(cell_ids)[j]``, so centroid ids
       stay the contiguous 0..k-1 range the serve kernel requires;
    4. re-assign ONLY the flagged vectors among the k retrained
       centroids, mapped back through the sorted id order.  The
       assignment follows the family's frozen rule
       (``base.two_level``): for fewer than 16 flagged cells — every
       oracled/tested configuration — this is exactly the flat argmax
       + first-index rule the replay oracle unrolls; with >=16 flagged
       cells on a two-level index, the deterministic two-level routing
       is REBUILT over the flagged subset, which approximates but is
       not bit-identical to the full-set grouping appends route
       through (a boundary vector can land in a different flagged
       cell) — acceptable for the bucketing consumers two-level
       serves, but do not expect appended-equals-retrained at that
       scale;
    5. write centroids + lists + params as a fresh generation and swap
       the pointer (``write_ivf_index`` — crash mid-retrain leaves the
       old generation serving).

    Scale: COMPUTE is flagged-proportional — the Lloyd sample is
    driver-side bounded, the one GEMM re-assignment pass touches only
    flagged-cell vectors (everything the drift monitor said decayed),
    cold cells are never re-scored.  WRITE IO is a generation rewrite
    (cold partitions stream base→new unchanged), i.e. the same cost
    class as the compaction a fragmented index periodically pays
    anyway — and a retrain subsumes that compaction (append deltas
    fold in).  A manifest/hard-link layout that re-references cold
    partitions instead of streaming them is the known follow-up for
    rewrite-averse object stores.

    Splitting/merging cells (changing k) is deliberately out of scope:
    it renumbers ids and forces a full lists rewrite with re-probing
    semantics — at that point a full retrain-rebuild is the honest
    operation."""
    import numpy as np

    flagged = sorted({int(c) for c in cell_ids})
    if not flagged:
        raise ValueError("ivf_retrain_cells: empty cell_ids — nothing "
                         "to retrain (the drift monitor found no cell "
                         "below threshold?)")
    base = read_ivf_index(spark, path, id_col)
    cent_rows = base.centroids.orderBy("centroid_id").collect()
    known = {int(r["centroid_id"]) for r in cent_rows}
    missing = [c for c in flagged if c not in known]
    if missing:
        raise ValueError(
            f"ivf_retrain_cells: cell ids {missing} are not in the "
            f"persisted centroid table (cells 0..{len(known) - 1}) — "
            "the drift report and the index disagree; re-run the "
            "monitor against this index.")
    hot = base.lists.where(F.col("centroid_id").isin(flagged))
    # the same content-deterministic Lloyd as initial training, over
    # ONLY the flagged cells' vectors (train_ivf_centroids orders by
    # id and bounds the sample driver-side)
    try:
        new_cents = train_ivf_centroids(
            hot.select(F.col("nn_id"), F.col("cvec")), "cvec",
            n_centroids=len(flagged), sample=sample, iters=iters,
            id_col="nn_id")
    except ValueError as exc:
        if "non-empty" not in str(exc):
            raise
        raise ValueError(
            f"ivf_retrain_cells: the flagged cells {flagged} hold no "
            "vectors — an all-empty flag set usually means the drift "
            "report was computed against a different index state, or "
            "the flag rule selected abandoned cells only. Re-run the "
            "monitor; retraining empty cells is a no-op.") from exc
    # local re-assignment among the retrained centroids only; local
    # index j maps back to sorted(cell_ids)[j].  The family's frozen
    # assignment rule (base.two_level) carries through so a two-level
    # index with >=16 flagged cells re-assigns under the SAME rule its
    # appends/merges use — for smaller flag sets the two-level branch
    # is inert (it needs len(centroids) >= 16) and this is exactly the
    # flat argmax the replay oracle unrolls
    reassigned = _assign_centroid(
        hot.select("nn_id", "cvec"), "cvec", new_cents,
        two_level=base.two_level)
    id_map = F.array(*[F.lit(int(c)) for c in flagged])
    hot_lists = reassigned.select(
        F.element_at(id_map, F.col("centroid_id") + 1)
        .alias("centroid_id"), "nn_id", "cvec")
    cold_lists = (base.lists.where(~F.col("centroid_id").isin(flagged))
                  .select("centroid_id", "nn_id", "cvec"))
    by_j = {flagged[j]: [float(x) for x in new_cents[j]]
            for j in range(len(flagged))}
    cent_df = local_df(
        spark,
        [(int(r["centroid_id"]),
          by_j.get(int(r["centroid_id"]),
                   [float(x) for x in r["centroid"]]))
         for r in cent_rows],
        "centroid_id int, centroid array<double>")
    write_ivf_index(
        IvfIndex(cent_df, cold_lists.unionByName(hot_lists), id_col,
                 two_level=base.two_level), path)


def pq_drift_by_subspace(index: PqIndex, new_vectors: DataFrame,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         unit_scale: int = 6) -> DataFrame:
    """Codebook-drift monitor for frozen-codebook PQ serving — the PQ
    sibling of :func:`ivf_drift_stats`: every PQ ingest encodes new
    vectors under codebooks trained on OLD data, and as the
    distribution drifts the codes stop tiling the data (ADC error
    grows, recall decays silently).  Per subspace ``m``:

    ``(m, n_index, n_new, usage_l1, mean_qerr_new)`` —

    - ``usage_l1``: Σ_j |share_index(j) − share_new(j)| over the
      codewords, comparing how the INDEXED codes use the codebook vs
      how the arriving batch's encoding does (0 = identical usage,
      2 = disjoint).  A shifted usage histogram means the data moved
      relative to the frozen codewords even when absolute error looks
      stable.
    - ``mean_qerr_new``: the batch's mean squared quantization error
      in subspace ``m`` (distance to its nearest codeword — the exact
      quantity ADC error is made of).  Retrain the codebooks (or
      rebuild) when either crosses the operator's threshold.

    Determinism: per-vector subspace errors compute with the SAME
    dimension-sequential IEEE chain as :func:`pq_encode`, round once
    to 6 dp, quantize to integer micro-units, and sum exactly; usage
    shares are single divisions whose micro-unit-quantized differences
    sum exactly — order-free, so the DuckDB replay is exact.

    Scale: the indexed side is ONE pass over the stored codes (M
    small ints per vector — the codes ARE the encoding, nothing
    re-encodes); the batch pays the same Arrow encode GEMM every
    ingest already runs; everything after is ≤ M·K rows."""
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    M = len(index.codebooks)
    K = len(index.codebooks[0])
    C = [np.array(cb, dtype=np.float64) for cb in index.codebooks]
    ds = C[0].shape[1]
    unit = float(10 ** unit_scale)

    schema = T.StructType([
        T.StructField("m", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("qe", T.LongType()),
    ])

    def encode_err(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out_m, out_j, out_q = [], [], []
            for m in range(M):
                acc = np.zeros((len(X), K))
                for i in range(ds):
                    d = X[:, m * ds + i][:, None] - C[m][None, :, i]
                    acc = acc + d * d
                j = np.argmin(acc, axis=1)
                qe = np.round(np.round(acc[np.arange(len(X)), j], 6)
                              * unit).astype("int64")
                out_m.append(np.full(len(X), m, dtype="int32"))
                out_j.append(j.astype("int32"))
                out_q.append(qe)
            yield pd.DataFrame({
                "m": np.concatenate(out_m),
                "j": np.concatenate(out_j),
                "qe": np.concatenate(out_q)})

    # only the vector column rides the Arrow encode — ids are not used
    new_enc = (widen_partitions(new_vectors.select(
        _as_double(F.col(vec_col)).alias(vec_col)))
        .mapInPandas(encode_err, schema))
    new_agg = (new_enc.groupBy("m", "j")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_j"),
                    F.sum("qe").alias("qe_sum")))
    idx_agg = (index.codes
               .select(F.posexplode("pq_code").alias("m", "j"))
               .groupBy("m", "j")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_idx_j")))
    spark = index.codes.sparkSession
    spine = local_df(
        spark,
        [(m, j) for m in range(M) for j in range(K)], "m int, j int")
    cell = (spine.join(idx_agg, ["m", "j"], "left")
            .join(new_agg, ["m", "j"], "left")
            .select("m", "j",
                    F.coalesce("n_idx_j", F.lit(0)).cast("bigint")
                    .alias("n_idx_j"),
                    F.coalesce("n_new_j", F.lit(0)).cast("bigint")
                    .alias("n_new_j"),
                    F.coalesce("qe_sum", F.lit(0)).cast("bigint")
                    .alias("qe_sum")))
    totals = (cell.groupBy("m")
              .agg(F.sum("n_idx_j").alias("n_index"),
                   F.sum("n_new_j").alias("n_new"),
                   F.sum("qe_sum").alias("qe_tot")))
    # guard the degenerate sides with NULL, never NaN: an empty ingest
    # batch (or an empty indexed side) must surface as NULL metrics a
    # threshold check notices — NaN compares False everywhere and
    # silently disarms the retrain signal.  On non-empty data the
    # expressions are unchanged (hash-identical to the oracle replay).
    n_idx_nz = F.when(F.col("n_index") > 0, F.col("n_index"))
    n_new_nz = F.when(F.col("n_new") > 0, F.col("n_new"))
    share_diff_u = F.round(
        (F.col("n_idx_j").cast("double") / n_idx_nz.cast("double")
         - F.col("n_new_j").cast("double") / n_new_nz.cast("double"))
        * F.lit(unit)).cast("bigint")
    l1 = (cell.join(totals, "m")
          .groupBy("m")
          .agg(F.sum(F.abs(share_diff_u)).alias("l1_u"),
               F.count(share_diff_u).alias("__nn__")))
    # an empty side nulls every per-codeword diff -> usage_l1 NULL
    l1 = l1.select("m", F.when(F.col("__nn__") > 0, F.col("l1_u"))
                   .alias("l1_u"))
    return (totals.join(l1, "m")
            .select("m",
                    F.col("n_index"), F.col("n_new"),
                    (F.col("l1_u").cast("double") / F.lit(unit))
                    .alias("usage_l1"),
                    ((F.col("qe_tot").cast("double")
                      / F.when(F.col("n_new") > 0, F.col("n_new"))
                      .cast("double")) / F.lit(unit))
                    .alias("mean_qerr_new")))


def compact_pq_index(spark, path: str, id_col: str = "vec_id") -> None:
    """Rewrite the current PQ generation into a fresh one and swap the
    pointer, coalescing the per-ingest delta files: codes are
    repartitioned to a byte-proportional width
    (operators/partitioning.scaled_width — codes are 8 ints per vector,
    so even a billion-vector table compacts to modest file counts).
    Serves are row-identical before/after."""
    _store._compact_index(_PQ, spark, path, id_col=id_col)


# ------------------------------------------------- persisted IVF-PQ index
class IvfPqIndex:
    """The persisted COMPOSITE index — coarse inverted lists bounding
    the scan + PQ codes bounding the memory traffic (the FAISS-IVFPQ
    production layout for billion-vector serving) — under the same
    build-once/serve-refit-free contract as the other four families:
    plain parquet state tables, no pickle.

    - ``centroids``: ``(centroid_id INT, centroid ARRAY<DOUBLE>)`` —
      the coarse quantizer, O(k·d), collected at serve time.
    - ``codebooks`` (driver-side list, persisted as (m, j, centroid)
      rows): the PQ model, O(M·K·ds).
    - ``entries``: one row per corpus vector — ``(centroid_id INT,
      nn_id, pq_code ARRAY<INT>)``, PARTITIONED by ``centroid_id`` so
      a serve's probe set prunes whole parquet partitions, and only
      M+4 bytes of payload per vector ever moves.

    Codes and ids round-trip exactly (ints), the models are persisted
    verbatim, and the serve routes through the same probe/LUT/ADC
    expressions as the live :func:`ivfpq_topk` — a serve from the
    loaded index is bit-identical to the live path."""

    def __init__(self, centroids: DataFrame, codebooks,
                 entries: DataFrame, id_col: str = "vec_id"):
        self.centroids = centroids
        self.codebooks = codebooks
        self.entries = entries
        self.id_col = id_col


def ivfpq_build_index(corpus: DataFrame, centroids, codebooks,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> IvfPqIndex:
    """Build the composite index ONCE: one Arrow pass assigns every
    vector to its coarse cell AND PQ-encodes it (:func:`ivfpq_index`);
    the corpus never shuffles.  The expensive pass is exactly what
    persisting avoids recomputing per query batch."""
    spark = corpus.sparkSession
    cent_df = local_df(
        spark,
        [(int(i), [float(x) for x in c])
         for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>")
    entries = ivfpq_index(
        corpus.select(F.col(id_col).alias("nn_id"), F.col(vec_col)),
        centroids, codebooks, vec_col=vec_col, id_col="nn_id"
    ).select("centroid_id", "nn_id", "pq_code")
    return IvfPqIndex(cent_df, codebooks, entries, id_col)


def write_ivfpq_index(index: IvfPqIndex, path: str) -> None:
    """Persist into a fresh generation + atomic pointer swap
    (operators/index_store.py), entries partitioned by
    ``centroid_id`` (probe filters become parquet PartitionFilters)
    under the journaled layout (``entries/delta=0``) so fast-ingest
    appends stay one-scan partition dirs."""
    _store._write_index(_IVFPQ, index, path)


def read_ivfpq_index(spark, path: str,
                     id_col: str = None) -> IvfPqIndex:
    """Load a persisted IVF-PQ index; only the O(k·d)+O(M·K·ds) model
    tables are touched eagerly.  Entries union COMMITTED journaled
    append deltas (index_store.read_index_table) — a torn append is
    invisible."""
    return _store._read_index(_IVFPQ, spark, path, id_col=id_col)


def ivfpq_topk_from_index(index: IvfPqIndex, queries: DataFrame,
                          k: int = 5, nprobe: int = 4,
                          vec_col: str = "embedding",
                          query_id_col: str = "query_id",
                          prune_partitions: bool = True) -> DataFrame:
    """Serve IVF-PQ top-k from a LOADED index — no corpus rescan, no
    re-assignment, no re-encode: queries probe their ``nprobe``
    nearest cells (the SAME ``_ivf_probe_order`` GEMM the live path
    runs), optionally prune the entries scan to the union of probed
    cells (parquet partition pruning), broadcast their M×K ADC lookup
    tables, and score candidates with M ``element_at`` lookups — the
    corpus side moves only (id, cell, M codes).  Bit-identical to the
    live :func:`ivfpq_topk` on the same models (shared probe/LUT/ADC
    expressions; codes round-trip as ints)."""
    entries, qbase, C = _probe_prelude(
        "ivfpq_topk_from_index", "entries", index, index.entries,
        queries.select(F.col(query_id_col),
                       _as_double(F.col(vec_col)).alias("qvec")),
        query_id_col, "qvec", nprobe, prune_partitions)
    return _ivfpq_probe_adc_topk(entries, qbase, C, index.codebooks,
                                 nprobe=nprobe, k=k,
                                 query_id_col=query_id_col)


def _ivfpq_open(spark, vpath, tables, small, id_col=None) -> IvfPqIndex:
    return IvfPqIndex(
        _centroids_from_rows(spark, small["centroids"]),
        _codebooks_from_rows(small["codebooks"], vpath, "read_ivfpq_index"),
        tables["entries"],
        id_col if id_col is not None else small["params"][0]["id_col"])


_IVFPQ = _store._IndexFamily(
    "ivfpq",
    (_store._StateTable("entries", "centroid_id"),),
    (_CENTROIDS, _CODEBOOKS,
     _store._SmallTable("params", "id_col string",
                        lambda ix: [(ix.id_col,)], optional=True)),
    ("entries", "nn_id", "duplicate its entry"),
    # one delta Arrow pass under the base's FROZEN models: assign + encode
    lambda base, new, vec_col="embedding": IvfPqIndex(
        base.centroids, base.codebooks,
        ivfpq_index(new.select(F.col(base.id_col).alias("nn_id"), vec_col),
                    _centroid_list(base), base.codebooks, vec_col=vec_col,
                    id_col="nn_id").select("centroid_id", "nn_id",
                                           "pq_code"),
        base.id_col),
    _ivfpq_open)


def ivfpq_merge_index(base: IvfPqIndex, new_vectors: DataFrame,
                      vec_col: str = "embedding", *,
                      check_disjoint: bool = True) -> IvfPqIndex:
    """Fold newly ingested vectors INTO an IVF-PQ index without
    touching the existing entries: assignment and codes depend only on
    the (frozen) models, so the merge is one delta Arrow pass + append
    — merged state == rebuilt state row-for-row.  Same disjoint-ids
    contract and loud guard as every other family; models are NOT
    retrained (the drift monitors signal when to)."""
    return _store._merge_index(_IVFPQ, base, new_vectors, check_disjoint,
                               vec_col=vec_col)


def ivfpq_append_index(spark, path: str, new_vectors: DataFrame,
                       vec_col: str = "embedding",
                       id_col: str = None, *,
                       check_disjoint: bool = True) -> None:
    """FAST-INGEST append for a persisted IVF-PQ index: one delta
    Arrow pass (assign + encode under the frozen models), landed as a
    JOURNALED DELTA (``entries/delta=<k>`` partition dirs + per-delta
    ``_COMMITTED`` marker) — ingest IO proportional to the batch,
    crash-atomic, one-scan serves.  Fragmentation accumulates until
    ``compact_ivfpq_index`` resets it."""
    _store._append_index(_IVFPQ, spark, path, new_vectors, check_disjoint,
                         {"id_col": id_col}, vec_col=vec_col)


def compact_ivfpq_index(spark, path: str,
                        id_col: str = None) -> None:
    """Rewrite the current IVF-PQ generation into a fresh one and swap
    the pointer, folding append deltas back to ~1 file per centroid
    partition.  Serves are row-identical before/after."""
    _store._compact_index(_IVFPQ, spark, path, id_col=id_col)


def _train_subspace_codebooks(X, flagged, K: int, ds: int, iters: int):
    """Content-deterministic per-subspace Lloyd — the
    :func:`train_ivf_centroids` ``id_col`` recipe applied to subvector
    slices: evenly spaced init through the (already id-ordered)
    sample, argmax(x·c − |c|²/2) with first-index tie-break, empty
    clusters keep their centroid, 6-dp rounding per round — so a SQL
    replay (unrolled per-(m, j) Lloyd in DuckDB,
    ``ann_pq_retrain_subspaces``'s oracle) reproduces the codebooks
    exactly.  Returns {m: K×ds list} for the flagged subspaces only."""
    import numpy as np

    n = len(X)
    out = {}
    for m in flagged:
        S = X[:, m * ds:(m + 1) * ds]
        cent = S[[(i * n) // K for i in range(K)]].copy()
        for _ in range(iters):
            scores = S @ cent.T - 0.5 * (cent * cent).sum(1)
            assign = scores.argmax(1)
            for j in range(K):
                msk = assign == j
                if msk.any():
                    cent[j] = S[msk].mean(0)
            cent = np.round(cent, 6)
        out[m] = cent.tolist()
    return out


def _splice_flagged_codes(joined: DataFrame, flagged, new_books,
                          K: int, ds: int, vec_col: str,
                          keep_cols) -> DataFrame:
    """One Arrow pass re-encoding ONLY the flagged subspaces' code
    slots (same dimension-sequential IEEE accumulation and first-min
    tie as :func:`pq_encode`) and splicing them into the stored codes
    — cold slots pass through as the exact ints parquet stored.
    ``joined`` carries (keep_cols…, pq_code, vec_col); arithmetic per
    vector is |flagged|·K·ds, not M·K·ds."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    Cf = {m: np.array(new_books[m], dtype=np.float64) for m in flagged}
    schema = T.StructType(
        [joined.schema[c] for c in keep_cols]
        + [T.StructField("pq_code", T.ArrayType(T.IntegerType()))])

    def splice(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.array(pdf["pq_code"].tolist(), dtype="int32")
            for m in flagged:
                acc = np.zeros((len(X), K))
                for i in range(ds):
                    d = X[:, m * ds + i][:, None] - Cf[m][None, :, i]
                    acc = acc + d * d
                codes[:, m] = np.argmin(acc, axis=1)
            out = {c: pdf[c] for c in keep_cols}
            out["pq_code"] = [list(r) for r in codes]
            yield pd.DataFrame(out)

    return widen_partitions(joined).mapInPandas(splice, schema)


def _retrain_subspaces_impl(who: str, subspaces, vectors,
                            vec_col: str, id_col: str,
                            sample: int, iters: int,
                            check_coverage: bool,
                            base_codebooks, rows: DataFrame,
                            keep_cols):
    """The shared kernel of :func:`pq_retrain_subspaces` and
    :func:`ivfpq_retrain_subspaces` (one implementation — the two
    families differ only in state-table shape and write call): flag
    validation, the bounded ordered Lloyd sample, per-subspace re-fit,
    the exactly-once coverage guard, and the codes ⋈ vectors
    flagged-slot splice.  Returns ``(new_codebooks, new_rows)`` for
    the caller's family-specific generation write."""
    import numpy as np

    from orange3_timeseries_spark.operators.audit import (
        check_covers_ids,
    )

    flagged = sorted({int(m) for m in subspaces})
    if not flagged:
        raise ValueError(
            f"{who}: empty subspaces — nothing to retrain (the drift "
            "monitor found no subspace over threshold?)")
    M = len(base_codebooks)
    K = len(base_codebooks[0])
    ds = len(base_codebooks[0][0])
    bad = [m for m in flagged if m < 0 or m >= M]
    if bad:
        raise ValueError(
            f"{who}: subspace ids {bad} are outside the persisted "
            f"codebooks (subspaces 0..{M - 1}) — the drift report and "
            "the index disagree; re-run the monitor against this "
            "index.")
    pdf = (vectors.select(id_col, vec_col).orderBy(id_col)
           .limit(sample).toPandas().sort_values(id_col))
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    if len(X) == 0:
        raise ValueError(
            f"{who}: vectors is empty — nothing to re-fit the "
            "codebooks on.")
    if X.shape[1] != M * ds:
        raise ValueError(
            f"{who}: vectors have {X.shape[1]} dims but the persisted "
            f"codebooks tile {M}×{ds} — wrong corpus for this index.")
    retrained = _train_subspace_codebooks(X, flagged, K, ds, iters)
    new_books = [retrained.get(m, base_codebooks[m])
                 for m in range(M)]
    if check_coverage:
        check_covers_ids(
            rows.select(F.col("nn_id").alias(id_col)),
            vectors, id_col, who)
    joined = rows.join(
        vectors.select(F.col(id_col).alias("nn_id"),
                       _as_double(F.col(vec_col)).alias(vec_col)),
        "nn_id")
    new_rows = _splice_flagged_codes(joined, flagged, retrained,
                                     K, ds, vec_col, keep_cols)
    return new_books, new_rows


def pq_retrain_subspaces(spark, path: str, subspaces, vectors,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id", *,
                         sample: int = 2048, iters: int = 10,
                         check_coverage: bool = True) -> None:
    """Close the drift loop :func:`pq_drift_by_subspace` opens — the
    PQ sibling of :func:`ivf_retrain_cells`: re-fit ONLY the flagged
    subspaces' codebooks, re-encode ONLY those subspaces' code slots,
    and publish the result as a new generation.  A frozen-codebook
    serving index degrades exactly in the subspaces where the data
    drifted; subspaces the monitor clears keep their codebooks AND
    their code slots bit-identically (cold ints stream through the
    splice untouched), so serve behavior changes only where the
    monitor said it had already decayed.

    ``vectors`` must cover every indexed id EXACTLY ONCE (codes store
    M small ints, not the vectors, so re-encoding needs the originals
    — pass the full current corpus; the guard fails LOUDLY on gaps
    AND on duplicate ids, because the inner join would otherwise
    silently shrink or fan out the index —
    ``operators/audit.py:check_covers_ids``).

    Procedure (all content-deterministic, so a DuckDB replay oracle
    verifies it end to end — ``ann_pq_retrain_subspaces``):

    1. bounded ordered sample of ``vectors`` (``sample`` smallest ids
       — a distributed TakeOrdered, never a full collect);
    2. per flagged subspace, the same content-deterministic Lloyd
       initial training uses (:func:`_train_subspace_codebooks`:
       evenly spaced init, first-index argmax tie-break, 6-dp
       rounding per round) over that subspace's sample slices;
    3. one scan: codes ⋈ vectors, one Arrow pass re-encoding the
       flagged slots under the new codebooks (|flagged|·K·ds
       arithmetic per vector) and splicing them into the stored
       codes — cold slots bit-untouched;
    4. write codes + codebooks as a fresh generation and swap the
       pointer (``write_pq_index`` — a crash mid-retrain leaves the
       old generation serving; committed append deltas fold in, so a
       retrain subsumes the compaction a fragmented index owes).

    Scale: the Lloyd sample is driver-side bounded; the corpus pays
    ONE equi-join shuffle (codes ⋈ vectors on id — unavoidable: the
    index does not store vectors) plus flagged-proportional encode
    arithmetic; the write is a generation rewrite, the same IO class
    as compaction.  Changing K or M is deliberately out of scope —
    that renumbers code slots and is an honest full rebuild."""
    base = read_pq_index(spark, path, id_col)
    new_books, new_codes = _retrain_subspaces_impl(
        "pq_retrain_subspaces", subspaces, vectors, vec_col, id_col,
        sample, iters, check_coverage, base.codebooks,
        base.codes.select("nn_id", "pq_code"), ["nn_id"])
    write_pq_index(PqIndex(new_codes, new_books, id_col), path)


def ivfpq_retrain_subspaces(spark, path: str, subspaces, vectors,
                            vec_col: str = "embedding",
                            id_col: str = None, *,
                            sample: int = 2048, iters: int = 10,
                            check_coverage: bool = True) -> None:
    """The composite family's fine-codebook retrain — identical
    contract to :func:`pq_retrain_subspaces` (IVF-PQ encodes raw
    vectors under the same kernel, cf. :func:`ivfpq_index`), with the
    coarse side untouched: every entry keeps its ``centroid_id``
    bit-identically (coarse drift is :func:`ivf_drift_stats` /
    :func:`ivf_retrain_cells` territory), flagged PQ code slots
    re-encode under the re-fitted codebooks, cold slots and cold
    codebooks stream through unchanged.  The generation write
    repartitions by ``centroid_id`` (``write_ivfpq_index``), so probe
    partition pruning survives the retrain."""
    base = read_ivfpq_index(spark, path, id_col)
    new_books, new_entries = _retrain_subspaces_impl(
        "ivfpq_retrain_subspaces", subspaces, vectors, vec_col,
        base.id_col, sample, iters, check_coverage, base.codebooks,
        base.entries.select("centroid_id", "nn_id", "pq_code"),
        ["centroid_id", "nn_id"])
    write_ivfpq_index(
        IvfPqIndex(base.centroids, new_books, new_entries,
                   base.id_col), path)

"""Similarity search over embedding columns (`array<float>`).

* :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query set against the (huge) corpus; one map-side pass + a per-query
  top-k aggregation.  The baseline and the verifier for approximate paths.
* :func:`lsh_bucketed_topk` — random-hyperplane LSH: sign-bit signatures
  bucket the corpus; queries only score their bucket's candidates.  The
  100 TB path: candidate generation is an equality join on bucket keys, and
  the bucket index can be written once (bucketBy) and reused across query
  batches.
* :func:`embedding_dup_pairs` — cosine near-duplicate pairs (embedding
  dedup), LSH-bucketed the same way.

Dot products run as native ``zip_with``/``aggregate`` expressions
(JVM-side); no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


# shared with the dedup/decontam modules — one definition of the
# repartition-to-default-parallelism helper (vector-math stages are
# CPU-bound and inherit the scan's often-single split count)
from .dedup import _fan_out  # noqa: E402


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity between two array columns (cast to double)."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _topk_per_query(scored: DataFrame, k: int, query_id_col: str,
                    id_col: str) -> DataFrame:
    """The ``k`` highest-``sim`` rows per query, ties broken by ascending
    id — the deterministic tail every top-k search here shares."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k)
                  .drop("__rn"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, sim).

    ``queries`` must be small (it is broadcast); the corpus side streams —
    one scan, no corpus shuffle besides the final per-query top-k, which
    aggregates to k rows per query."""
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   F.col(vec_col).alias("__qvec")))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("__qvec")), 4)
    scored = (_fan_out(corpus).crossJoin(q)
              .filter(F.col(id_col) != F.col(query_id_col))
              .select(F.col(query_id_col), F.col(id_col), sim.alias("sim")))
    return _topk_per_query(scored, k, query_id_col, id_col)


def _hyperplane(dim: int, seed: int, planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy RNG state)."""
    out = []
    state = seed * 6364136223846793005 + 1442695040888963407
    for p in range(planes):
        row = []
        for d in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 16) % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


def _lcg_planes(dim: int, planes: int, seed: int, tables: int) -> list:
    """``tables`` LCG hyperplane matrices (dim x planes); table ``t`` is
    seeded ``seed + 7919 * t``."""
    return [np.array(_hyperplane(dim, seed + 7919 * t, planes),
                     dtype=np.float64).T
            for t in range(tables)]


def _md5_sign_planes(tables: int, planes: int, dim: int) -> list:
    """±1 (Rademacher) hyperplanes derived from md5 — a valid sign-random-
    projection family that BOTH engines can reproduce: component (t, p, d)
    is +1 iff the first hex char of ``md5(f"{t}_{p}_{d}")`` is >= '8'
    (Python hashlib, Spark ``md5()`` and DuckDB ``md5()`` agree on the hex
    string, so the oracle can rebuild the identical planes in SQL)."""
    import hashlib

    mats = []
    for t in range(tables):
        M = np.empty((dim, planes), dtype=np.float64)
        for p in range(planes):
            for d in range(dim):
                h = hashlib.md5(f"{t}_{p}_{d}".encode()).hexdigest()
                M[d, p] = 1.0 if h[0] >= "8" else -1.0
        mats.append(M)
    return mats


def _sign_udf(mats: list):
    """Vectorized pandas UDF over a list of (dim x planes) hyperplane
    matrices (:func:`_lcg_planes` or :func:`_md5_sign_planes`): vec ->
    ``array<long>``, one packed signature per table whose bit ``p`` is
    ``dot(vec, plane p) >= 0``.

    A Column-expression formulation would be tables*planes*dim literals —
    Catalyst analysis/codegen on that expression tree costs more than the
    query.  One Arrow batch + numpy matmul computes every table's signature
    in a single pass instead."""
    weights = (1 << np.arange(mats[0].shape[1], dtype=np.uint64))

    @F.pandas_udf("array<long>")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy()).astype(np.float64)          # N x dim
        per_table = []
        for P in mats:
            bits = (M @ P) >= 0                                # N x planes
            per_table.append((bits.astype(np.uint64) @ weights).astype(np.int64))
        S = np.stack(per_table, axis=1)                        # N x tables
        return pd.Series([row.tolist() for row in S])

    return sig


def _lsh_topk(corpus: DataFrame, queries: DataFrame, k: int, mats: list,
              probe_bits: int, id_col: str, vec_col: str,
              query_id_col: str) -> DataFrame:
    """The one LSH top-k core, for either plane family: per-table sign
    signatures (:func:`_sign_udf`), each query also probing its
    signature with each of the low ``probe_bits`` bits flipped, an
    equality join on (table, signature) against the broadcast queries,
    exact 4dp cosine rerank and the tie-broken per-query top-k."""
    sig = _sign_udf(mats)
    c = (_fan_out(corpus)
         .select(F.col(id_col), F.col(vec_col),
                 F.posexplode(sig(F.col(vec_col))).alias("__t", "__sig")))
    probes = F.array(F.col("__s0"),
                     *[F.col("__s0").bitwiseXOR(F.lit(1 << i))
                       for i in range(probe_bits)])
    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"),
                        F.posexplode(sig(F.col(vec_col))).alias("__t", "__s0"))
         .select(query_id_col, "__qvec", "__t",
                 F.explode(probes).alias("__sig")))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("__qvec")), 4)
    scored = (c.join(F.broadcast(q), ["__t", "__sig"])
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(F.col(query_id_col), F.col(id_col), sim.alias("sim"))
               .dropDuplicates([query_id_col, id_col]))
    return _topk_per_query(scored, k, query_id_col, id_col)


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      planes: int = 12, dim: int = 64, seed: int = 42,
                      tables: int = 4,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      multiprobe_bits: int = 1) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH + exact rerank
    (:func:`_lsh_topk` over seeded LCG planes).

    ``tables`` independent hash tables of ``planes`` bits each: a candidate
    must collide in >= 1 table (recall 1-(1-p^planes)^tables for per-bit
    agreement p = 1 - angle/pi).  ``multiprobe_bits=1`` additionally probes
    every Hamming-distance-1 signature per table.  The corpus index is
    ``tables`` rows per vector — the classic memory-for-recall trade; at
    scale, write it once with ``BucketedTap`` and reuse across query
    batches.  High recall requires genuinely-near neighbors (near-dup
    regime); on uniformly random vectors every LSH family degrades."""
    return _lsh_topk(corpus, queries, k, _lcg_planes(dim, planes, seed, tables),
                     planes if multiprobe_bits >= 1 else 0,
                     id_col, vec_col, query_id_col)


def lsh_bucketed_topk_md5(corpus: DataFrame, queries: DataFrame, k: int = 10,
                          planes: int = 8, dim: int = 64, tables: int = 4,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          query_id_col: str = "query_id") -> DataFrame:
    """:func:`lsh_bucketed_topk` over md5 Rademacher planes
    (:func:`_md5_sign_planes`), no multiprobe — every stage (bands,
    candidates, rounded rerank, tie-broken top-k) is reproducible in
    DuckDB, so the correctness gate can hash-check an APPROXIMATE index
    end-to-end."""
    return _lsh_topk(corpus, queries, k, _md5_sign_planes(tables, planes, dim),
                     0, id_col, vec_col, query_id_col)


def ivf_topk_md5(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 n_centroids: int = 16, n_probe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """Deterministic cross-engine IVF twin: centroids are the
    ``n_centroids`` corpus vectors with the smallest ``md5(id)`` (the
    unbiased hash-ordered sample), no Lloyd refinement; assignment/probing
    is cosine argmax with an id tie-break.  Fully NATIVE (no Python in the
    plan): centroids broadcast, one corpus pass for assignment — the same
    IVF partition-by-cell shape as :func:`ivf_topk`, expressible in SQL so
    the gate can hash-check it."""
    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    cents = F.broadcast(
        vecs.orderBy(F.md5(F.col(id_col).cast("string")))
            .limit(n_centroids)
            .select(F.col(id_col).alias("__cent_id"),
                    F.col(vec_col).alias("__cvec")))
    cos_c = cosine_expr(F.col(vec_col), F.col("__cvec"))
    w_assign = (Window.partitionBy(id_col)
                .orderBy(F.desc("__cos"), F.asc("__cent_id")))
    assign = (_fan_out(vecs).crossJoin(cents)
              .withColumn("__cos", cos_c)
              .withColumn("__rn", F.row_number().over(w_assign))
              .filter(F.col("__rn") == 1)
              .select(F.col(id_col), F.col(vec_col), F.col("__cent_id")))
    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    w_probe = (Window.partitionBy(query_id_col)
               .orderBy(F.desc("__cos"), F.asc("__cent_id")))
    probes = (qv.crossJoin(cents)
              .withColumn("__cos", cosine_expr(F.col("__qvec"), F.col("__cvec")))
              .withColumn("__rn", F.row_number().over(w_probe))
              .filter(F.col("__rn") <= n_probe)
              .select(F.col(query_id_col), F.col("__qvec"), F.col("__cent_id")))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("__qvec")), 4)
    scored = (assign.join(F.broadcast(probes), "__cent_id")
              .filter(F.col(id_col) != F.col(query_id_col))
              .select(F.col(query_id_col), F.col(id_col), sim.alias("sim")))
    return _topk_per_query(scored, k, query_id_col, id_col)


def hash_embed(df: DataFrame, dim: int = 64, text_col: str = "text",
               id_col: str = "doc_id", seed: str = "he0",
               out_col: str = "emb", use_arrow: bool = True) -> DataFrame:
    """Signed feature-hashing bag-of-words embeddings (Weinberger et al.
    2009, the hashing trick): a ``dim``-long integer vector per document
    where each whitespace token adds ±1 to the bucket
    ``md5(seed#token)[:8] mod dim`` (sign from the 9th hex digit).

    Creates the embedding COLUMN from raw text with ZERO shuffle — one
    vectorized map per row, CPU-bound and embarrassingly parallel, the
    correct 100 TB shape (the alternative explode + groupBy(doc, bucket)
    + reassemble pays two shuffles of the token stream).  All-integer
    arithmetic and md5 bucketing make the output exactly reproducible
    cross-engine, so the driver query gets a full value-hash gate —
    unusual for a featurizer.

    Two spellings of the same map, both partition-parallel: the DEFAULT
    is an Arrow-batched pass (hashlib.md5 == Spark md5 byte-for-byte);
    ``use_arrow=False`` is the all-native higher-order ``aggregate``
    fold — the SQL-replayable definition the oracle mirrors, but its
    per-token O(dim) array rebuild runs INTERPRETED (HOFs don't codegen)
    and measured ~5x slower at sf0.1 (8.5s -> ~1.5s) — the same
    interpreted-HOF-vs-Arrow trade the MinHash signature path hit in
    round 5.  Output equality is pytest-pinned over real docs.  Feed the
    result to :func:`random_project` / :func:`kmeans_assign` / the ANN
    family (cast to the float vector they expect).  NULL text embeds as
    NULL — coalesce upstream if zero vectors are wanted."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if use_arrow:
        import hashlib

        from .dedup import _JAVA_WS

        @F.pandas_udf("array<long>")
        def _he(texts: pd.Series) -> pd.Series:
            def one(t):
                if t is None:
                    return None
                # byte-for-byte the native _tokens stream: SQL trim strips
                # ASCII spaces only, then the Java \s split (NO lower —
                # unlike _java_ws_tokens)
                t = t.strip(" ")
                toks = [] if t == "" else _JAVA_WS.split(t)
                v = [0] * dim
                for tk in toks:
                    h = hashlib.md5(
                        (seed + "#" + tk).encode("utf-8")).hexdigest()
                    v[int(h[:8], 16) % dim] += \
                        1 if h[8] in "01234567" else -1
                return v
            return texts.map(one)

        # the Arrow pass inherits the scan's split count — one local file
        # = one python worker without the fan-out (measured 6.1s -> 0.9s
        # at sf0.1; on a well-split 100 TB read _fan_out is a no-op)
        return _fan_out(df).withColumn(out_col, _he(F.col(text_col)))
    from .text import _tokens
    zero = F.array_repeat(F.lit(0).cast("long"), dim)

    def upd(acc, t):
        h = F.md5(F.concat(F.lit(seed + "#"), t))
        b = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                   F.lit(dim))
        s = (F.when(F.substring(h, 9, 1)
                    .isin(*"01234567"), F.lit(1))
             .otherwise(F.lit(-1))).cast("long")
        return F.transform(acc, lambda v, i: v + F.when(i == b, s)
                                                  .otherwise(F.lit(0)))

    return df.withColumn(out_col,
                         F.aggregate(_tokens(F.col(text_col)), zero, upd))


def _argmax_cosine(vec: Column,
                   centroids: list[list[float]] | Column) -> Column:
    """``struct<c:int, cos:double>`` — cosine argmax over a LITERAL
    centroid array, as one map-side higher-order ``aggregate`` fold: a
    strict ``>`` in index order reproduces "ORDER BY cos DESC, cluster
    ASC" exactly (first maximum wins ties), with no crossJoin row
    explosion and no Window-partitionBy corpus shuffle.  Pure codegen —
    usable in any projection, including a STREAMING one.

    Each cosine is computed ONCE: the fold runs over a pre-transformed
    ``(c, cos)`` struct array, not the raw centroids, so the dominant
    per-row cost of a Lloyd round / assign pass is k cosines, not 2k
    (higher-order functions run interpreted — the duplicate eval was
    measurable).  A vector with a NULL element yields NULL cosines and
    the fold keeps the ``c = -1`` sentinel — callers that feed the
    result into positional updates MUST reject ``c < 0`` (see
    :func:`kmeans_md5`).

    ``centroids`` may also be an ``array<array<double>>`` COLUMN
    (cluster index = element index) — the fused-Lloyd path
    (round 15) computes round r+1's centroids in-plan and feeds them
    here without a driver round trip; the fold is identical either
    way."""
    cents_arr = centroids if isinstance(centroids, Column) else \
        F.array(*[F.lit(v).cast("array<double>") for v in centroids])
    scored = F.transform(
        cents_arr,
        lambda v, i: F.struct(i.alias("c"),
                              cosine_expr(vec, v).alias("cos")))
    return F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("c"),
                 F.lit(float("-inf")).alias("cos")),
        lambda acc, x: F.when(x["cos"] > acc["cos"], x).otherwise(acc))


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding",
                  cluster_col: str = "cluster",
                  sim_col: str = "sim") -> DataFrame:
    """Assign every row to its nearest (cosine) centroid: all original
    columns plus (``cluster_col``, ``sim_col`` rounded to 4dp).

    A STATELESS map-side projection — no join, no shuffle, no state — so
    it runs unchanged on a Structured Streaming frame: train centroids
    once in batch (:func:`kmeans` / :func:`_kmeans_centroids`), then
    route a 100 TB/day embedding stream through this as the inference
    path (streaming parity pinned in ``tests/test_streaming.py``)."""
    best = _argmax_cosine(F.col(vec_col).cast("array<double>"),
                          centroids)
    return (df.withColumn("__best", best)
              .withColumn(cluster_col, F.col("__best.c"))
              .withColumn(sim_col, F.round(F.col("__best.cos"), 4))
              .drop("__best"))


def kmeans(corpus: DataFrame, k: int = 8, dim: int = 64,
           sample_iterations: int = 3, refine_iterations: int = 1,
           id_col: str = "vec_id",
           vec_col: str = "embedding") -> DataFrame:
    """Production spherical k-means over the full corpus: Lloyd-train on
    a deterministic hash SAMPLE (:func:`_kmeans_centroids` — FAISS-style
    bounded driver fit), optionally refine with distributed full-corpus
    passes (:func:`_refine_centroids_distributed` — k·dim partial-agg
    reductions, no driver data), then assign every row with the map-only
    literal-centroid argmax (:func:`kmeans_assign`).

    The evidence twin :func:`kmeans_md5` (hash-seeded, integer-scaled,
    fully SQL-replayable) carries the correctness gate; this path trades
    its bit-reproducibility for Lloyd-trained centroid quality — the same
    twin split as ivf_topk / ivf_topk_md5.  Note the trainers L2-normalize
    internally, so assignment similarity is computed against UNIT
    centroids; cosine is scale-invariant on the row side."""
    cent = _kmeans_centroids(corpus, k=k, dim=dim, vec_col=vec_col,
                             iterations=sample_iterations, id_col=id_col)
    if refine_iterations:
        cent = _refine_centroids_distributed(corpus, cent, vec_col,
                                             iterations=refine_iterations)
    return kmeans_assign(_fan_out(corpus), [list(map(float, c))
                                            for c in cent],
                         vec_col=vec_col)


def kmeans_md5(corpus: DataFrame, k: int = 8, iterations: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               scale: int = 1_000_000) -> DataFrame:
    """Deterministic cross-engine spherical k-means: full-corpus Lloyd
    iterations whose EVERY intermediate is bit-reproducible in ANSI SQL,
    so the final assignment passes a value-hash gate — the evidence twin
    for the library's iterative clustering (the production Lloyd paths,
    :func:`_kmeans_centroids` + :func:`_refine_centroids_distributed`,
    stay float-sampled and serve :func:`ivf_topk`).

    Determinism recipe (the parts a naive port gets wrong):

    * vectors are INTEGER-scaled up front (``round(x * scale)`` as long) —
      per-cluster dimension sums are then exact integers, ORDER-FREE in
      both engines, and the centroid mean ``sum / count`` is one division
      of two exactly-representable integers: bit-identical doubles with no
      ordered-fold gymnastics in the update step.  Cosine is
      scale-invariant, so assignments equal the unscaled ones.
    * init = the ``k`` vectors with the smallest ``md5(id)`` (the same
      hash-ordered unbiased sample as :func:`ivf_topk_md5`), cluster label
      = md5 rank.
    * assignment = cosine argmax with a cluster-index tie-break, the
      convention the whole ann family gates under — computed as a MAP-ONLY
      higher-order ``aggregate`` over a literal centroid array (a strict
      ``>`` fold in index order IS "ORDER BY cos DESC, cluster ASC"), so a
      Lloyd round never shuffles the corpus: the only exchange per round
      is the k·dim partial-aggregated sum/count reduction.
    * an emptied cluster keeps its previous centroid (replayed identically
      by the oracle).

    Each iteration is one distributed assign pass (centroids broadcast,
    map-side argmax) + one ``posexplode`` partial-agg reduction; the only
    driver pull is k·dim sum/count rows per iteration (~512 values) — the
    same bounded k·dim contract as the IVF/PQ trainers.  At 100 TB this IS
    the standard distributed Lloyd: O(scan) per iteration, no all-pairs,
    no driver-side data.

    Returns (id_col, cluster, sim) — the final assignment after
    ``iterations`` centroid updates, sim rounded to 4dp."""
    vecs, cents = _kmeans_md5_fit(corpus, k, iterations, id_col,
                                  vec_col, scale)
    best = _argmax_cosine(F.col("__dv"), cents)
    return (vecs.withColumn("__best", best)
            .select(F.col(id_col),
                    F.col("__best.c").alias("cluster"),
                    F.round(F.col("__best.cos"), 4).alias("sim")))


def _kmeans_md5_fit(corpus: DataFrame, k: int, iterations: int,
                    id_col: str, vec_col: str,
                    scale: int) -> tuple:
    """The Lloyd fit behind :func:`kmeans_md5`, shared with
    :func:`cluster_silhouette`: returns ``(vecs, cents)`` — the
    integer-scaled pinned vector frame (columns id, __sv, __dv) and
    the final k x dim centroid list (driver-side, the bounded k·dim
    contract).  Every determinism property documented on kmeans_md5
    lives here."""
    sv = F.transform(F.col(vec_col).cast("array<double>"),
                     lambda x: F.round(x * scale, 0).cast("long"))
    # localCheckpoint, not persist(): the scaled-vector frame is re-read by
    # every Lloyd round plus the final assignment, and block lifetime then
    # follows this frame's GC instead of piling up in the CacheManager
    # (the round-8 hygiene convention; see test_round8_hygiene.py)
    vecs = (_fan_out(corpus)
            .select(F.col(id_col), sv.alias("__sv"))
            .withColumn("__dv", F.col("__sv").cast("array<double>"))
            .localCheckpoint(eager=False))
    seeds = (vecs.orderBy(F.md5(F.col(id_col).cast("string")))
                 .limit(k)
                 .select("__sv")
                 .collect())
    # centroid state lives on the driver between iterations: k x dim
    # doubles, nothing else ever leaves the executors
    cents: list[list[float]] = []
    for r in seeds:
        if r["__sv"] is None or any(x is None for x in r["__sv"]):
            raise ValueError(
                f"kmeans_md5: seed vector has NULL elements — {vec_col} "
                "must be non-null end-to-end; filter or impute first")
        cents.append([float(x) for x in r["__sv"]])

    def assign_to(c):
        return (vecs.withColumn("__best",
                                _argmax_cosine(F.col("__dv"), c))
                .select(F.col(id_col), "__sv",
                        F.col("__best.c").alias("__cluster"),
                        F.col("__best.cos").alias("__cos")))

    def round_agg(assigned):
        return (assigned
                .select("__cluster", F.posexplode("__sv").alias("__p", "__v"))
                .groupBy("__cluster", "__p")
                .agg(F.sum("__v").alias("__s"),
                     F.count(F.lit(1)).alias("__n")))

    def apply_rows(rows, base):
        nxt = [list(c) for c in base]           # empty cluster keeps its own
        for r in rows:
            if r["__cluster"] is None or r["__cluster"] < 0:
                # a NULL vector element makes every cosine NULL and the
                # argmax fold keeps its -1 sentinel; without this guard
                # Python negative indexing would silently corrupt cluster
                # k-1's centroid.  Vectors must be non-null end-to-end
                # (same contract as global_rank's scores).  On the fused
                # path below the guard still fires at construction: a
                # NULL element poisons EVERY round's assignment, so the
                # collected (second) round's summary carries the -1 row.
                raise ValueError(
                    f"kmeans_md5: unassigned rows (cluster "
                    f"{r['__cluster']}) — {vec_col} contains NULL "
                    "elements; filter or impute them first")
            # exact-int / exact-int: the same correctly-rounded double the
            # oracle's BIGINT / BIGINT division produces
            nxt[r["__cluster"]][r["__p"]] = r["__s"] / r["__n"]
        return nxt

    # Round-15 adjudication (VERDICT r14 Next #4 — measured prototype,
    # REVERTED): Lloyd rounds fused in pairs — round A's k·dim summary
    # pinned and folded IN-PLAN into a single-row
    # map<cluster*dim+pos, mean>, projected to the k×dim array on the
    # broadcast side, crossJoined onto the pinned vectors, round B
    # assigning against the array COLUMN (the :func:`_argmax_cosine`
    # Column form), both rounds' summaries returned by ONE tagged-union
    # collect (rounds/2 driver trips + plans).  Output bit-identical
    # (pinned by test_round15_opt.py's reference-loop test, oracle
    # PASS at sf0.01/sf0.1).  Serialized alternating A/B at sf0.1
    # (3 fixed-code pairs): kmeans 2.39->2.50, silhouette 2.42->2.85,
    # topic_quota 3.45->4.29 best-of-passes — FLAT TO SLOWER.  The
    # saved collect round trip is ~100 ms, while the fused plan adds an
    # aggA localCheckpoint boundary (eager toRdd planning + block
    # materialization), a broadcast build, and a bigger union plan; a
    # first variant that referenced the map-to-array rebuild THROUGH
    # the crossJoin re-ran k*dim interpreted map lookups per corpus
    # row (silhouette +25%) — moving it to the single-row side only
    # recovered to flat-minus.  At 100 TB both spellings are two full
    # corpus passes per pair and the collect latency is noise, so
    # there is no scale argument either: the per-round collect loop
    # below stays.
    for _ in range(iterations):
        rows = round_agg(assign_to(cents)).collect()
        cents = apply_rows(rows, cents)
    return vecs, cents


def _top2_cosine(vec: Column, centroids: list[list[float]]) -> Column:
    """``struct<c:int, cos1:double, cos2:double>`` — the best and
    second-best cosine over a LITERAL centroid array, one map-side
    fold (the :func:`_argmax_cosine` recipe extended to a top-2
    accumulator): strict ``>`` at both slots in index order keeps
    the first maximum as ``c`` and the multiset's second-largest
    value as ``cos2`` — exactly the (cos DESC, cluster ASC) rn = 2
    row.  Each cosine is computed once (pre-transformed struct
    array)."""
    scored = F.transform(
        F.array(*[F.lit(v).cast("array<double>")
                  for v in centroids]),
        lambda v, i: F.struct(i.alias("c"),
                              cosine_expr(vec, v).alias("cos")))
    init = F.struct(F.lit(-1).alias("c"),
                    F.lit(float("-inf")).alias("cos1"),
                    F.lit(float("-inf")).alias("cos2"))
    return F.aggregate(
        scored, init,
        lambda acc, x: F.when(
            x["cos"] > acc["cos1"],
            F.struct(x["c"].alias("c"), x["cos"].alias("cos1"),
                     acc["cos1"].alias("cos2")))
        .when(x["cos"] > acc["cos2"],
              F.struct(acc["c"].alias("c"), acc["cos1"].alias("cos1"),
                       x["cos"].alias("cos2")))
        .otherwise(acc))


def cluster_silhouette(corpus: DataFrame, k: int = 8,
                       iterations: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       scale: int = 1_000_000) -> DataFrame:
    """Per-cluster clustering-quality scorecard for the
    :func:`kmeans_md5` evidence twin: ``(cluster, n, mean_sil_x,
    min_sil_x)`` — the centroid-based SIMPLIFIED silhouette on
    cosine distance (``s = (cos_own - cos_next) / (1 - cos_next)``
    per point, the medoid-free variant that needs NO pairwise
    distances) — "which topics are tight, which are smeared into
    their neighbour" before cluster labels drive mixture weights or
    a topic_quota.

    Determinism: rides the shared Lloyd fit (integer-scaled vectors
    make every dot product an EXACT integer inside a double — that
    is why the unrounded cosines are bit-identical cross-engine —
    and the centroid means exact-int/exact-int divisions); per point
    ONE top-2 fold over the literal centroids gives ``cos_own``
    (assignment-consistent: strict-``>`` index order) and
    ``cos_next``, the per-point silhouette rounds ONCE to 1e-6
    (identical expression spelling; a duplicate centroid's
    ``1 - cos_next = 0`` shorts to 0 in a CASE), and the per-cluster
    mean is one exact-integer truncating DIV.  s is in [0, 1e6] by
    the argmax (cos_own >= cos_next), so no negative operands.

    Scale shape: the Lloyd fit's per-round scan + k·dim reduction;
    then ONE more map-side fold pass + one partial-agg groupBy onto
    k rows.  Driver state stays k x dim."""
    if k < 2:
        # with a single centroid _top2_cosine's cos2 stays -inf and
        # (c1 - c2) / (1 - c2) is NaN — the silhouette is undefined
        # for k = 1, so fail loudly instead of emitting nulls.
        raise ValueError(f"cluster_silhouette requires k >= 2, got {k}")
    vecs, cents = _kmeans_md5_fit(corpus, k, iterations, id_col,
                                  vec_col, scale)
    t2 = _top2_cosine(F.col("__dv"), cents)
    rows = (vecs.withColumn("__t", t2)
            .select(F.col("__t.c").alias("cluster"),
                    F.col("__t.cos1").alias("__c1"),
                    F.col("__t.cos2").alias("__c2")))
    sx = (F.when(F.lit(1.0) - F.col("__c2") == 0,
                 F.lit(0).cast("long"))
          .otherwise(F.round((F.col("__c1") - F.col("__c2"))
                             / (F.lit(1.0) - F.col("__c2"))
                             * 1_000_000, 0).cast("long")))
    return (rows.withColumn("__sx", sx)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.col("__sx").cast("decimal(38,0)"))
                  .alias("__ss"),
                 F.min("__sx").cast("long").alias("min_sil_x"))
            .select("cluster", "n",
                    F.expr("CAST(__ss DIV n AS BIGINT)")
                     .alias("mean_sil_x"),
                    "min_sil_x"))


def ndcg_at_k(results: DataFrame, qrels: DataFrame, k: int = 10,
              query_id_col: str = "query_id", id_col: str = "vec_id",
              sim_col: str = "sim", rel_col: str = "rel",
              scale: int = 1_000_000) -> DataFrame:
    """NDCG@k of a ranked candidate list against graded relevance
    judgments: ``(query_id, dcg_x, idcg_x, ndcg_x1e6)`` — the graded
    companion of the ann_recall evidence query (recall counts hits,
    NDCG weights them by rank, the standard retrieval-quality gate
    before an index ships).

    Integer-exact recipe: the rank discounts ``1/log2(i+1)`` are
    precomputed in PYTHON once and embedded as k BOUNDED LITERAL longs
    (``round(scale/log2(i+1))``) on BOTH engines — no engine log()
    in the plan, so no float drift; ``dcg_x = sum(rel_i * w_i)`` and
    ``idcg_x`` (the same weights over the query's top-k judgments by
    (rel DESC, id ASC)) are exact long sums, and ``ndcg_x1e6`` is one
    truncating division.  Candidate ranks come from (sim DESC, id ASC)
    — the rrf_fuse convention; unjudged candidates score rel 0 (left
    join); queries with no positive judgment (idcg 0) are EXCLUDED
    (NDCG undefined), documented like classifier_auc's one-class
    groups.  A query that HAS positive judgments but zero rows in
    ``results`` (the index returned nothing) scores ndcg 0, not
    dropped — dcg joins onto idcg from the RIGHT, so an empty
    retrieval can't silently inflate the reported quality.
    ``qrels`` must be unique per (query, id) — a duplicate
    judgment would double-join its candidate row (same contract as
    every relevance-table consumer here).

    Scale shape: two bounded per-query windows (top-k of each side's
    list), one left join on (query, id), one partial-agg groupBy — no
    cross joins, no driver pulls beyond the k-long weight literal."""
    if k < 1:
        raise ValueError("k must be >= 1")
    import math
    weights = [int(round(scale / math.log2(i + 1)))
               for i in range(1, k + 1)]
    w_lit = F.array(*[F.lit(w).cast("long") for w in weights])
    wr = (Window.partitionBy(query_id_col)
          .orderBy(F.desc(sim_col), F.asc(id_col)))
    ranked = (results.withColumn("__r", F.row_number().over(wr))
              .filter(F.col("__r") <= k)
              .select(query_id_col, id_col, "__r"))
    judged = qrels.select(query_id_col, id_col,
                          F.col(rel_col).cast("long").alias("__rel"))
    dcg = (ranked.join(judged, [query_id_col, id_col], "left")
           .withColumn("__g", F.coalesce(F.col("__rel"), F.lit(0))
                       * F.element_at(w_lit, F.col("__r")))
           .groupBy(query_id_col)
           .agg(F.sum("__g").cast("long").alias("dcg_x")))
    wi = (Window.partitionBy(query_id_col)
          .orderBy(F.desc("__rel"), F.asc(id_col)))
    idcg = (judged.withColumn("__r", F.row_number().over(wi))
            .filter(F.col("__r") <= k)
            .withColumn("__g", F.col("__rel")
                        * F.element_at(w_lit, F.col("__r")))
            .groupBy(query_id_col)
            .agg(F.sum("__g").cast("long").alias("idcg_x")))
    return (dcg.join(idcg, query_id_col, "right")
            .filter(F.col("idcg_x") > 0)
            .select(query_id_col,
                    F.coalesce(F.col("dcg_x"), F.lit(0).cast("long"))
                     .alias("dcg_x"), F.col("idcg_x"))
            .select(query_id_col, "dcg_x", "idcg_x",
                    F.expr(f"dcg_x * {int(scale)} DIV idcg_x")
                     .cast("long").alias("ndcg_x1e6")))


def mrr_at_k(results: DataFrame, qrels: DataFrame, k: int = 10,
             query_id_col: str = "query_id", id_col: str = "vec_id",
             sim_col: str = "sim", rel_col: str = "rel",
             rel_threshold: int = 1,
             scale: int = 1_000_000) -> DataFrame:
    """MRR@k of a ranked candidate list against relevance judgments:
    ``(query_id, first_rel_rank, mrr_x1e6)`` — with :func:`ndcg_at_k`
    and :func:`recall_at_k` the standard retrieval-eval triple every
    index/hard-negative pipeline reports.  ``mrr_x1e6 = scale DIV
    first_rel_rank`` where ``first_rel_rank`` is the rank (1-based,
    (sim DESC, id ASC) order — the rrf_fuse convention) of the FIRST
    candidate judged relevant (``rel >= rel_threshold``) within the
    top k; a judged query none of whose relevant docs were retrieved
    reports ``first_rel_rank 0, mrr 0`` (the ndcg right-join
    convention — empty retrievals can't inflate the eval).  Output
    rows: every query with >= 1 relevant judgment.  ``qrels`` must be
    unique per (query, id) — the shared relevance-table contract.

    Integer-exact: one truncating DIV of the bounded rank — no
    floats anywhere.  Scale shape: one bounded per-query window over
    ``results``, one equi-join onto the (filtered) positive
    judgments, two partial-agg groupBys — no cross joins, no driver
    pulls."""
    if k < 1:
        raise ValueError("k must be >= 1")
    wr = (Window.partitionBy(query_id_col)
          .orderBy(F.desc(sim_col), F.asc(id_col)))
    ranked = (results.withColumn("__r", F.row_number().over(wr))
              .filter(F.col("__r") <= k)
              .select(query_id_col, id_col, "__r"))
    pos = (qrels.filter(F.col(rel_col) >= int(rel_threshold))
           .select(query_id_col, id_col))
    nrel = pos.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nrel"))
    first = (ranked.join(pos, [query_id_col, id_col])
             .groupBy(query_id_col)
             .agg(F.min("__r").cast("long").alias("__fr")))
    return (nrel.join(first, query_id_col, "left")
            .select(query_id_col,
                    F.coalesce(F.col("__fr"), F.lit(0).cast("long"))
                     .alias("first_rel_rank"),
                    F.when(F.col("__fr").isNotNull(),
                           F.expr(f"{int(scale)} DIV __fr"))
                     .otherwise(F.lit(0)).cast("long")
                     .alias("mrr_x1e6")))


def recall_at_k(results: DataFrame, qrels: DataFrame, k: int = 10,
                query_id_col: str = "query_id", id_col: str = "vec_id",
                sim_col: str = "sim", rel_col: str = "rel",
                rel_threshold: int = 1,
                scale: int = 1_000_000) -> DataFrame:
    """Recall@k of a ranked candidate list against relevance
    judgments: ``(query_id, n_hit, n_rel, recall_x1e6)`` with
    ``recall_x1e6 = n_hit * scale DIV n_rel`` — plain recall (hits
    over ALL relevant, not over min(n_rel, k); a query with more
    relevant docs than k therefore cannot reach 1e6, which is the
    honest spelling when k is the serving budget).  Ranks, the
    ``rel >= rel_threshold`` positive set, the right-anchored
    judged-but-unretrieved-scores-0 convention and the qrels
    uniqueness contract are shared with :func:`mrr_at_k` /
    :func:`ndcg_at_k`.  Scale shape identical to mrr_at_k."""
    if k < 1:
        raise ValueError("k must be >= 1")
    wr = (Window.partitionBy(query_id_col)
          .orderBy(F.desc(sim_col), F.asc(id_col)))
    ranked = (results.withColumn("__r", F.row_number().over(wr))
              .filter(F.col("__r") <= k)
              .select(query_id_col, id_col))
    pos = (qrels.filter(F.col(rel_col) >= int(rel_threshold))
           .select(query_id_col, id_col))
    nrel = pos.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"))
    hits = (ranked.join(pos, [query_id_col, id_col])
            .groupBy(query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__nh")))
    return (nrel.join(hits, query_id_col, "left")
            .select(query_id_col,
                    F.coalesce(F.col("__nh"), F.lit(0).cast("long"))
                     .alias("n_hit"), F.col("n_rel"))
            .select(query_id_col, "n_hit", "n_rel",
                    F.expr(f"n_hit * {int(scale)} DIV n_rel")
                     .cast("long").alias("recall_x1e6")))


def precision_at_k(results: DataFrame, qrels: DataFrame, k: int = 10,
                   query_id_col: str = "query_id",
                   id_col: str = "vec_id",
                   sim_col: str = "sim", rel_col: str = "rel",
                   rel_threshold: int = 1,
                   scale: int = 1_000_000) -> DataFrame:
    """Precision@k of a ranked candidate list against relevance
    judgments: ``(query_id, n_hit, n_ret, precision_x1e6)`` with
    ``precision_x1e6 = n_hit * scale DIV k`` — hits over the
    serving BUDGET k, not over the rows actually returned (an index
    that retrieves 3 of k=10 and hits all 3 earns 0.3, not 1.0 —
    the honest spelling when k is what the user sees; ``n_ret``
    reports the actual return count so the short-retrieval case is
    visible).  Ranks, the ``rel >= rel_threshold`` positive set,
    the right-anchored judged-but-unretrieved-scores-0 convention
    and the qrels uniqueness contract are shared with
    :func:`mrr_at_k` / :func:`recall_at_k` / :func:`ndcg_at_k` —
    the four together are the standard index scorecard.  Scale
    shape identical to recall_at_k (one bounded window, one
    equi-join, two partial aggs)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    wr = (Window.partitionBy(query_id_col)
          .orderBy(F.desc(sim_col), F.asc(id_col)))
    ranked = (results.withColumn("__r", F.row_number().over(wr))
              .filter(F.col("__r") <= k)
              .select(query_id_col, id_col))
    ranked = ranked.localCheckpoint(eager=False)
    pos = (qrels.filter(F.col(rel_col) >= int(rel_threshold))
           .select(query_id_col, id_col))
    judged = pos.select(query_id_col).distinct()
    nret = ranked.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nr"))
    hits = (ranked.join(pos, [query_id_col, id_col])
            .groupBy(query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__nh")))
    return (judged.join(nret, query_id_col, "left")
            .join(hits, query_id_col, "left")
            .select(query_id_col,
                    F.coalesce(F.col("__nh"), F.lit(0).cast("long"))
                     .alias("n_hit"),
                    F.coalesce(F.col("__nr"), F.lit(0).cast("long"))
                     .alias("n_ret"))
            .select(query_id_col, "n_hit", "n_ret",
                    F.expr(f"n_hit * {int(scale)} DIV {int(k)}")
                     .cast("long").alias("precision_x1e6")))


def kcenter_select(corpus: DataFrame, k: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 1_000_000) -> DataFrame:
    """Gonzalez farthest-point k-center selection over an embedding
    column — the classic 2-approximation coreset / diverse-subset
    sampler (pick the point farthest from everything picked so far, k
    times): the "maximize coverage, not volume" counterpart of
    :func:`semdedup_pairs`' near-dup REMOVAL when curating a training
    subset.

    Returns the full assignment ``(id_col, center, center_rank,
    dist_x)``: every point's nearest selected center (its id, its
    1-based selection rank) and the exact integer squared-L2 distance
    to it — the selected subset itself is the ``dist_x = 0 AND center
    = id`` slice... more precisely the k rows with ``center_rank`` of
    their own id (centers are distance 0 from themselves).

    Determinism recipe (the :func:`kmeans_md5` conventions):

    * vectors integer-scaled up front (``round(x * scale)`` long), so
      squared-L2 is EXACT long arithmetic (64 dims x (2e6)^2 ~ 2.6e14,
      well under 2^63) — no float folds anywhere;
    * the first center is the md5-minimal row (hash-ordered init);
    * each round the next center is ``ORDER BY dmin DESC, id ASC LIMIT
      1`` — the id tie-break makes saturated/duplicate corpora replay;
    * the running nearest-center update uses STRICT ``<`` so ties keep
      the EARLIER center (selection order = index order, the
      ``_argmax_cosine`` convention).

    Scale shape: per round one map-only ``zip_with``/``aggregate``
    distance fold against the ONE new center (a broadcast literal) +
    one TakeOrderedAndProject argmax; the only driver state is k
    centers (k·dim, the bounded trainer contract) and the per-round
    label frame is pinned (localCheckpoint) like pagerank's.  Vectors
    must be non-null end-to-end."""
    if k < 1:
        raise ValueError("k must be >= 1")
    sv = F.transform(F.col(vec_col).cast("array<double>"),
                     lambda x: F.round(x * scale, 0).cast("long"))
    vecs = (_fan_out(corpus)
            .select(F.col(id_col), sv.alias("__sv"))
            .localCheckpoint(eager=False))
    first = (vecs.orderBy(F.md5(F.col(id_col).cast("string")))
             .limit(1).collect())
    if not first:
        raise ValueError("kcenter_select: empty corpus")
    if first[0]["__sv"] is None or any(x is None
                                       for x in first[0]["__sv"]):
        raise ValueError(
            f"kcenter_select: vector has NULL elements — {vec_col} "
            "must be non-null end-to-end; filter or impute first")

    def d2_to(cvec):
        lit = F.array(*[F.lit(int(x)).cast("long") for x in cvec])
        return F.aggregate(
            F.zip_with("__sv", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    cur_id, cur_vec = first[0][id_col], list(first[0]["__sv"])
    d = (vecs.withColumn("__dmin", d2_to(cur_vec))
         .withColumn("__center", F.lit(cur_id))
         .withColumn("__rank", F.lit(1).cast("long"))
         .localCheckpoint(eager=False))
    for i in range(2, int(k) + 1):
        far = (d.orderBy(F.desc("__dmin"), F.asc(id_col))
               .limit(1).select(id_col, "__sv").collect())
        cur_id, cur_vec = far[0][id_col], list(far[0]["__sv"])
        nd = d2_to(cur_vec)
        closer = nd < F.col("__dmin")   # strict: ties keep the earlier
        d = (d.withColumn("__nd", nd)
             .select(id_col, "__sv",
                     F.when(closer, F.col("__nd"))
                      .otherwise(F.col("__dmin")).alias("__dmin"),
                     F.when(closer, F.lit(cur_id))
                      .otherwise(F.col("__center")).alias("__center"),
                     F.when(closer, F.lit(i).cast("long"))
                      .otherwise(F.col("__rank")).alias("__rank"))
             .localCheckpoint(eager=False))
    return d.select(F.col(id_col), F.col("__center").alias("center"),
                    F.col("__rank").alias("center_rank"),
                    F.col("__dmin").alias("dist_x"))


def embedding_dup_pairs(df: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        planes: int = 8, dim: int = 64, seed: int = 7,
                        exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, sim), id_a < id_b.

    ``exact=True`` does the all-pairs join (oracle-checkable; quadratic —
    test scale only).  Default uses LSH buckets: pairs must share a
    signature, making it linear-ish in bucket sizes at scale."""
    fanned = _fan_out(df)
    left = fanned.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    right = fanned.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        cand = left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))
    else:
        # multi-table signatures via one vectorized UDF pass, reused by both
        # join sides
        sig_udf = _sign_udf(_lcg_planes(dim, planes, seed, tables=4))
        sig = (_fan_out(df)
               .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                       F.posexplode(sig_udf(F.col(vec_col))).alias("__t", "__sig"))
               .localCheckpoint(eager=False))
        lb = sig.toDF("id_a", "va", "__t", "__sig")
        rb = sig.toDF("id_b", "vb", "__t", "__sig")
        cand = (lb.join(rb, ["__t", "__sig"])
                .filter(F.col("id_a") < F.col("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
    sim = F.round(cosine_expr(F.col("va"), F.col("vb")), 4)
    return (cand.select("id_a", "id_b", sim.alias("sim"))
                .filter(F.col("sim") >= threshold)
                .dropDuplicates(["id_a", "id_b"]))


def _kmeans_centroids(corpus: DataFrame, k: int, dim: int,
                      vec_col: str, iterations: int = 3,
                      sample_cap: int = 4096,
                      id_col: str | None = None) -> "np.ndarray":
    """Deterministic Lloyd iterations on a driver-side sample.

    Centroid fitting needs only a representative sample (standard IVF
    practice even at billion scale — FAISS trains on ~256 vectors per
    centroid); the sample is bounded (``sample_cap``) so the driver memory
    stays O(k*dim + cap*dim).  Assignment of the full corpus stays
    distributed.

    The sample is a DETERMINISTIC HASH sample, not ``limit()``: limit takes
    the first scanned partitions — at 100 TB that's one file, and centroids
    fit a biased slice (recall silently degrades).  Hashing the id (or the
    vector bytes) spreads the sample uniformly over the corpus and is
    rerun-stable."""
    hash_src = F.col(id_col) if id_col else F.col(vec_col).cast("string")
    sample = np.array(
        [r[0] for r in (corpus
                        .select(vec_col, F.md5(hash_src.cast("string")).alias("__hk"))
                        .orderBy("__hk")
                        .limit(sample_cap)
                        .select(vec_col)
                        .collect())],
        dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.clip(norms, 1e-12, None)
    # deterministic init: evenly spaced sample rows
    idx = np.linspace(0, len(sample) - 1, k).astype(int)
    cent = sample[idx].copy()
    for _ in range(iterations):
        sims = sample @ cent.T                     # cosine on normalized
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _refine_centroids_distributed(corpus: DataFrame, cent: "np.ndarray",
                                  vec_col: str,
                                  iterations: int = 1) -> "np.ndarray":
    """Distributed Lloyd passes over the FULL corpus (not the sample).

    Each pass: assignment is a vectorized-UDF map (broadcasting the k×dim
    centroid matrix in the closure); the per-cell means reduce via
    ``posexplode`` + ``groupBy(cell, dim_index)`` — map-side partial
    aggregation means the shuffle carries at most k·dim partial sums per
    partition, and only k·dim final rows (~1k) reach the driver.  This is
    the standard distributed k-means formulation: O(scan) per pass, no
    driver-side data, safe at any corpus size."""
    for _ in range(iterations):
        C = cent

        @F.pandas_udf("struct<c:int, nv:array<double>>")
        def assign_norm(v: pd.Series) -> pd.DataFrame:
            M = np.stack(v.to_numpy()).astype(np.float64)
            M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True),
                            1e-12, None)
            cells = (M @ C.T).argmax(axis=1).astype("int32")
            return pd.DataFrame({"c": cells, "nv": list(M)})

        a = corpus.select(assign_norm(F.col(vec_col)).alias("s")) \
                  .select(F.col("s.c").alias("c"),
                          F.posexplode("s.nv").alias("i", "v"))
        rows = (a.groupBy("c", "i")
                 .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                 .collect())
        cent = cent.copy()
        sums = np.zeros_like(cent)
        counts = np.zeros(len(cent))
        for r in rows:
            sums[r["c"], r["i"]] = r["s"]
            counts[r["c"]] = r["n"]          # same count for every dim
        for c in range(len(cent)):
            if counts[c]:
                m = sums[c] / counts[c]
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             refine_iterations: int = 0) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer
    partitions the corpus into ``n_centroids`` cells; each query scores only
    its ``n_probe`` nearest cells' vectors.

    The scale path complementing LSH: cell assignment is one broadcast-free
    vectorized UDF pass; the cell column is a natural partition/bucket key,
    so at 100 TB the index is written once partitioned by cell and each
    query batch touches n_probe/n_centroids of the data.

    ``refine_iterations > 0`` runs that many distributed Lloyd passes over
    the FULL corpus after the sample-based init
    (:func:`_refine_centroids_distributed`) — one extra scan per pass,
    recommended when cell balance matters more than index-build time."""
    cent = _kmeans_centroids(corpus, n_centroids, dim, vec_col, id_col=id_col)
    if refine_iterations:
        cent = _refine_centroids_distributed(corpus, cent, vec_col,
                                             refine_iterations)

    @F.pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True), 1e-12, None)
        return pd.Series((M @ cent.T).argmax(axis=1).astype("int32"))

    @F.pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True), 1e-12, None)
        order = np.argsort(-(M @ cent.T), axis=1)[:, :n_probe].astype("int32")
        return pd.Series([row.tolist() for row in order])

    c = _fan_out(corpus).withColumn("__cell", cell_of(F.col(vec_col)))
    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"),
                        F.explode(probe_cells(F.col(vec_col))).alias("__cell")))
    sim = F.round(cosine_expr(F.col(vec_col), F.col("__qvec")), 4)
    scored = (c.join(F.broadcast(q), "__cell")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(F.col(query_id_col), F.col(id_col), sim.alias("sim"))
               .dropDuplicates([query_id_col, id_col]))
    return _topk_per_query(scored, k, query_id_col, id_col)


# ---------------------------------------------------------------- PQ

def _pq_codebooks(corpus: DataFrame, m: int, ksub: int, dim: int,
                  vec_col: str, id_col: str | None,
                  sample_cap: int = 4096,
                  iterations: int = 5) -> "np.ndarray":
    """Train product-quantization codebooks: split the (normalized) vector
    into ``m`` subspaces of ``dim/m`` dims, run deterministic Lloyd k-means
    with ``ksub`` codewords in each.  Same bounded md5-ordered sample
    discipline as :func:`_kmeans_centroids` — driver memory stays
    O(cap*dim + m*ksub*dsub) regardless of corpus size."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    hash_src = F.col(id_col) if id_col else F.col(vec_col).cast("string")
    sample = np.array(
        [r[0] for r in (corpus
                        .select(vec_col, F.md5(hash_src.cast("string")).alias("__hk"))
                        .orderBy("__hk")
                        .limit(sample_cap)
                        .select(vec_col)
                        .collect())],
        dtype=np.float64)
    sample = sample / np.clip(np.linalg.norm(sample, axis=1, keepdims=True),
                              1e-12, None)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub:(j + 1) * dsub]
        idx = np.linspace(0, len(sub) - 1, ksub).astype(int)
        cent = sub[idx].copy()
        for _ in range(iterations):
            # L2 assignment (= max dot + ||c||^2 correction; subvectors are
            # NOT unit-norm, so genuine L2 here)
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_topk_md5(corpus: DataFrame, queries: DataFrame, k: int = 10,
                m: int = 8, ksub: int = 16, dim: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Deterministic cross-engine twin of :func:`pq_topk` — the full-oracle
    evidence row for the PQ family (same pattern as ``ivf_topk_md5``).

    Codebooks are NOT Lloyd-trained: codeword ``c`` of subspace ``j`` is the
    ``j``-th slice of the normalized corpus vector with the ``c``-th
    smallest ``md5(id)`` (the unbiased hash-ordered sample both engines can
    reproduce).  Every stage is NATIVE Spark SQL — normalize, slice, L2
    argmin via ``min_by`` partial aggregation, ADC score as a grouped sum of
    broadcast LUT rows — so DuckDB can rebuild the identical top-k lists
    and the correctness gate hash-checks an approximate index end-to-end.

    Scale shape matches production PQ: codebook is a bounded broadcast
    (m*ksub rows), encoding is one corpus pass (broadcast mini-join +
    map-side ``min_by``, no corpus shuffle besides the per-(id) code
    assembly), scoring joins the m-row-per-vector code table against the
    broadcast per-query LUT."""
    dsub = dim // m
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    vd = F.col(vec_col).cast("array<double>")
    nv = F.transform(vd, lambda x: x / _norm(vd))
    vecs = corpus.select(F.col(id_col), nv.alias("__nv"))
    qvecs = queries.select(F.col(query_id_col), nv.alias("__nv"))

    js = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j")
    sub = F.slice("__nv", F.col("__j") * dsub + 1, dsub).alias("__sub")

    # codebook: ksub md5-smallest corpus vectors, sliced per subspace
    cw = F.broadcast(
        vecs.withColumn("__hk", F.md5(F.col(id_col).cast("string")))
            .orderBy("__hk").limit(ksub)
            .withColumn("__c", F.row_number().over(
                Window.orderBy("__hk")) - 1)
            .select("__c", js, "__nv")
            .select("__c", "__j", sub))
    cwb = cw.select(F.col("__c"), F.col("__j"), F.col("__sub").alias("__cw"))

    # encode: per (id, j) the L2-argmin codeword (tie-break on c asc) —
    # min_by over a (l2, c) struct is a partial-agg hash aggregation, so the
    # shuffle carries one row per (id, j), not ksub candidates
    l2 = F.aggregate(F.zip_with("__sub", "__cw", lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda a, x: a + x)
    codes = (_fan_out(vecs).select(F.col(id_col), js, "__nv")
             .select(F.col(id_col), "__j", sub)
             .join(cwb, "__j")
             .withColumn("__l2", l2)
             .groupBy(id_col, "__j")
             .agg(F.min_by("__c", F.struct("__l2", "__c")).alias("__c")))

    # per-query LUT: lut[(qid, j, c)] = dot(q_sub_j, codeword[j][c])
    dot = F.aggregate(F.zip_with("__sub", "__cw", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    lut = F.broadcast(
        qvecs.select(F.col(query_id_col), js, "__nv")
             .select(F.col(query_id_col), "__j", sub)
             .join(cwb, "__j")
             .select(F.col(query_id_col), "__j", "__c", dot.alias("__lv")))

    scored = (codes.join(lut, ["__j", "__c"])
              .filter(F.col(id_col) != F.col(query_id_col))
              .groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__lv"), 4).alias("sim")))
    return _topk_per_query(scored, k, query_id_col, id_col)


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 8, ksub: int = 16, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id",
            max_queries: int = 256) -> DataFrame:
    """Product-quantization approximate top-k (asymmetric distance).

    The memory-bound ANN path: each corpus vector compresses to ``m`` small
    codes (here m bytes vs dim*4 — a 32x shrink at dim=64/m=8), queries
    stay full-precision, and the score is the classic ADC lookup
    ``sum_j LUT[j][code_j]`` where ``LUT[j][c] = dot(q_j, codebook[j][c])``
    — an unbiased estimate of cosine on normalized vectors.

    Scale shape: codebook training reads a bounded md5-ordered sample;
    encoding is one vectorized map pass (at 100 TB the code table is the
    stored index — 32x less I/O per scan than raw vectors); scoring is a
    NATIVE ``aggregate``/``element_at`` expression over the broadcast
    per-query LUTs — whole-stage codegen, no Python per corpus row; then
    the usual per-query top-k window.  No bucketing means recall loss comes
    only from quantization error, not candidate pruning — the
    complementary trade to LSH/IVF (which scan less but can miss).

    Because ADC scores EVERY corpus code against EVERY query (corpus ×
    queries rows before the top-k), the operator is for small query
    batches only; ``max_queries`` (default 256) makes that contract
    explicit — a larger query set raises instead of silently planning a
    quadratic join (route big batches through ``ivf_topk``/
    ``lsh_bucketed_topk``, or raise the cap deliberately)."""
    n_q = queries.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"pq_topk scores corpus x queries rows with no pruning; got "
            f"> {max_queries} queries (max_queries={max_queries}). Use "
            f"ivf_topk/lsh_bucketed_topk for large query batches, or pass "
            f"a higher max_queries explicitly.")
    books = _pq_codebooks(corpus, m, ksub, dim, vec_col, id_col)
    dsub = dim // m

    @F.pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True), 1e-12, None)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            sub = M[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    @F.pandas_udf("array<double>")
    def lut_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        Q = np.stack(v.to_numpy()).astype(np.float64)
        Q = Q / np.clip(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12, None)
        out = []
        for q in Q:
            lut = np.concatenate([
                books[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)])
            out.append(lut.tolist())                  # flattened m*ksub
        return pd.Series(out)

    codes = _fan_out(corpus).select(F.col(id_col), encode(F.col(vec_col)).alias("__codes"))
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   lut_of(F.col(vec_col)).alias("__lut")))
    # ADC score: JVM-side sum of LUT lookups over the code array
    score = F.aggregate(
        F.transform(F.col("__codes"),
                    lambda c, i: F.element_at(F.col("__lut"),
                                              (i * ksub + c + 1).cast("int"))),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (codes.crossJoin(q)
              .filter(F.col(id_col) != F.col(query_id_col))
              .select(F.col(query_id_col), F.col(id_col),
                      F.round(score, 4).alias("sim")))
    return _topk_per_query(scored, k, query_id_col, id_col)


def group_centroids(df: DataFrame, group_col: str, dim: int = 64,
                    vec_col: str = "embedding",
                    decimals: int = 4) -> DataFrame:
    """Per-group mean embedding: ``(group, n, centroid)`` with the centroid
    rounded per component.

    The standard corpus-landscape tool (domain/language centroids feed
    clustering, drift monitoring, and IVF warm starts).  posexplode +
    groupBy(group, dim_index) partial-aggregates map-side, so the shuffle
    carries at most groups x dim partial sums per partition — the same
    reduction shape as distributed k-means; the final per-group array
    assembles from dim rows."""
    exploded = df.select(F.col(group_col).alias("grp"),
                         F.posexplode(F.col(vec_col).cast("array<double>"))
                          .alias("i", "v"))
    per_dim = (exploded.groupBy("grp", "i")
               .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")))
    rounded = F.round(F.col("s") / F.col("n"), decimals)
    return (per_dim.groupBy("grp")
            .agg(F.first("n").alias("n"),
                 F.array_sort(F.collect_list(F.struct("i", rounded.alias("m"))))
                  .getField("m").alias("centroid"))
            .select(F.col("grp").alias(group_col), "n", "centroid"))


def _within_cell_pairs(assigned, id_col: str, vec_col: str,
                       threshold: float):
    """Shared pairwise stage of the SemDeDup pair ops: equi-join on the
    cell id, ordered pair filter, rounded cosine, threshold.  One
    definition so the md5 twin stays a valid cross-engine oracle for the
    production path."""
    a = assigned.select(F.col("__cell"), F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("va"))
    b = assigned.select(F.col("__cell"), F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("vb"))
    sim = F.round(cosine_expr(F.col("va"), F.col("vb")), 4)
    return (a.join(b, "__cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", sim.alias("sim"))
             .filter(F.col("sim") >= threshold))


def semdedup_pairs(df: DataFrame, threshold: float = 0.93,
                   n_clusters: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64,
                   iterations: int = 3) -> DataFrame:
    """SemDeDup-style semantic dedup pairs (Abbas et al. 2023 pattern):
    k-means-partition the embedding space, then compare pairs ONLY within
    a cluster — near-duplicates land in the same cell because they are
    near in cosine space, so the quadratic comparison is confined to
    cluster-sized blocks.

    Returns ``(id_a, id_b, sim)`` with ``id_a < id_b`` and
    ``sim >= threshold``.

    Scale shape (100 TB): centroids train on a bounded deterministic hash
    sample (:func:`_kmeans_centroids` — the FAISS-style practice);
    assignment is one Arrow map with the k x dim matrix in the closure
    (no join, no shuffle); the pairwise stage is an equi-join on the cell
    id.  Cost is sum of squared cluster sizes — the method's intrinsic
    price — so ``n_clusters`` must scale with the corpus (N/1k-N/10k
    vectors per cluster in practice); a pathological mega-cluster (all
    embeddings identical) degrades to all-pairs, which IS the correct
    answer for that input.  For the cross-engine gate use
    :func:`semdedup_pairs_md5`."""
    cent = _kmeans_centroids(df, n_clusters, dim, vec_col,
                             iterations=iterations, id_col=id_col)
    C = cent

    @F.pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True),
                        1e-12, None)
        return pd.Series((M @ C.T).argmax(axis=1).astype("int32"))

    # persist: both join sides read the same assignment — without it the
    # Arrow assignment pass runs twice
    assigned = (_fan_out(df)
                .select(F.col(id_col), F.col(vec_col),
                        _cell(F.col(vec_col)).alias("__cell"))
             .localCheckpoint(eager=False))
    return _within_cell_pairs(assigned, id_col, vec_col, threshold)


def semdedup_pairs_md5(df: DataFrame, threshold: float = 0.93,
                       n_clusters: int = 16, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Deterministic cross-engine SemDeDup twin: centroids are the
    ``n_clusters`` corpus vectors with the smallest ``md5(id)`` (the
    unbiased hash-ordered sample, as in :func:`ivf_topk_md5`), assignment
    is cosine argmax with an id tie-break, and the within-cell pairwise
    stage is identical to :func:`semdedup_pairs`.  Fully native (no
    Python in the plan), so DuckDB can rebuild it stage by stage and the
    driver can value-hash the pair set."""
    vecs = df.select(F.col(id_col), F.col(vec_col))
    cents = F.broadcast(
        vecs.orderBy(F.md5(F.col(id_col).cast("string")))
            .limit(n_clusters)
            .select(F.col(id_col).alias("__cent_id"),
                    F.col(vec_col).alias("__cvec")))
    w_assign = (Window.partitionBy(id_col)
                .orderBy(F.desc("__cos"), F.asc("__cent_id")))
    assigned = (_fan_out(vecs).crossJoin(cents)
                .withColumn("__cos",
                            cosine_expr(F.col(vec_col), F.col("__cvec")))
                .withColumn("__rn", F.row_number().over(w_assign))
                .filter(F.col("__rn") == 1)
                .select(F.col(id_col), F.col(vec_col),
                        F.col("__cent_id").alias("__cell"))
             .localCheckpoint(eager=False))
    return _within_cell_pairs(assigned, id_col, vec_col, threshold)


def sq_minmax(corpus: DataFrame, vec_col: str = "embedding",
              dim: int = 64) -> tuple[list[float], list[float]]:
    """Global per-dimension (lo, hi) ranges for scalar quantization.

    One posexplode partial aggregate (map-side combine shrinks every
    partition to ``dim`` rows before the shuffle) followed by a bounded
    O(dim) driver pull — the training cost of the SQ index is a single
    corpus scan regardless of corpus size."""
    rows = (corpus.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                           .alias("i", "x"))
            .groupBy("i")
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
            .collect())
    lo, hi = [0.0] * dim, [0.0] * dim
    for r in rows:
        if r["i"] >= dim:
            raise ValueError(
                f"corpus vectors have >= {r['i'] + 1} dimensions, "
                f"dim={dim}: pass the true dimensionality")
        lo[r["i"]], hi[r["i"]] = float(r["lo"]), float(r["hi"])
    return lo, hi


def _sq_arrays(lo: list[float], hi: list[float]):
    lo_arr = F.array(*[F.lit(float(x)) for x in lo])
    hi_arr = F.array(*[F.lit(float(x)) for x in hi])
    return lo_arr, hi_arr


def _sq_code_expr(vec: Column, lo: list[float], hi: list[float]) -> Column:
    """8-bit code per component: floor((x-lo)*255/(hi-lo) + 0.5), clamped.

    Pure double arithmetic in a fixed evaluation order so any engine
    replaying the same formula on the same doubles lands on identical
    codes (the driver value-hashes them)."""
    lo_arr, hi_arr = _sq_arrays(lo, hi)
    def code(x, i):
        l = F.element_at(lo_arr, i + 1)
        h = F.element_at(hi_arr, i + 1)
        raw = F.floor((x - l) * F.lit(255.0) / (h - l) + F.lit(0.5))
        clamped = F.greatest(F.lit(0).cast("bigint"),
                             F.least(F.lit(255).cast("bigint"), raw))
        return F.when(h == l, F.lit(0)).otherwise(clamped.cast("int"))
    return F.transform(vec.cast("array<double>"), code)


def _sq_dequant_expr(codes: Column, lo: list[float], hi: list[float]) -> Column:
    lo_arr, hi_arr = _sq_arrays(lo, hi)
    def deq(c, i):
        l = F.element_at(lo_arr, i + 1)
        h = F.element_at(hi_arr, i + 1)
        return l + c.cast("double") * (h - l) / F.lit(255.0)
    return F.transform(codes, deq)


def sq_quantize(corpus: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int = 64,
                stats: tuple[list[float], list[float]] | None = None
                ) -> DataFrame:
    """8-bit scalar quantization of an embedding column:
    ``(id, codes array<int>)``.

    The scale play: a float32 embedding column is the dominant I/O cost of
    every similarity scan; uint8 codes cut the bytes 4x (8x vs float64)
    with a per-dim affine map, and parquet stores the int arrays
    dictionary/RLE-compressed on top.  Production flow is quantize once ->
    write the codes table -> serve every downstream scan from it (the same
    write-once shape as the LSH bucket index).  Max reconstruction error
    is (hi-lo)/510 per dimension, uniform across the corpus.

    ``stats`` lets callers reuse ranges fitted on one corpus for another
    (or skip the fitting scan when ranges are known)."""
    lo, hi = stats if stats is not None else sq_minmax(corpus, vec_col, dim)
    return corpus.select(F.col(id_col),
                         _sq_code_expr(F.col(vec_col), lo, hi).alias("codes"))


def sq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", dim: int = 64,
            stats: tuple[list[float], list[float]] | None = None
            ) -> DataFrame:
    """Asymmetric cosine top-k over scalar-quantized vectors:
    ``(query_id, vec_id, sim)``.

    Corpus side scores from dequantized 8-bit codes (the quarter-size
    scan); the (small, broadcast) query side stays full precision —
    the same asymmetric-distance trade FAISS's SQ8 index makes.  Scoring
    is a native zip_with/aggregate expression inside whole-stage codegen;
    the only shuffle is the final per-query top-k.  At 100 TB the codes
    table is written once by :func:`sq_quantize` and this becomes a
    pure scan over 1/4 of the bytes brute force reads."""
    lo, hi = stats if stats is not None else sq_minmax(corpus, vec_col, dim)
    codes = sq_quantize(corpus, id_col, vec_col, dim, stats=(lo, hi))
    deq = _sq_dequant_expr(F.col("__codes"), lo, hi)
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   F.col(vec_col).alias("__qvec")))
    scored = (_fan_out(codes.select(F.col(id_col), F.col("codes").alias("__codes")))
              .crossJoin(q)
              .filter(F.col(id_col) != F.col(query_id_col))
              .select(F.col(query_id_col), F.col(id_col),
                      F.round(cosine_expr(deq, F.col("__qvec")), 4).alias("sim")))
    return _topk_per_query(scored, k, query_id_col, id_col)


def random_project(df: DataFrame, out_dim: int = 16, dim: int = 64,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   seed: str = "rp", decimals: int = 4) -> DataFrame:
    """Johnson-Lindenstrauss sign (Rademacher) random projection:
    ``(id, rp array<double>)`` with ``rp[j] = dot(x, s_j) / sqrt(out_dim)``
    and ``s_j[i] = ±1`` from ``md5(f"{seed}_{j}_{i}")`` — the same
    engine-agnostic plane family as :func:`lsh_bucketed_topk_md5`, so any
    SQL engine rebuilds the projection bit-for-bit (components are
    left-fold dots, rounded at ``decimals``).

    The scale play: dim -> out_dim cuts every downstream similarity
    shuffle, scan and pairwise score by dim/out_dim while JL preserves
    pairwise geometry for out_dim = O(log n / eps^2); project once, run
    the banded/bucketed candidate stages in the reduced space, rerank
    survivors on the full vectors.  Map-only — zero shuffles."""
    import hashlib
    import math
    if out_dim <= 0:
        raise ValueError("out_dim must be positive")
    signs = [[1.0 if hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()[0] >= "8"
              else -1.0 for i in range(dim)] for j in range(out_dim)]
    inv = F.lit(math.sqrt(float(out_dim)))
    vec = F.col(vec_col).cast("array<double>")
    comps = [F.round(_dot(vec, F.array(*[F.lit(s) for s in row])) / inv,
                     decimals)
             for row in signs]
    return df.select(F.col(id_col), F.array(*comps).alias("rp"))


def rrf_fuse(results: list, k: int = 60,
             query_id_col: str = "query_id", id_col: str = "vec_id",
             sim_col: str = "sim", scale: int = 1_000_000) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of
    several per-query candidate lists: ``(query_id, vec_id, rrf_x,
    n_lists)`` where ``rrf_x = sum over lists of scale DIV (k +
    rank)`` — the standard zero-tuning way to combine heterogeneous
    retrieval indexes (LSH + IVF + PQ top-k lists, BM25 + dense), and
    the fusion step of every hybrid-search pipeline.

    Determinism recipe: within each list, rank = ``row_number`` by
    (``sim_col`` DESC, id ASC) — the ann family's 4dp-rounded
    similarities make ranks engine-identical — and every contribution
    is one truncating integer division, so the fused scores value-hash
    cross-engine.  ``n_lists`` (how many lists surfaced the candidate)
    rides along for coverage-style filters.

    Scale shape: one bounded per-query window per list (top-k lists
    are k rows per query by construction), a union, and one
    partial-agg groupBy — no cross joins, no driver pulls; fusing L
    lists costs L window sorts over L*k rows per query."""
    if not results:
        raise ValueError("results must be a non-empty list")
    if k < 1:
        raise ValueError("k must be >= 1")
    scored = []
    for df in results:
        w = (Window.partitionBy(query_id_col)
             .orderBy(F.desc(sim_col), F.asc(id_col)))
        scored.append(
            df.withColumn("__r", F.row_number().over(w))
              .select(query_id_col, id_col,
                      F.expr(f"CAST({int(scale)} AS BIGINT) "
                             f"DIV ({int(k)} + __r)").alias("__s")))
    u = scored[0]
    for s in scored[1:]:
        u = u.unionByName(s)
    return (u.groupBy(query_id_col, id_col)
            .agg(F.sum("__s").cast("long").alias("rrf_x"),
                 F.count(F.lit(1)).cast("long").alias("n_lists")))


def hard_negatives(candidates: DataFrame, positives: DataFrame,
                   k: int = 5, query_id_col: str = "query_id",
                   id_col: str = "vec_id",
                   sim_col: str = "sim") -> DataFrame:
    """Hard-negative mining for retrieval/embedding training:
    ``(query_id, vec_id, sim, neg_rank)`` — the ``k`` most similar
    candidates per query that are NOT gold positives, the offline
    counterpart of in-batch negatives (DPR/contrastive training's
    standard miner).

    ``candidates`` is any ranked list (an ANN index's top-k, BM25
    top-k, an :func:`rrf_fuse` output rescored); ``positives`` holds
    the gold ``(query_id, id)`` pairs.  One ``left_anti`` join strips
    the positives, then one bounded per-query window ranks by
    (``sim_col`` DESC, id ASC) — the ann family's 4dp similarities
    make ``neg_rank`` engine-identical, and the window input is at
    most the candidate lists (k rows per query by construction).

    Scale shape (100 TB): the anti join shuffles on the composite key
    (broadcast when the gold set is small — AQE decides); the window
    is bounded per query.  No cross joins, no driver pulls."""
    if k < 1:
        raise ValueError("k must be >= 1")
    pos = (positives.select(F.col(query_id_col), F.col(id_col))
           .distinct())
    neg = candidates.join(pos, [query_id_col, id_col], "left_anti")
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.desc(sim_col), F.asc(id_col)))
    return (neg.withColumn("neg_rank",
                           F.row_number().over(w).cast("long"))
            .filter(F.col("neg_rank") <= int(k))
            .select(query_id_col, id_col, sim_col, "neg_rank"))


def margin_candidates(a: DataFrame, b: DataFrame,
                      planes: int = 8, tables: int = 4, dim: int = 64,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The banded-LSH candidate graph :func:`margin_mine` mines over by
    DEFAULT: ``(id_a, id_b)`` pairs sharing an md5-Rademacher band
    (:func:`_md5_sign_planes` — ``tables`` tables of ``planes`` sign bits)
    in at least one table.

    Scale shape: two map-only signature passes + one equality join on
    (table, band) + a distinct — NO CartesianProduct anywhere
    (plan-asserted in pytest), and the bands are the engine-agnostic
    md5 family, so a SQL gate replays the identical candidate set.
    Exposed so callers can materialize/write the graph once and feed it
    back as ``candidates=`` across many mining runs."""
    band_udf = _sign_udf(_md5_sign_planes(tables, planes, dim))
    sa = (_fan_out(a)
          .select(F.col(id_col).alias("id_a"),
                  F.posexplode(band_udf(F.col(vec_col)))
                   .alias("__t", "__band")))
    sb = b.select(F.col(id_col).alias("id_b"),
                  F.posexplode(band_udf(F.col(vec_col)))
                   .alias("__t", "__band"))
    return (sa.join(sb, ["__t", "__band"])
            .select("id_a", "id_b").distinct())


def margin_mine(a: DataFrame, b: DataFrame, k: int = 4,
                threshold_x1e4: int = 10500,
                id_col: str = "vec_id", vec_col: str = "embedding",
                candidates: DataFrame | None = None,
                exact: bool = False,
                planes: int = 8, tables: int = 4,
                dim: int = 64) -> DataFrame:
    """Margin-based bitext/pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): mutual-nearest cosine pairs between two
    embedding sets, scored by the RATIO margin

        margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)

    where ``avg_k`` averages each side's k nearest cosines — the margin
    deflates hub vectors that are "near everything", the failure mode of
    raw-cosine mining.  Returns ``(id_a, id_b, sim_x1e4, margin_x1e4)``
    for pairs that are EACH OTHER'S best match with ``margin_x1e4 >=
    threshold_x1e4`` (10500 = the conventional 1.05 ratio) and positive
    similarity.

    Determinism recipe: ordering/rank-1 selection uses the UNROUNDED
    cosine with id tie-breaks (the ann-family convention); every SCORE
    is integer — cosines rounded once to the proven 4dp
    (``floor(cos * 1e4 + 0.5)``), k-sums exact integer sums, and the
    margin one truncating integer division ``(cos_x1e4 * 2k * 1e4) DIV
    (sum_k(x) + sum_k(y))`` — so the whole output value-hashes
    cross-engine.

    Scale shape — the DEFAULT is banded, never a cross join: with no
    ``candidates`` the operator builds its own candidate graph from the
    md5-Rademacher band family (:func:`_md5_sign_planes` — ``tables``
    tables of ``planes`` sign bits; a pair is a candidate iff it shares
    a band in >= 1 table), so the heavy side is two map-only signature
    passes plus equality joins on (table, band) — no CartesianProduct
    anywhere in the plan (plan-asserted in pytest), and the bands are
    engine-agnostic so the DuckDB gate replays the identical candidate
    set.  Both the k-neighbour averages and the mutual-best test then
    run over the candidate graph only, which is how production margin
    mining is defined (margins over the ANN k-NN, CCMatrix practice).

    Pass ``candidates`` — an ``(id_a, id_b)`` frame from any ANN family
    (seeded LSH buckets, IVF cells) — to supply your own graph, or
    ``exact=True`` to opt IN to the exact cross join (tiny sets /
    one-shard mining only; margins over ALL pairs).  Downstream math is
    identical on every path: two bounded per-id windows + two
    partial-agg k-sums, no driver pulls."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if candidates is not None and exact:
        raise ValueError("pass candidates OR exact=True, not both")
    fa = _fan_out(a).select(F.col(id_col).alias("id_a"),
                            F.col(vec_col).alias("__va"))
    fb = b.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("__vb"))
    if candidates is None and not exact:
        # the DEFAULT consumes each side TWICE (band signatures +
        # cosine scoring) — pin the projected frames so an expensive
        # upstream (e.g. the flagship's hash_embed featurizer) runs
        # once per side, then build the banded candidates from the
        # pinned frames (same math as margin_candidates — equality
        # pytest-pinned)
        fa = fa.localCheckpoint(eager=False)
        fb = fb.localCheckpoint(eager=False)
        band_udf = _sign_udf(_md5_sign_planes(tables, planes, dim))
        sa = fa.select("id_a", F.posexplode(band_udf(F.col("__va")))
                       .alias("__t", "__band"))
        sb = fb.select("id_b", F.posexplode(band_udf(F.col("__vb")))
                       .alias("__t", "__band"))
        candidates = (sa.join(sb, ["__t", "__band"])
                      .select("id_a", "id_b").distinct())
    if candidates is None:
        pairs = fa.crossJoin(fb)
    else:
        pairs = (candidates.select("id_a", "id_b")
                 .join(fa, "id_a").join(fb, "id_b"))
    cos = cosine_expr(F.col("__va"), F.col("__vb"))
    p = pairs.select(
        "id_a", "id_b", cos.alias("__c"),
        F.floor(cos * 10000 + 0.5).cast("long").alias("__cx"))
    wx = Window.partitionBy("id_a").orderBy(F.desc("__c"), F.asc("id_b"))
    wy = Window.partitionBy("id_b").orderBy(F.desc("__c"), F.asc("id_a"))
    r = (p.withColumn("__rx", F.row_number().over(wx))
          .withColumn("__ry", F.row_number().over(wy))
          .localCheckpoint(eager=False))
    # carry the ACTUAL neighbour counts: a side with fewer than k
    # neighbours (tiny set, sparse ANN candidate graph) averages over
    # what it has — dividing its short sum as if it were a k-sum would
    # inflate the margin and admit hubs the paper's avg_k rejects
    kx = (r.filter(F.col("__rx") <= k).groupBy("id_a")
           .agg(F.sum("__cx").cast("long").alias("__sx"),
                F.count(F.lit(1)).cast("long").alias("__nx")))
    ky = (r.filter(F.col("__ry") <= k).groupBy("id_b")
           .agg(F.sum("__cx").cast("long").alias("__sy"),
                F.count(F.lit(1)).cast("long").alias("__ny")))
    best = (r.filter((F.col("__rx") == 1) & (F.col("__ry") == 1))
             .join(kx, "id_a").join(ky, "id_b"))
    # margin = cx / ((sx/nx + sy/ny) / 2) in exact integers:
    # (cx * 2 * nx * ny * 1e4) DIV (sx*ny + sy*nx)
    margin = F.expr("(__cx * 2 * __nx * __ny * 10000) "
                    "DIV (__sx * __ny + __sy * __nx)")
    return (best.filter((F.col("__cx") > 0)
                        & (F.col("__sx") * F.col("__ny")
                           + F.col("__sy") * F.col("__nx") > 0))
            .select("id_a", "id_b",
                    F.col("__cx").alias("sim_x1e4"),
                    margin.cast("long").alias("margin_x1e4"))
            .filter(F.col("margin_x1e4") >= int(threshold_x1e4)))


def mmr_select(corpus: DataFrame, k: int = 8,
               lambda_x1000: int = 700, rel_col: str = "rel_x",
               id_col: str = "vec_id", vec_col: str = "embedding",
               scale: int = 1_000_000) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) over an embedding corpus with a relevance column: greedily
    pick the item maximizing ``lambda * rel - (1 - lambda) *
    max_dot(picked)`` k times — the diverse-top-k that de-dups a
    retrieval list (or a training-subset draw) WHILE honoring
    relevance, where :func:`kcenter_select` maximizes coverage alone.

    Returns EXACTLY k rows ``(id_col, mmr_rank, rel_x, penalty_x,
    score_x)``: the selection order, the item's relevance, and the
    penalty (max integer dot product against the already-picked set)
    and score AT SELECTION TIME.

    Determinism recipe (the kcenter_select conventions): vectors
    integer-scale up front (``round(x*scale)`` longs) so every dot
    product is an EXACT long; ``lambda_x1000`` keeps the trade-off
    rational — ``score_x = lambda_x1000 * rel_x - (1000 -
    lambda_x1000) * penalty_x`` is exact long arithmetic; every
    argmax is ``ORDER BY score DESC, id ASC LIMIT 1``.  The FIRST
    pick has penalty 0 by convention (empty picked set); from the
    second pick the penalty is the true signed max dot (NOT clamped
    at 0 — anti-similar items keep their negative penalty).  Unit
    contract: ``rel_col`` must be integer-valued in the SAME units as
    the scaled dot products (pass a dot_x — e.g. the query dot this
    module's ANN ops emit — or pre-scale; |rel| and |dot| must stay
    under ~9e15 so the x1000 products fit int64).  For the dot to
    mean cosine, pass L2-normalized embeddings (the standard
    embedding-table contract).  rel and vectors must be non-null.

    Scale shape: per round one map-only dot fold against the ONE new
    pick (a broadcast literal) + one TakeOrderedAndProject argmax;
    driver state is the k picked rows (k·dim — the bounded-trainer
    contract), k single-row collects, per-round frame pinned with
    localCheckpoint (the pagerank convention)."""
    if k < 1:
        raise ValueError("mmr_select: k must be >= 1")
    if not 0 <= int(lambda_x1000) <= 1000:
        raise ValueError("mmr_select: lambda_x1000 must be in "
                         "[0, 1000]")
    lam, mu = int(lambda_x1000), 1000 - int(lambda_x1000)
    sv = F.transform(F.col(vec_col).cast("array<double>"),
                     lambda x: F.round(x * scale, 0).cast("long"))
    vecs = (_fan_out(corpus)
            .select(F.col(id_col).alias("__id"), sv.alias("__sv"),
                    F.col(rel_col).cast("long").alias("__rel"))
            .localCheckpoint(eager=False))

    def dot_to(cvec):
        lit = F.array(*[F.lit(int(x)).cast("long") for x in cvec])
        return F.aggregate(
            F.zip_with("__sv", lit, lambda a, b: a * b),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    first = (vecs.orderBy(F.desc(F.col("__rel") * lam),
                          F.asc("__id")).limit(1).collect())
    if not first:
        raise ValueError("mmr_select: empty corpus")
    if first[0]["__sv"] is None or any(x is None
                                       for x in first[0]["__sv"]):
        raise ValueError(
            f"mmr_select: vector has NULL elements — {vec_col} must "
            "be non-null end-to-end; filter or impute first")
    picked = [(first[0]["__id"], 1, int(first[0]["__rel"]), 0,
               lam * int(first[0]["__rel"]))]
    sel_ids = [first[0]["__id"]]
    d = (vecs.withColumn("__maxdot", dot_to(list(first[0]["__sv"])))
         .localCheckpoint(eager=False))
    for i in range(2, int(k) + 1):
        r = (d.filter(~F.col("__id").isin(sel_ids))
             .withColumn("__score", F.col("__rel") * lam
                         - F.col("__maxdot") * mu)
             .orderBy(F.desc("__score"), F.asc("__id"))
             .limit(1).collect())
        if not r:
            raise ValueError(f"mmr_select: k={k} exceeds corpus size "
                             f"{len(sel_ids)}")
        row = r[0]
        picked.append((row["__id"], i, int(row["__rel"]),
                       int(row["__maxdot"]), int(row["__score"])))
        sel_ids.append(row["__id"])
        nd = dot_to(list(row["__sv"]))
        d = (d.withColumn("__maxdot", F.greatest("__maxdot", nd))
             .localCheckpoint(eager=False))
    spark = corpus.sparkSession
    from pyspark.sql.types import (LongType, StructField, StructType)
    id_type = corpus.schema[id_col].dataType
    schema = StructType([
        StructField(id_col, id_type),
        StructField("mmr_rank", LongType()),
        StructField("rel_x", LongType()),
        StructField("penalty_x", LongType()),
        StructField("score_x", LongType())])
    return spark.createDataFrame(picked, schema)


def _rbo_suffix_weights(k: int, p_x1000: int,
                        scale: int) -> list[int]:
    """Exact-integer RBO weight table: w_j = round_half_up(scale *
    (1-p) * p^(j-1) / j) computed in pure integer arithmetic
    (p = p_x1000/1000, so num/den stay integral), then suffix-summed —
    W[d] = sum_{j=d..k} w_j is the total weight an item joined at
    depth d contributes to the truncated sum."""
    p = int(p_x1000)
    ws = []
    for j in range(1, k + 1):
        num = int(scale) * (1000 - p) * p ** (j - 1)
        den = j * 1000 ** j
        ws.append((2 * num + den) // (2 * den))
    suf, tot = [], 0
    for w in reversed(ws):
        tot += w
        suf.append(tot)
    return list(reversed(suf))


def rbo_at_k(list_a: DataFrame, list_b: DataFrame, k: int = 10,
             p_x1000: int = 900, query_id_col: str = "query_id",
             id_col: str = "vec_id", sim_col: str = "sim",
             scale: int = 1_000_000) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010) between two ranked
    candidate lists, truncated at depth k (the RBO_min prefix — no
    residual extrapolation): ``(query_id, n_common, rbo_x)`` per
    query of ``list_a`` (the REFERENCE list: a query list_b never
    answers scores rbo 0 rather than vanishing — the ndcg right-join
    convention; queries only in list_b are not reported) — the
    top-weighted agreement measure for comparing two indexes / two
    ranker versions where Spearman over-weights the tail.

    Integer-exact recipe: ``RBO = (1-p) * sum_{d=1..k} p^(d-1)/d *
    |A_d ∩ B_d|`` telescopes per ITEM — an item at ranks (ra, rb)
    joins every prefix of depth >= max(ra, rb), so it contributes the
    SUFFIX weight ``W[max(ra, rb)]`` exactly once.  The k weights are
    precomputed in PYTHON in pure integer arithmetic (p rational via
    ``p_x1000``; round-half-up as ``(2*num + den) DIV (2*den)``) and
    embedded as BOUNDED LITERALS on both engines — no engine pow()
    in the plan (the ndcg_at_k discount recipe), so ``rbo_x`` is an
    exact long sum.  Ranks come from (sim DESC, id ASC) — the
    rrf_fuse convention; each list must be unique per (query, id).

    Scale shape: two bounded per-query top-k windows, ONE equi-join
    on (query, id), one partial-agg groupBy, one anchor left join —
    no cross joins, no driver pulls beyond the k-long weight
    literal."""
    if k < 1:
        raise ValueError("rbo_at_k: k must be >= 1")
    if not 0 <= int(p_x1000) <= 999:
        raise ValueError("rbo_at_k: p_x1000 must be in [0, 999]")
    W = _rbo_suffix_weights(k, p_x1000, scale)
    w_lit = F.array(*[F.lit(w).cast("long") for w in W])

    def _ranked(lst, out):
        w = (Window.partitionBy(query_id_col)
             .orderBy(F.desc(sim_col), F.asc(id_col)))
        return (lst.withColumn(out, F.row_number().over(w))
                .filter(F.col(out) <= k)
                .select(query_id_col, id_col, out))

    ra = _ranked(list_a, "__ra")
    rb = _ranked(list_b, "__rb")
    per = (ra.join(rb, [query_id_col, id_col])
           .withColumn("__w", F.element_at(
               w_lit, F.greatest("__ra", "__rb")))
           .groupBy(query_id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
                F.sum("__w").cast("long").alias("rbo_x")))
    anchors = ra.select(query_id_col).distinct()
    return (anchors.join(per, query_id_col, "left")
            .select(query_id_col,
                    F.coalesce("n_common", F.lit(0).cast("long"))
                     .alias("n_common"),
                    F.coalesce("rbo_x", F.lit(0).cast("long"))
                     .alias("rbo_x")))

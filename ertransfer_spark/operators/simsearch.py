"""Similarity search over embedding columns (array<float>).

Reference precedent: DeepBlocker's exact top-K vector pairing
(/root/reference/splitters/DeepBlocker/splitter.py:62-73, dense cosine
matmul) and the sentence-BERT similarity scorer
(/root/reference/methods/embeddings/get_similarity.py:4-10).

Paths, same contract (query_id, nbr_id, sim_r):

- brute_force_topk / cosine_neardup_pairs — the EXACT baselines,
  structured as a distributed block-matrix sweep: both sides are
  hash-bucketed into blocks, the (qblock, cblock) grid is materialized by
  replication-explode, and each grid cell is scored with ONE numpy float64
  matmul inside a cogrouped applyInPandas. No driver-side collect, no
  crossJoin node, executor memory bounded by the block size. The cost is
  explicitly quadratic (replication factor = block count of the other
  side) — that is inherent to exact all-pairs; the sublinear scale paths
  are lsh_topk / ivf_topk below.
- lsh_topk — random-hyperplane LSH. Each vector is bucketed by the sign
  pattern of `n_planes` fixed pseudo-random hyperplanes (deterministic,
  seeded, generated JVM-side from hash(dim_index, plane, seed) — no
  Python, no model file). Candidates share a bucket in ≥1 of `n_tables`
  tables; exact cosine re-rank after. Shuffle width O(vectors × tables),
  candidates ∝ collisions.
- ivf_topk — inverted-file ANN: corpus partitioned into cells once,
  queries probe the n_probe nearest cells through an equi-join.

Ranking uses ROUNDED similarity (4 dp) with id tie-break so ordering is
reproducible across engines and float-summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(vec_col)
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))


def _normalized(M):
    """Row-normalize, zero-norm rows stay zero (sim contract: 0.0)."""
    import numpy as np

    norm = np.sqrt((M * M).sum(axis=1))
    scale = np.where(norm > 0, norm, 1.0)
    return (M / scale[:, None]) * (norm > 0)[:, None]


def _n_blocks(df: DataFrame, rows_per_block: int, triangular: bool = False) -> int:
    # parallelism-aware: a sub-4096-row side must not collapse the sweep
    # into one applyInPandas task (see gridsweep.grid_blocks). The block
    # count only changes the physical grid, never the emitted rows — the
    # per-cell top-k prefilter is exact for ANY cell partitioning (a row
    # dominated by k cell-mates is dominated globally).
    from ertransfer_spark.operators.gridsweep import grid_blocks

    return grid_blocks(
        df.count(), rows_per_block,
        df.sparkSession.sparkContext.defaultParallelism, triangular=triangular,
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    rows_per_block: int = 4096,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k → (query_id, nbr_id, sim_r).

    Distributed block-matrix sweep: queries and corpus are hash-bucketed
    into Pq/Pc blocks of ~``rows_per_block`` vectors, each side is
    replicated across the other side's block axis, and every (qb, cb) grid
    cell does ONE float64 numpy matmul inside a cogrouped applyInPandas
    (the north-rule vectorized-UDF path; the zip_with/aggregate Column
    form allocates per-pair arrays and is ~10× slower, and a driver-side
    collect of the query side would OOM at scale). No toPandas, no
    crossJoin; executor memory is bounded by the block size, cost is
    explicitly O(|Q|·|C|·d) spread across the grid.

    Exactness of the per-cell prefilter: a corpus row can only reach the
    global top-k if its sim is within one rounding step of its cell's
    k-th largest sim for that query (k better rows in the same cell
    already dominate it at the final rounded ranking). The final
    round+rank happens in Spark expressions so tie-breaks are identical
    to the SQL oracle. Self-matches (same id) are excluded unless
    ``exclude_self=False`` (use False when queries and corpus are
    DIFFERENT tables with overlapping raw id spaces — cross-source
    blocking — where equal ids are legitimate pairs).
    """
    import numpy as np
    import pandas as pd

    from ertransfer_spark.operators.dedup import long_id

    q_id = long_id(queries, id_col, "brute_force_topk")
    c_id = long_id(corpus, id_col, "brute_force_topk")
    eps = 10.0 ** (-round_dp)
    pq = _n_blocks(queries, rows_per_block)
    pc = _n_blocks(corpus, rows_per_block)

    q = queries.select(
        q_id.alias("rid"), _as_double(vec_col).alias("v")
    ).withColumn("qb", F.pmod(F.xxhash64("rid"), F.lit(pq)))
    c = corpus.select(
        c_id.alias("rid"), _as_double(vec_col).alias("v")
    ).withColumn("cb", F.pmod(F.xxhash64("rid"), F.lit(pc)))
    q_rep = q.withColumn("cb", F.explode(F.sequence(F.lit(0), F.lit(pc - 1))))
    c_rep = c.withColumn("qb", F.explode(F.sequence(F.lit(0), F.lit(pq - 1))))

    def score_cell(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({"query_id": [], "nbr_id": [], "sim": []}).astype(
                {"query_id": "int64", "nbr_id": "int64", "sim": "float64"}
            )
        Qn = _normalized(np.stack(left["v"].to_numpy()).astype(np.float64))
        Mn = _normalized(np.stack(right["v"].to_numpy()).astype(np.float64))
        S = Mn @ Qn.T  # (corpus_rows, query_rows)
        qids = np.asarray(left["rid"], dtype=np.int64)
        nbr = np.asarray(right["rid"], dtype=np.int64)
        kk = min(k + 1 if exclude_self else k, len(nbr))  # +1: self-match removed after scoring
        if len(nbr) > kk:
            kth = np.partition(S, -kk, axis=0)[-kk, :]
            keep_r, keep_q = np.where(S >= (kth[None, :] - eps))
        else:
            keep_r, keep_q = np.where(np.ones_like(S, dtype=bool))
        out = pd.DataFrame(
            {"query_id": qids[keep_q], "nbr_id": nbr[keep_r], "sim": S[keep_r, keep_q]}
        )
        return out[out["query_id"] != out["nbr_id"]] if exclude_self else out

    from ertransfer_spark.operators.gridsweep import grid_cogroup

    scored = grid_cogroup(
        q_rep, c_rep, ("qb", "cb"), score_cell,
        schema="query_id long, nbr_id long, sim double",
    ).select("query_id", "nbr_id", F.round("sim", round_dp).alias("sim_r"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All pairs (a_id < b_id) with cosine ≥ threshold → (a_id, b_id, sim_r).

    Exact, as a TRIANGULAR block-matrix sweep: vectors are hash-bucketed
    into P blocks, each unordered block pair (i ≤ j) is one cogrouped
    applyInPandas cell scored with a single numpy float64 matmul, and the
    diagonal cell keeps x < y. Every unordered vector pair lands in
    exactly one cell, so no distinct is needed. Replication is O(n·P/2)
    rows — inherent to exact all-pairs; no crossJoin node, no unbounded
    partition, executor memory bounded by the block size. The sublinear
    alternative at web scale is LSH candidates + exact verify (lsh_topk),
    which trades guaranteed recall for cost ∝ collisions.

    Zero-norm vectors score 0.0 against everything (dropped by any
    positive threshold), matching the guarded column-expression form.
    """
    import numpy as np
    import pandas as pd

    eps = 10.0 ** (-round_dp)
    p = _n_blocks(vectors, rows_per_block, triangular=True)

    v = vectors.select(
        F.col(id_col).cast("long").alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("blk", F.pmod(F.xxhash64("vid"), F.lit(p)))
    # left of cell (i, j): block i rows, for every j >= i
    left = v.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(p - 1))).alias("bj"),
        "vid", "v",
    )
    # right of cell (i, j): block j rows, for every i <= j
    right = v.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        "vid", "v",
    )

    def score_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": [], "b_id": [], "sim": []}).astype(
            {"a_id": "int64", "b_id": "int64", "sim": "float64"}
        )
        if not len(lpdf) or not len(rpdf):
            return empty
        An = _normalized(np.stack(lpdf["v"].to_numpy()).astype(np.float64))
        Bn = _normalized(np.stack(rpdf["v"].to_numpy()).astype(np.float64))
        S = An @ Bn.T
        x = np.asarray(lpdf["vid"], dtype=np.int64)
        y = np.asarray(rpdf["vid"], dtype=np.int64)
        if key[0] == key[1]:
            mask = (S >= threshold - eps) & (x[:, None] < y[None, :])
        else:
            mask = S >= threshold - eps
        r, c = np.where(mask)
        xa, yb = x[r], y[c]
        return pd.DataFrame(
            {
                "a_id": np.minimum(xa, yb),
                "b_id": np.maximum(xa, yb),
                "sim": S[r, c],
            }
        )

    from ertransfer_spark.operators.gridsweep import grid_cogroup

    scored = grid_cogroup(
        left, right, ("bi", "bj"), score_cell,
        schema="a_id long, b_id long, sim double",
    )
    return scored.select(
        "a_id", "b_id", F.round("sim", round_dp).alias("sim_r")
    ).filter(F.col("sim_r") >= threshold)


def embed_records(
    records: DataFrame,
    tokens_col: str = "token_set",
    id_col: str = "conv_id",
    dim: int = 64,
) -> DataFrame:
    """Deterministic feature-hashed embedding of a token-set column →
    (id_col, embedding: array<double>, L2-normalized).

    The DeepBlocker analog (SURVEY J2) without a learned autoencoder: each
    token adds ±1 (sign from a second hash) to dimension hash(token) % dim
    — classic feature hashing / SimHash-style projection, entirely native
    Column expressions (explode → groupBy id,dim → pivot-free array
    assembly), deterministic and model-free. Cosine on these embeddings
    approximates token-set similarity, so the generic vector joins
    (:func:`lsh_topk`, :func:`brute_force_topk`, :func:`ivf_topk`) become
    blockers for any record corpus.
    """
    posts = records.select(
        F.col(id_col).alias("_id"), F.explode(tokens_col).alias("tok")
    )
    contrib = posts.select(
        "_id",
        F.pmod(F.hash("tok"), F.lit(dim)).alias("d"),
        (F.pmod(F.hash("tok", F.lit(1)), F.lit(2)) * 2 - 1).cast("double").alias("v"),
    )
    sparse = contrib.groupBy("_id", "d").agg(F.sum("v").alias("val"))
    vecs = sparse.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("d", "val"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)),
    )
    out = vecs.select(F.col("_id").alias(id_col), dense.alias("_raw"))
    norm = F.sqrt(
        F.aggregate(F.zip_with("_raw", "_raw", lambda a, b: a * b), F.lit(0.0), lambda x, v: x + v)
    )
    return out.select(
        id_col,
        F.when(
            norm > 0, F.transform("_raw", lambda x: x / norm)
        ).otherwise(F.col("_raw")).alias("embedding"),
    )


def vector_blocking(
    records_a: DataFrame,
    records_b: DataFrame,
    k: int = 5,
    tokens_col: str = "token_set",
    id_col: str = "conv_id",
    dim: int = 128,
    n_planes: int = 6,
    n_tables: int = 12,
) -> DataFrame:
    """J2 as a blocker: feature-hash both sides, hyperplane-LSH candidate
    join, exact cosine top-k → (a_id, b_id, sim) candidate pairs."""
    ea = embed_records(records_a, tokens_col, id_col, dim)
    eb = embed_records(records_b, tokens_col, id_col, dim)
    # exclude_self=False: A and B are DIFFERENT tables; overlapping raw id
    # values (reference tabular datasets reuse integer id spaces on both
    # sides) are legitimate cross-source pairs, not self-matches
    out = lsh_topk(
        ea, eb, k=k, id_col=id_col, vec_col="embedding",
        n_planes=n_planes, n_tables=n_tables, exclude_self=False,
    )
    return out.select(
        F.col("query_id").alias("a_id"), F.col("nbr_id").alias("b_id"),
        F.col("sim_r").alias("sim"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_dp: int = 4,
    method: str = "kmeans",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_lists`` cells, probe
    the ``n_probe`` nearest cells per query, exact cosine re-rank within
    the probed cells → (query_id, nbr_id, sim_r), approximate.

    The 100 TB shape: the corpus is clustered ONCE and stored partitioned
    by cell; each query touches n_probe/n_lists of the data through an
    equi-join on cell id — no cross join, no full scan. Centroids are tiny
    and broadcast.

    ``method``:
    - ``kmeans`` — Spark ML KMeans centroids (data-parallel Lloyd; best
      cells, but the fit is engine-specific → rows-only verification).
    - ``seeded`` — fully deterministic: centroids are the ``n_lists``
      corpus vectors with the smallest portable polynomial hash of their
      id (the pinned cross-engine spec from operators/dedup.py), cell =
      nearest seed by euclidean distance ROUNDED 6 dp with seed-rank
      tie-break. Every step has an exact SQL twin
      (:func:`ivf_seeded_duckdb_sql`), so the whole ANN operator is
      value-verifiable against DuckDB. Random-seed IVF is a standard
      variant (seeds ≈ a uniform corpus sample); recall at equal n_probe
      is a bit below the KMeans fit, which tests assert separately.
    """
    if method == "seeded":
        return _ivf_topk_seeded(
            queries, corpus, k=k, n_lists=n_lists, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).cast("long").alias("nbr_id"), _as_double(vec_col).alias("cv")
    ).withColumn("_feat", array_to_vector("cv"))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_feat", predictionCol="cell")
    model = km.fit(c)
    assigned = model.transform(c).select("nbr_id", "cv", "cell")

    centroids = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(centroids, "cell int, centroid array<double>")

    q = with_norm(queries, vec_col).select(
        # cast to long like nbr_id above (and like the seeded variant):
        # with string ids an uncast query_id vs bigint nbr_id self-match
        # comparison is NULL and silently drops every candidate row
        F.col(id_col).cast("long").alias("query_id"),
        F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "cdist",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )

    cn = F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b), F.lit(0.0), lambda x, v: x + v))
    cand = probes.join(assigned, "cell").filter(F.col("query_id") != F.col("nbr_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * cn)
    scored = cand.select(
        "query_id",
        "nbr_id",
        # guard BOTH norms: a zero-norm corpus vector would otherwise
        # divide by zero (DIVIDE_BY_ZERO under ANSI sessions)
        F.round(
            F.when((F.col("qn") > 0) & (cn > 0), sim).otherwise(F.lit(0.0)), round_dp
        ).alias("sim_r"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _ivf_topk_seeded(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_lists: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
) -> DataFrame:
    """Deterministic IVF (see :func:`ivf_topk` method='seeded')."""
    from ertransfer_spark.operators.dedup import _token_hash_expr

    c = corpus.select(
        F.col(id_col).cast("long").alias("nbr_id"), _as_double(vec_col).alias("cv")
    )
    th = F.expr(_token_hash_expr("CAST(nbr_id AS STRING)"))
    seed_rows = c.withColumn("_th", th).orderBy("_th", "nbr_id").limit(n_lists).collect()
    cent = [
        (i + 1, [float(x) for x in r["cv"]])
        for i, r in enumerate(sorted(seed_rows, key=lambda r: (r["_th"], r["nbr_id"])))
    ]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(cent, "cell int, centroid array<double>")

    def dist_to(vec_col_name: str):
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col_name), F.col("centroid"), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        )

    w_assign = Window.partitionBy("nbr_id").orderBy(F.asc("_d"), F.asc("cell"))
    assigned = (
        c.crossJoin(F.broadcast(cent_df))
        .withColumn("_d", dist_to("cv"))
        .withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select("nbr_id", "cv", "cell")
    )

    q = with_norm(queries, vec_col).select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("_d", dist_to("qv"))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )

    cn = F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b), F.lit(0.0), lambda x, v: x + v))
    cand = probes.join(assigned, "cell").filter(F.col("query_id") != F.col("nbr_id"))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * cn)
    scored = cand.select(
        "query_id",
        "nbr_id",
        F.round(
            F.when((F.col("qn") > 0) & (cn > 0), sim).otherwise(F.lit(0.0)), round_dp
        ).alias("sim_r"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def ivf_seeded_duckdb_sql(
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``ivf_topk(method='seeded')`` — replicates seed
    selection (portable polynomial id-hash), 6-dp-rounded euclidean cell
    assignment, n_probe probing, and the 4-dp cosine top-k."""
    th = (
        "list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(range(1, 1 + length(CAST(id AS VARCHAR))), "
        "i -> CAST(ascii(substr(CAST(id AS VARCHAR), i, 1)) AS BIGINT))), "
        "(h, c) -> (h * 31 + c) % 2147483647)"
    )
    dist = (
        "round(sqrt(list_sum(list_transform(range(1, 1 + len(x.v)), "
        "i -> (x.v[i] - s.sv[i]) * (x.v[i] - s.sv[i])))), 6)"
    )
    return f"""
      WITH e AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {vec_col}::DOUBLE[] AS v FROM {table}
      ), hashed AS (
        SELECT id, v, {th} AS th FROM e
      ), seeds AS (
        SELECT id AS sid, v AS sv, row_number() OVER (ORDER BY th, id) AS cell
        FROM hashed ORDER BY th, id LIMIT {n_lists}
      ), dists AS (
        SELECT x.id, s.cell, {dist} AS d
        FROM e x, seeds s
      ), assign AS (
        SELECT id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
          FROM dists
        ) WHERE rn = 1
      ), probes AS (
        SELECT id AS query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
          FROM dists
        ) WHERE rn <= {n_probe}
      ), scored AS (
        SELECT p.query_id, a.id AS nbr_id,
               round(CASE WHEN list_dot_product(q.v, q.v) > 0
                               AND list_dot_product(c.v, c.v) > 0
                          THEN list_cosine_similarity(q.v, c.v) ELSE 0.0 END, 4) AS sim_r
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.id <> p.query_id
        JOIN e q ON q.id = p.query_id
        JOIN e c ON c.id = a.id
      )
      SELECT query_id, nbr_id, sim_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, nbr_id) AS rk
        FROM scored
      ) WHERE rk <= {k}
    """


def lsh_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    round_dp: int = 4,
) -> DataFrame:
    """Hyperplane LSH with a fully PORTABLE plane spec → (query_id, nbr_id,
    sim_r) — the value-verifiable sibling of :func:`lsh_topk` (murmur3
    planes, the throughput path), the way ``ivf_topk(method='seeded')`` is
    the verifiable sibling of the KMeans IVF.

    Pinned spec (every step exact integer arithmetic, so bucket bits are
    bit-identical in any engine — no float-summation-order hazard):

    - plane weight w[P][i] = th(``pl:{P}:{i}``) % 2001 - 1000, where th is
      the pinned polynomial hash (operators/dedup.py: fold (h*31+ascii)
      mod 2^31-1, seed 7) — integers in [-1000, 1000];
    - quantized vector q[i] = CAST(round(v[i] * 1e6) AS BIGINT);
    - bit(P) = 1 iff Σ_i q[i]·w[P][i] > 0 (exact BIGINT dot);
    - table t's bucket key = the n_planes bits of planes
      [t·n_planes, (t+1)·n_planes) concatenated;
    - candidates = bucket collisions in any table (distinct, self-pairs
      dropped), then the proven-portable exact cosine re-rank (4 dp
      rounding, nbr_id tie-break).

    Plane weights are generated on the driver from the same spec and baked
    into the plan as literals (tiny: n_tables·n_planes·dim ints); the
    DuckDB twin (:func:`lsh_portable_duckdb_sql`) re-derives them from the
    hash spec in SQL, so the oracle verifies the spec itself cross-engine.
    """
    first = (
        corpus.select(_as_double(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .first()
    )
    if first is None:
        # empty corpus (or all-null vec_col): no plane dimension to derive
        # — return the schema-stable empty result like the other topk ops
        return (
            queries.select(
                F.col(id_col).cast("long").alias("query_id"),
                F.col(id_col).cast("long").alias("nbr_id"),
                F.lit(0.0).alias("sim_r"),
            ).limit(0)
        )
    dim = len(first["v"])
    total_planes = n_tables * n_planes
    weights = [
        [_poly_hash(f"pl:{p}:{i}") % 2001 - 1000 for i in range(dim)]
        for p in range(total_planes)
    ]

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        qv = F.transform(
            _as_double(vec_col), lambda x: F.round(x * 1e6).cast("long")
        )
        out = df.select(F.col(id_col).cast("long").alias(f"{side}_id"), qv.alias("_q"))
        tables = []
        for t in range(n_tables):
            bits = []
            for p in range(n_planes):
                w = F.array(*[F.lit(x) for x in weights[t * n_planes + p]])
                dot = F.aggregate(
                    F.zip_with(F.col("_q"), w, lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                bits.append((dot > 0).cast("int").cast("string"))
            tables.append(
                out.select(
                    f"{side}_id",
                    F.lit(t).alias("tbl"),
                    F.concat_ws("", *bits).alias("bucket"),
                )
            )
        res = tables[0]
        for x in tables[1:]:
            res = res.unionByName(x)
        return res

    cand = (
        bucketed(queries, "q")
        .join(bucketed(corpus, "c"), ["tbl", "bucket"])
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("nbr_id"))
        .filter(F.col("query_id") != F.col("nbr_id"))
        .distinct()
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col("_v").alias("qv"), F.col("_norm").alias("qn"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).cast("long").alias("nbr_id"),
        F.col("_v").alias("cv"), F.col("_norm").alias("cn"),
    )
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.join(q, "query_id")
        .join(c, "nbr_id")
        .select(
            "query_id",
            "nbr_id",
            F.round(
                F.when((F.col("qn") > 0) & (F.col("cn") > 0), sim).otherwise(F.lit(0.0)),
                round_dp,
            ).alias("sim_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _poly_hash(s: str, mod: int = 2147483647, seed: int = 7) -> int:
    """Driver-side twin of operators/dedup._token_hash_expr (pinned spec)."""
    h = seed
    for ch in s:
        h = (h * 31 + ord(ch)) % mod
    return h


def lsh_portable_duckdb_sql(
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`lsh_topk_portable` — re-derives the plane
    weights from the pinned polynomial hash IN SQL (so the oracle verifies
    the cross-engine spec, not driver-shipped literals), quantizes vectors
    the same way, and replays bucketing + exact cosine top-k."""
    total = n_tables * n_planes
    th = (
        "list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(range(1, 1 + length({G})), "
        "i -> CAST(ascii(substr({G}, i, 1)) AS BIGINT))), "
        "(h, c) -> (h * 31 + c) % 2147483647)"
    )
    w_expr = th.format(
        G="('pl:' || CAST(p.p AS VARCHAR) || ':' || CAST(d.i AS VARCHAR))"
    )
    return f"""
      WITH e AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {vec_col}::DOUBLE[] AS v FROM {table}
      ), q AS (
        SELECT id, v,
               list_transform(v, x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
        FROM e
      ), pl AS (
        SELECT p.p,
               list(({w_expr}) % 2001 - 1000 ORDER BY d.i) AS w
        FROM (SELECT unnest(range(0, {total})) AS p) p,
             (SELECT unnest(range(0, (SELECT max(len(v)) FROM e))) AS i) d
        GROUP BY p.p
      ), bits AS (
        SELECT q.id, pl.p // {n_planes} AS tbl, pl.p,
               CASE WHEN list_sum(list_transform(range(1, 1 + len(q.qv)),
                      i -> q.qv[i] * pl.w[i])) > 0 THEN '1' ELSE '0' END AS bit
        FROM q CROSS JOIN pl
      ), keys AS (
        SELECT id, tbl, string_agg(bit, '' ORDER BY p) AS bucket
        FROM bits GROUP BY id, tbl
      ), cand AS (
        SELECT DISTINCT x.id AS query_id, y.id AS nbr_id
        FROM keys x JOIN keys y ON x.tbl = y.tbl AND x.bucket = y.bucket
        WHERE x.id <> y.id
      ), scored AS (
        SELECT c.query_id, c.nbr_id,
               round(CASE WHEN list_dot_product(a.v, a.v) > 0
                               AND list_dot_product(b.v, b.v) > 0
                          THEN list_cosine_similarity(a.v, b.v) ELSE 0.0 END, 4) AS sim_r
        FROM cand c JOIN e a ON a.id = c.query_id JOIN e b ON b.id = c.nbr_id
      )
      SELECT query_id, nbr_id, sim_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, nbr_id) AS rk
        FROM scored
      ) WHERE rk <= {k}
    """


def _hyperplane_sign(vec: Column, plane: int, seed: int) -> Column:
    """sign(v · h_plane) where h_plane[i] = deterministic pseudo-random ±/value
    from murmur3(i, plane, seed), scaled to [-1, 1]. Pure JVM expression."""
    weighted = F.zip_with(
        vec,
        F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda i: (F.hash(i, F.lit(plane), F.lit(seed)).cast("double") / F.lit(2147483647.0)),
        ),
        lambda x, h: x * h,
    )
    return (F.aggregate(weighted, F.lit(0.0), lambda a, v: a + v) > 0).cast("int")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    round_dp: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Random-hyperplane LSH ANN → (query_id, nbr_id, sim_r), approximate.

    Bucket key per table = the n_planes sign bits; candidates = bucket
    collisions in any table (distinct), then exact cosine re-rank. At 100 TB
    the bucket join replaces the cross join: cost ∝ collisions, and AQE
    skew-join splits hot buckets.

    ``exclude_self`` drops query_id == nbr_id rows — correct for the
    self-join ANN contract (queries IS the corpus), but set it False when
    queries and corpus are DIFFERENT tables whose raw id spaces overlap
    (cross-source blocking): there (5, 5) is a legitimate candidate pair.
    """
    def bucketed(df: DataFrame, side: str) -> DataFrame:
        v = _as_double(vec_col)
        out = df.select(F.col(id_col).alias(f"{side}_id"), v.alias("_v"))
        tables = []
        for t in range(n_tables):
            bits = [
                _hyperplane_sign(F.col("_v"), t * n_planes + p, seed) for p in range(n_planes)
            ]
            key = F.concat_ws("", *[b.cast("string") for b in bits])
            tables.append(
                out.select(
                    f"{side}_id", F.lit(t).alias("tbl"), key.alias("bucket")
                )
            )
        res = tables[0]
        for x in tables[1:]:
            res = res.unionByName(x)
        return res

    bq = bucketed(queries, "q")
    bc = bucketed(corpus, "c")
    cand = (
        bq.join(bc, ["tbl", "bucket"])
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("nbr_id"))
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("nbr_id"))
    cand = cand.distinct()
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.join(q, "query_id")
        .join(c, "nbr_id")
        .select(
            "query_id",
            "nbr_id",
            F.round(F.when((F.col("qn") > 0) & (F.col("cn") > 0), sim).otherwise(F.lit(0.0)), round_dp).alias("sim_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )

"""Similarity search over an ``array<float>`` embedding column.

Two paths:

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — the corpus never shuffles; per-partition top-k via window.
- LSH-bucketed near-dup / search: random-hyperplane sign bits, banded
  (2 bands x 4 bits); candidate pairs only within matching buckets, so the
  pair join is keyed and scales linearly with bucket occupancy, not n^2.

Hyperplanes are deterministic (fixed LCG constants) so the DuckDB oracle can
embed identical planes; cosine uses the left-fold double arithmetic from
``functions.vectors`` for bit-identical cross-engine results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import parallelized
from ..functions import vectors

EMBED_DIM = 64
N_PLANES = 8
LSH_BANDS = 2
BITS_PER_BAND = N_PLANES // LSH_BANDS

_LCG_M = 1 << 31


def _lcg_floats(seed: int, n: int) -> list[float]:
    xs, x = [], seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % _LCG_M
        xs.append(x / _LCG_M - 0.5)
    return xs


#: N_PLANES deterministic hyperplanes of EMBED_DIM components in [-0.5, 0.5).
HYPERPLANES: list[list[float]] = [_lcg_floats(1000 + i, EMBED_DIM) for i in range(N_PLANES)]


def plane_bit(emb, plane: list[float]):
    """1 if dot(emb, plane) > 0 else 0 (deterministic left-fold dot)."""
    return F.when(vectors.dot(emb, vectors.const_array(plane)) > 0, 1).otherwise(0)


def plane_bit_sql(emb_expr: str, plane: list[float]) -> str:
    return (
        f"(CASE WHEN {vectors.dot_sql(emb_expr, vectors.const_array_sql(plane))} > 0 "
        f"THEN 1 ELSE 0 END)"
    )


def with_lsh_bands(emb_df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Add band/bkey rows: (.., band, bkey) one row per band per vector.

    ONE scan of the source per consumer: every band's key is computed in
    a single projection as an array of (band, bkey) structs and exploded
    — the same shape dedup.lsh_bands uses. (The first draft unioned one
    withColumn branch per band, i.e. LSH_BANDS scans PER CONSUMER.
    Measured at production band counts — SCALE.md "LSH banding shape",
    100k vectors, bands 2/8/16, interleaved min-of-3: WALL-TIME ties
    (union/explode 1.12 / 0.77 / 0.91 — total plane-dot work is
    identical and the HOF dot is interpreted in both shapes), but the
    union form's parquet scan count grows 12 -> 36 -> 68 while the
    explode form stays flat at 8. On local page-cached 51 MB files the
    rescans are nearly free; against a 100 TB corpus on object storage
    scan volume IS the cost, so the flat-scan shape wins at scale.)"""
    emb = F.col(emb_col)
    emb_df = parallelized(emb_df)
    entries = []
    for band in range(LSH_BANDS):
        key = F.lit(0)
        for j in range(BITS_PER_BAND):
            bit = plane_bit(emb, HYPERPLANES[band * BITS_PER_BAND + j])
            key = key * 2 + bit
        entries.append(F.struct(F.lit(band).alias("band"), key.cast("int").alias("bkey")))
    return (
        emb_df.withColumn("_bb", F.explode(F.array(*entries)))
        .withColumn("band", F.col("_bb.band"))
        .withColumn("bkey", F.col("_bb.bkey"))
        .drop("_bb")
    )


def band_key_sql(emb_expr: str, band: int) -> str:
    expr = "0"
    for j in range(BITS_PER_BAND):
        expr = f"(({expr}) * 2 + {plane_bit_sql(emb_expr, HYPERPLANES[band * BITS_PER_BAND + j])})"
    return expr


def cosine_neardup_pairs(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-band candidates -> exact cosine filter.

    Returns (id_a, id_b, cos_sim) with id_a < id_b. Approximate by design:
    recall depends on band geometry (documented LSH semantics); the oracle
    replicates the same buckets so results are still exact-matched.
    """
    banded = with_lsh_bands(emb_df, emb_col)
    # candidate dedup on the NARROW id pair (2 longs), embeddings joined
    # back afterwards — the minhash/setsim discipline: the multi-band
    # duplicate-pair distinct must not exchange 2 x EMBED_DIM doubles per
    # row when 2 ids suffice
    left = banded.select(F.col(id_col).alias("id_a"), "band", "bkey")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bkey")
    cand_ids = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = emb_df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"))
    vb = emb_df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"))
    cand = cand_ids.join(va, "id_a").join(vb, "id_b")
    return (
        cand.select(
            "id_a",
            "id_b",
            vectors.cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def topk_bruteforce(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector (the ANN baseline).

    The query set is broadcast — the corpus is scanned once with no shuffle
    until the final per-query top-k (a window over tiny partitions).
    Returns (query_id, vec_id, cos_sim, rank).
    """
    queries = (
        emb_df.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    )
    scored = (
        parallelized(emb_df).crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            vectors.cosine(F.col("q_emb"), F.col(emb_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def topk_lsh(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an LSH band with the
    query — the 100 TB path (bucket-pruned candidate set per query)."""
    banded = with_lsh_bands(emb_df, emb_col)
    queries = banded.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "band", "bkey"
    )
    # same narrow-distinct discipline as cosine_neardup_pairs: dedup the
    # multi-band candidate pairs on ids, then join the embeddings back
    # (the query side is a broadcast-sized id->embedding lookup)
    cand_ids = (
        banded.join(F.broadcast(queries), ["band", "bkey"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("vec_id"))
        .distinct()
    )
    q_emb = emb_df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    c_emb = emb_df.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb"))
    scored = (
        cand_ids.join(F.broadcast(q_emb), "query_id")
        .join(c_emb, "vec_id")
        .select(
            "query_id",
            "vec_id",
            vectors.cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path besides LSH
# ---------------------------------------------------------------------------

IVF_K = 8  # default coarse-cell count for the sf fixtures (~500 vectors);
#            at 100 TB pass k~50k so cells stay bounded (sqrt(n) rule)
IVF_REFINE_ITERS = 1  # Lloyd iterations from the seed (k-means-lite)


def _argmin_assign(
    emb_df: DataFrame, centroids: DataFrame, id_col: str, emb_col: str
) -> DataFrame:
    """Assign every vector to its nearest centroid (relational argmin).

    Broadcast the K centroids against the corpus, compute squared L2 via a
    deterministic left fold, keep the argmin per vector as a map-side-
    combinable ``min(struct(dist2, cid, emb))`` aggregate keyed on id
    (ties impossible: cid is unique within an id group, so (dist2, cid)
    totally orders it — the same pick the earlier rank-1 window made).
    The window form shipped all corpus x K scored rows — each carrying
    the full embedding — through the Exchange on id; the partial
    aggregate collapses them to ~one row per vector BEFORE the exchange
    (guide §2.3), a K-fold shuffle cut that grows with K (fixtures use
    K=8; a 100 TB corpus ~50k). Measured at sf0.1 (interleaved min-of-3,
    identical outputs): ivfadc 4.13->3.81 s, ivf 2.73->2.31 s,
    semantic cells 5.29->4.84 s.
    """
    dist2 = vectors.l2sq(F.col(emb_col), F.col("cvec"))
    scored = emb_df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col), F.col(emb_col), F.col("cid"), dist2.alias("dist2")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min(F.struct("dist2", "cid", F.col(emb_col))).alias("_b"))
        .select(
            F.col(id_col),
            F.col(f"_b.{emb_col}").alias(emb_col),
            F.col("_b.cid").alias("cell"),
        )
    )


def _recompute_centroids(assigned: DataFrame, emb_col: str) -> DataFrame:
    """Per-cell mean vectors (one Lloyd step), hash-stable cross-engine.

    Per-dimension means go through DECIMAL(24,8) sums — exact and
    order-independent, so the refined centroids are bit-identical no matter
    how partitions combine — then the array is rebuilt in dimension order.
    Cost: one explode of the assigned corpus + a (K x dims)-sized aggregate.
    """
    dims = assigned.select("cell", F.posexplode(F.col(emb_col)).alias("dim", "val"))
    means = dims.groupBy("cell", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(24,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    return means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
            lambda s: s.mean_val,
        ).alias("cvec")
    ).select(F.col("cell").alias("cid"), "cvec")


def _seed_centroids(emb_df: DataFrame, id_col: str, emb_col: str, k: int) -> DataFrame:
    """Deterministic k-means seed: the vectors with id in [0, k).

    REQUIRES ids 0..k-1 to exist (``filter(id < k)`` pushes to the scan,
    which a first-k-by-id TakeOrdered would not). A sparse or offset id
    space would otherwise silently yield too few centroids and EMPTY
    downstream results, so the seed count is checked — one tiny
    pushdown-filtered job at build time, k rows."""
    seed = emb_df.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cid"), F.col(emb_col).alias("cvec")
    )
    n = seed.count()
    if n < k:
        raise ValueError(
            f"centroid seeding needs ids 0..{k - 1} present in {id_col}: "
            f"found {n} of {k} (sparse or non-zero-based id space — "
            "remap ids or seed explicitly)"
        )
    return seed


class IvfIndex:
    """A built IVF index: ``centroids`` (cid, cvec) + ``assignments``
    (id, emb, cell). Build ONCE, persist, probe many times — the
    production split a per-query re-clustering would violate at scale.

    ``persist()`` eagerly materializes both frames via ``localCheckpoint``,
    truncating the k-means lineage so every subsequent probe plans against
    the stored relations (at cluster scale you'd ``write.parquet`` the
    assignments partitioned by cell and keep centroids broadcast-cached).
    """

    def __init__(self, centroids: DataFrame, assignments: DataFrame):
        self.centroids = centroids
        self.assignments = assignments

    def persist(self) -> "IvfIndex":
        self.centroids = self.centroids.localCheckpoint()
        self.assignments = self.assignments.localCheckpoint()
        return self

    def write(self, path: str) -> "IvfIndex":
        """Materialize the index to parquet: centroids flat (K rows, the
        probe broadcasts them), assignments partitioned BY CELL so a probe
        with nprobe cells reads only those directories — the on-disk form
        of the 1/K-of-the-corpus probe cost."""
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        self.assignments.write.partitionBy("cell").mode("overwrite").parquet(
            f"{path}/assignments"
        )
        return self


def ivf_read_index(spark, path: str) -> IvfIndex:
    """Load an index written by :meth:`IvfIndex.write`."""
    return IvfIndex(
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assignments"),
    )


def ivf_build_index(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    k: int = IVF_K,
    refine_iters: int = IVF_REFINE_ITERS,
) -> IvfIndex:
    """Build the IVF index: k-means-lite centroids + cell assignments.

    Centroids are seeded deterministically from the first ``k`` vectors,
    then refined with ``refine_iters`` Lloyd iterations (assign ->
    per-cell decimal-exact mean -> reassign). Each iteration costs one
    broadcast-argmin pass plus one explode+aggregate; the corpus never
    shuffles on anything wider than (id). ``k`` scales with corpus size
    (~sqrt(n): the fixtures use 8, a 100 TB corpus ~50k) so per-cell
    candidate sets stay bounded.
    """
    emb_df = parallelized(emb_df)
    centroids = _seed_centroids(emb_df, id_col, emb_col, k)
    assigned = _argmin_assign(emb_df, centroids, id_col, emb_col)
    for _ in range(refine_iters):
        centroids = _recompute_centroids(assigned, emb_col)
        assigned = _argmin_assign(emb_df, centroids, id_col, emb_col)
    return IvfIndex(centroids, assigned)


def ivf_assign(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    k: int = IVF_K,
    refine_iters: int = IVF_REFINE_ITERS,
) -> DataFrame:
    """Assign every vector to its coarse IVF cell (index build, assignments
    half — see :func:`ivf_build_index`)."""
    return ivf_build_index(
        emb_df, id_col, emb_col, k=k, refine_iters=refine_iters
    ).assignments


def topk_ivf(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF top-k: score only vectors in the query's ``nprobe`` nearest
    coarse cells.

    Pass a prebuilt (persisted) ``index`` to probe without re-clustering —
    the scale contract: the index is built once over the corpus, queries
    only pay centroid ranking (K rows, broadcast) plus a keyed join into
    1..nprobe cells, touching ~nprobe/K of the corpus. ``nprobe`` trades
    recall for cost exactly as in classic IVF; nprobe=1 probes just the
    query's own cell (identical to the assigned cell, since assignment IS
    the argmin over the same centroids).
    """
    from pyspark.sql.window import Window

    if index is None:
        index = ivf_build_index(emb_df, id_col, emb_col)
    assigned = index.assignments
    queries = assigned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    # Rank centroids per query with the same (dist2, cid) order as the
    # assignment argmin, keep the nprobe nearest cells.
    cdist = queries.crossJoin(F.broadcast(index.centroids)).select(
        "query_id",
        "q_emb",
        F.col("cid").alias("cell"),
        vectors.l2sq(F.col("q_emb"), F.col("cvec")).alias("dist2"),
    )
    wc = Window.partitionBy("query_id").orderBy("dist2", "cell")
    probe_cells = (
        cdist.withColumn("_cr", F.row_number().over(wc))
        .filter(F.col("_cr") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )
    cand = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", "q_emb", F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb"))
    )
    scored = cand.select(
        "query_id", "vec_id", vectors.cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def quantize_int8(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization summary.

    ``scale = max(|x|) / 127``; ``q_i = floor(x_i / scale + 0.5)`` clamped to
    [-127, 127]. ``floor(x + 0.5)`` replaces ``round`` deliberately: round's
    half-tie behavior differs across engines while floor is exact, so the
    quantized ints are bit-reproducible. Zero vectors quantize to all-zero.
    Emits scalar diagnostics (not the int array) per the driver's
    hashability contract: scale, sum/min/max of q, and saturation count.

    At scale this is a narrow per-row transform — no shuffle, no Python.
    """
    as_double = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(as_double, F.abs))
    scale = absmax / F.lit(127.0)
    q = F.transform(
        as_double,
        lambda x: F.when(scale == 0.0, F.lit(0.0))
        .otherwise(
            F.greatest(F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5).cast("double")))
        )
        .cast("bigint"),
    )
    return parallelized(emb_df).select(
        F.col(id_col).alias("vec_id"),
        scale.alias("qscale"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_q"),
        F.array_min(q).cast("bigint").alias("min_q"),
        F.array_max(q).cast("bigint").alias("max_q"),
        F.size(F.filter(q, lambda x: (x == -127) | (x == 127))).alias("n_saturated"),
    )


def quantize_int8_sql(table: str, id_expr: str = "vec_id", emb_expr: str = "embedding") -> str:
    """DuckDB query matching :func:`quantize_int8`."""
    as_double = f"list_transform({emb_expr}, x -> CAST(x AS DOUBLE))"
    return f"""
        WITH base AS (
            SELECT {id_expr} AS vec_id,
                   list_reduce(list_transform({as_double}, x -> abs(x)),
                               (a, b) -> greatest(a, b)) / 127.0 AS qscale,
                   {as_double} AS xs
            FROM {table}
        ), quant AS (
            SELECT vec_id, qscale,
                   list_transform(xs, x -> CASE WHEN qscale = 0.0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(greatest(-127.0, least(127.0, floor(x / qscale + 0.5))) AS BIGINT)
                   END) AS q
            FROM base
        )
        SELECT vec_id, qscale,
               list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, b) -> a + b) AS sum_q,
               list_reduce(q, (a, b) -> least(a, b)) AS min_q,
               list_reduce(q, (a, b) -> greatest(a, b)) AS max_q,
               CAST(len(list_filter(q, x -> x = -127 OR x = 127)) AS INTEGER) AS n_saturated
        FROM quant
    """


def semantic_dedup_cells(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    k: int = IVF_K,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster, then dedup within clusters.

    Structure follows SemDeDup (Abbas et al., 2023, arXiv:2303.09540):
    assign every vector to a coarse centroid cell (relational argmin over
    the deterministic seed centroids — same as the IVF index), then compare
    pairs ONLY within a cell and drop every vector whose cosine similarity
    to a lower-id cell-mate exceeds the threshold. Returns the per-cell
    summary ``(cell, n_vectors, n_dropped, n_kept)``.

    Scale shape: the pair join is keyed on ``cell``, so cost is
    sum(|cell|^2) not n^2 — at 100 TB you raise ``k`` so cells stay
    bounded (SemDeDup uses ~50k clusters for billions of docs); the
    cluster assignment itself is one broadcast join. Keep-rule is min-id
    within a similar pair: deterministic, no iterative clustering required.
    """
    seed = _seed_centroids(emb_df, id_col, emb_col, k)
    assigned = _argmin_assign(emb_df, seed, id_col, emb_col)
    a = assigned.select("cell", F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"))
    b = assigned.select("cell", F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell",
            "id_b",
            vectors.cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    dropped = pairs.select("cell", "id_b").distinct()
    n_by_cell = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    d_by_cell = dropped.groupBy("cell").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        n_by_cell.join(d_by_cell, "cell", "left")
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


def cross_split_contamination(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    k: int = IVF_K,
) -> DataFrame:
    """Semantic train/test contamination: train vectors too similar to any
    test vector, compared only within shared centroid cells.

    The n-gram decontamination pass (corpus_prep) catches verbatim overlap;
    this catches paraphrase-level leakage the way SemDeDup-style dedup
    catches near-duplicates: cell assignment bounds the candidate set, the
    train x test comparison is keyed on ``cell``, and each contaminated
    train vector reports its single most-similar test vector
    (deterministic argmax: cosine desc, test id). The test side is NOT
    hinted broadcast: assign_split buckets 80/10/10, so test is a fixed
    ~10% of the corpus — corpus-proportional, not broadcast-size — and a
    mandatory hint would collect it to the driver at any scale (the same
    unbounded-broadcast class the tf-idf/setsim guards exist for). AQE
    broadcasts it when it measures small and keys the join on ``cell``
    otherwise; either way the train corpus re-shuffles at most once past
    the assignment pass.
    """
    from ..operators import corpus_prep

    seed = _seed_centroids(emb_df, id_col, emb_col, k)
    assigned = corpus_prep.assign_split(
        _argmin_assign(emb_df, seed, id_col, emb_col), id_col
    )
    train = assigned.filter(F.col("split") == "train").select(
        "cell", F.col(id_col).alias("train_id"), F.col(emb_col).alias("emb_t")
    )
    test = assigned.filter(F.col("split") == "test").select(
        "cell", F.col(id_col).alias("test_id"), F.col(emb_col).alias("emb_q")
    )
    scored = (
        train.join(test, "cell")
        .select(
            "train_id",
            "test_id",
            vectors.cosine(F.col("emb_t"), F.col("emb_q")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("train_id").orderBy(F.col("cos_sim").desc(), F.col("test_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("train_id", "test_id", "cos_sim")
        .orderBy("train_id")
    )


RP_DIM = 16  # random-projection target dimensionality

#: RP_DIM deterministic projection vectors (LCG seeds disjoint from the
#: LSH hyperplane seeds so the two geometries are uncorrelated).
RP_PLANES: list[list[float]] = [_lcg_floats(2000 + i, EMBED_DIM) for i in range(RP_DIM)]


def random_projection(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss-style random projection to RP_DIM dimensions.

    The classic pre-pass that makes downstream ANN / clustering cheaper:
    distances are approximately preserved while per-vector cost drops
    EMBED_DIM/RP_DIM x. Pure per-row fold arithmetic (broadcast-free,
    shuffle-free, no Python); projections are deterministic left-fold dot
    products so the reduced vectors are bit-identical cross-engine.
    """
    cols = [
        vectors.dot(F.col(emb_col), vectors.const_array(RP_PLANES[j])).alias(f"p{j}")
        for j in range(RP_DIM)
    ]
    return parallelized(emb_df).select(F.col(id_col), *cols).orderBy(id_col)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search"): the memory-side half of IVF-PQ — vectors compress to
# m small codes; queries rank candidates by table-lookup (ADC) distances.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (EMBED_DIM/PQ_M dims each)
PQ_KS = 4  # codewords per subspace for the sf fixtures; 256 in production
#           (train real k-means codebooks and store codes as bytes — the
#           64-dim float vector becomes PQ_M bytes, a 32x compression)


def _pq_codebook(
    emb_df: DataFrame,
    id_col: str,
    emb_col: str,
    m: int,
    ks: int,
    refine_iters: int = 0,
) -> DataFrame:
    """Deterministic per-subspace codebook ``(j, cid, cw)``: the subvectors
    of the first ``ks`` vectors by id (the same seeding discipline as the
    IVF centroids).

    ``refine_iters`` > 0 runs that many per-subspace Lloyd iterations
    (assign every subvector to its nearest codeword, recompute codewords
    as cell means) — the k-means training that production PQ uses. Each
    iteration costs one broadcast-argmin pass + one keyed mean aggregate
    per subspace (all m subspaces ride the same two stages); the corpus
    never shuffles on anything wider than (id, j). Kept opt-in (default
    0) so the oracle-pinned fixture queries stay on the seeded codebook
    the DuckDB SQL mirrors.
    """
    d_sub = EMBED_DIM // m
    seed = parallelized(emb_df).filter(F.col(id_col) < ks)
    n_seed = seed.count()
    if n_seed < ks:
        # same contract (and same silent-empty failure mode) as
        # _seed_centroids: the seeding filter requires ids 0..ks-1
        raise ValueError(
            f"PQ codebook seeding needs ids 0..{ks - 1} present in "
            f"{id_col}: found {n_seed} of {ks} (sparse or non-zero-based "
            "id space — remap ids or lower ks)"
        )
    cb = (
        seed.select(
            F.col(id_col).cast("int").alias("cid"),
            F.col(emb_col).alias("_emb"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        )
        .select(
            "cid",
            "j",
            F.slice(F.col("_emb"), F.col("j") * d_sub + 1, d_sub).alias("cw"),
        )
    )
    if refine_iters <= 0:
        return cb
    sub = _pq_subvectors(emb_df, id_col, emb_col, m, "_sid")
    for _ in range(refine_iters):
        assigned = (
            sub.join(F.broadcast(cb), "j")
            .select(
                "_sid",
                "j",
                "sv",
                "cid",
                vectors.l2sq(F.col("sv"), F.col("cw")).alias("dist2"),
            )
            .groupBy("_sid", "j")
            .agg(F.min(F.struct("dist2", "cid", "sv")).alias("b"))
            .select("j", F.col("b.cid").alias("cid"), F.col("b.sv").alias("sv"))
        )
        # cell mean per (j, cid): aggregate each dimension through
        # DECIMAL(24,8) sums — exact and order-independent, the same
        # discipline as _recompute_centroids, so trained codebooks are
        # bit-identical run-to-run no matter how partitions combine
        # (F.avg over doubles is combine-order-dependent); empty cells
        # keep their previous codeword (left join back onto the old book)
        dim_means = assigned.groupBy("j", "cid").agg(
            F.array(
                *[
                    (
                        F.sum(
                            F.element_at("sv", d + 1)
                            .cast("double")
                            .cast("decimal(24,8)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    ).alias(f"d{d}")
                    for d in range(d_sub)
                ]
            ).alias("cw_new"),
        )
        cb = (
            cb.join(dim_means, ["j", "cid"], "left")
            .select(
                "j",
                "cid",
                F.coalesce("cw_new", "cw").alias("cw"),
            )
            .localCheckpoint()  # truncate the per-iteration plan lineage
        )
    return cb


def _pq_subvectors(
    emb_df: DataFrame, id_col: str, emb_col: str, m: int, out_id: str
) -> DataFrame:
    d_sub = EMBED_DIM // m
    return (
        parallelized(emb_df)
        .select(
            F.col(id_col).alias(out_id),
            F.col(emb_col).alias("_emb"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        )
        .select(
            out_id,
            "j",
            F.slice(F.col("_emb"), F.col("j") * d_sub + 1, d_sub).alias("sv"),
        )
    )


def _pq_codes(
    emb_df: DataFrame,
    id_col: str,
    emb_col: str,
    m: int,
    ks: int,
    refine_iters: int = 0,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Per-(vector, subspace) nearest codeword: ``(id, j, cid, dist2)``.

    The argmin is a map-side-combinable min(struct(dist2, cid)) aggregate
    keyed on (id, j) — the corpus shuffles once on its own id and the
    codebook (m x ks rows) broadcasts. Callers that ALSO need the
    codebook (ADC LUT builders) must build it once and pass it in:
    rebuilding trains Lloyd twice and risks pairing codes with a LUT
    from a different codebook."""
    cb = (
        codebook
        if codebook is not None
        else _pq_codebook(emb_df, id_col, emb_col, m, ks, refine_iters)
    )
    sub = _pq_subvectors(emb_df, id_col, emb_col, m, id_col)
    scored = sub.join(F.broadcast(cb), "j").select(
        id_col, "j", "cid", vectors.l2sq(F.col("sv"), F.col("cw")).alias("dist2")
    )
    return (
        scored.groupBy(id_col, "j")
        .agg(F.min(F.struct("dist2", "cid")).alias("b"))
        .select(
            id_col,
            "j",
            F.col("b.cid").alias("cid"),
            F.col("b.dist2").alias("dist2"),
        )
    )


def pq_encode(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    m: int = PQ_M,
    ks: int = PQ_KS,
    refine_iters: int = 0,
) -> DataFrame:
    """PQ-encode every vector: ``(vec_id, codes, recon_err)`` where
    ``codes`` is the comma-joined per-subspace codeword id and
    ``recon_err`` the total squared quantization error (fixed-j-order
    fold, bit-identical cross-engine).

    Scale shape: codebook broadcasts, the per-subspace argmin partial-
    aggregates map-side, and reassembly shuffles on vec_id with m-row
    groups. At 100 TB the codes relation is the ANN working set — PQ_M
    bytes/vector instead of EMBED_DIM floats — which is what lets a
    1000-executor scan rank billions of candidates in memory.
    """
    best = _pq_codes(emb_df, id_col, emb_col, m, ks, refine_iters)
    return best.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cid"))),
                lambda x: x["cid"].cast("string"),
            ),
            ",",
        ).alias("codes"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "dist2"))),
                lambda x: x["dist2"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("recon_err"),
    )


def pq_encode_sql(
    table: str,
    id_expr: str = "vec_id",
    emb_expr: str = "embedding",
    *,
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> str:
    """DuckDB query matching :func:`pq_encode`."""
    d = EMBED_DIM // m
    lo, hi = f"j * {d} + 1", f"j * {d} + {d}"
    return f"""
        WITH js AS (
            SELECT unnest(generate_series(0, {m - 1})) AS j
        ), sub AS (
            SELECT {id_expr} AS vid, j, {emb_expr}[{lo} : {hi}] AS sv
            FROM {table} CROSS JOIN js
        ), cb AS (
            SELECT {id_expr} AS cid, j, {emb_expr}[{lo} : {hi}] AS cw
            FROM {table} CROSS JOIN js WHERE {id_expr} < {ks}
        ), scored AS (
            SELECT s.vid, s.j, c.cid, {vectors.l2sq_sql('s.sv', 'c.cw')} AS dist2
            FROM sub s JOIN cb c ON s.j = c.j
        ), best AS (
            SELECT vid, j, MIN(struct_pack(d := dist2, c := cid)) AS b
            FROM scored GROUP BY vid, j
        )
        SELECT vid AS {id_expr},
               string_agg(CAST(struct_extract(b, 'c') AS VARCHAR), ','
                          ORDER BY j) AS codes,
               list_reduce(list_prepend(0.0, list(struct_extract(b, 'd')
                          ORDER BY j)), (x, y) -> x + y) AS recon_err
        FROM best GROUP BY vid
    """


def topk_pq_adc(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    k: int = 5,
    refine_iters: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: each query precomputes an
    (m x ks) lookup table of exact subspace distances to every codeword;
    a candidate's approximate distance is the fixed-order sum of m table
    lookups selected by its stored codes. Returns ``(query_id, vec_id,
    adc_dist, rnk)`` for the k nearest non-self candidates per query.

    Scale shape: the LUT is |queries| x m x ks rows and broadcasts; the
    candidate scan joins codes (the compressed corpus) to the LUT on
    (j, cid) — never touching the original vectors, which is the entire
    point of PQ at 100 TB. Ranking is a per-query window over corpus-
    sized-but-narrow rows.
    """
    cb = _pq_codebook(emb_df, id_col, emb_col, m, ks, refine_iters)
    codes = _pq_codes(emb_df, id_col, emb_col, m, ks, codebook=cb).select(
        F.col(id_col).alias("vec_id"), "j", "cid"
    )
    q_sub = _pq_subvectors(
        parallelized(emb_df).filter(F.col(id_col).isin(query_ids)),
        id_col,
        emb_col,
        m,
        "query_id",
    )
    lut = q_sub.join(F.broadcast(cb), "j").select(
        "query_id", "j", "cid", vectors.l2sq(F.col("sv"), F.col("cw")).alias("d2")
    )
    paired = codes.join(F.broadcast(lut), ["j", "cid"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = paired.groupBy("query_id", "vec_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "d2"))),
                lambda x: x["d2"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


#: production PQ quality preset (round-5 VERDICT item 5): Lloyd-trained
#: codebook (4 iterations is where the k-means objective plateaus on the
#: fixtures) and a wider codebook than the oracle-tractable PQ_KS = 4.
#: The oracle-pinned queries stay on the seeded refine_iters=0 path; this
#: preset is what a production caller uses when no cross-engine hash must
#: be preserved.
PQ_TRAINED_REFINE_ITERS = 4
PQ_TRAINED_KS = 64


def topk_pq_adc_trained(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_TRAINED_KS,
    k: int = 5,
    refine_iters: int = PQ_TRAINED_REFINE_ITERS,
) -> DataFrame:
    """:func:`topk_pq_adc` with the production quality preset: a
    Lloyd-trained ``ks``-codeword codebook instead of the seeded
    oracle-pinned one. Identical plan shape (training adds
    ``refine_iters`` broadcast-argmin + keyed-mean passes at index-build
    time only); measured on the clustered fixture variant it lifts
    recall@5 over the seeded codebook at the same ks (SCALE.md, round-5
    PQ preset measurement)."""
    return topk_pq_adc(
        emb_df,
        query_ids,
        id_col=id_col,
        emb_col=emb_col,
        m=m,
        ks=ks,
        k=k,
        refine_iters=refine_iters,
    )


def topk_pq_adc_sql(
    table: str,
    query_ids: list[int],
    id_expr: str = "vec_id",
    emb_expr: str = "embedding",
    *,
    m: int = PQ_M,
    ks: int = PQ_KS,
    k: int = 5,
) -> str:
    """DuckDB query matching :func:`topk_pq_adc`."""
    d = EMBED_DIM // m
    lo, hi = f"j * {d} + 1", f"j * {d} + {d}"
    qlist = ", ".join(str(q) for q in query_ids)
    return f"""
        WITH js AS (
            SELECT unnest(generate_series(0, {m - 1})) AS j
        ), sub AS (
            SELECT {id_expr} AS vid, j, {emb_expr}[{lo} : {hi}] AS sv
            FROM {table} CROSS JOIN js
        ), cb AS (
            SELECT {id_expr} AS cid, j, {emb_expr}[{lo} : {hi}] AS cw
            FROM {table} CROSS JOIN js WHERE {id_expr} < {ks}
        ), scored AS (
            SELECT s.vid, s.j, c.cid, {vectors.l2sq_sql('s.sv', 'c.cw')} AS dist2
            FROM sub s JOIN cb c ON s.j = c.j
        ), best AS (
            SELECT vid, j, MIN(struct_pack(d := dist2, c := cid)) AS b
            FROM scored GROUP BY vid, j
        ), codes AS (
            SELECT vid AS vec_id, j, struct_extract(b, 'c') AS cid FROM best
        ), lut AS (
            SELECT s.vid AS query_id, s.j, c.cid,
                   {vectors.l2sq_sql('s.sv', 'c.cw')} AS d2
            FROM sub s JOIN cb c ON s.j = c.j
            WHERE s.vid IN ({qlist})
        ), paired AS (
            SELECT l.query_id, co.vec_id, co.j, l.d2
            FROM codes co JOIN lut l ON co.j = l.j AND co.cid = l.cid
            WHERE co.vec_id <> l.query_id
        ), summed AS (
            SELECT query_id, vec_id,
                   list_reduce(list_prepend(0.0, list(d2 ORDER BY j)),
                               (x, y) -> x + y) AS adc_dist
            FROM paired GROUP BY query_id, vec_id
        ), ranked AS (
            SELECT query_id, vec_id, adc_dist,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_dist, vec_id) AS INTEGER) AS rnk
            FROM summed
        )
        SELECT query_id, vec_id, adc_dist, rnk
        FROM ranked WHERE rnk <= {k}
    """


def topk_ivf_adc(
    emb_df: DataFrame,
    query_ids: list[int],
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    m: int = PQ_M,
    ks: int = PQ_KS,
    index: IvfIndex | None = None,
    codes: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al.): coarse IVF cell probe + PQ asymmetric-distance
    ranking — the composition production ANN systems actually deploy (a
    FAISS ``IVFx,PQy`` index). The coarse quantizer prunes the corpus to
    ``nprobe`` cells per query; within the probed cells candidates are
    ranked by the ADC sum over their stored PQ codes.

    The original vectors are touched only at index/code-BUILD time **when
    the caller passes the persisted artifacts in**: production callers
    must build ``codes`` (``(vec_id, j, cid)`` via :func:`_pq_codes`, or
    re-derive from :func:`pq_encode` output) and ``codebook`` once,
    persist them next to the :class:`IvfIndex`, and pass all three — then
    a probe reads only cell-pruned PQ_M-byte code rows. The convenience
    one-shot call (all three None, what the oracle-pinned fixture query
    uses) encodes the corpus inline, which re-reads the raw vectors on
    every call and does NOT amortize.

    Scale shape — the intersection of both parents' properties: centroids
    (K rows) and the per-query LUT (|queries| x m x ks) broadcast; the
    probe joins the cell-keyed assignments relation (partition-prunable
    when the index is persisted via :meth:`IvfIndex.write`) against the
    broadcast probe-cell list; ADC pairing shuffles only the probed
    candidates' narrow (vec_id, j, cid) code rows. At 100 TB the scan is
    1/K of the corpus in PQ_M-byte rows instead of EMBED_DIM floats.

    Returns ``(query_id, vec_id, adc_dist, rnk)``, rnk <= k per query.
    """
    if index is None:
        index = ivf_build_index(emb_df, id_col, emb_col)
    assigned = index.assignments

    queries = assigned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    cdist = queries.crossJoin(F.broadcast(index.centroids)).select(
        "query_id",
        "q_emb",
        F.col("cid").alias("cell"),
        vectors.l2sq(F.col("q_emb"), F.col("cvec")).alias("dist2"),
    )
    wc = Window.partitionBy("query_id").orderBy("dist2", "cell")
    probe_cells = (
        cdist.withColumn("_cr", F.row_number().over(wc))
        .filter(F.col("_cr") <= nprobe)
        .select("query_id", "cell")
    )

    cb = codebook if codebook is not None else _pq_codebook(emb_df, id_col, emb_col, m, ks)
    if codes is None:
        codes = _pq_codes(emb_df, id_col, emb_col, m, ks, codebook=cb).select(
            F.col(id_col).alias("vec_id"), "j", "cid"
        )
    q_sub = _pq_subvectors(
        parallelized(emb_df).filter(F.col(id_col).isin(query_ids)),
        id_col,
        emb_col,
        m,
        "query_id",
    )
    lut = q_sub.join(F.broadcast(cb), "j").select(
        "query_id", "j", "cid", vectors.l2sq(F.col("sv"), F.col("cw")).alias("d2")
    )

    cand = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("vec_id"))
    )
    paired = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "j", "cid"])
    )
    scored = paired.groupBy("query_id", "vec_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "d2"))),
                lambda x: x["d2"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def topk_ivf_adc_sql(
    table: str,
    query_ids: list[int],
    id_expr: str = "vec_id",
    emb_expr: str = "embedding",
    *,
    m: int = PQ_M,
    ks: int = PQ_KS,
    k: int = 5,
) -> str:
    """DuckDB query matching :func:`topk_ivf_adc` at nprobe=1 (the probe
    cell is then exactly the query's own assigned cell — the same identity
    topk_ivf documents). Coarse CTEs mirror the IVF oracle (seed argmin ->
    decimal-exact Lloyd means -> reassign); fine CTEs mirror the PQ-ADC
    oracle restricted to same-cell candidates."""
    dist2 = (
        f"list_reduce(list_transform(generate_series(1, len(e.{emb_expr})), "
        f"i -> (CAST(e.{emb_expr}[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) "
        f"* (CAST(e.{emb_expr}[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))), (a, b) -> a + b)"
    )
    d = EMBED_DIM // m
    lo, hi = f"j * {d} + 1", f"j * {d} + {d}"
    qlist = ", ".join(str(q) for q in query_ids)
    return f"""
    WITH seed AS (
        SELECT CAST({id_expr} AS INTEGER) AS cid, {emb_expr} AS cvec
        FROM {table} WHERE {id_expr} < {IVF_K}
    ), scored0 AS (
        SELECT e.{id_expr} AS vec_id, e.{emb_expr} AS embedding, c.cid, {dist2} AS dist2
        FROM {table} e CROSS JOIN seed c
    ), a0 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored0
        ) WHERE rn = 1
    ), dims AS (
        SELECT cell, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
        FROM a0, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), centroids AS (
        SELECT cell AS cid, list(mean_val ORDER BY dim) AS cvec FROM (
            SELECT cell, dim,
                   CAST(SUM(CAST(val AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*) AS mean_val
            FROM dims GROUP BY cell, dim
        ) GROUP BY cell
    ), scored1 AS (
        SELECT e.{id_expr} AS vec_id, c.cid, {dist2} AS dist2
        FROM {table} e CROSS JOIN centroids c
    ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored1
        ) WHERE rn = 1
    ), js AS (
        SELECT unnest(generate_series(0, {m - 1})) AS j
    ), sub AS (
        SELECT {id_expr} AS vid, j, {emb_expr}[{lo} : {hi}] AS sv
        FROM {table} CROSS JOIN js
    ), cb AS (
        SELECT {id_expr} AS cid, j, {emb_expr}[{lo} : {hi}] AS cw
        FROM {table} CROSS JOIN js WHERE {id_expr} < {ks}
    ), pq_scored AS (
        SELECT s.vid, s.j, c.cid, {vectors.l2sq_sql('s.sv', 'c.cw')} AS dist2
        FROM sub s JOIN cb c ON s.j = c.j
    ), best AS (
        SELECT vid, j, MIN(struct_pack(d := dist2, c := cid)) AS b
        FROM pq_scored GROUP BY vid, j
    ), codes AS (
        SELECT vid AS vec_id, j, struct_extract(b, 'c') AS cid FROM best
    ), lut AS (
        SELECT s.vid AS query_id, s.j, c.cid,
               {vectors.l2sq_sql('s.sv', 'c.cw')} AS d2
        FROM sub s JOIN cb c ON s.j = c.j
        WHERE s.vid IN ({qlist})
    ), q AS (
        SELECT vec_id AS query_id, cell FROM assigned WHERE vec_id IN ({qlist})
    ), cand AS (
        SELECT q.query_id, a.vec_id
        FROM assigned a JOIN q ON a.cell = q.cell
        WHERE a.vec_id <> q.query_id
    ), paired AS (
        SELECT cd.query_id, cd.vec_id, co.j, l.d2
        FROM cand cd
        JOIN codes co ON co.vec_id = cd.vec_id
        JOIN lut l ON l.query_id = cd.query_id AND l.j = co.j AND l.cid = co.cid
    ), summed AS (
        SELECT query_id, vec_id,
               list_reduce(list_prepend(0.0, list(d2 ORDER BY j)),
                           (x, y) -> x + y) AS adc_dist
        FROM paired GROUP BY query_id, vec_id
    ), ranked AS (
        SELECT query_id, vec_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_dist, vec_id) AS INTEGER) AS rnk
        FROM summed
    )
    SELECT query_id, vec_id, adc_dist, rnk
    FROM ranked WHERE rnk <= {k}
    """


def ivf_incremental_assign(
    index: IvfIndex,
    new_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors to a FROZEN index's centroids — index maintenance
    for a growing corpus at O(new): one broadcast-argmin pass over only the
    arriving vectors; existing assignments never reshuffle and centroids
    never retrain inline (periodic re-clustering is a separate offline
    job, exactly how production IVF deployments handle drift). The
    incremental-ingest analog of ``dedup.incremental_ingest_dedup`` —
    the corpus-side state is read-only."""
    return _argmin_assign(parallelized(new_df), index.centroids, id_col, emb_col)


# --- MMR diverse re-ranking --------------------------------------------------

MMR_LAMBDA = 0.7
MMR_CANDIDATES = 12
MMR_K = 3


def mmr_rerank(
    emb_df: DataFrame,
    *,
    query_id: int = 0,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_candidates: int = MMR_CANDIDATES,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    — the diversity pass every retrieval stack runs after top-N: greedily
    pick the item maximizing ``λ·rel(i) − (1−λ)·max_{s∈S} sim(i, s)`` so
    the final k answers are relevant AND mutually diverse (a dedup of the
    result page, not the corpus).

    Scale shape: the expensive part is the top-N relevance scan —
    broadcast 1-row query, corpus never shuffles, WindowGroupLimit top-N
    (exactly ann_bruteforce's plan). The greedy loop then runs k-1
    bounded rounds over the ≤N-row candidate set (anti-join, broadcast
    pairwise sim, argmax via TakeOrdered LIMIT 1) — every per-round
    relation is O(N·k) cells, independent of corpus size, and no row
    ever reaches the driver. Determinism: cosine is the fixed-order
    fold from ``functions.vectors``; λ-arithmetic is identical IEEE
    mult/sub in both engines; every argmax breaks ties by id.
    """
    q = (
        emb_df.filter(F.col(id_col) == query_id)
        .select(F.col(emb_col).alias("q_emb"))
    )
    scored = (
        parallelized(emb_df)
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("emb"),
            vectors.cosine(F.col(emb_col), F.col("q_emb")).alias("rel"),
        )
    )
    # top-N via orderBy().limit() — TakeOrderedAndProject computes
    # per-partition partial top-Ns and merges N rows, never a global
    # sort; a global row_number window would funnel the whole scored
    # corpus through ONE partition (caught in self-review)
    # cache the <=N-row candidate frame (review catch): it is referenced
    # by the seed pick and by every greedy round's anti-join — uncached,
    # each reference re-runs the corpus-sized top-N scan, k-folding the
    # exact cost the docstring promises is paid once. caches.tracked is a
    # recoverable persist (lineage intact, unlike localCheckpoint).
    from ..engine import caches

    cand = caches.tracked(
        scored.orderBy(F.col("rel").desc(), F.col("vec_id"))
        .limit(n_candidates)
        .select("vec_id", "emb", "rel")
    )
    sel = cand.orderBy(F.col("rel").desc(), F.col("vec_id")).limit(1).select(
        "vec_id",
        "emb",
        "rel",
        F.lit(1).alias("mmr_rank"),
        (F.lit(lam) * F.col("rel")).alias("mmr_score"),
    )
    for step in range(2, k + 1):
        rem = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        sims = (
            rem.crossJoin(
                F.broadcast(sel.select(F.col("emb").alias("s_emb")))
            )
            .select(
                "vec_id",
                vectors.cosine(F.col("emb"), F.col("s_emb")).alias("sim"),
            )
            .groupBy("vec_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        pick = (
            rem.join(sims, "vec_id")
            .select(
                "vec_id",
                "emb",
                "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim")
                ).alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), F.col("vec_id"))
            .limit(1)
            .select("vec_id", "emb", "rel", F.lit(step).alias("mmr_rank"), "mmr_score")
        )
        # each round's sel is referenced by the next round's anti-join AND
        # the pairwise-sim broadcast; caching the <=k-row union also stops
        # the nested-plan growth across rounds
        sel = caches.tracked(sel.unionAll(pick))
    return sel.select("mmr_rank", "vec_id", "rel", "mmr_score").orderBy("mmr_rank")


def mmr_rerank_sql(
    table: str,
    *,
    query_id: int = 0,
    n_candidates: int = MMR_CANDIDATES,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> str:
    """DuckDB query matching :func:`mmr_rerank` (k unrolled as chained
    CTE selection stages; correlated MAX subqueries give the per-round
    max-similarity to the already-selected set)."""
    if k != 3:
        raise ValueError("oracle generator unrolls exactly k=3 stages")
    cos_q = vectors.cosine_sql("e.embedding", "q.q_emb")
    cos_s1 = vectors.cosine_sql("c.emb", "s.emb")
    mu = 1.0 - lam
    return f"""
        WITH q AS (
            SELECT embedding AS q_emb FROM {table} WHERE vec_id = {query_id}
        ), scored AS (
            SELECT e.vec_id, e.embedding AS emb, {cos_q} AS rel
            FROM {table} e CROSS JOIN q WHERE e.vec_id <> {query_id}
        ), cand AS (
            SELECT vec_id, emb, rel FROM (
                SELECT vec_id, emb, rel,
                       ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rnk
                FROM scored
            ) WHERE rnk <= {n_candidates}
        ), s1 AS (
            SELECT vec_id, emb, rel, 1 AS mmr_rank, {lam} * rel AS mmr_score
            FROM cand ORDER BY rel DESC, vec_id LIMIT 1
        ), r2 AS (
            SELECT c.vec_id, c.emb, c.rel,
                   {lam} * c.rel - {mu} * (
                       SELECT MAX({cos_s1}) FROM s1 s
                   ) AS mmr_score
            FROM cand c
            WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
        ), s2 AS (
            SELECT vec_id, emb, rel, 2 AS mmr_rank, mmr_score
            FROM r2 ORDER BY mmr_score DESC, vec_id LIMIT 1
        ), r3 AS (
            SELECT c.vec_id, c.emb, c.rel,
                   {lam} * c.rel - {mu} * GREATEST(
                       (SELECT MAX({cos_s1}) FROM s1 s),
                       (SELECT MAX({cos_s1}) FROM s2 s)
                   ) AS mmr_score
            FROM cand c
            WHERE c.vec_id NOT IN (
                SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
            )
        ), s3 AS (
            SELECT vec_id, emb, rel, 3 AS mmr_rank, mmr_score
            FROM r3 ORDER BY mmr_score DESC, vec_id LIMIT 1
        )
        SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id, rel, mmr_score
        FROM (
            SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        )
        ORDER BY mmr_rank
    """


def knn_graph(
    emb_df: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN graph over the whole corpus (the HNSW/graph-index
    precursor, and the substrate for graph-based semantic dedup and
    clustering): candidate pairs come ONLY from shared hyperplane-LSH
    band buckets — the all-pairs O(n²) cosine never materializes — then
    exact cosine ranks each vector's candidates and keeps its top-k.

    Scale shape: band explode is per-row work; the candidate generation
    is the banded self-join keyed on (band, bkey); the per-vector top-k
    is a WindowGroupLimit over each vector's own candidate list. Recall
    is governed by the band geometry (documented LSH semantics) and
    pinned by the recall test against brute force; a production run
    tunes bands/rows per the recall/cost target. Returns
    (vec_id, nbr_id, cos_sim, rnk) — directed edges, rnk 1..k.
    """
    banded = with_lsh_bands(emb_df, emb_col)
    left = banded.select(F.col(id_col).alias("vec_id"), "band", "bkey")
    right = banded.select(F.col(id_col).alias("nbr_id"), "band", "bkey")
    cand = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id")
        .distinct()
    )
    va = emb_df.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("emb_a"))
    vb = emb_df.select(F.col(id_col).alias("nbr_id"), F.col(emb_col).alias("emb_b"))
    scored = (
        cand.join(va, "vec_id")
        .join(vb, "nbr_id")
        .select(
            "vec_id",
            "nbr_id",
            vectors.cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def knn_graph_dedup(
    emb_df: DataFrame,
    *,
    threshold: float = 0.9,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Graph-based semantic dedup composed from the engine's own
    primitives — the k-NN-graph alternative to SemDeDup's centroid cells:
    LSH-bucketed k-NN graph -> keep edges with cosine >= threshold ->
    connected components -> min-id survivor per component. Returns
    (vec_id, component_id, is_survivor) for every vector that belongs to
    a near-dup component of size >= 2.

    Every stage is an already-scale-audited operator: knn_graph bounds
    candidates by band buckets, connected_components is
    partial-aggregatable min-label propagation with lineage truncation.
    """
    from . import dedup as dedup_ops

    edges = (
        knn_graph(emb_df, k=k, id_col=id_col, emb_col=emb_col)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.least("vec_id", "nbr_id").alias("doc_a"),
            F.greatest("vec_id", "nbr_id").alias("doc_b"),
        )
        .distinct()
    )
    comps = dedup_ops.connected_components(edges)
    return comps.select(
        F.col("doc_id").alias(id_col),
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_survivor"),
    )

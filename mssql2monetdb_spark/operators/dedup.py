"""Deduplication operators over a document corpus.

Four families, all deterministic and engine-portable (md5-derived hashes, see
``functions.hashing``):

- exact:          hash-groupBy on normalized content
- MinHash + LSH:  shingle -> k minhashes -> banded bucket join -> exact
                  Jaccard verification on candidates only
- SimHash:        per-token bit voting -> 32-bit signature
- n-gram Jaccard: rare-shingle candidate join (document-frequency pruned)
                  -> exact Jaccard on candidates

Scale notes: every pairwise step goes through a shuffle join keyed on a
band/bucket/shingle — candidates are generated locally per key, never by a
cross join. The DF-pruning threshold on the n-gram path is the standard
guard against hot shingles ("the the") exploding a key at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import parallelized
from ..engine import caches
from ..functions import hashing, text

MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = hashing.MINHASH_K // MINHASH_BANDS


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicate *group*.

    Returns (content_hash, keep_id, n_dups). Keeping MIN(id) is the
    deterministic survivor policy. Map-side partial aggregation makes this a
    single shuffle on the hash at any scale.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_rows(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int, *, distinct: bool = True
) -> DataFrame:
    """(id, h32, h64) — one row per (distinct) shingle per document.

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregates are duplicate-insensitive (MIN) or dedup inside the
    aggregation (collect_set) — shingle construction is per-row array
    work, so such consumers pay ZERO shuffles before their own aggregate.

    N-grams are built array-side over the materialized token array with
    per-gram ``element_at`` access (O(1) per token, O(tokens·n) per doc)
    and hashed with scalar md5 — all whole-stage-codegen, no exchange.
    Catalyst keeps the regex split single-evaluation (CollapseProject
    refuses to duplicate non-cheap expressions into the lambda; verified:
    exactly one ``split`` in the optimized plan). Measured at sf0.1 this
    beats the earlier window-``lead`` formulation (explode + per-id
    shuffle/sort) by ~25%, and unlike it needs no exchange at all — the
    earlier ``slice``-per-shingle attempt that embedded the tokenizer in
    the lambda body was the O(tokens²) trap, not array construction per se.

    Shingles travel as BIGINT hash keys, never strings: 32-bit for MinHash
    permutations (keeps a*h+b inside int64), 60-bit for Jaccard set keys
    (collision-negligible at corpus scale) — narrow shuffle keys throughout.
    """
    tok = text.tokens(F.col(text_col))
    base = parallelized(docs).select(F.col(id_col).alias("id"), tok.alias("toks"))
    if shingle_n == 1:
        rows = base.select("id", F.explode("toks").alias("sh_str"))
    else:
        cnt = F.size("toks") - (shingle_n - 1)
        grams = F.transform(
            F.sequence(F.lit(0), cnt - F.lit(1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("toks", i + F.lit(k + 1)) for k in range(shingle_n)]
            ),
        )
        rows = base.select(
            "id",
            F.explode(
                F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))
            ).alias("sh_str"),
        )
    # the shared helpers repeat md5(sh_str) per column; WSCG eliminates
    # the common subexpression, so this stays one md5 per row
    out = rows.select(
        "id",
        hashing.md5_int32(F.col("sh_str")).alias("h32"),
        hashing.md5_int60(F.col("sh_str")).alias("h64"),
    )
    return out.distinct() if distinct else out


def _sig_agg_cols() -> list:
    return [
        F.min(
            (F.lit(hashing.MINHASH_A[i]) * F.col("h32") + F.lit(hashing.MINHASH_B[i]))
            % F.lit(hashing.MINHASH_PRIME)
        ).alias(f"mh{i}")
        for i in range(hashing.MINHASH_K)
    ]


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Explode signatures into (id, band, bkey) — one row per LSH band.

    Single-pass: the 4 band keys are built as an array of structs and
    exploded (one scan of the signature relation, not one per band). bkey is
    the 60-bit integer form of md5 over the band's signature slice, so the
    candidate join shuffles on (int, bigint) keys.
    """
    band_structs = []
    for b in range(MINHASH_BANDS):
        cols = [
            F.col(f"mh{b * MINHASH_ROWS_PER_BAND + r}").cast("string")
            for r in range(MINHASH_ROWS_PER_BAND)
        ]
        key = F.conv(F.substring(F.md5(F.concat_ws(",", *cols)), 1, 15), 16, 10).cast("bigint")
        band_structs.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return sigs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verification.

    Pipeline: shingle -> ONE fused per-doc aggregation (16 MIN signature
    columns + the distinct-shingle set via collect_set) -> band (4x4) ->
    bucket join -> distinct candidate pairs -> exact Jaccard -> threshold.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The fused aggregation replaces the round-1 shape (distinct shuffle +
    two separate groupBys over a cached shingle relation): MIN is
    duplicate-insensitive and collect_set dedups inside the agg, so the
    whole signature+set phase costs exactly one shuffle — the groupBy(id)
    over the (shuffle-free) shingle rows — and caches one doc-sized
    relation (measured ~20% faster at sf0.1).
    """
    rows = shingle_rows(docs, text_col, id_col, shingle_n, distinct=False)
    per_doc = caches.tracked(
        rows.groupBy("id")
        .agg(*_sig_agg_cols(), F.sort_array(F.collect_set("h64")).alias("hs"))
        .withColumn("sz", F.size("hs"))
    )
    bands = lsh_bands(per_doc.select("id", *[f"mh{i}" for i in range(hashing.MINHASH_K)]))
    left = bands.select(F.col("id").alias("doc_a"), "band", "bkey")
    right = bands.select(F.col("id").alias("doc_b"), "band", "bkey")
    candidates = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify: per-pair set intersection on the collected (sorted) hash
    # arrays — two candidate-keyed joins + a scalar HOF per pair. Candidate
    # count, not corpus size, drives the cost; arrays are per-doc (bounded).
    sa = per_doc.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a"))
    sb = per_doc.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document over the token multiset.

    One explode + one groupBy: each token votes +1/-1 on each bit of its
    md5-derived hash; sign of the per-bit sum forms the signature. Entirely
    aggregate-shaped — map-side combine keeps the shuffle tiny.
    """
    tok = text.tokens(F.col(text_col))
    e = parallelized(docs).select(F.col(id_col).alias("id"), F.explode(tok).alias("w"))
    e = e.withColumn("h", hashing.md5_int32(F.col("w")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = e.groupBy("id").agg(*votes)
    sig: Column = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("bigint")
    return g.select(F.col("id").alias("doc_id"), sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, *, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by SimHash: byte-band candidates, then Hamming filter.

    Docs sharing any of the 4 signature bytes become candidates (standard
    SimHash blocking); pairs with popcount(xor) <= max_hamming survive.
    """
    sh = caches.tracked(simhash(docs))
    bands = None
    for byte in range(4):
        piece = sh.select(
            F.col("doc_id"),
            F.col("simhash"),
            F.lit(byte).alias("band"),
            F.shiftright(F.col("simhash"), byte * 8).bitwiseAND(F.lit(0xFF)).alias("bkey"),
        )
        bands = piece if bands is None else bands.unionAll(piece)
    left = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "bkey")
    right = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "bkey")
    return (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram_n: int = 2,
    df_max: int = 20,
    threshold: float = 0.9,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs with DF-pruned candidates.

    Candidates are pairs sharing at least one *rare* n-gram (document
    frequency <= df_max); exact Jaccard over the full shingle sets is then
    computed for candidates only. DF pruning is what keeps the shingle join
    from exploding on hot n-grams at scale — hot shingles carry no signal.
    """
    # one fused per-doc aggregation (collect_set dedups in the agg — no
    # separate distinct shuffle), cached doc-sized; the per-shingle
    # relation for DF counts re-explodes the cached sets instead of
    # re-scanning the corpus
    rows = shingle_rows(docs, text_col, id_col, ngram_n, distinct=False)
    sets = caches.tracked(
        rows.groupBy("id")
        .agg(F.sort_array(F.collect_set("h64")).alias("hs"))
        .withColumn("sz", F.size("hs"))
    )
    exploded = sets.select("id", F.explode("hs").alias("sh"))
    rare = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df_count")).filter(F.col("df_count") <= df_max)
    rare_exploded = exploded.join(rare.select("sh"), "sh")
    la = rare_exploded.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_j"))
    lb = rare_exploded.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_j"))
    candidates = (
        la.join(lb, "sh_j")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact Jaccard per candidate pair via array_intersect on the full
    # shingle sets (same verification strategy as minhash_lsh_pairs)
    sa = sets.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


CC_CHECKPOINT_EVERY = 5  # truncate label lineage every N propagation rounds


def connected_components(pairs: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: (doc_id, component_id)
    where component_id is the minimum doc id reachable through the pair
    graph — the step that turns pairwise similarity into an actual keep-set.

    Iterative min-label propagation (the DataFrame form of union-find):
    every node repeatedly adopts the smallest label among itself and its
    neighbors until fixpoint. Converges in O(diameter) rounds — near-dup
    components are tiny (dup clusters), so this is 2-4 rounds in practice;
    each round is one join + one aggregate, all shuffle-keyed on doc id.
    ``max_iter`` is the runaway guard for adversarial chain-shaped graphs,
    and every ``CC_CHECKPOINT_EVERY`` rounds the label frame is
    ``localCheckpoint``-ed: without the truncation, each round's plan
    nests the previous round's join, so an adversarial-diameter graph
    (long chains) grows the lineage — and Catalyst's planning time —
    geometrically even though the data stays small.
    """
    edges = caches.tracked(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    # initialize with the 1-hop minimum (label = min(id, min neighbor))
    # instead of label = id: the first propagation round is folded into
    # initialization, saving one full edge-shuffle round — at scale each
    # round re-shuffles the whole edge set, so rounds are the cost unit
    labels = caches.tracked(
        edges.groupBy("src")
        .agg(F.min("dst").alias("min_dst"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("min_dst")).alias("label"),
        )
    )
    changed = 0
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the fixpoint test rides the round's own join output: the new label
        # (a LEAST) differs from the old exactly when nbr_label < label, so
        # ``chg`` is derived in-project and the former third join per round
        # (new-vs-old labels — two |V| exchanges spent purely on the
        # convergence count) is gone (optimization round 11, guide §2.4;
        # min-of-N 3.86 s -> 3.55 s for the bench query at sf0.1)
        new_labels = caches.tracked(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
        )
        changed = new_labels.filter("chg").count()
        labels.unpersist()
        if (i + 1) % CC_CHECKPOINT_EVERY == 0:
            ckpt = new_labels.localCheckpoint()
            new_labels.unpersist()
            new_labels = ckpt
        labels = new_labels
        if changed == 0:
            break
    else:
        if changed != 0:
            # exhausting max_iter with labels still moving means the
            # returned components are WRONG (a >max_iter-diameter chain
            # splits into several components) — failing loudly beats
            # silently keeping multiple survivors of one true cluster
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} "
                f"rounds ({changed} labels still changing) — raise max_iter "
                "for chain-shaped duplicate graphs with diameter > max_iter"
            )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component_id"))


def incremental_exact_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate an incoming batch against an existing corpus: exact dedup
    for continuous ingest (the corpus-side analog of the reference's
    watermark-triggered incremental copy, CopyTool.java:332-477).

    Returns every incoming row with ``dup_of`` = the min-id existing
    document with identical content (NULL -> novel). Scale shape: the
    incoming batch is small relative to the corpus, so the dup probe
    BROADCASTS the incoming hashes against the existing relation (the
    corpus never shuffles), and the resulting dup list — at most
    batch-sized — broadcasts back onto the batch. The 100 TB corpus is
    only ever scanned, never exchanged.
    """
    inc_hashed = incoming.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    ex_hashed = existing.select(
        F.col(id_col).alias("ex_id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    dups = (
        ex_hashed.join(F.broadcast(inc_hashed.select("content_hash").distinct()), "content_hash")
        .groupBy("content_hash")
        .agg(F.min("ex_id").alias("dup_of"))
    )
    return (
        inc_hashed.join(F.broadcast(dups), "content_hash", "left")
        .select(F.col(id_col), F.col("dup_of"))
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# Chunk-level exact substring dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", at fixed chunk granularity)
# ---------------------------------------------------------------------------

CHUNK_DEDUP_SIZE = 32  # tokens per non-overlapping chunk


def chunk_exact_dedup(
    docs: DataFrame,
    *,
    size: int = CHUNK_DEDUP_SIZE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact substring dedup at fixed chunk granularity: each
    document is split into non-overlapping ``size``-token chunks; every
    chunk whose text already occurred earlier in the corpus (first
    occurrence = lexicographically smallest ``(doc_id, chunk_id)``) is
    removed, and the surviving chunks are reassembled in order.

    Returns ``(doc_id, n_chunks, n_removed, kept_text)``.

    Scale shape: first-occurrence resolution is a map-side-combinable
    ``min(struct(doc_id, chunk_id))`` aggregate keyed on the chunk hash —
    robust to a pathologically hot chunk (boilerplate repeated across
    billions of docs) where a per-hash sort window would funnel every
    occurrence through one task. The join back is hash-keyed against the
    one-row-per-hash firsts relation, and reassembly shuffles on doc_id
    with bounded per-doc state (n_chunks x size tokens = the doc itself).
    """
    toks = text.tokens(F.col(text_col))
    d = parallelized(docs).select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    n_chunks = F.greatest(
        F.floor((F.size("toks") + F.lit(size - 1)) / F.lit(size)), F.lit(1)
    ).cast("int")
    e = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
    )
    chunks = e.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), (F.col("chunk_id") * size + 1).cast("int"), size)
        ).alias("chunk_text"),
    ).withColumn("h", F.md5(F.col("chunk_text")))
    firsts = chunks.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("first_occ")
    )
    flagged = chunks.join(firsts, "h").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("chunk_id") == F.col("first_occ.chunk_id")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum((~F.col("keep")).cast("int")).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("chunk_id", "chunk_text"))
                    )
                ),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("kept_text"),
    )


def chunk_exact_dedup_sql(
    table: str,
    *,
    size: int = CHUNK_DEDUP_SIZE,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB query matching :func:`chunk_exact_dedup`."""
    tok = text.tokens_sql(text_expr)
    lo = f"chunk_id * {size} + 1"
    hi = f"chunk_id * {size} + {size}"
    return f"""
        WITH d AS (
            SELECT {id_expr} AS doc_id, {tok} AS toks FROM {table}
        ), n AS (
            SELECT doc_id, toks,
                   greatest((len(toks) + {size - 1}) // {size}, 1) AS n_chunks
            FROM d
        ), e AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, n_chunks - 1)) AS chunk_id
            FROM n
        ), chunks AS (
            SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
                   array_to_string(toks[{lo} : {hi}], ' ') AS chunk_text,
                   md5(array_to_string(toks[{lo} : {hi}], ' ')) AS h
            FROM e
        ), firsts AS (
            SELECT h, MIN(struct_pack(doc_id := doc_id, chunk_id := chunk_id)) AS first_occ
            FROM chunks GROUP BY h
        ), flagged AS (
            SELECT c.doc_id, c.chunk_id, c.chunk_text,
                   c.doc_id = struct_extract(f.first_occ, 'doc_id')
                   AND c.chunk_id = struct_extract(f.first_occ, 'chunk_id') AS keep
            FROM chunks c JOIN firsts f ON c.h = f.h
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
               COALESCE(string_agg(CASE WHEN keep THEN chunk_text END, ' '
                                   ORDER BY chunk_id), '') AS kept_text
        FROM flagged GROUP BY doc_id
    """


def keep_best_in_cluster(
    docs: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Resolve duplicate clusters to one survivor each: every document
    joins its connected component (docs in no component form singleton
    clusters under their own id — safe, since a component's id is the min
    MEMBER id and can never equal a non-member's id), and the cluster
    keeps its highest-``quality_col`` member, ties broken by smallest id.

    Returns ``(component_id, n_members, survivor_id, survivor_quality)``.

    The argmax is ``min(struct(-quality, id))`` — a map-side-combinable
    aggregate, so cluster size never concentrates work: a pathological
    million-member boilerplate cluster partial-aggregates on every
    executor. One broadcast-or-keyed join (components are pair-graph-sized,
    far smaller than the corpus) plus one keyed aggregate.
    """
    grp = (
        parallelized(docs)
        .select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("q"))
        .join(components, "doc_id", "left")
        .select(
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id"),
            "doc_id",
            "q",
        )
    )
    return (
        grp.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min(F.struct((-F.col("q")).alias("negq"), F.col("doc_id"))).alias("b"),
        )
        .select(
            "component_id",
            "n_members",
            F.col("b.doc_id").alias("survivor_id"),
            (-F.col("b.negq")).cast("bigint").alias("survivor_quality"),
        )
    )


SETSIM_T_NUM = 4  # exact-rational Jaccard threshold 4/5 = 0.8 — integer
SETSIM_T_DEN = 5  # arithmetic end-to-end, so both engines agree bit-for-bit
SETSIM_BROADCAST_MAX_SHINGLES = 10_000_000  # same ceiling as the tf-idf df guard


def setsim_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    t_num: int = SETSIM_T_NUM,
    t_den: int = SETSIM_T_DEN,
    broadcast_df_max_shingles: int | None = SETSIM_BROADCAST_MAX_SHINGLES,
) -> DataFrame:
    """EXACT set-similarity self-join on distinct word-shingle sets via
    prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search") — the no-false-negative counterpart of the probabilistic
    MinHash-LSH and the df-capped n-gram blocking: every pair with
    shingle-set Jaccard >= t_num/t_den is guaranteed to surface. With the
    default 3-gram/0.8 parameters this is the exact reference for
    minhash_lsh_pairs (same set basis, same threshold): its output is a
    certified superset of what any banding scheme can find. (Unigram
    token sets would degenerate on the synthetic fixture — its vocabulary
    is 31 words, so nearly all token-set pairs exceed 0.8; shingles keep
    the join selective there and everywhere real.)

    Tokens are globally ordered rarest-first (document frequency ASC, hash
    ASC — a deterministic total order); each document keeps only its first
    ``sz - ceil(t*sz) + 1`` tokens as its prefix, and the classical
    theorem guarantees any qualifying pair shares a *prefix* token, so the
    candidate join touches prefixes only. The threshold is a RATIONAL
    (t_num/t_den): the prefix ceiling is computed as the integer
    ``floor((t_num*sz + t_den - 1) / t_den)`` and the final filter as
    ``t_den*inter >= t_num*union`` — no float threshold anywhere, so a
    last-ulp 0.8*sz could never shrink a prefix below the sound bound.

    Scale shape: one corpus shuffle into cached per-doc sorted hash sets;
    document frequencies reduce to a vocabulary-sized (shingle, df)
    relation that BROADCASTS when it fits — and, as with the tf-idf df
    guard, the choice is MEASURED, not assumed: an
    ``approx_count_distinct`` probe — deliberately over the
    PRE-aggregation rows, NOT the cached per-doc sets, so the cache stays
    unmaterialized and AQE cannot re-plan the verify joins around its
    exact stats (see the inline comment: the cached-probe variant
    measured 4x the shuffle) — drops the hint past
    ``broadcast_df_max_shingles``, so a
    shingle vocabulary that outgrows driver memory (shingle spaces grow
    faster than word vocabularies — n-grams multiply) degrades to a keyed
    shuffle join on the shingle hash instead of OOMing the driver
    (identical output either way; pass ``None`` to skip the probe and let
    AQE decide); the
    per-doc prefix rank window runs on the groupBy(id) partitioning
    (no extra exchange); candidates join on prefix-token keys with the
    size filter ``t*a <= b <= a/t`` applied IN the join (a qualifying
    pair implication, pruning before the distinct); verification is the
    same candidate-driven array_intersect used by minhash/ngram. Prefix
    pruning removes the frequent-token candidate blowup by construction:
    a stopword shared by every document ranks LAST in the global order
    and never enters any prefix unless the math requires it.

    Token identity is the 60-bit md5 hash (collision-negligible at corpus
    scale); the oracle intersects raw token strings, so a real collision
    would surface as a verdict mismatch rather than hide.
    """
    rows = shingle_rows(docs, text_col, id_col, shingle_n, distinct=False)
    sets = caches.tracked(
        rows.groupBy("id")
        .agg(F.sort_array(F.collect_set("h64")).alias("hs"))
        .withColumn("sz", F.size("hs"))
    )
    expl = sets.select("id", "sz", F.explode("hs").alias("sh"))
    df_rel = expl.groupBy("sh").agg(F.count(F.lit(1)).alias("df_count"))
    if broadcast_df_max_shingles is not None:
        # Tier 1 (round 11): an O(column-scan) UPPER BOUND that skips the
        # tokenize+hash probe pass entirely when it already proves
        # broadcast safety. Distinct shingles <= shingle occurrences <=
        # token count, and whitespace tokenization bounds tokens per doc
        # by ceil((chars+1)/2) — so sum((length(text)+1)/2) dominates the
        # vocabulary. The bound reads ONLY the text column's bytes (no
        # regex split, no md5, no explode — measured 1.0 s -> 0.1 s for
        # the probe at sf0.1); when it is inconclusive the accurate
        # sketch probe below decides, so large corpora behave exactly as
        # before.
        bound = (
            docs.agg(
                F.sum((F.length(F.col(text_col)) + F.lit(1)) / F.lit(2)).alias("b")
            ).first()["b"]
            or 0.0
        )
        if bound <= broadcast_df_max_shingles:
            df_rel = F.broadcast(df_rel)
        else:
            # Tier 2: probe the PRE-aggregation relation (same distinct-h64
            # vocabulary, map-side-only partial sketches, zero shuffle)
            # rather than the cached per-doc sets: an aggregate over `sets`
            # would materialize the cache as a standalone action, and AQE's
            # exact in-memory stats then flip the candidate-verify joins
            # from broadcast-candidates to shuffling per-candidate hash
            # arrays — measured 719 MB -> 2.98 GB shuffle at the 100x
            # capacity corpus for identical output. The extra corpus scan
            # is embarrassingly parallel; the cache stays unmaterialized
            # until the main action plans, preserving the
            # broadcast-candidates plan shape.
            n_sh = rows.agg(F.approx_count_distinct("h64").alias("n")).first()["n"]
            if n_sh <= broadcast_df_max_shingles:
                df_rel = F.broadcast(df_rel)
    ranked = expl.join(df_rel, "sh")
    win = Window.partitionBy("id").orderBy("df_count", "sh")
    ceil_t_sz = F.floor(
        (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
    ).cast("int")
    p = F.col("sz") - ceil_t_sz + F.lit(1)
    prefix = (
        ranked.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= p)
        .select("id", "sz", "sh")
    )
    la = prefix.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"), "sh")
    lb = prefix.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"), "sh")
    candidates = (
        la.join(lb, "sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(t_num) * F.col("sz_a") <= F.lit(t_den) * F.col("sz_b"))
            & (F.lit(t_num) * F.col("sz_b") <= F.lit(t_den) * F.col("sz_a"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.lit(t_den) * inter >= F.lit(t_num) * union)
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- record linkage (two-source entity resolution) ---------------------------

ER_SALT = "ern1"
ER_MAX_EDIT = 1


def record_linkage_blocked(
    customers: DataFrame, *, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """Two-source record linkage with blocking — the entity-resolution
    shape (Fellegi–Sunter pipeline skeleton): source B is a
    deterministically perturbed clone of the customer file (one of three
    md5-chosen single-edit corruptions per record: '#'→'-', an appended
    char, or clean), candidate pairs are generated ONLY within
    ``(nation, market segment)`` blocks, scored by edit distance, and
    resolved to each A-record's best B-match (lowest distance, ties by
    key).

    Scale shape: blocking turns the O(|A|·|B|) all-pairs comparison into
    Σ_b |A_b|·|B_b| — the candidate join is a plain equi-join on the
    block key, so AQE's skew split handles a hot block, and a production
    deployment refines the key (phonetic code, name prefix, sorted
    neighborhood) to keep blocks bounded. Best-match resolution is a
    WindowGroupLimit per A-key, never a global sort. The
    ``matched_same_entity`` flag records linkage PRECISION (a 1-edit
    rule inside coarse blocks links some wrong neighbors — visible,
    measured, and exactly why real pipelines score with more than one
    attribute).
    """
    variant = F.pmod(
        hashing.md5_int32(
            F.concat(F.col("c_custkey").cast("string"), F.lit("|" + ER_SALT))
        ),
        F.lit(3),
    )
    b_name = (
        F.when(variant == 0, F.regexp_replace(F.col("c_name"), "#", "-"))
        .when(variant == 1, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
    )
    b = customers.select(
        F.col("c_custkey").alias("b_key"),
        b_name.alias("b_name"),
        "c_nationkey",
        "c_mktsegment",
    )
    a = parallelized(customers).select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        "c_nationkey",
        "c_mktsegment",
    )
    scored = (
        a.join(b, ["c_nationkey", "c_mktsegment"])
        .withColumn("edit_dist", F.levenshtein("a_name", "b_name").cast("int"))
        .filter(F.col("edit_dist") <= max_edit)
    )
    w = Window.partitionBy("a_key").orderBy("edit_dist", "b_key")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "a_key",
            "b_key",
            "edit_dist",
            (F.col("a_key") == F.col("b_key")).alias("matched_same_entity"),
        )
    )


def record_linkage_blocked_sql(table: str, *, max_edit: int = ER_MAX_EDIT) -> str:
    """DuckDB query matching :func:`record_linkage_blocked`."""
    variant = (
        hashing.md5_int32_sql(f"CAST(c_custkey AS VARCHAR) || '|{ER_SALT}'") + " % 3"
    )
    return f"""
        WITH b AS (
            SELECT c_custkey AS b_key,
                   CASE ({variant})
                        WHEN 0 THEN replace(c_name, '#', '-')
                        WHEN 1 THEN c_name || 'x'
                        ELSE c_name END AS b_name,
                   c_nationkey, c_mktsegment
            FROM {table}
        ), a AS (
            SELECT c_custkey AS a_key, c_name AS a_name,
                   c_nationkey, c_mktsegment
            FROM {table}
        ), scored AS (
            SELECT a_key, b_key,
                   CAST(levenshtein(a_name, b_name) AS INTEGER) AS edit_dist
            FROM a JOIN b USING (c_nationkey, c_mktsegment)
            WHERE levenshtein(a_name, b_name) <= {max_edit}
        )
        SELECT a_key, b_key, edit_dist, a_key = b_key AS matched_same_entity
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY a_key
                                         ORDER BY edit_dist, b_key) AS rn
            FROM scored
        ) WHERE rn = 1
    """


# --- winnowing fingerprints (MOSS) -------------------------------------------

WINNOW_K = 16  # char k-gram length
WINNOW_W = 8  # winnowing window (guarantee: shares >= w+k-1 chars detected)
WINNOW_DF_CAP = 10  # fingerprints in more docs than this are boilerplate
WINNOW_MIN_SHARED = 5  # doc pairs sharing fewer fingerprints are noise


def winnow_fingerprint_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = WINNOW_DF_CAP,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm) -> shared-fingerprint near-dup pairs: character
    k-gram hashes, the minimum hash selected per sliding window of w
    (density <= 2/(w+1), with the GUARANTEE that any shared substring of
    >= w+k-1 chars yields a shared fingerprint), then doc pairs counted
    by shared selected fingerprints.

    Scale shape: gram/window selection is per-row array work (map-only);
    the pair generation is the inverted-posting self-join on fingerprint
    — df-pruned first (a fingerprint appearing in > df_cap docs is
    boilerplate and generates df² pairs; dropping it is both a quality
    and a skew decision, same discipline as ngram-Jaccard), so no hot
    fingerprint can funnel the corpus through one reducer. All-integer
    hashes — trivially hash-stable cross-engine.
    """
    # Winnow RELATIONALLY, explode-FIRST: gram POSITIONS are exploded
    # before the per-gram md5 is computed, so the hash work lands in the
    # post-exchange stage. Two traps, both caught live at sf0.1:
    # (1) computing the hash ARRAY in a projected column and windowing
    #     over it lets CollapseProject inline the whole transform per
    #     reference — O(n²) md5s;
    # (2) even with the array computed once, project-through-exchange
    #     pushes the transform BELOW the repartition into the unsplit
    #     single-row-group scan task — 1.1M md5s on one core (12 s);
    #     a Generate node is not pushed through an Exchange, so exploding
    #     positions first pins the per-row hash after the shuffle (3 s).
    # The doc_id hash repartition doubles as the window's required
    # distribution — the frame-min pass adds NO further exchange, and the
    # shuffle moves the compact normalized strings, not exploded rows.
    # explicit partition COUNT, not repartition("doc_id"): without the
    # count AQE sees a ~MB-sized shuffle and coalesces it to one
    # partition, serializing the post-exchange md5 stage onto one core —
    # the shuffle is small precisely BECAUSE the heavy work happens after
    # it. An explicit count is user-specified partitioning AQE respects.
    normed = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "").alias("__n"),
        )
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    # size guard BEFORE sequence(): Spark's sequence(1, 0) yields the
    # DESCENDING [1, 0], not an empty array (the word_shingles trap in
    # functions/text.py) — without the CASE a doc shorter than k emits a
    # spurious position-0/1 pair and hashes the whole short string,
    # diverging from the oracle's empty generate_series(1, 0)
    pos_rows = normed.select(
        "doc_id",
        "__n",
        F.explode(
            F.expr(
                f"CASE WHEN length(__n) >= {k}"
                f" THEN sequence(1, length(__n) - {k - 1})"
                f" ELSE array() END"
            ).cast("array<int>")
        ).alias("pos"),
    )
    rows = pos_rows.select(
        "doc_id",
        "pos",
        F.expr(
            f"cast(conv(substring(md5(substring(__n, pos, {k})), 1, 8),"
            f" 16, 10) as bigint)"
        ).alias("h"),
    )
    w_doc = Window.partitionBy("doc_id")
    w_frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel_rows = (
        rows.withColumn("n", F.count(F.lit(1)).over(w_doc))
        .withColumn("wmin", F.min("h").over(w_frame))
        .filter(
            (F.col("pos") <= F.col("n") - (w - 1))
            | ((F.col("n") < w) & (F.col("pos") == 1))
        )
    )
    # postings feeds the df aggregate AND both sides of the pair join —
    # cache the distinct fingerprint relation (caches.tracked, recoverable
    # persist) or the whole explode+md5+winnow pipeline re-executes three
    # times per action (review catch; same discipline as the minhash and
    # setsim posting lists above)
    postings = caches.tracked(
        sel_rows.select("doc_id", F.col("wmin").alias("fp")).distinct()
    )
    df_ok = (
        postings.groupBy("fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("fp")
    )
    pruned = postings.join(df_ok, "fp")
    left = pruned.select(F.col("doc_id").alias("doc_a"), "fp")
    right = pruned.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_fingerprint_pairs_sql(
    table: str,
    *,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = WINNOW_DF_CAP,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    """DuckDB query matching :func:`winnow_fingerprint_pairs`."""
    norm = f"regexp_replace(lower({text_expr}), '[^a-z0-9]', '', 'g')"
    gram_hash = hashing.md5_int32_sql(f"substring(n, i, {k})")
    return f"""
        WITH base AS (
            SELECT {id_expr} AS doc_id,
                   list_transform(
                       generate_series(1, greatest(length(n) - {k - 1}, 0)),
                       i -> CAST({gram_hash} AS BIGINT)) AS h
            FROM (SELECT {id_expr}, {norm} AS n FROM {table})
        ), sel AS (
            SELECT doc_id,
                   list_distinct(CASE
                       WHEN len(h) >= {w} THEN list_transform(
                           generate_series(1, len(h) - {w - 1}),
                           j -> list_min(h[j:j+{w - 1}]))
                       WHEN len(h) >= 1 THEN [list_min(h)]
                       ELSE [] END) AS fps
            FROM base
        ), postings AS (
            SELECT doc_id, unnest(fps) AS fp FROM sel
        ), df_ok AS (
            SELECT fp FROM postings GROUP BY fp
            HAVING COUNT(*) >= 2 AND COUNT(*) <= {df_cap}
        ), pruned AS (
            SELECT doc_id, fp FROM postings JOIN df_ok USING (fp)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {min_shared}
    """

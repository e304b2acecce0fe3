"""Embedding similarity search: brute-force cosine top-k and an
IVF-style partitioned variant.

Dot products/norms are sequential left folds over the vector
(``F.aggregate`` over ``zip_with``) in double precision — bit-exact
reproducible in the DuckDB oracle (``list_reduce`` folds in the same
order), so scores hash-match without tolerance hacks.

Scale path: the query set is broadcast (it's small by construction);
candidates stream through a single projection — no shuffle at all for
brute force. The IVF variant prunes candidates to the query's cell
(here: the ``label`` column as coarse quantizer), turning full scans
into partition-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pystore_spark.functions.text import widen_parallelism


# ---------------------------------------------------------------------------
# SQL-text expression builders
# ---------------------------------------------------------------------------
# The kernel expressions below (nearest-centroid folds, LUT folds,
# literal centroid tables) are built PER CENTROID SET. Building them
# through the Column API costs one py4j round-trip per operator —
# measured 60-225 ms per higher-order lambda / 64-float literal — so a
# C=4, dim=64 assign expression took ~0.3 s of DRIVER time before a
# single task ran, multiplied by every KMeans iteration and subspace.
# Rendering the same tree as ONE SQL string and parsing it with
# F.expr() is ~8 ms and yields the identical Catalyst expression
# (float literals round-trip exactly through repr() → the parser's
# correctly-rounded Double.parseDouble), so results are bit-identical
# and the DuckDB-replay contract is untouched (r12 optimization).


def _sql_ident(name: str) -> str:
    """Backtick-quoted column identifier for SQL-text kernels."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(x) -> str:
    """Exact SQL double literal: repr() emits the shortest string that
    round-trips the IEEE value, and Spark's parser is correctly
    rounded, so the parsed literal is bit-identical to F.lit(x)."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        return f"CAST('{v}' AS DOUBLE)"
    return repr(v) + "D"


def _sql_vec(vals) -> str:
    """array<double> literal text."""
    return "array(" + ",".join(_sql_double(v) for v in vals) + ")"


def _sql_mat(mat) -> str:
    """array<array<double>> literal text (centroid/codebook table)."""
    return "array(" + ",".join(_sql_vec(row) for row in mat) + ")"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query vector (excluding self).

    ``queries`` is broadcast; ranking uses a window per query id with
    a deterministic (score desc, id) order.
    """
    qid = query_id_col or f"q_{id_col}"
    # per-side norms precomputed before the join — identical operands,
    # bit-identical scores, 1 fold per pair instead of 3 (see
    # cosine_dedup_pairs)
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("_qvec"),
        norm2(F.col(vec_col)).alias("_qn2"),
    )
    candidates = widen_parallelism(candidates).select(
        F.col(id_col),
        F.col(vec_col),
        norm2(F.col(vec_col)).alias("_cn2"),
    )
    scored = candidates.join(F.broadcast(q), F.col(id_col) != F.col(qid)).select(
        F.col(qid),
        F.col(id_col),
        F.round(
            dot(F.col("_qvec"), F.col(vec_col))
            / (F.col("_qn2") * F.col("_cn2")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF-style search: candidates restricted to the query's coarse
    cell (``cell_col``) before scoring — the scan is pruned by the
    cell predicate instead of scoring the full corpus."""
    qid = query_id_col or f"q_{id_col}"
    # per-side norms precomputed before the join — identical operands,
    # bit-identical scores, 1 fold per pair instead of 3 (see
    # cosine_dedup_pairs)
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("_qvec"),
        F.col(cell_col).alias("_qcell"),
        norm2(F.col(vec_col)).alias("_qn2"),
    )
    candidates = widen_parallelism(candidates).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(cell_col),
        norm2(F.col(vec_col)).alias("_cn2"),
    )
    scored = candidates.join(
        F.broadcast(q),
        (F.col(cell_col) == F.col("_qcell")) & (F.col(id_col) != F.col(qid)),
    ).select(
        F.col(qid),
        F.col(id_col),
        F.round(
            dot(F.col("_qvec"), F.col(vec_col))
            / (F.col("_qn2") * F.col("_cn2")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.95,
    max_block_size: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold,
    blocked by ``block_col`` (quadratic only within blocks).

    Skew guard (same design as dedup.lsh_candidate_pairs, where the
    rationale — AQE cannot split a self-join's both-sides-hot
    partition — is documented): when some block exceeds
    ``max_block_size`` rows, each member gets a deterministic salt
    group in [0, G) with G = ceil(block_n / max_block_size) and the
    join key becomes (block, g_left, g_right) — per-task pair work is
    bounded by ~max_block_size² however skewed the blocks are.
    Uniform blocks take the plain join (one cheap counts agg is the
    only extra cost)."""
    df = widen_parallelism(df)
    # precompute each row's norm BEFORE the pair join: cosine(a, b) =
    # dot / (norm(a) * norm(b)) evaluates norm2 on identical operands
    # whether per row or per pair, so scores are bit-identical while
    # the per-pair fold work drops from 3 vector passes to 1 (the
    # dot) — on a B-row block that is 2·B² fewer norm folds (r12
    # optimization)
    slim = df.select(
        F.col(id_col),
        F.col(block_col),
        F.col(vec_col),
        norm2(F.col(vec_col)).alias("_n2"),
    )

    def score(lhs: str, rhs: str) -> Column:
        return F.round(
            dot(F.col(f"{lhs}.{vec_col}"), F.col(f"{rhs}.{vec_col}"))
            / (F.col(f"{lhs}._n2") * F.col(f"{rhs}._n2")),
            6,
        ).alias("score")

    # size-gated skew probe (the EXPORT_PRUNE_MIN_SOURCE_BYTES
    # discipline): below COSINE_SKEW_GATE_MIN_BYTES even the fully
    # skewed worst case is bounded cheap, so the eager max-count job
    # costs more than the skew it guards — take the plain join
    # without probing. Same results on either path (parity-pinned);
    # only the physical plan differs.
    from pystore_spark import config
    from pystore_spark.partition import estimate_size_bytes

    # distrust_filters (ADVICE r12): a post-filter/join estimate can
    # underestimate — fall through to the probe rather than silently
    # skip the single-reducer skew guard
    est = estimate_size_bytes(slim, distrust_filters=True)
    small = (
        est is not None and est < config.COSINE_SKEW_GATE_MIN_BYTES
    )
    if not small:
        counts = slim.groupBy(block_col).agg(
            F.count(F.lit(1)).alias("_bn")
        )
        max_bn = (
            counts.agg(F.max("_bn").alias("m")).first()["m"] or 0
        )
    if small or max_bn <= max_block_size:
        a, b = slim.alias("a"), slim.alias("b")
        return (
            a.join(
                b,
                (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_i"),
                F.col(f"b.{id_col}").alias("id_j"),
                score("a", "b"),
            )
            .filter(F.col("score") >= threshold)
        )
    g = F.greatest(
        F.ceil(F.col("_bn") / max_block_size).cast("int"), F.lit(1)
    )
    salted = slim.join(counts, block_col).select(
        F.col(id_col),
        F.col(block_col),
        F.col(vec_col),
        F.col("_n2"),
        g.alias("_g"),
        F.pmod(F.xxhash64(F.col(id_col)), g).cast("int").alias("_s"),
    )
    left = salted.select(
        id_col, block_col, vec_col, "_n2",
        F.col("_s").alias("_g1"),
        F.explode(F.sequence(F.col("_s"), F.col("_g") - 1)).alias("_g2"),
    )
    right = salted.select(
        id_col, block_col, vec_col, "_n2",
        F.explode(F.sequence(F.lit(0), F.col("_s"))).alias("_g1"),
        F.col("_s").alias("_g2"),
    )
    a, b = left.alias("a"), right.alias("b")
    # id order is canonicalized AFTER the join (roles are fixed by
    # salt); an equal-salt pair would match in both role assignments,
    # so same-group pairs additionally require a.id < b.id — each
    # unordered pair survives exactly once with NO dedup exchange
    # (review r12: dropDuplicates here shuffled the full pair set)
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a._g1") == F.col("b._g1"))
            & (F.col("a._g2") == F.col("b._g2"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (
                (F.col("a._g1") != F.col("a._g2"))
                | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        )
        .select(
            F.least(
                F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
            ).alias("id_i"),
            F.greatest(
                F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
            ).alias("id_j"),
            score("a", "b"),
        )
        .filter(F.col("score") >= threshold)
    )


# the bounded pin FIFO lives in pystore_spark.partition (bm25's shared
# tokenized child pins through the same registry)
from pystore_spark.partition import pin_frame as _pin_frame  # noqa: E402


def semdedup_kept(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: "int | str" = "auto",
    n_iters: int = 2,
    threshold: float = 0.95,
    quant: float = 1e7,
    prefer_col: str | None = None,
    max_block_size: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic deduplication with NO pre-given blocking key.
    Deterministic KMeans (:func:`build_ivf_index_deterministic`)
    clusters the embedding space; near-duplicate pairs are searched
    ONLY within each cluster (the cluster-local quadratic is the
    paper's whole point: Σ nᵢ² ≪ n² when n_cells scales with the
    corpus); of each pair above the cosine ``threshold`` the larger
    id drops. Returns the kept rows with their ``cell`` assignment
    attached.

    Keep rule: a row drops iff SOME smaller-id row in the same
    cluster is ≥ ``threshold`` similar — the deterministic analogue
    of the paper's keep-one-per-group sweep (they keep a random/
    centroid-extremal member; id order is reproducible across
    engines). ``prefer_col`` replaces the id preference with a
    QUALITY preference: of each near-dup pair the row with the
    higher ``prefer_col`` wins (ties, including nulls on both sides,
    fall back to smaller id; a null loses to a non-null) — keep the
    best-scoring member of each duplicate neighborhood instead of
    the oldest. Like the paper, near-dups that KMeans split across
    cluster boundaries are not compared — raise ``n_iters``/lower
    ``n_cells`` to trade recall for cost.

    Scale shape: training is n_iters × (projection + ONE map-side
    combined groupBy of n_cells·dim longs); assignment is a pure
    projection; the pair join shuffles on ``cell`` only; the final
    keep is a broadcast-able left-anti join on the (sparse) drop
    set. No all-pairs stage anywhere.

    ``n_cells="auto"`` (default) scales the cluster count with the
    corpus — ~4·√N, capped at 65,536 — which is what keeps the
    cluster-local quadratic LINEAR in N (BENCH_SEMDEDUP measures it);
    a fixed cell count re-grows an (N/C)² term as the corpus does.
    ``max_block_size`` is the hot-cluster skew guard forwarded to
    :func:`cosine_dedup_pairs` (salted group-pair join above it)."""
    if n_cells != "auto" and not isinstance(n_cells, int):
        raise ValueError(
            f"n_cells must be an int or 'auto', got {n_cells!r}"
        )
    # "auto" resolves inside train_ivf_centroids: the driver-local
    # training tier derives N from its one collect (no dedicated
    # count job — r12 verdict item); the distributed path counts
    # once, same ~4·√N policy either way
    assigned = build_ivf_index_deterministic(
        df, vec_col, id_col, n_cells=n_cells, n_iters=n_iters,
        quant=quant,
    )
    # pin the assignment once: it feeds the pair join's both sides,
    # the block-size count, the prefer lookups, and the final
    # anti-join base — without this the full-corpus assignment
    # lineage re-runs 4-6×. persist, not localCheckpoint: this frame
    # is O(corpus) and checkpoint blocks are not fault-tolerant — a
    # lost executor must be able to recompute its partitions
    # (review r12)
    assigned = _pin_frame(assigned)
    pairs = cosine_dedup_pairs(
        assigned, vec_col, id_col, block_col="cell",
        threshold=threshold, max_block_size=max_block_size,
    )
    if prefer_col is not None:
        # per-pair loser by (prefer desc, id asc): the group's
        # maximum-(prefer, -id) member loses no pair, so every
        # duplicate neighborhood keeps at least one row
        p = assigned.select(F.col(id_col), F.col(prefer_col))
        pw = pairs.join(
            p.select(
                F.col(id_col).alias("id_i"),
                F.col(prefer_col).alias("_pi"),
            ),
            "id_i",
        ).join(
            p.select(
                F.col(id_col).alias("id_j"),
                F.col(prefer_col).alias("_pj"),
            ),
            "id_j",
        )
        loser = (
            F.when(F.col("_pj") > F.col("_pi"), F.col("id_i"))
            .when(F.col("_pi") > F.col("_pj"), F.col("id_j"))
            .when(
                F.col("_pi").isNull() & F.col("_pj").isNotNull(),
                F.col("id_i"),
            )
            .otherwise(F.col("id_j"))  # ties/null-null: larger id
        )
        dropped = pw.select(loser.alias(id_col))
    else:
        dropped = pairs.select(F.col("id_j").alias(id_col))
    return assigned.join(dropped, id_col, "left_anti")


def lsh_signs(
    n_planes: int, dim: int, seed: int = 7
) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane components: md5 of
    ``(seed, plane, dim)`` → parity. Engine-portable — the oracle bakes
    the same literals into its SQL."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(
                f"signlsh:{seed}:{p}:{d}".encode()
            ).digest()[0] % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def signlsh_candidate_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 16,
    band_bits: int = 4,
    quant: float = 1e6,
    seed: int = 7,
) -> DataFrame:
    """Distinct LSH candidate pairs (id_i < id_j) from sign-LSH band
    buckets — the candidate-generation stage of
    :func:`signlsh_candidate_topk`, exposed for recall audits and
    custom rescoring. Same determinism contract (exact int64 sign
    dots) and scale shape (shuffle on (band, key), quadratic only
    within buckets)."""
    signs = lsh_signs(n_planes, dim, seed)
    # SQL-text build (module header) + two per-row savings, both
    # bit-identical: the quantized component array floor(x·quant) is
    # hoisted into ONE projection instead of being re-derived inside
    # every plane's fold (n_planes× less floor work per row — the
    # products and the int64 fold order are unchanged), and each
    # plane's dot folds over that exact-integer array.
    df = widen_parallelism(df)
    qd = _sql_double(float(quant))
    qdf = df.select(
        F.col(id_col),
        F.expr(
            "transform(%s, x -> FLOOR(CAST(x AS DOUBLE) * %s))"
            % (_sql_ident(vec_col), qd)
        ).alias("_qv"),
    )

    def bit(p: int) -> str:
        sarr = "array(%s)" % ",".join(str(s) for s in signs[p])
        return (
            "CAST(aggregate(zip_with(_qv, %s, "
            "(x, s) -> x * CAST(s AS BIGINT)), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x) >= 0 AS INT)" % sarr
        )

    n_bands = n_planes // band_bits
    band_structs = ",".join(
        "named_struct('band', %d, 'key', (0 + %s))"
        % (
            b,
            " + ".join(
                "(%s) * %d" % (bit(b * band_bits + j), 2**j)
                for j in range(band_bits)
            ),
        )
        for b in range(n_bands)
    )
    buckets = qdf.select(
        F.col(id_col),
        F.expr("explode(array(%s))" % band_structs).alias("bk"),
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b2 = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_i"),
            F.col(f"b.{id_col}").alias("id_j"),
        )
        .distinct()
    )


def signlsh_candidate_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 16,
    band_bits: int = 4,
    quant: float = 1e6,
    seed: int = 7,
    k: int = 20,
) -> DataFrame:
    """Random-hyperplane (sign) LSH for cosine near-duplicates — the
    bucketed scale path next to :func:`cosine_dedup_pairs`'s blocked
    all-pairs variant.

    Each vector gets ``n_planes`` sign bits (``dot(v, h_p) >= 0`` with
    ±1 hyperplanes from :func:`lsh_signs`); bits group into
    ``n_planes // band_bits`` bands whose integer keys are LSH buckets.
    Candidate pairs are generated only within a (band, key) bucket —
    never all-pairs — then deduped across bands and rescored with the
    exact fold cosine; the top-``k`` rescored pairs are returned with a
    total (score desc, id_i, id_j) order.

    Determinism contract: the bit is the sign of an EXACT int64 dot —
    components quantized ``floor(x * quant)`` then multiplied by ±1 and
    summed in integer arithmetic — so bucket membership is
    bit-identical in any engine (no FP summation-order hazard at the
    sign boundary); rescoring reuses the sequential-fold cosine that
    the DuckDB oracle replays term-for-term.

    Scale: the signature pass is a pure projection (no shuffle, one
    fold per plane); candidates shuffle on (band, key) — quadratic
    only within buckets, with AQE splitting hot buckets; the rescore
    is two id-keyed joins. Raise ``band_bits`` to tighten buckets as
    the corpus grows (recall/cost knob, same trade-off as MinHash-LSH
    banding in dedup.py).
    """
    cand = signlsh_candidate_pairs(
        df, vec_col, id_col, dim, n_planes, band_bits, quant, seed
    )
    df = widen_parallelism(df)
    # per-row norms precomputed before the rescore joins — identical
    # operands, bit-identical scores, 1 fold per pair instead of 3
    # (see cosine_dedup_pairs)
    slim = df.select(
        F.col(id_col),
        F.col(vec_col),
        norm2(F.col(vec_col)).alias("_n2"),
    )
    scored = (
        cand.join(
            slim.alias("va"), F.col("id_i") == F.col(f"va.{id_col}")
        )
        .join(slim.alias("vb"), F.col("id_j") == F.col(f"vb.{id_col}"))
        .select(
            "id_i",
            "id_j",
            F.round(
                dot(F.col(f"va.{vec_col}"), F.col(f"vb.{vec_col}"))
                / (F.col("va._n2") * F.col("vb._n2")),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), "id_i", "id_j"
    ).limit(k)


# ---------------------------------------------------------------------------
# high-throughput scale paths
# ---------------------------------------------------------------------------
def brute_force_topk_vectorized(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Same semantics as :func:`brute_force_topk`, but scored with a
    numpy matmul per Arrow batch (``mapInPandas``): one BLAS GEMM per
    (batch × query-set) instead of per-element expression evaluation —
    the throughput path when the query set is larger.

    Raw GEMM sums can differ from the fold-based variant in the last
    float bit (SIMD/pairwise summation), so scores are rounded to 6
    decimals BEFORE local selection and ranked by the same total order
    as :func:`brute_force_topk` — (rounded score desc, id asc) — which
    makes per-batch top-k + global top-k reproduce the fold variant's
    output exactly (a 1e-15 summation wobble only matters if a true
    score sits within it of a 5e-7 rounding boundary).
    Emits only per-batch local top-k, so the final global window ranks
    |batches|·k rows, not the full corpus.
    """
    import numpy as np
    import pandas as pd

    qid = query_id_col or f"q_{id_col}"
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(qid, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score(batches):
        ids_q, mat_q = bc.value
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = np.round(c_mat @ mat_q.T, 6)  # (batch, n_queries)
            out_q, out_c, out_s = [], [], []
            for j in range(sims.shape[1]):
                idxs = np.flatnonzero(c_ids != ids_q[j])
                # lexsort: last key is primary -> (-score, id) total order
                order = np.lexsort((c_ids[idxs], -sims[idxs, j]))[:k]
                sel = idxs[order]
                out_q.extend([ids_q[j]] * len(sel))
                out_c.extend(c_ids[sel])
                out_s.extend(sims[sel, j])
            yield pd.DataFrame(
                {qid: out_q, id_col: out_c, "score": out_s}
            )

    local_topk = (
        widen_parallelism(candidates)
        .select(id_col, vec_col)
        .mapInPandas(score, schema=schema)
    )
    w = Window.partitionBy(qid).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


#: cell count at which ``method="auto"`` assignment switches from the
#: fold-expression argmin to the vectorized GEMM kernel. Below it the
#: Catalyst expression (n_cells × dim literal nodes) stays inside
#: whole-stage codegen and is bit-reproducible in the DuckDB oracle;
#: above it the expression outgrows codegen (compile time and
#: interpreted eval both blow up — BENCH_SEMDEDUP measured 6×
#: build/probe cost at 160 cells) while the Arrow-batched
#: numpy path is O(rows·cells·dim) BLAS with none of that.
GEMM_ASSIGN_MIN_CELLS = 64


def auto_n_cells(n: int) -> int:
    """The shared ``n_cells="auto"`` sizing policy: ~4·√N (FAISS
    guidance — inverted lists of ~√N/4 vectors balance probe and
    training cost), capped at 65,536. One definition so
    build_vector_index and semdedup_kept cannot drift."""
    return max(1, min(65_536, int(4 * n ** 0.5)))


# ---------------------------------------------------------------------------
# Driver-local training tier (r13 optimization)
# ---------------------------------------------------------------------------
# The deterministic trainers run 1 + n_iters sequential driver-blocking
# jobs; at small inputs each job's wall time is fixed launch cost
# (scheduling + AQE re-planning + py4j — the r12 verdict's
# "job-sequence-bound" finding: 8 cores beat 32 on the vector
# flagships). Below KMEANS_DRIVER_TRAIN_MAX_BYTES the trainer collects
# (id, vec) ONCE and replays the identical fold/quantized-mean recipe
# in numpy: distances accumulate COMPONENT-sequentially (vectorized
# over rows × cells, sequential over i — the same IEEE add/mul order
# as the fold expression's left fold), argmin's first-minimum matches
# array_min's lowest-cell tie-break, and the update sums are the same
# order-independent int64 folds. Centroids are therefore bit-identical
# to the distributed fold tier (parity-pinned). Anything the local
# replay cannot reproduce exactly — GEMM-tier cell counts (BLAS
# summation order), NaN components (Spark orders NaN largest,
# np.argmin propagates it), ragged/null-element vectors (zip_with
# null semantics), non-sortable ids — falls back to the distributed
# path, as does any input over the size/row gates.


def _collect_train_rows(
    df, vec_col: str, id_col: str, quant: float = 1e7
):
    """Collect ``(id, vec)`` for the driver-local training tier, or
    return None when the input must stay distributed. One Spark job;
    the caller's init window is the first rows of the id-sorted
    result, exactly the distributed ``orderBy(id).limit(C)`` window.
    The size gate reads the Catalyst estimate of the PROJECTED frame;
    ``spark.driver.maxResultSize`` backstops an underestimate (a
    failed collect degrades to the distributed path, results
    unchanged). ``quant`` sizes the int64-overflow bails: past
    ``~2^63 / quant`` Java's BIGINT cast saturates while numpy's
    astype is platform-undefined, and a cell sum that can pass 2^63
    wraps in numpy but raises in Spark, so such inputs keep the exact
    distributed path."""
    from pystore_spark import config
    from pystore_spark.partition import estimate_size_bytes

    slim = df.select(id_col, vec_col)
    est = estimate_size_bytes(slim)
    if est is None or est >= config.KMEANS_DRIVER_TRAIN_MAX_BYTES:
        return None
    cap = config.KMEANS_DRIVER_TRAIN_MAX_ROWS
    try:
        # LIMIT cap+1 bounds driver memory BEFORE the collect when the
        # size estimate lied low: at ≤ cap rows the limit is a no-op
        # (all rows arrive, order irrelevant — sorted below); past it
        # the cap+1'th row proves overflow and we stay distributed
        rows = slim.limit(cap + 1).collect()
    except Exception:  # maxResultSize / transient — stay distributed
        return None
    if len(rows) > cap:
        return None
    # quant-aware overflow bound (review r13): |x|·quant must stay
    # clear of 2^63; also keep the historical 1e11 ceiling as a
    # conservative floor for embedding-scale data
    bound = min(1e11, 9.0e18 / max(float(quant), 1.0))
    out = []
    dim = None
    peak = 0.0
    for r in rows:
        rid, v = r[0], r[1]
        if rid is None or (
            isinstance(rid, float) and rid != rid
        ):
            # null/NaN id: orderBy placement (nulls/NaN ordering) is
            # engine-specific and Python's sort treats NaN keys as
            # incomparable-silently — keep distributed
            return None
        if v is not None:
            if dim is None:
                dim = len(v)
            elif len(v) != dim:
                return None  # ragged: zip_with null semantics
            vv = []
            for x in v:
                # null element / NaN / quant-overflow components all
                # have engine-specific semantics the local replay
                # does not reproduce — bail to the exact path
                if x is None:
                    return None
                fx = float(x)
                if fx != fx or fx > bound or fx < -bound:
                    return None
                peak = max(peak, abs(fx))
                vv.append(fx)
            v = vv
        out.append((rid, v))
    # a cell's int64 sum is bounded by max|x|·quant·rows: where that
    # can reach 2^63, np.add.at would wrap silently while the
    # distributed sum raises ARITHMETIC_OVERFLOW — stay distributed
    if peak * float(quant) * len(out) >= 2.0**63:
        return None
    try:
        out.sort(key=lambda t: t[0])
    except TypeError:
        return None
    return out


def _local_fold_assign(X, C):
    """Component-sequential squared-L2 argmin — the fold expression's
    exact IEEE op order (vectorized over rows × cells, sequential
    over components), first-minimum = lowest-cell tie-break."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        d = X[:, i, None] - C[None, :, i]
        acc += d * d
    return acc.argmin(axis=1)


def _local_fold_kmeans(
    vecs: "list[list[float]]",
    cents: "list[list[float]]",
    n_iters: int,
    quant: float,
) -> "list[list[float]]":
    """Driver-local Lloyd's iterations, bit-identical to the
    distributed fold tier: per iteration assign every vector to the
    nearest centroid (component-SEQUENTIAL squared-L2 accumulation —
    the fold expression's exact add/mul order — argmin first-minimum
    = lowest-cell tie-break) and recompute each non-empty cell's
    centroid as ``(double(sum(floor(x*quant) as int64)) / n) / quant``
    (int64 sums are order-independent; the two divisions are the same
    correctly-rounded IEEE ops as the distributed update and the
    DuckDB oracle). Empty cells keep their previous centroid."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    if X.ndim != 2 or X.shape[0] == 0:
        return cents
    dim = X.shape[1]
    for _ in range(n_iters):
        C = np.asarray(cents, dtype=np.float64)
        k = C.shape[0]
        cells = _local_fold_assign(X, C)
        Q = np.floor(X * quant).astype(np.int64)
        sums = np.zeros((k, dim), dtype=np.int64)
        np.add.at(sums, cells, Q)
        counts = np.bincount(cells, minlength=k)
        new = list(cents)
        for c in range(k):
            n = int(counts[c])
            if n:
                new[c] = (
                    sums[c].astype(np.float64) / n / quant
                ).tolist()
        cents = new
    return cents


def _resolve_assign_method(
    method: str, centroids: list[list[float]]
) -> str:
    if method == "auto":
        return (
            "gemm"
            if len(centroids) >= GEMM_ASSIGN_MIN_CELLS
            else "fold"
        )
    if method not in ("fold", "gemm"):
        raise ValueError("method must be auto|fold|gemm")
    return method


class _Plain:
    def __init__(self, v):
        self.value = v


#: digest-keyed LRU of live kernel-constant broadcasts. Two jobs: (1)
#: a steady-state stream probing the same index re-USES one broadcast
#: per micro-batch instead of registering a fresh copy each batch;
#: (2) eviction calls unpersist(), so rotating payloads (KMeans
#: iterations) cannot accumulate stale broadcast blocks on executors
#: until GC gets around to them (review r12).
_BC_CACHE: "dict[tuple, Any]" = {}
_BC_CACHE_CAP = 8


def _bc_or_value(df: DataFrame, payload):
    """Ship a kernel's constant matrix to executors ONCE via a Spark
    broadcast instead of closure-capturing it into every task binary
    (at auto-scaled cell counts the centroid matrix is tens of MB —
    per-task shipping multiplies that by the task count). Falls back
    to the raw value where no SparkContext is reachable (Connect);
    genuine broadcast failures (size limits, serialization) propagate
    rather than silently reinstating per-task shipping. Returns an
    object with a ``.value`` attribute either way."""
    import hashlib

    try:
        sc = df.sparkSession.sparkContext
    except Exception:  # Connect: no SparkContext — closure capture
        return _Plain(payload)
    mats = payload if isinstance(payload, list) else [payload]
    h = hashlib.md5()
    for m in mats:
        h.update(str(m.shape).encode())
        h.update(m.tobytes())
    key = (id(sc), len(mats), h.hexdigest())
    hit = _BC_CACHE.pop(key, None)
    if hit is not None:
        _BC_CACHE[key] = hit  # LRU refresh
        return hit
    bc = sc.broadcast(payload)
    _BC_CACHE[key] = bc
    while len(_BC_CACHE) > _BC_CACHE_CAP:
        # plain dicts iterate in insertion order — first key is the
        # least recently used (hits re-insert above)
        old = _BC_CACHE.pop(next(iter(_BC_CACHE)))
        try:
            old.unpersist()
        except Exception:
            pass
    return bc


def _gemm_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int = 1,
    with_dist: bool = False,
) -> DataFrame:
    """Vectorized centroid assignment: one ``X @ Cᵀ`` GEMM per Arrow
    batch (``d² = ‖x‖² − 2x·c + ‖c‖²``), argmin/arg-nprobe-smallest
    with the SAME lowest-cell tie-break as the fold path (stable sort
    on exact-equal distances). Distances are BLAS-summation-ordered,
    so a 1-ulp near-tie can assign differently than the fold
    expression — callers needing the DuckDB-replayable contract pass
    ``method="fold"``. Null vectors yield a null cell (and null
    ``_cdist``) at nprobe=1 and are dropped by the multi-probe
    explode (nothing to probe). ``nprobe>1`` explodes each row to
    its nprobe nearest cells, ascending distance."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # withColumn-replace semantics: a pre-existing cell/_cdist column
    # is overwritten, exactly like the fold path's withColumn
    drop = {"cell"} | ({"_cdist"} if with_dist else set())
    df = df.drop(*(c for c in df.columns if c in drop))
    bc = _bc_or_value(df, np.asarray(centroids, dtype=np.float64))
    n_take = min(int(nprobe), len(centroids))
    fields = list(df.schema.fields) + [
        T.StructField("cell", T.IntegerType())
    ]
    if with_dist:
        fields.append(T.StructField("_cdist", T.DoubleType()))
    schema = T.StructType(fields)

    def run(batches):
        # once per task, executor-side — not per Arrow batch
        C = bc.value
        c_norms = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["cell"] = pd.Series([], dtype="Int32")
                if with_dist:
                    out["_cdist"] = pd.Series([], dtype="float64")
                yield out
                continue
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None)
            rows = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            ) if ok.any() else np.zeros((0, C.shape[1]))
            d = (
                (rows * rows).sum(axis=1)[:, None]
                - 2.0 * (rows @ C.T)
                + c_norms[None, :]
            )
            if n_take == 1:
                cells = d.argmin(axis=1)
                cell_col = pd.Series(
                    pd.array([None] * len(pdf), dtype="Int32"),
                    index=pdf.index,
                )
                cell_col[ok] = cells.astype("int32")
                out = pdf.copy()
                out["cell"] = cell_col
                if with_dist:
                    dist_col = pd.Series(
                        np.nan, index=pdf.index, dtype="float64"
                    )
                    if len(d):
                        dist_col[ok] = d[
                            np.arange(len(d)), cells
                        ]
                    out["_cdist"] = dist_col
                yield out
                continue
            # multi-probe: stable argsort keeps the lowest-cell order
            # on exact-equal distances, then each row explodes to its
            # n_take nearest cells
            order = (
                np.argsort(d, axis=1, kind="stable")[:, :n_take]
                if len(d)
                else np.zeros((0, n_take), dtype=np.int64)
            )
            keep = pdf[ok]
            out = keep.loc[keep.index.repeat(n_take)].copy()
            out["cell"] = order.reshape(-1).astype("int32")
            if with_dist:
                out["_cdist"] = np.take_along_axis(
                    d, order, axis=1
                ).reshape(-1)
            yield out.reset_index(drop=True)

    return df.mapInPandas(run, schema)


def _nearest_cell_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """SQL text of ``struct<dist, cell>`` of the nearest centroid
    (squared L2, tie broken by lowest cell id) for a vector expression
    given as SQL text — ``array_min`` over ``struct<dist, cell>``
    (lexicographic struct comparison), fully JVM-side. Shared by the
    IVF assigner and the per-subspace PQ encoder (where ``vec_sql`` is
    a slice). Same tree as :func:`_nearest_cell_struct`, built ~40×
    faster (module header: SQL-text builders)."""
    cells = ",".join(
        "named_struct('dist', aggregate(zip_with(%s, %s, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x), 'cell', %d)"
        % (vec_sql, _sql_vec(cent), cell)
        for cell, cent in enumerate(centroids)
    )
    return "array_min(array(%s))" % cells


def _nearest_cell_struct(
    vec: Column, centroids: list[list[float]]
) -> Column:
    """``struct<dist, cell>`` of the nearest centroid (squared L2,
    tie broken by lowest cell id) for an arbitrary vector EXPRESSION
    — ``array_min`` over ``struct<dist, cell>`` (lexicographic struct
    comparison), fully JVM-side. Shared by the IVF assigner and the
    per-subspace PQ encoder (where ``vec`` is a slice).

    Column-API twin of :func:`_nearest_cell_sql` for callers holding
    an arbitrary Column; internal hot paths use the SQL builder."""
    structs = []
    for cell, cent in enumerate(centroids):
        carr = F.array(*[F.lit(float(v)) for v in cent])
        dist = F.aggregate(
            F.zip_with(
                vec,
                carr,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(
            F.struct(dist.alias("dist"), F.lit(cell).alias("cell"))
        )
    return F.array_min(F.array(*structs))


def _assign_cells(
    df: DataFrame, vec_col: str, centroids: list[list[float]],
    with_dist: bool = False, method: str = "auto",
) -> DataFrame:
    """Assign each vector to the nearest centroid (squared L2), tie
    broken by lowest cell id. ``with_dist=True`` additionally keeps
    the squared distance to the assigned centroid as ``_cdist`` (the
    staleness audit's raw signal — see :func:`ivf_cell_stats`).

    ``method="auto"`` picks the physical kernel by cell count:
    under :data:`GEMM_ASSIGN_MIN_CELLS` the fold expression
    (:func:`_nearest_cell_struct` — codegen'd, DuckDB-replayable
    bit-for-bit); at or above it the Arrow-batched GEMM
    (:func:`_gemm_assign` — the n_cells × dim expression tree
    otherwise outgrows codegen and dominates build/probe cost).
    Exact-equality ties break to the lowest cell on BOTH kernels;
    only sub-ulp near-ties can differ, so force ``"fold"`` when an
    oracle must replay large-C assignments exactly."""
    if _resolve_assign_method(method, centroids) == "gemm":
        return _gemm_assign(
            df, vec_col, centroids, nprobe=1, with_dist=with_dist
        )
    best = _nearest_cell_sql(_sql_ident(vec_col), centroids)
    out = df.withColumn("cell", F.expr(f"({best}).cell"))
    if with_dist:
        out = out.withColumn("_cdist", F.expr(f"({best}).dist"))
    return out


def ivf_cell_stats(assigned: DataFrame, dist_col: str = "_cdist") -> dict:
    """Cell-balance + quantization-quality summary of an assigned
    frame (from :func:`_assign_cells` ``with_dist=True``): ONE
    map-side-combinable groupBy("cell") agg; only n_cells rows reach
    the driver. Returns ``{n_vectors, mean_dist, cell_skew}`` where
    ``mean_dist`` is the mean squared distance to the assigned
    centroid (the KMeans objective per vector) and ``cell_skew`` is
    max cell size / mean cell size over non-empty cells. Captured at
    build time and re-measured by the staleness audit: appended
    vectors are assigned to centroids PINNED at build, so at 100×
    corpus growth with distribution drift the objective rises and
    cells unbalance long before recall visibly sags."""
    rows = (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dist_col).alias("sd"),
        )
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if not n:
        return {"n_vectors": 0, "mean_dist": 0.0, "cell_skew": 1.0}
    sizes = [r["n"] for r in rows]
    return {
        "n_vectors": int(n),
        "mean_dist": float(sum(r["sd"] for r in rows)) / n,
        "cell_skew": float(max(sizes)) / (float(n) / len(sizes)),
    }


def assign_probe_cells(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int = 1,
    method: str = "auto",
) -> DataFrame:
    """Multi-probe assignment: each row explodes to its ``nprobe``
    nearest cells (ascending distance, cell id tie-break) — the probe
    side of IVF search. nprobe=1 degenerates to
    :func:`_assign_cells`'s argmin. Pure projection + explode, no
    shuffle; output rows = input × nprobe. ``method`` as in
    :func:`_assign_cells` — large cell counts route through the
    GEMM kernel instead of the C-way sort expression."""
    if _resolve_assign_method(method, centroids) == "gemm":
        return _gemm_assign(df, vec_col, centroids, nprobe=nprobe)
    vec_sql = _sql_ident(vec_col)
    structs = ",".join(
        "named_struct('dist', aggregate(zip_with(%s, %s, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x), 'cell', %d)"
        % (vec_sql, _sql_vec(cent), cell)
        for cell, cent in enumerate(centroids)
    )
    return df.withColumn(
        "cell",
        F.expr(
            "explode(transform(slice(array_sort(array(%s)), 1, %d), "
            "s -> s.cell))" % (structs, int(nprobe))
        ),
    )


def build_ivf_index_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: "int | str" = 8,
    n_iters: int = 2,
    quant: float = 1e7,
    method: str = "auto",
) -> DataFrame:
    """Distributed Lloyd's KMeans with bit-reproducible arithmetic —
    the oracle-checkable IVF index build (``build_ivf_index`` keeps
    MLlib's kmeans|| for production where reproducibility across
    engines doesn't matter).

    Determinism contract (every step is IEEE-deterministic and
    expressible identically in ANSI SQL, so a DuckDB oracle replays
    the whole iteration bit-for-bit):

    - init: the ``n_cells`` vectors with the smallest ids;
    - assignment: sequential left-fold squared-L2, argmin with
      lowest-cell tie-break;
    - update: per-component mean computed as
      ``(double(sum(floor(x*quant) as bigint)) / n) / quant`` — the
      sum is exact int64 arithmetic (order-independent!); it is cast
      to double BEFORE dividing, exactly as the oracle's
      ``CAST(sum AS DOUBLE) / COUNT(*)``, so both sides perform the
      same two correctly-rounded IEEE ops. Empty cells keep their
      previous centroid.

    Scale: the same shuffle structure as MLlib KMeans — per iteration
    ONE groupBy("cell") with map-side partial aggregation; only
    ``n_cells × dim`` longs ever reach the driver. The assignment is a
    pure projection (no shuffle). Precision headroom: components
    |x| ≤ ~1e2 quantized at 1e7 → ≤1e9 per row, so the per-cell sum
    leaves the double-exact range (2^53) around ~9e6 rows per cell —
    past that the mean is still deterministic and identical in the
    oracle (both cast the same int64 to double), just 1-ulp rounded;
    true int64 overflow needs >9e9 rows per cell. Lower ``quant`` if
    either bound is approached.

    ``method``: the bit-exact replay contract above holds for the
    fold assignment kernel, which ``"auto"`` uses below
    :data:`GEMM_ASSIGN_MIN_CELLS`; at larger cell counts auto
    switches to the vectorized GEMM kernel (BLAS-ordered distance
    sums — sub-ulp near-ties may assign differently). Pass
    ``method="fold"`` to keep the oracle contract at any C, paying
    the expression-size cost.
    """
    # training gets the UNwidened frame: results are partitioning-
    # independent, and the driver-local tier's one collect would
    # otherwise pay an extra AQE shuffle job for the repartition
    # (r13); the distributed iteration widens itself. Only the
    # returned per-row assignment projection needs the spread.
    cents = train_ivf_centroids(
        df, vec_col, id_col, n_cells, n_iters, quant, method
    )
    return _assign_cells(
        widen_parallelism(df), vec_col, cents, method=method
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: "int | str" = 8,
    n_iters: int = 2,
    quant: float = 1e7,
    method: str = "auto",
) -> list[list[float]]:
    """The training half of :func:`build_ivf_index_deterministic`,
    exposed separately so the centroids can be PERSISTED (e.g. in an
    index item's metadata — Collection.build_vector_index) and later
    probes assign queries without retraining. Same determinism
    contract and shuffle shape as documented above.

    ``n_cells="auto"`` resolves the shared ~4·√N policy
    (:func:`auto_n_cells`) here: the driver-local tier derives N from
    the rows it already collected (no dedicated count job); the
    distributed path counts once.

    Driver-local tier (r13): below the
    ``KMEANS_DRIVER_TRAIN_MAX_BYTES`` Catalyst estimate the whole
    iteration runs on the driver from ONE collect — bit-identical
    centroids (see the tier header above
    :func:`_collect_train_rows`) at 1 job instead of 1 + n_iters.
    GEMM-tier cell counts keep the distributed kernel (its BLAS
    summation order is the contract callers opted into)."""
    # collect only when the local tier can actually apply (review
    # r13): an integer GEMM-tier cell count under method="auto" always
    # falls through to the distributed kernel, so the collect would be
    # a wasted full-frame job. n_cells="auto" still collects — the
    # collect then doubles as the auto-resolution count.
    applicable = method != "gemm" and (
        method == "fold"
        or n_cells == "auto"
        or (
            isinstance(n_cells, int)
            and n_cells < GEMM_ASSIGN_MIN_CELLS
        )
    )
    local_rows = (
        _collect_train_rows(df, vec_col, id_col, quant=quant)
        if applicable
        else None
    )
    if local_rows is not None:
        if n_cells == "auto":
            n_cells = auto_n_cells(len(local_rows))
        init = [v for _i, v in local_rows[:n_cells] if v is not None]
        if not init:
            raise ValueError(
                "cannot train IVF centroids: the source has no "
                f"non-null vectors in column {vec_col!r}"
            )
        if method == "fold" or len(init) < GEMM_ASSIGN_MIN_CELLS:
            vecs = [v for _i, v in local_rows if v is not None]
            return _local_fold_kmeans(vecs, init, n_iters, quant)
        # auto at GEMM-tier C: the distributed kernel's arithmetic
        # is the contract — fall through (the collect still resolved
        # n_cells="auto" without a count job)
    if n_cells == "auto":
        n_cells = auto_n_cells(df.count())
    init_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    cents = [
        [float(x) for x in r[vec_col]]
        for r in init_rows
        if r[vec_col] is not None
    ]
    if not cents:
        raise ValueError(
            "cannot train IVF centroids: the source has no non-null "
            f"vectors in column {vec_col!r}"
        )
    dim = len(cents[0])
    # null vectors take no part in training (they'd form a null
    # update group under the GEMM kernel — review r12 — and inflated
    # cell-0 denominators under the fold kernel). Filtering the RAW
    # column keeps the predicate scan-pushable instead of
    # re-evaluating the derived cell expression. Widening spreads the
    # CPU-bound per-iteration assignment off a single small split
    # (no-op at real scale); it stays OFF the init collect above and
    # the whole driver-local tier — order-independent sums make the
    # trained centroids partitioning-invariant either way
    clean = widen_parallelism(df.filter(F.col(vec_col).isNotNull()))
    # tall update aggregation (r12 optimization): quantize the vector
    # once per row, posexplode, and group by (cell, component) — ONE
    # int64 sum buffer per group instead of dim wide agg buffers per
    # cell (the 64-buffer HashAggregate measured ~30% slower per
    # iteration job). A leading NULL sentinel element makes pos 0
    # carry the exact per-cell ROW count (a short/empty vector still
    # counts toward n while contributing only its existing
    # components — the wide element_at semantics). Sums are the same
    # order-independent int64 folds, so centroids are bit-identical.
    q_sql = (
        "posexplode(concat(array(CAST(NULL AS BIGINT)), "
        "transform(%s, x -> CAST(FLOOR(CAST(x AS DOUBLE) * %s) "
        "AS BIGINT))))" % (_sql_ident(vec_col), _sql_double(quant))
    )
    for _ in range(n_iters):
        assigned = _assign_cells(clean, vec_col, cents, method=method)
        rows = (
            assigned.select(
                "cell", F.expr(q_sql).alias("pos", "q")
            )
            .groupBy("cell", "pos")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("q").alias("s"))
            .collect()
        )
        per_cell_n = {
            r["cell"]: r["c"] for r in rows if r["pos"] == 0
        }
        sums = {
            (r["cell"], r["pos"] - 1): r["s"]
            for r in rows
            if r["pos"] > 0
        }
        new_cents = list(cents)
        for cell, n in per_cell_n.items():
            new_cents[cell] = [
                (float(sums[(cell, i)]) / n) / quant
                for i in range(dim)
            ]
        cents = new_cents
    return cents


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Train a KMeans coarse quantizer and assign every vector to a
    cell — the index-build step for IVF search at scale (store the
    result partitioned by ``cell`` so probes prune partitions).

    Returns the input with an added ``cell`` int column.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("_features", array_to_vector(F.col(vec_col)))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_features", predictionCol="cell"
    ).fit(feat)
    return model.transform(feat).drop("_features")


def ivf_search_with_index(
    indexed: DataFrame,
    queries_indexed: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Probe step over a prebuilt IVF index: candidates pruned to the
    query's cell (see :func:`ivf_topk`)."""
    return ivf_topk(
        indexed, queries_indexed, vec_col, id_col, cell_col="cell", k=k,
        query_id_col=query_id_col,
    )


def quantize_int8(vec: Column, scale_out: str = "scale") -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: ``q = round(v * 127 /
    max|v|)``, returned with the per-vector scale needed to decode.
    4× smaller embedding storage (the difference between 100 TB and
    25 TB of vectors) at a bounded cosine error — see
    ``embedding_quantization_audit`` for the measured bound. Pure
    higher-order array functions, no UDF.
    """
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        vec,
        lambda x: F.round(x / scale).cast("tinyint"),
    )
    return q, scale.alias(scale_out)


def dequantize_int8(q: Column, scale: Column) -> Column:
    """Decode int8 codes back to float: ``v ≈ q * scale``."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def quantized_select(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its int8 codes + per-vector scale
    (``_q8`` / ``_q8_scale``) — the one projection both the base
    build and the delta append of a quantized vector index use, so
    the two tiers cannot drift in schema."""
    q, scale = quantize_int8(F.col(vec_col))
    return df.select(
        *[c for c in df.columns if c != vec_col],
        q.alias("_q8"),
        scale.alias("_q8_scale"),
    )


def quantized_cell_stats(
    qdf: DataFrame, vec_col: str, centroids: list[list[float]]
) -> dict:
    """Build-domain cell stats for a QUANTIZED index: dequantize the
    int8 codes and re-run nearest-centroid assignment, so the stored
    ``build_stats`` measure the SAME signal the staleness audit
    re-measures (``vector_index_staleness`` reads dequantized
    vectors). Computing build stats on the exact float vectors instead
    would bake a quantization-noise bias into every ``dist_ratio`` —
    tightly clustered corpora would flag stale with zero drift and
    trigger a spurious O(index) retrain on the first maintain()."""
    rt = qdf.withColumn(
        vec_col, dequantize_int8(F.col("_q8"), F.col("_q8_scale"))
    )
    return ivf_cell_stats(
        _assign_cells(
            rt.select(vec_col), vec_col, centroids, with_dist=True
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the 16-32x embedding compression tier
# ---------------------------------------------------------------------------
# Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011, public): split the vector into m subvectors,
# learn an independent small codebook per subspace, store each vector
# as m codes. At dim=64 float32 that is 256 B -> m bytes-ish (codes +
# no scale), far past int8's 4x — the difference between 25 TB and
# ~2 TB of vector payload at the 100 TB corpus. Distances are
# asymmetric (ADC): the QUERY stays float, each subspace contributes
# a lookup-table entry ||q_j - codebook_j[code]||^2, and a vector's
# distance is the sum of m table lookups — JVM-side here via
# zip_with + element_at over a broadcast per-query LUT, no UDF.


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    n_cells: int = 256,
    n_iters: int = 2,
) -> list[list[list[float]]]:
    """Train the m per-subspace codebooks with the SAME deterministic
    KMeans as the IVF coarse quantizer (:func:`train_ivf_centroids` —
    id-ordered init, quantized-mean updates), run on the sliced
    vectors. Returns ``m × n_cells × (dim/m)`` floats — metadata-sized
    by construction, persistable in an item sidecar.

    All m subspaces train FUSED (r12 optimization): one init collect
    (the n_cells smallest-id vectors, sliced locally — per-subspace
    init windows are identical because a slice is null iff the vector
    is) and ONE aggregation job per Lloyd's iteration covering every
    subspace, instead of ``1 + m×(1 + n_iters)`` sequential jobs. The
    fold tier inlines per-row (j, cell, subvector) rows and groups by
    (j, cell); the GEMM tier (≥ :data:`GEMM_ASSIGN_MIN_CELLS` init
    rows, same tier rule as ``method="auto"``) assigns all subspaces
    per Arrow batch and pre-aggregates the quantized component sums
    IN the kernel, so only m × n_cells × tasks partial rows shuffle.
    The per-(j, cell) counts and int64 component sums are
    order-independent, so codebooks are bit-identical to the
    per-subspace trainer on the fold tier (parity pinned in tests)."""
    quant = 1e7  # train_ivf_centroids' default — the oracle replays it
    # precheck the tier (review r13): at GEMM-tier n_cells (the 256
    # default) the local path below always falls through — skip the
    # otherwise-wasted full-frame collect
    local_rows = (
        _collect_train_rows(df, vec_col, id_col, quant=quant)
        if n_cells < GEMM_ASSIGN_MIN_CELLS
        else None
    )
    if local_rows is not None:
        init = [v for _i, v in local_rows[:n_cells] if v is not None]
        if not init:
            if not any(v is not None for _i, v in local_rows):
                raise ValueError(
                    "cannot train PQ codebooks: no vectors"
                )
            raise ValueError(
                "cannot train PQ codebooks: no non-null vectors in "
                f"the first {n_cells} rows (by {id_col!r}) of column "
                f"{vec_col!r}"
            )
        if len(init) < GEMM_ASSIGN_MIN_CELLS:
            ldim = len(init[0])
            if ldim % m:
                raise ValueError(
                    f"dim {ldim} not divisible into m={m} subvectors"
                )
            ld = ldim // m
            lvecs = [v for _i, v in local_rows if v is not None]
            # subspaces are independent — the per-subspace local loop
            # equals the fused distributed fold tier (parity-pinned)
            return [
                _local_fold_kmeans(
                    [v[j * ld:(j + 1) * ld] for v in lvecs],
                    [v[j * ld:(j + 1) * ld] for v in init],
                    n_iters,
                    quant,
                )
                for j in range(m)
            ]
        # GEMM-tier C: keep the distributed kernel's arithmetic
    init_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    vecs = [
        [float(x) for x in r[vec_col]]
        for r in init_rows
        if r[vec_col] is not None
    ]
    if not vecs:
        # distinguish an all-null corpus (the historical first()-probe
        # message) from an all-null init window (ADVICE r12: name the
        # caller-visible column, not the removed trainer's internal
        # '_sub') — one extra job on the error path only
        has_any = (
            df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        )
        if has_any is None:
            raise ValueError("cannot train PQ codebooks: no vectors")
        raise ValueError(
            "cannot train PQ codebooks: no non-null vectors in "
            f"the first {n_cells} rows (by {id_col!r}) of column "
            f"{vec_col!r}"
        )
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(
            f"dim {dim} not divisible into m={m} subvectors"
        )
    d_sub = dim // m
    books = [
        [v[j * d_sub:(j + 1) * d_sub] for v in vecs] for j in range(m)
    ]
    clean = df.filter(F.col(vec_col).isNotNull())
    use_gemm = len(vecs) >= GEMM_ASSIGN_MIN_CELLS
    vec_sql = _sql_ident(vec_col)
    # tall (j, cell, component) sums with a NULL sentinel for the row
    # count — same layout as train_ivf_centroids' update job (see the
    # comment there); the subvector quantizes once per (row, j)
    q_sub = (
        "posexplode(concat(array(CAST(NULL AS BIGINT)), "
        "transform(_sub, x -> CAST(FLOOR(CAST(x AS DOUBLE) * %s) "
        "AS BIGINT))))" % _sql_double(quant)
    )
    for _ in range(n_iters):
        if use_gemm:
            exploded = _gemm_subspace_partials(
                clean, vec_col, books, quant
            )
            rows = exploded.groupBy("j", "cell").agg(
                F.sum("n").alias("n"),
                *[
                    F.sum(f"s{i}").alias(f"s{i}")
                    for i in range(d_sub)
                ],
            ).collect()
            for r in rows:
                n = r["n"]
                books[r["j"]][r["cell"]] = [
                    (float(r[f"s{i}"]) / n) / quant
                    for i in range(d_sub)
                ]
            continue
        structs = ",".join(
            "named_struct('j', %d, 'cell', (%s).cell, '_sub', %s)"
            % (j, _nearest_cell_sql(sub_sql, books[j]), sub_sql)
            for j in range(m)
            for sub_sql in (
                f"slice({vec_sql}, {j * d_sub + 1}, {d_sub})",
            )
        )
        rows = (
            clean.select(F.expr("inline(array(%s))" % structs))
            .select("j", "cell", F.expr(q_sub).alias("pos", "q"))
            .groupBy("j", "cell", "pos")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("q").alias("s"))
            .collect()
        )
        per_jc_n = {
            (r["j"], r["cell"]): r["c"] for r in rows if r["pos"] == 0
        }
        sums = {
            (r["j"], r["cell"], r["pos"] - 1): r["s"]
            for r in rows
            if r["pos"] > 0
        }
        for (j, cell), n in per_jc_n.items():
            books[j][cell] = [
                (float(sums[(j, cell, i)]) / n) / quant
                for i in range(d_sub)
            ]
    return books


def train_residual_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 4,
    m: int = 2,
    pq_cells: int = 4,
    n_iters: int = 2,
    quant: float = 1e7,
) -> "tuple[list[list[float]], list[list[list[float]]]]":
    """Fused residual-IVFADC training: coarse centroids AND the
    per-subspace residual codebooks from ONE pass over the training
    frame. Returns ``(centroids, codebooks)``.

    Equivalent by construction to the unfused sequence
    ``cents = train_ivf_centroids(df); books = train_pq_codebooks(
    residualize_frame(assign(df)))`` — which is exactly what the
    distributed fallback runs. The driver-local tier (r13, same gate
    as the trainers) collects (id, vec) ONCE and derives everything —
    coarse KMeans, fold assignment, residual subtraction
    (``x_double − cent[cell]`` per component, the ``residualize``
    projection's IEEE ops), and the per-subspace codebook KMeans — on
    the driver: 1 Spark job instead of the unfused local tier's 2
    (or the fully distributed 2·(1 + n_iters)). Bit-identical on
    every path (parity-pinned); GEMM-tier cell counts keep the
    distributed kernels."""
    # overflow bound must cover BOTH quantizers: the caller's coarse
    # quant and the books' pinned 1e7 (residual magnitudes are
    # bounded by ~2x the input bound, inside the guard's margin)
    local_rows = (
        _collect_train_rows(
            df, vec_col, id_col, quant=max(float(quant), 1e7)
        )
        if n_cells < GEMM_ASSIGN_MIN_CELLS
        and pq_cells < GEMM_ASSIGN_MIN_CELLS
        else None
    )
    if local_rows is not None:
        init = [v for _i, v in local_rows[:n_cells] if v is not None]
        if init:
            import numpy as np

            vecs = [v for _i, v in local_rows if v is not None]
            cents = _local_fold_kmeans(vecs, init, n_iters, quant)
            X = np.asarray(vecs, dtype=np.float64)
            C = np.asarray(cents, dtype=np.float64)
            cells = _local_fold_assign(X, C)
            R = X - C[cells]  # residualize: per-component double sub
            # a residual row is null iff the source vector is, and
            # null rows still occupy PQ init-window slots (exactly
            # train_pq_codebooks' orderBy(id).limit window over the
            # residual frame)
            res_it = iter(r.tolist() for r in R)
            res_all = [
                next(res_it) if v is not None else None
                for _i, v in local_rows
            ]
            rinit = [r for r in res_all[:pq_cells] if r is not None]
            res = [r for r in res_all if r is not None]
            dim = len(rinit[0]) if rinit else 0
            if rinit and dim % m == 0:
                d_sub = dim // m
                books = [
                    _local_fold_kmeans(
                        [r[j * d_sub:(j + 1) * d_sub] for r in res],
                        [r[j * d_sub:(j + 1) * d_sub] for r in rinit],
                        n_iters,
                        # books train with train_pq_codebooks' PINNED
                        # 1e7, NOT the coarse quant — the unfused
                        # sequence this function must equal always
                        # does (review r13: a caller quant != 1e7
                        # previously made the tiers diverge)
                        1e7,
                    )
                    for j in range(m)
                ]
                return cents, books
        # empty/odd-dim init windows: the unfused path owns the
        # error messages — fall through
    cents = train_ivf_centroids(
        df, vec_col, id_col, n_cells=n_cells, n_iters=n_iters,
        quant=quant,
    )
    # residualize_frame, not the inline-literal residualize: the
    # distributed fallback also serves GEMM-tier cell counts, where
    # the frame-level helper switches the centroid lookup to a
    # broadcast join instead of an n_cells x dim literal (same
    # arithmetic — _apply_residual_frame's parity contract)
    res = residualize_frame(
        _assign_cells(df, vec_col, cents), vec_col, "cell", cents
    )
    books = train_pq_codebooks(
        res, vec_col, id_col, m=m, n_cells=pq_cells, n_iters=n_iters,
    )
    return cents, books


def _gemm_subspace_partials(
    df: DataFrame,
    vec_col: str,
    books: list[list[list[float]]],
    quant: float,
) -> DataFrame:
    """GEMM-tier kernel for the fused PQ trainer: per Arrow batch,
    assign every subspace's nearest code (the exact ``_gemm_assign``
    arithmetic — ``d² = ‖x‖² − 2XCᵀ + ‖c‖²``, first-minimum argmin)
    and pre-aggregate per (j, cell) the row count and the quantized
    int64 component sums ``Σ floor(x·quant)`` — the same
    floor/cast/sum tree the SQL tier computes, in float64 (float32
    inputs widen exactly). Output: one partial row per (j, cell) per
    batch; the caller's groupBy folds partials with plain int64 sums,
    so the result is order-independent."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = _bc_or_value(
        df, [np.asarray(cb, dtype=np.float64) for cb in books]
    )
    d_sub = len(books[0][0])
    schema = T.StructType(
        [
            T.StructField("j", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("n", T.LongType()),
        ]
        + [
            T.StructField(f"s{i}", T.LongType())
            for i in range(d_sub)
        ]
    )
    cols = ["j", "cell", "n"] + [f"s{i}" for i in range(d_sub)]

    def run(batches):
        Cs = bc.value
        c_norms = [(C * C).sum(axis=1) for C in Cs]
        for pdf in batches:
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None)
            if not ok.any():
                yield pd.DataFrame(
                    {c: pd.Series([], dtype="int64") for c in cols}
                )
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            )
            qx = np.floor(X * quant).astype(np.int64)
            recs = []
            for j, C in enumerate(Cs):
                Xj = X[:, j * d_sub:(j + 1) * d_sub]
                d = (
                    (Xj * Xj).sum(axis=1)[:, None]
                    - 2.0 * (Xj @ C.T)
                    + c_norms[j][None, :]
                )
                cells = d.argmin(axis=1)
                qj = qx[:, j * d_sub:(j + 1) * d_sub]
                counts = np.bincount(cells, minlength=C.shape[0])
                acc = np.zeros((C.shape[0], d_sub), dtype=np.int64)
                np.add.at(acc, cells, qj)  # exact int64 scatter-add
                for cell in np.nonzero(counts)[0]:
                    recs.append(
                        [j, int(cell), int(counts[cell])]
                        + acc[cell].tolist()
                    )
            yield pd.DataFrame(recs, columns=cols)

    return df.select(vec_col).mapInPandas(run, schema)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    method: str = "auto",
) -> DataFrame:
    """Replace ``vec_col`` with its PQ codes ``_pq`` (array<smallint>,
    one code per subspace — nearest codebook entry by squared L2,
    ties to the lowest code, matching the trainer's assigner). Pure
    projection, no shuffle; the inverse (approximate) is
    :func:`pq_decode_col`.

    ``method`` as in :func:`_assign_cells`: ``"auto"`` keeps the
    codegen'd fold expression (DuckDB-replayable) below
    :data:`GEMM_ASSIGN_MIN_CELLS` cells per subspace and switches to
    the Arrow-batched GEMM kernel above it — which is what makes the
    STANDARD PQ geometry (256 cells/subspace = one byte per code)
    usable: m=8 × 256 fold expressions outgrow codegen, eight
    (rows × 256) GEMMs per batch don't."""
    big = max(codebooks, key=len)
    if _resolve_assign_method(method, big) == "gemm":
        return _gemm_pq_encode(df, vec_col, codebooks)
    vec_sql = _sql_ident(vec_col)
    codes = []
    off = 1
    for cb in codebooks:
        d_sub = len(cb[0])
        sub = f"slice({vec_sql}, {off}, {d_sub})"
        codes.append(
            f"CAST(({_nearest_cell_sql(sub, cb)}).cell AS SMALLINT)"
        )
        off += d_sub
    return df.select(
        *[c for c in df.columns if c != vec_col],
        F.expr("array(%s)" % ",".join(codes)).alias("_pq"),
    )


def _gemm_pq_encode(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Vectorized PQ coding: per Arrow batch, one small GEMM per
    subspace (``d² = ‖x_j‖² − 2 x_j·c + ‖c‖²`` against that
    subspace's codebook), argmin with the fold kernel's lowest-code
    tie-break (numpy argmin returns the first minimum). Null vectors
    code to a null ``_pq``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = _bc_or_value(
        df, [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    )
    keep_cols = [c for c in df.columns if c not in (vec_col, "_pq")]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep_cols]
        + [T.StructField("_pq", T.ArrayType(T.ShortType()))]
    )

    def run(batches):
        # once per task, executor-side — not per Arrow batch
        Cs = bc.value
        offs = np.concatenate(
            [[0], np.cumsum([C.shape[1] for C in Cs])]
        )
        c_norms = [(C * C).sum(axis=1) for C in Cs]
        for pdf in batches:
            out = pdf[keep_cols].copy()
            if len(pdf) == 0:
                out["_pq"] = pd.Series([], dtype=object)
                yield out
                continue
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None)
            coded: list = []
            if ok.any():
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
                )
                codes = np.empty((len(X), len(Cs)), dtype=np.int16)
                for j, C in enumerate(Cs):
                    Xj = X[:, offs[j]:offs[j + 1]]
                    d = (
                        (Xj * Xj).sum(axis=1)[:, None]
                        - 2.0 * (Xj @ C.T)
                        + c_norms[j][None, :]
                    )
                    codes[:, j] = d.argmin(axis=1).astype(np.int16)
                coded = [row.tolist() for row in codes]
            it = iter(coded)
            out["_pq"] = pd.Series(
                [next(it) if is_ok else None for is_ok in ok],
                index=pdf.index,
                dtype=object,
            )
            yield out

    return df.mapInPandas(run, schema)


def pq_decode_col(
    codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Reconstruct the (approximate) float vector from PQ codes —
    concatenated codebook rows selected per subspace. JVM-side:
    element_at into per-subspace literal tables, flattened. The
    tables render as ONE parsed literal each (module header: SQL-text
    builders) so plan construction is O(1) py4j calls per subspace."""
    parts = []
    for j, cb in enumerate(codebooks):
        table = F.expr(_sql_mat(cb))
        parts.append(
            F.element_at(
                table, F.element_at(codes, j + 1).cast("int") + 1
            )
        )
    return F.flatten(F.array(*parts))


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query a LUT of
    ``||q_j − codebook_j[c]||²`` is computed driver-side (queries are
    driver-sized by construction, like every topk here), broadcast,
    and each candidate's distance is the sum of m ``element_at``
    lookups selected by its codes — ``zip_with`` + ``aggregate``,
    whole-stage-codegen JVM, no UDF and no full-width shuffle (the
    codes frame streams; ranking shuffles (q_id, id, dist) only, and
    the rank filter plans a map-side ``WindowGroupLimit`` — each task
    forwards at most k rows per query, so the exchange carries
    O(k·queries·tasks), never the corpus). Distance folds are
    sequential left folds, so a SQL oracle reproduces them
    bit-for-bit. Returns ``(q_id, <id_col>, rank, dist)``."""
    qid = query_id_col or f"q_{id_col}"
    n_cells = max(len(cb) for cb in codebooks)
    qrows = queries.select(id_col, vec_col).collect()
    rows = [
        (r[id_col], _pq_lut(r[vec_col], codebooks, n_cells))
        for r in qrows
    ]
    spark = codes_df.sparkSession
    qdf = spark.createDataFrame(
        rows,
        schema=(
            f"{qid} {queries.schema[id_col].dataType.simpleString()}, "
            "_lut array<double>"
        ),
    )
    dist = _pq_adc_dist(len(codebooks), n_cells)
    scored = (
        codes_df.crossJoin(F.broadcast(qdf))
        .select(qid, id_col, dist.alias("dist"))
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, id_col, "rank", "dist")
    )


def _pq_lut(qvec, codebooks: list[list[list[float]]],
            n_cells: int) -> list[float]:
    """Flattened per-query ADC lookup table: for subspace j and code c,
    entry ``j*n_cells + c`` is ``||q_j − codebook_j[c]||²``; ragged
    codebooks pad with 0.0 so ``element_at`` indexing stays uniform.

    Arithmetic: the pure-Python left fold below is what the DuckDB
    oracle replays term-for-term; at ≥ :data:`GEMM_ASSIGN_MIN_CELLS`
    cells (no oracle at that size — the driver-side loop would cost
    ~n_cells·dim Python ops per (query, cell) row) the sums vectorize
    through numpy instead. A query shorter than the codebook dim
    contributes only its available components (Python ``zip``
    truncates); the in-plan twin matches via ``coalesce(·, 0)`` on
    the padded tail."""
    if n_cells >= GEMM_ASSIGN_MIN_CELLS:
        import numpy as np

        q = np.asarray(qvec, dtype=np.float64)
        lut, off = [], 0
        for cb in codebooks:
            C = np.asarray(cb, dtype=np.float64)
            d_sub = C.shape[1]
            diff = q[off:off + d_sub][None, :] - C
            cells = (diff * diff).sum(axis=1)
            lut.extend(cells.tolist())
            lut.extend([0.0] * (n_cells - len(cb)))
            off += d_sub
        return lut
    q = [float(x) for x in qvec]
    lut, off = [], 0
    for cb in codebooks:
        d_sub = len(cb[0])
        qs = q[off:off + d_sub]
        for cent in cb:
            s = 0.0
            for a, b in zip(qs, cent):
                s += (a - b) * (a - b)
            lut.append(s)
        lut.extend([0.0] * (n_cells - len(cb)))  # ragged pad
        off += d_sub
    return lut


def _pq_lut_sql(
    vec_sql: str, codebooks: list[list[list[float]]], n_cells: int
) -> str:
    """SQL text of the flattened ADC LUT (array<double>, m·n_cells
    entries, ragged codebooks padded with 0.0) for a query-vector
    expression whose elements are ALREADY double — the in-plan twin
    of :func:`_pq_lut`'s pure-Python fold. Entry ``j*n_cells + c``
    folds ``(x − y)²`` component-sequentially over subspace j's
    slice: the same IEEE add/mul order as the Python
    ``s += (a − b) * (a − b)`` loop, so values are bit-identical
    (parity-pinned by ``test_pq_adc_inplan_lut_matches_collect``)."""
    entries = []
    off = 1
    for cb in codebooks:
        d_sub = len(cb[0])
        sub = f"slice({vec_sql}, {off}, {d_sub})"
        for cent in cb:
            # coalesce(·, 0) on the fold body: zip_with PADS a short
            # query slice with nulls where Python's zip TRUNCATES —
            # a missing component must contribute 0 to the sum, not
            # null the whole LUT entry (review r13: null distances
            # would rank first under asc order). For well-formed
            # inputs x is never null, coalesce returns it unchanged,
            # and the IEEE op sequence is identical.
            entries.append(
                "aggregate(zip_with(%s, %s, (x, y) -> "
                "(x - y) * (x - y)), 0.0D, "
                "(acc, x) -> acc + coalesce(x, 0.0D))"
                % (sub, _sql_vec(cent))
            )
        entries.extend(["0.0D"] * (n_cells - len(cb)))
        off += d_sub
    return "array(%s)" % ",".join(entries)


def _pq_lut_frame_inplan(
    qa: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    codebooks: list[list[list[float]]],
    n_cells: int,
    qid: str,
    centroids: "list[list[float]] | None",
) -> DataFrame:
    """``(qid, _qcell int, _lut array<double>)`` built as a lazy
    projection over the probe frame — NO driver collect, no
    createDataFrame round-trip: the LUT folds ride the broadcast
    build of the candidate join's query side (r13 optimization; the
    r12 verdict measured the search path as a sequence of
    driver-blocking jobs). Arithmetic is the exact op order of the
    driver path (:func:`_pq_lut_frame_collect`): the query vector is
    cast to double once (Python's ``float(x)``), residual mode
    subtracts ``centroid[cell]`` per component first (Python's
    ``a − b``), and each LUT entry is the component-sequential
    ``(x − y)²`` fold. Plan size is m·n_cells folds — gated to the
    sub-GEMM tier by the caller."""
    vec_sql = _sql_ident(vec_col)
    cell_int = "CAST(%s AS INT)" % _sql_ident(cell_col)
    if centroids is not None:
        qv = (
            "zip_with(%s, element_at(%s, %s + 1), "
            "(x, c) -> CAST(x AS DOUBLE) - c)"
            % (vec_sql, _sql_mat(centroids), cell_int)
        )
    else:
        qv = "transform(%s, x -> CAST(x AS DOUBLE))" % vec_sql
    # a null query vector (or the null cell the GEMM assigner emits
    # for one) has no LUT — drop the row here so it cannot inject
    # NULL distances that would rank first under asc ordering; engine
    # call sites already filter null-vec queries upstream (review
    # r12), this keeps the kernel safe for direct callers too
    return qa.filter(
        F.col(vec_col).isNotNull() & F.col(cell_col).isNotNull()
    ).select(
        F.col(id_col).alias(qid),
        F.expr(cell_int).alias("_qcell"),
        F.expr(qv).alias("_qv"),
    ).select(
        qid,
        "_qcell",
        F.expr(_pq_lut_sql("_qv", codebooks, n_cells)).alias("_lut"),
    )


def _pq_lut_frame_collect(
    qa: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    codebooks: list[list[list[float]]],
    n_cells: int,
    qid: str,
    centroids: "list[list[float]] | None",
) -> DataFrame:
    """Driver-side LUT build (collect + numpy/pure-Python fold +
    createDataFrame) — the GEMM-tier path, where an in-plan
    expression would put m·n_cells folds in the plan but
    :func:`_pq_lut` vectorizes the same sums through numpy. A row
    with a null vector or cell has no LUT and is dropped, as in
    :func:`_pq_lut_frame_inplan`."""
    qrows = (
        qa.filter(F.col(vec_col).isNotNull() & F.col(cell_col).isNotNull())
        .select(id_col, vec_col, cell_col)
        .collect()
    )
    seen: dict = {}
    rows = []
    for r in qrows:
        cell = int(r[cell_col])
        key = (r[id_col], cell) if centroids is not None else r[id_col]
        if key not in seen:
            q = [float(x) for x in r[vec_col]]
            if centroids is not None:
                q = [a - b for a, b in zip(q, centroids[cell])]
            seen[key] = _pq_lut(q, codebooks, n_cells)
        rows.append((r[id_col], cell, seen[key]))
    return qa.sparkSession.createDataFrame(
        rows,
        schema=(
            f"{qid} {qa.schema[id_col].dataType.simpleString()}, "
            "_qcell int, _lut array<double>"
        ),
    )


def _pq_adc_dist(m: int, n_cells: int) -> Column:
    """ADC distance Column over a ``_pq`` codes column and a broadcast
    ``_lut`` column: sequential left fold of the m table lookups (so a
    SQL oracle folding in the same order hash-matches). Built as one
    parsed SQL string (module header: SQL-text builders)."""
    return F.expr(
        "aggregate(zip_with(_pq, sequence(0, %d), "
        "(c, j) -> element_at(_lut, "
        "CAST(j * %d + CAST(c AS INT) + 1 AS INT))), "
        "0.0D, (acc, x) -> acc + x)" % (m - 1, n_cells)
    )


def pq_adc_cell_topk(
    codes_df: DataFrame,
    qa: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
    query_id_col: str | None = None,
    centroids: list[list[float]] | None = None,
    payload_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Cell-restricted ADC top-k — the IVFADC search kernel
    (Jegou et al. 2011, public): ``qa`` is the probe-cell frame from
    :func:`assign_probe_cells` (one row per query × probed cell,
    driver-sized by construction), collected once to build each
    query's broadcast LUT; candidates join on cell equality (never a
    cross join), are scored by the m-lookup LUT sum WITHOUT decoding
    the codes to floats, and rank per query with a map-side
    ``WindowGroupLimit``. This is the cheap shortlist stage of
    IVFADC+rerank: only the ≤k survivors per query ever get decoded.
    Self-matches (candidate id == query id) are excluded, matching
    :func:`ivf_topk`. Returns ``(q_id, <id_col>, dist)``.

    ``centroids`` — residual-PQ mode (IVFADC proper): the codes
    quantize ``x − centroid[cell]``, so each (query, probed-cell)
    pair gets its OWN LUT built from ``q − centroid[cell]`` — the
    per-cell LUT of Jegou et al. §IV. Distance stays the exact L2
    between query and reconstruction, just in residual coordinates:
    ``||q − (c + r)||² = ||(q − c) − r||²``.

    ``payload_cols`` — extra candidate columns carried through the
    ranking (e.g. the codes themselves), so a rerank stage can decode
    the survivors WITHOUT re-scanning the candidate frame — the rank
    shuffle grows by m smallints per row, the scan count stays 1."""
    qid = query_id_col or f"q_{id_col}"
    n_cells = max(len(cb) for cb in codebooks)
    # LUT-frame tier dispatch (r13): below the GEMM plan-size bound
    # the per-query LUT is a lazy in-plan projection riding the
    # broadcast build — the probe frame's collect job disappears from
    # the search (one action instead of collect + action). At
    # GEMM-tier cell counts the driver path stays: m·n_cells folds
    # would bloat the plan while numpy batches the same sums.
    # Bit-identical values either way (parity-pinned).
    if n_cells < GEMM_ASSIGN_MIN_CELLS:
        qdf = _pq_lut_frame_inplan(
            qa, vec_col, id_col, cell_col, codebooks, n_cells, qid,
            centroids,
        )
    else:
        qdf = _pq_lut_frame_collect(
            qa, vec_col, id_col, cell_col, codebooks, n_cells, qid,
            centroids,
        )
    codes_df = widen_parallelism(codes_df)
    dist = _pq_adc_dist(len(codebooks), n_cells)
    scored = codes_df.join(
        F.broadcast(qdf),
        (F.col(cell_col) == F.col("_qcell"))
        & (F.col(id_col) != F.col(qid)),
    ).select(qid, id_col, dist.alias("dist"), *payload_cols)
    w = Window.partitionBy(qid).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, id_col, "dist", *payload_cols)
    )


def centroid_table(centroids: list[list[float]]) -> Column:
    """The coarse-centroid matrix as a literal array<array<double>>
    Column — ``element_at(table, cell + 1)`` is the JVM-side centroid
    lookup used by residual encode/decode. Rendered as ONE parsed
    literal (module header: SQL-text builders) instead of
    n_cells × dim py4j lit() calls."""
    return F.expr(_sql_mat(centroids))


def residualize(
    vec: Column, cell: Column, centroids: list[list[float]]
) -> Column:
    """``vec − centroid[cell]`` (double) — the residual the IVFADC
    formulation quantizes instead of the raw vector (Jegou et al.
    2011 §IV): residual magnitudes are bounded by the cell radius, so
    the same codebook budget spends itself on within-cell variation
    and quantization error drops. Pure projection, no shuffle."""
    cent = F.element_at(centroid_table(centroids), cell.cast("int") + 1)
    return F.zip_with(vec, cent, lambda x, c: x.cast("double") - c)


def unresidualize(
    res: Column, cell: Column, centroids: list[list[float]]
) -> Column:
    """Inverse of :func:`residualize`: ``centroid[cell] + residual``."""
    cent = F.element_at(centroid_table(centroids), cell.cast("int") + 1)
    return F.zip_with(res, cent, lambda r, c: r + c)


def _apply_residual_frame(
    df: DataFrame,
    vec_col: str,
    cell_col: str,
    centroids: list[list[float]],
    sign: int,
) -> DataFrame:
    """Frame-level residual transform that scales with the coarse
    cell count: below :data:`GEMM_ASSIGN_MIN_CELLS` the centroid
    matrix inlines as a literal (:func:`centroid_table` — one
    codegen'd projection, DuckDB-replayable); at or above it the
    literal would put n_cells × dim nodes in the plan, so the
    centroids become a broadcast (cell, _cent) frame joined on the
    cell column instead — same arithmetic, same output order
    semantics (broadcast hash join streams the left side), plan size
    O(1) in n_cells. ``sign=-1`` residualizes, ``+1`` restores."""
    op = (
        (lambda x, c: x.cast("double") - c)
        if sign < 0
        else (lambda r, c: r + c)
    )
    if len(centroids) < GEMM_ASSIGN_MIN_CELLS:
        op_sql = (
            "(x, c) -> CAST(x AS DOUBLE) - c"
            if sign < 0
            else "(r, c) -> r + c"
        )
        return df.withColumn(
            vec_col,
            F.expr(
                "zip_with(%s, element_at(%s, CAST(%s AS INT) + 1), %s)"
                % (
                    _sql_ident(vec_col),
                    _sql_mat(centroids),
                    _sql_ident(cell_col),
                    op_sql,
                )
            ),
        )
    if "_cent" in df.columns:
        raise ValueError(
            "column '_cent' collides with the residual transform's "
            "working column — rename it"
        )
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        schema=f"{cell_col} int, _cent array<double>",
    )
    return (
        df.withColumn(cell_col, F.col(cell_col).cast("int"))
        # LEFT join: a null/unknown cell nulls the vector via the
        # null _cent (matching element_at's null propagation on the
        # literal path) instead of dropping the row
        .join(F.broadcast(cdf), cell_col, "left")
        .withColumn(
            vec_col, F.zip_with(F.col(vec_col), F.col("_cent"), op)
        )
        .drop("_cent")
    )


def residualize_frame(
    df: DataFrame,
    vec_col: str,
    cell_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """``vec := vec − centroid[cell]`` over a whole frame — the
    IVFADC residual (see :func:`residualize`), with the centroid
    lookup auto-switched from inline literal to broadcast join at
    large cell counts (:func:`_apply_residual_frame`)."""
    return _apply_residual_frame(df, vec_col, cell_col, centroids, -1)


def unresidualize_frame(
    df: DataFrame,
    vec_col: str,
    cell_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Inverse of :func:`residualize_frame`."""
    return _apply_residual_frame(df, vec_col, cell_col, centroids, +1)


def vq_encode_select(df: DataFrame, meta: dict) -> DataFrame:
    """Tier-dispatched vector compression for a persistent index
    frame: ``quantized`` in the index sidecar is False (float),
    True/"int8" (symmetric per-vector int8 — :func:`quantized_select`)
    or ``"pq"`` (product-quantization codes — :func:`pq_encode` with
    the persisted codebooks). One entry point so the base build, the
    delta append, and the retrain can never drift in schema."""
    mode = meta.get("quantized")
    if not mode:
        return df
    if mode == "pq":
        books = [
            [[float(x) for x in cent] for cent in cb]
            for cb in meta["pq_codebooks"]
        ]
        vec_col = meta["vec_col"]
        if meta.get("pq_residual"):
            # IVFADC: quantize the residual vs the assigned coarse
            # centroid (requires the frame's cell column — every
            # index frame carries it by construction)
            if "cell" not in df.columns:
                raise ValueError(
                    "residual PQ encode needs the 'cell' column"
                )
            cents = [
                [float(x) for x in c] for c in meta["centroids"]
            ]
            df = residualize_frame(df, vec_col, "cell", cents)
        return pq_encode(df, vec_col, books)
    return quantized_select(df, meta["vec_col"])


def _numpy_pq_decode(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """PQ reconstruction for LARGE codebooks: per Arrow batch, m
    numpy row-gathers + one concatenate — the Column decoder
    (:func:`pq_decode_col`) inlines m × n_cells × d_sub literal
    nodes, which at the standard 256-cell geometry (8×256×8 ≈ 16k
    nodes) dominates the plan the same way the fold argmin did.
    Null codes decode to a null vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = _bc_or_value(
        df, [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    )
    keep_cols = [c for c in df.columns if c not in ("_pq", vec_col)]
    schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep_cols]
        + [T.StructField(vec_col, T.ArrayType(T.DoubleType()))]
    )

    def run(batches):
        Cs = bc.value  # once per task, executor-side
        for pdf in batches:
            out = pdf[keep_cols].copy()
            if len(pdf) == 0:
                out[vec_col] = pd.Series([], dtype=object)
                yield out
                continue
            codes_ser = pdf["_pq"]
            ok = codes_ser.map(lambda c: c is not None)
            decoded: list = []
            if ok.any():
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in codes_ser[ok]]
                )
                vecs = np.concatenate(
                    [Cs[j][codes[:, j]] for j in range(len(Cs))],
                    axis=1,
                )
                decoded = [row.tolist() for row in vecs]
            it = iter(decoded)
            out[vec_col] = pd.Series(
                [next(it) if is_ok else None for is_ok in ok],
                index=pdf.index,
                dtype=object,
            )
            yield out

    return df.mapInPandas(run, schema)


def vq_decode_cols(df: DataFrame, meta: dict) -> DataFrame:
    """Inverse of :func:`vq_encode_select`: restore the float vector
    column of a quantized index frame (int8 dequantize or PQ codebook
    reconstruction) — the shared read for search candidates, the
    staleness audit, and the retrain. Large PQ codebooks
    (≥ :data:`GEMM_ASSIGN_MIN_CELLS` cells/subspace) reconstruct via
    the Arrow-batched gather (:func:`_numpy_pq_decode`) instead of
    the literal-table expression."""
    mode = meta.get("quantized")
    vec_col = meta["vec_col"]
    if not mode:
        return df
    if mode == "pq":
        books = [
            [[float(x) for x in cent] for cent in cb]
            for cb in meta["pq_codebooks"]
        ]
        if max(len(cb) for cb in books) >= GEMM_ASSIGN_MIN_CELLS:
            dec = _numpy_pq_decode(df, vec_col, books)
            if meta.get("pq_residual"):
                if "cell" not in dec.columns:
                    raise ValueError(
                        "residual PQ decode needs the 'cell' column"
                    )
                cents = [
                    [float(x) for x in c] for c in meta["centroids"]
                ]
                return unresidualize_frame(
                    dec, vec_col, "cell", cents
                )
            return dec
        rec = pq_decode_col(F.col("_pq"), books)
        if meta.get("pq_residual"):
            if "cell" not in df.columns:
                raise ValueError(
                    "residual PQ decode needs the 'cell' column"
                )
            cents = [
                [float(x) for x in c] for c in meta["centroids"]
            ]
            return unresidualize_frame(
                df.withColumn(vec_col, rec).drop("_pq"),
                vec_col, "cell", cents,
            )
        return df.withColumn(vec_col, rec).drop("_pq")
    return df.withColumn(
        vec_col, dequantize_int8(F.col("_q8"), F.col("_q8_scale"))
    ).drop("_q8", "_q8_scale")

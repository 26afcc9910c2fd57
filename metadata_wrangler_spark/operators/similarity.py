"""Similarity search over embedding columns (`array<float>`).

Two tiers:

  cosine_topk      brute-force exact top-k for a bounded query set —
                   broadcast the queries, one pass over the corpus,
                   per-query top-k via window. Linear in corpus size,
                   embarrassingly parallel; the correctness baseline.
  lsh_cosine_topk  random-hyperplane LSH bucketing: corpus and
                   queries hash to sign-pattern buckets, candidates
                   come from an equi-join on bucket key, exact score
                   re-ranks. The 100 TB path — cost scales with
                   bucket occupancy, not corpus size.
  ivf_cosine_topk  inverted-file (IVF) partitioning: every corpus
                   vector is assigned to its nearest coarse
                   centroid; queries probe their nprobe closest
                   cells only. Candidate generation is an equi-join
                   on cell id — same shape as LSH, but the
                   partition follows the data's own geometry.

Dot products use `zip_with` + `aggregate` (higher-order functions,
JVM-side, sequential left fold => deterministic and portable to the
oracle's list_sum/list_transform).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F



def _dot_plane_sql(vec_col: str, plane: list[float]) -> str:
    """SQL spelling of ``dot(vec, <constant plane>)``.

    Building constant-plane dots through the Python Column API costs
    hundreds of Py4J round trips (one per literal / lambda piece) —
    ~4 s of driver time for a 24-plane bucket projection. One parsed
    SQL string is the identical expression tree (`repr(float)`
    round-trips the exact double bits; the lambda spelling matches
    `dot`'s sequential fold) at a fraction of the build cost.
    """
    arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL spelling of the sign-pattern bucket over ``planes``."""
    return " + ".join(
        f"(CASE WHEN {_dot_plane_sql(vec_col, p)} >= 0.0D "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )

def round6(col: Column) -> Column:
    """Cosine rounding used EVERYWHERE in the similarity family:
    sign-aware floor(|x|*1e6 + 0.5)/1e6 — the identical IEEE chain
    as the numpy Arrow scorers and the oracle SQL spelling.

    NOT a DECIMAL(18,6) cast: double→decimal tie rounding differs
    between Spark (HALF_UP over the exact decimal expansion) and
    DuckDB (round over the approximated product) — observed
    diverging on 6/1024 values in sim_ivf_train_step's means. One
    explicit chain on all three surfaces (expression, numpy, SQL)
    removes the divergence class."""
    sign = F.when(col < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return sign * F.floor(F.abs(col) * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product in DOUBLE."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest
    corpus vectors (self-matches excluded).

    Queries are broadcast — the corpus is scanned once however many
    executors exist; the only shuffle is the per-query window, keyed
    on query_id (naturally balanced). Ties break on rounded
    similarity then corpus id, so results are stable across
    partitionings and engines.
    """
    # NULL vectors are excluded up front (pushed to the scan), the
    # way SQL aggregates skip NULLs — same rule across every
    # similarity entry point.
    queries = queries.where(F.col(vec_col).isNotNull())
    corpus = corpus.where(F.col(vec_col).isNotNull())
    # Norms are precomputed per vector BEFORE the pair join — the
    # naive per-pair spelling recomputes each norm |corpus| (resp.
    # |queries|) times.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    # Round for cross-engine stability before ranking.
    sim_r = round6(sim)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", sim_r.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-pattern LSH bucket per vector: bit i = sign(v·plane_i).

    ``planes`` are fixed pseudo-random hyperplanes supplied by the
    caller (deterministic — derived from a seed, not Math.random, so
    plans are reproducible and resumable).
    """
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col),
        F.expr(_bucket_sql(vec_col, planes)).cast("int").alias("bucket"),
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
    query_pred=None,
    corpus_count_hint: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates share the hyperplane
    bucket, exact cosine re-ranks within the bucket.

    ``probe_hamming`` enables multi-probe LSH: each query also
    probes buckets within that Hamming distance of its own (sign
    bits near a hyperplane are the ones that flip for near
    neighbours). Recall rises steeply for a linear cost in probes —
    the probe set grows on the (small) query side only, never the
    corpus side.

    Adaptive two-tier (round 10, the multitable/IVF fused-scan
    economics — see ``FUSED_PAIR_BUDGET`` and ``_ann_topk``): within
    the pair budget, candidate generation needs no join — the
    probed-bucket → query-list map is computed driver-side from the
    bounded query matrix, and one ``mapInPandas`` corpus pass
    computes each batch's bucket codes (the same left-fold sign
    chain as ``_bucket_sql``) and scores each bucket block against
    its probing queries in numpy; the per-candidate-pair interpreted
    HOF dot of the join tier disappears. Past the budget: the
    original bucket equi-join — at scale, bucket the corpus ONCE
    (write bucketed parquet / cluster by bucket) and it becomes a
    bucket-pruned scan per query batch instead of a full pass.
    Tiers are row-identical; zero-norm (NaN-cosine) rows drop in
    BOTH tiers (ADVICE round-9 rule).
    """
    import numpy as np

    if probe_hamming > 2:
        raise ValueError(
            "probe_hamming > 2 is not implemented (probe count grows "
            f"as C(bits, d); got {probe_hamming})"
        )
    n_bits = len(planes)
    masks = [0]
    if probe_hamming > 0:
        masks += [1 << i for i in range(n_bits)]
    if probe_hamming > 1:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]

    def fused_tier(q_ids, qm):
        plane_arrs = [np.asarray(p, dtype=np.float64) for p in planes]

        def codes(m):  # _bucket_sql's left-fold sign chain
            code = np.zeros(len(m), dtype=np.int64)
            for bit, p in enumerate(plane_arrs):
                acc = np.zeros(len(m))
                for i in range(m.shape[1]):
                    acc += m[:, i] * p[i]
                code |= (acc >= 0.0).astype(np.int64) << bit
            return code

        # probed-bucket → query-index lists. Distinct masks give a
        # query distinct probe codes, and a corpus row holds ONE
        # code, so every (query, corpus) pair arises at most once —
        # identical to the exploded-probe equi-join's semantics.
        code_q = codes(qm)
        qidx_by_code: dict = {}
        for m in masks:
            for qx in range(len(q_ids)):
                qidx_by_code.setdefault(int(code_q[qx]) ^ m, []).append(qx)
        qidx_by_code = {
            c: np.asarray(v, dtype=np.int64)
            for c, v in qidx_by_code.items()
        }
        return (
            corpus.where(F.col(vec_col).isNotNull())
            .select(id_col, vec_col)
            .mapInPandas(
                _block_scan(codes, qidx_by_code, q_ids, qm, k,
                            id_col, vec_col),
                schema=_SCORED_SCHEMA,
            )
        )

    def join_tier(q_ids, qm):
        cb = hyperplane_buckets(
            corpus, planes, id_col, vec_col
        ).withColumnsRenamed({id_col: "corpus_id", vec_col: "cvec"})
        if query_pred is not None:
            # The query set is a slice of the corpus: reuse the bucket
            # projection instead of analyzing a second copy of the
            # plane-literal expression (saves one giant plan on the
            # driver AND lets the filter push to the same scan).
            # Cached: the corpus side and the broadcast query side
            # both read it — without the cache the plane dot products
            # run twice.
            cb = cb.cache()
            qb = cb.withColumnsRenamed(
                {"corpus_id": "query_id", "cvec": "qvec"}
            ).where(query_pred(F.col("query_id")))
        else:
            qb = hyperplane_buckets(
                queries, planes, id_col, vec_col
            ).withColumnsRenamed({id_col: "query_id", vec_col: "qvec"})
        if probe_hamming > 0:
            probes = [F.col("bucket")] + [
                F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks[1:]
            ]
            qb = qb.withColumn("bucket", F.explode(F.array(*probes)))
        cb = cb.withColumn("cn", norm(F.col("cvec")))
        qb = qb.withColumn("qn", norm(F.col("qvec")))
        sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
        return (
            cb.join(F.broadcast(qb), "bucket")
            .where(F.col("query_id") != F.col("corpus_id"))
            .select("query_id", "corpus_id", round6(sim).alias("cosine"))
            # Zero-norm vectors (0/0 → NaN cosine) are dropped exactly
            # as the fused tier's isfinite keep-mask drops them (ADVICE
            # round-9 rule: the tier probe never changes results).
            .where(~F.isnan(F.col("cosine")))
        )

    return _ann_topk(
        "lsh_cosine_topk", corpus, queries, query_pred, k, id_col,
        vec_col, corpus_count_hint, fused_tier, join_tier,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score every vector against each coarse centroid and keep the
    full score array plus the argmax cell.

    Centroids are caller-supplied constants (at production scale:
    the output of a sampled k-means job, broadcast as literals or a
    tiny table); here they're deterministic so the plan — and the
    DuckDB oracle — is reproducible. First-max-wins on ties, 0-based
    cell ids, matching the oracle's list_indexof spelling.
    """
    scores = F.expr(
        "array(" + ", ".join(
            _dot_plane_sql(vec_col, c) for c in centroids
        ) + ")"
    )
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col),
        scores.alias("cell_scores"),
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int").alias("cell"),
    )


# Tier budget for the fused corpus-scan ANN spellings (multi-table
# LSH collision scan, and since round 10 the IVF cell scan), in
# (query x corpus) PAIRS — the unit both tiers' dominant
# cost scales in. Measured economics (sf10 ladder, 200k vectors x
# 1980 queries = 4x10^8 pairs, local[32]): the fused scan runs the
# whole corpus in ~27 s (6.8x10^-8 s/pair — dim+L fused
# multiply-adds at numpy speed), while the bucket-join spelling took
# 130 s on the SAME data because this corpus' collision selectivity
# (~0.65) makes candidate pruning recover almost nothing while its
# shuffle + per-corpus-row candidate grouping constants stay. Below
# the budget (<= ~70 s of scan work) the fused tier therefore wins
# at ANY selectivity: scoring the full pair matrix costs at most
# (dim+L)/(selectivity*dim) times the candidates-only work, and the
# bucket tier's join machinery costs more than that slack. Past the
# budget the bucket join is the right plan — at warehouse scale the
# corpus bucket table is written once as parquet BUCKETED BY
# (table_no, bucket), so candidate generation is storage-pruned and
# never rescans the corpus per query batch. Read at call time.
FUSED_PAIR_BUDGET = 1_000_000_000

# Hard cap on the driver-collected query matrix of the fused ANN
# tiers (round-11, VERDICT item: the "bounded by contract" query side
# — every plan call site filters `id % 101 == 0` over a
# broadcast-sized set — becomes an ENFORCED bound instead of an
# assumption). 2^17 rows x 64 dims x 8 B = 64 MB of float64 on the
# driver and in each task's closure — the outer edge of §3's
# "broadcast the small side" economics. The collect itself is issued
# through limit(cap + 1), so an over-contract query set costs one
# bounded fetch, never an unbounded driver materialization: the
# single-table LSH/IVF operators then fall back LOUDLY to their join
# tier (which never ships the matrix), and the multitable operator —
# whose both tiers score against the driver matrix — raises with the
# contract spelled out rather than risking a driver OOM.
ANN_QUERY_CAP = 131_072

_SCORED_SCHEMA = "query_id long, corpus_id long, cosine double"


def _ann_topk(
    op: str,
    corpus: DataFrame,
    queries: DataFrame,
    query_pred,
    k: int,
    id_col: str,
    vec_col: str,
    corpus_count_hint: int | None,
    fused_tier,
    join_tier,
    join_needs_matrix: bool = False,
) -> DataFrame:
    """The query side and tier probe the three ANN operators share
    (the partition-local top-k shape of REPOSE): each operator
    supplies its two tiers as ``tier(q_ids, qm) -> scored`` frames of
    (query_id, corpus_id, cosine), and both exit through one rank
    window.

    The query set is ``query_pred``'s slice of the corpus, or
    ``queries``, minus NULL vectors. Its matrix — the broadcast side,
    bounded by contract — is collected through
    ``limit(ANN_QUERY_CAP + 1)``, so the bound is ENFORCED: an
    over-cap set takes the join tier, loudly (``qm`` is then None),
    or raises when ``join_needs_matrix`` says the operator has no
    driver-free tier. An empty set is a valid empty result. Otherwise
    the tier follows the ``FUSED_PAIR_BUDGET`` economics, with the
    corpus size from ``corpus_count_hint`` (catalog stats) when
    given, else an id-only early-stopping count bounded by
    budget/|Q| that never reads the vectors.
    """
    import numpy as np

    qdf = (
        corpus.where(query_pred(F.col(id_col)))
        if query_pred is not None
        else queries
    )
    qrows = (
        qdf.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .limit(ANN_QUERY_CAP + 1)
        .collect()
    )
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank int"
        )
    if len(qrows) > ANN_QUERY_CAP:
        if join_needs_matrix:
            raise ValueError(
                f"{op}: query set exceeds ANN_QUERY_CAP={ANN_QUERY_CAP} "
                "rows; both of its tiers score against the driver-held "
                "query matrix — slice the query batch, or use "
                "lsh_cosine_topk whose bucket-join tier scales with an "
                "unbounded query table"
            )
        import warnings

        warnings.warn(
            f"{op}: query set exceeds ANN_QUERY_CAP={ANN_QUERY_CAP}; "
            "falling back to the join tier (the fused tier requires a "
            "driver-bounded query matrix)",
            stacklevel=3,
        )
        return _topk_window(join_tier(None, None), k)
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    nq = len(q_ids)
    n_corpus = corpus_count_hint
    if n_corpus is None:
        cap = max(FUSED_PAIR_BUDGET // nq, 1)
        n_corpus = corpus.select(id_col).limit(cap + 1).count()
    tier = fused_tier if n_corpus * nq <= FUSED_PAIR_BUDGET else join_tier
    return _topk_window(tier(q_ids, qm), k)


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored rows; ties on the rounded cosine
    break on corpus id, so every tier ranks identically."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def _block_scan(block_of, qidx_by_block, q_ids, qm, k, id_col, vec_col):
    """Fused-tier kernel of the bucket/cell ANN operators, a
    ``mapInPandas`` generator over (id, vector) batches:
    ``block_of(cm)`` gives each corpus row its block (LSH bucket code,
    IVF cell) and each block is scored against the queries probing it
    (``qidx_by_block``), emitting per-query top-k. Cosines fold over
    the dimension like ``dot()``/``norm()`` and round like
    ``round6``; self-pairs and zero-norm (non-finite) cosines drop.
    Everything the generator calls is nested, so it ships to the
    Python workers by value."""
    import numpy as np
    import pandas as pd

    def norms(m):  # norm()'s left-to-right sum of squares
        acc = np.zeros(len(m))
        for i in range(m.shape[1]):
            acc += m[:, i] * m[:, i]
        return np.sqrt(acc)

    qn = norms(qm)

    def fused(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            block = block_of(cm)
            cn = norms(cm)
            out = {"query_id": [], "corpus_id": [], "cosine": []}
            for b in np.unique(block):
                qi = qidx_by_block.get(int(b))
                if qi is None:
                    continue
                ci = np.flatnonzero(block == b)
                sub = cm[ci]
                acc = np.zeros((len(ci), len(qi)))
                for i in range(cm.shape[1]):
                    acc += sub[:, i][:, None] * qm[qi, i][None, :]
                cos = acc / (cn[ci][:, None] * qn[qi][None, :])
                cos = (np.sign(cos)
                       * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
                cos[c_ids[ci][:, None] == q_ids[qi][None, :]] = -np.inf
                sub_ids = c_ids[ci]
                kk = min(k, len(ci))
                for j in range(len(qi)):
                    col = cos[:, j]
                    order = np.lexsort((sub_ids, -col))[:kk]
                    keep = order[np.isfinite(col[order])]
                    out["query_id"].extend([q_ids[qi[j]]] * len(keep))
                    out["corpus_id"].extend(sub_ids[keep])
                    out["cosine"].extend(col[keep])
            yield pd.DataFrame(out)

    return fused


def ivf_partial_moments(
    centroids: list[list[float]],
    vec_col: str = "embedding",
):
    """Arrow kernel fusing the Lloyd-step map side: per batch, score
    every vector against each centroid (accumulating over the vector
    DIMENSION — the same left-associated IEEE chain as
    ``_dot_plane_sql``'s fold, so the argmax cell is bit-identical
    to ``ivf_assign``'s first-max-wins expression), then fold the
    batch straight into per-(cell, pos) partial aggregates: member
    count and the sum of floor(v*10000+0.5) int64 quantized
    components. One task emits at most k*dim rows, so the shuffle
    feeding the final (cell, pos) aggregation carries codebook-sized
    partials instead of the dim-fanned posexplode stream — map-side
    aggregation in the kernel itself (guide: aggregate before you
    shuffle). Integer partial sums are associative, so the global
    sums — and the means derived from them — are bit-identical to
    the expression spelling at any partitioning.

    Returns (generator, schema) for ``mapInPandas`` over a
    ``vec_col``-only projection with NULL vectors already filtered.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k, dim = C.shape

    def moments(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n = E.shape[0]
            scores = np.zeros((n, k))
            for d in range(dim):
                scores += E[:, d:d + 1] * C[:, d]
            cell = np.argmax(scores, axis=1)  # first max wins, like
            # array_position(scores, array_max(scores))
            q = np.floor(E * 10000.0 + 0.5).astype(np.int64)
            np.add.at(sums, cell, q)
            counts += np.bincount(cell, minlength=k)
        nz = np.flatnonzero(counts)
        if len(nz):
            yield pd.DataFrame(
                {
                    "cell": np.repeat(nz.astype(np.int32), dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                    "cnt": np.repeat(counts[nz], dim),
                    "qsum": sums[nz].reshape(-1),
                }
            )

    return moments, "cell int, pos int, cnt long, qsum long"


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred=None,
    corpus_count_hint: int | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors live in their
    argmax-centroid cell; each query probes its ``nprobe`` best
    cells. Exact cosine re-ranks the candidates.

    Adaptive two-tier (round 10 — the multitable-LSH fused-scan
    economics applied to IVF; see ``FUSED_PAIR_BUDGET`` and
    ``_ann_topk``):

    * **Fused cell-scan tier** (|Q|·|C| within budget): the probed
      cells of every (bounded, driver-collected) query are a
      function of the CELL alone, so candidate generation needs no
      join at all — one ``mapInPandas`` over the corpus assigns each
      batch's cells (the same left-fold argmax as ``ivf_assign``),
      scores each cell block against the queries probing that cell,
      and emits per-query batch top-k. The per-candidate-pair
      interpreted HOF dot of the join tier — the dominant sf10 cost
      — becomes numpy multiply-adds; the corpus vector never leaves
      its scan task.
    * **Cell-join tier** (past budget): the original equi-join on
      cell id with broadcast probe rows. At cluster scale the cell
      assignment is written once as cell-partitioned parquet and a
      query batch reads only its probed cells (partition pruning —
      the IVF "inverted lists").

    Tiers are row-identical (same fold order, same argmax/probe tie
    rules, same window); zero-norm vectors (0/0 → NaN cosine) are
    dropped in BOTH tiers so the probe never changes results on
    degenerate input (the ADVICE round-9 rule).
    """
    import numpy as np

    n_cells = len(centroids)

    def fused_tier(q_ids, qm):
        C = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)

        def scores(m):  # _dot_plane_sql's left fold, per centroid
            s = np.zeros((len(m), n_cells))
            for d in range(m.shape[1]):
                s += m[:, d:d + 1] * C[:, d]
            return s

        # probe cells: ORDER BY score DESC, cell ASC — a stable
        # ascending argsort of -score keeps cell order on ties.
        probes = np.argsort(-scores(qm), axis=1, kind="stable")[:, :nprobe]
        hits = [
            np.flatnonzero((probes == c).any(axis=1)) for c in range(n_cells)
        ]
        qidx_by_cell = {c: qi for c, qi in enumerate(hits) if len(qi)}
        return (
            corpus.where(F.col(vec_col).isNotNull())
            .select(id_col, vec_col)
            .mapInPandas(
                _block_scan(
                    # first max wins, like ivf_assign's array_position
                    lambda cm: np.argmax(scores(cm), axis=1),
                    qidx_by_cell, q_ids, qm, k, id_col, vec_col,
                ),
                schema=_SCORED_SCHEMA,
            )
        )

    def join_tier(q_ids, qm):
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        if query_pred is not None:
            # corpus-side cells AND the query slice read `assigned`;
            # cache so the centroid-score array computes once.
            assigned = assigned.cache()
        cb = assigned.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("cvec"),
            norm(F.col(vec_col)).alias("cn"),
            "cell",
        )
        # query_pred: the query batch is a slice of the corpus — reuse
        # the centroid-score projection rather than analyzing it twice.
        qs = (
            assigned.where(query_pred(F.col(id_col)))
            if query_pred is not None
            else ivf_assign(queries, centroids, id_col, vec_col)
        )
        # Probe-cell selection as a pure array expression (sort the
        # (score, cell) structs with an ORDER BY cell_score DESC, cell
        # ASC comparator, keep the first nprobe): map-side only. The
        # posexplode + row_number spelling this replaces shuffled the
        # exploded probe rows into a per-query window — a whole extra
        # exchange + window stage for a ≤ n_centroids-element ranking
        # that fits in one array.
        probe_cells = F.expr(
            f"transform(slice(array_sort("
            f"zip_with(cell_scores, sequence(0, {n_cells - 1}), "
            f"(s, c) -> struct(s AS s, c AS c)), "
            f"(x, y) -> CASE WHEN x.s > y.s THEN -1 WHEN x.s < y.s THEN 1 "
            f"WHEN x.c < y.c THEN -1 WHEN x.c > y.c THEN 1 ELSE 0 END), "
            f"1, {nprobe}), x -> x.c)"
        )
        qb = qs.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("qn"),
            F.explode(probe_cells).alias("cell"),
        )
        sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
        return (
            cb.join(F.broadcast(qb), "cell")
            .where(F.col("query_id") != F.col("corpus_id"))
            .select("query_id", "corpus_id", round6(sim).alias("cosine"))
            # a corpus vector sits in exactly one cell, so (query,
            # corpus) pairs are already distinct — no dedup shuffle
            # needed. Zero-norm vectors (0/0 → NaN cosine) are dropped
            # exactly as the fused tier's isfinite keep-mask drops
            # them (ADVICE round-9 rule: the tier probe never changes
            # results).
            .where(~F.isnan(F.col("cosine")))
        )

    return _ann_topk(
        "ivf_cosine_topk", corpus, queries, query_pred, k, id_col,
        vec_col, corpus_count_hint, fused_tier, join_tier,
    )


def multitable_bucket_pass(
    tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
):
    """Arrow kernel computing every table's sign-pattern bucket for
    each vector in one pass — module-level so the bit-parity test
    exercises the PRODUCTION kernel, not a copy. Each plane dot
    accumulates over the vector DIMENSION (the same left-associated
    IEEE chain as _dot_plane_sql's fold), so the sign pattern — and
    therefore every bucket — is bit-identical to the expression
    spelling and the DuckDB oracle. Returns (generator, schema) for
    mapInPandas."""
    import numpy as np
    import pandas as pd

    plane_mats = [
        [np.asarray(p, dtype=np.float64) for p in planes]
        for planes in tables
    ]
    n_tables = len(tables)

    def buckets(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n, dim = cm.shape
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out_ids = np.tile(ids, n_tables)
            out_tables = np.repeat(np.arange(n_tables, dtype=np.int32), n)
            codes = np.empty(n_tables * n, dtype=np.int32)
            for t, planes in enumerate(plane_mats):
                code = np.zeros(n, dtype=np.int32)
                for bit, p in enumerate(planes):
                    acc = np.zeros(n)
                    for i in range(dim):
                        acc += cm[:, i] * p[i]
                    code |= (acc >= 0.0).astype(np.int32) << bit
                codes[t * n:(t + 1) * n] = code
            yield pd.DataFrame(
                {out_id: out_ids, "table_no": out_tables, "bucket": codes}
            )

    return buckets, f"{out_id} long, table_no int, bucket int"




def lsh_cosine_topk_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred=None,
    corpus_count_hint: int | None = None,
) -> DataFrame:
    """Multi-table LSH: L independent hyperplane tables; a candidate
    pair needs to collide in ANY table. The standard recall lever
    when neighbours sit at wide angles (catch probability
    1-(1-p^b)^L vs p^b for one table).

    Adaptive two-tier (round 9 — the closure family's probe
    economics applied to ANN; see ``FUSED_PAIR_BUDGET``):

    * **Fused collision-scan tier** (|Q|·|C| within budget): one
      ``mapInPandas`` over the corpus computes each batch's bucket
      codes AND its cosine matrix against the broadcast query set,
      masks non-colliding pairs, and emits per-query batch top-k.
      No candidate shuffle, no pair materialization — the collision
      test is L integer compares per pair next to dim fused
      multiply-adds it already pays. Row-identical to the join tier
      (same candidate semantics, same fold order).
    * **Bucket-join tier** (past budget): one equi-join on
      (table_no, bucket) over ID-ONLY bucket rows, candidates
      grouped per corpus vector, scored against the broadcast query
      matrix. At warehouse scale the corpus bucket table is written
      once as parquet bucketed by (table_no, bucket) and candidate
      generation is storage-pruned.

    The query side and tier probe are ``_ann_topk``'s; since both
    tiers score against the driver-held query matrix, an over-cap
    query set raises. Scoring never ships vectors per pair in either
    tier: the corpus vector crosses the Arrow boundary ONCE and the
    bounded query matrix is broadcast — the same dimension-ordered
    accumulation as ``dot()``'s fold, so cosines stay bit-identical
    to the expression spelling and the oracle.
    """
    import numpy as np
    import pandas as pd

    n_tables = len(tables)

    def query_side(q_ids, qm):
        """Query norms (``norm()``'s fold order) and query bucket rows.
        The query bucket rows are computed driver-side from the
        collected matrix with the SAME Arrow kernel as the corpus
        side (multitable_bucket_pass — identical fold order,
        identical buckets) instead of a second Spark branch; the old
        spelling cached the corpus bucket table just so the query
        slice could reuse it, paying a cache materialization plus an
        extra broadcast-build job every run."""
        qn = np.zeros(len(qm))
        for i in range(qm.shape[1]):  # sequential, matches norm()
            qn += qm[:, i] * qm[:, i]
        qgen, _ = multitable_bucket_pass(
            tables, id_col=id_col, vec_col=vec_col, out_id="query_id"
        )
        qb_pdf = pd.concat(
            list(qgen([pd.DataFrame({id_col: q_ids, vec_col: list(qm)})]))
        )
        return np.sqrt(qn), qb_pdf

    def fused_tier(q_ids, qm):
        qn, qb_pdf = query_side(q_ids, qm)
        nq, dim = qm.shape
        # Fused collision-scan tier. Query codes come out of the
        # kernel table-major for a single input batch
        # (ids tiled per table), so a reshape recovers (nq, L) in
        # query order.
        qcodes = qb_pdf["bucket"].to_numpy(np.int32).reshape(n_tables, nq).T
        plane_mats = [
            [np.asarray(p, dtype=np.float64) for p in planes]
            for planes in tables
        ]

        def fused(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cm = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                c_ids = pdf[id_col].to_numpy(dtype=np.int64)
                nb = len(c_ids)
                # Corpus bucket codes: the SAME dimension-ordered
                # fold as multitable_bucket_pass, one table at a
                # time so the collide mask never materializes an
                # (nb, nq, L) temp.
                collide = np.zeros((nb, nq), dtype=bool)
                for t, planes in enumerate(plane_mats):
                    code = np.zeros(nb, dtype=np.int32)
                    for bit, p in enumerate(planes):
                        acc = np.zeros(nb)
                        for i in range(dim):
                            acc += cm[:, i] * p[i]
                        code |= (acc >= 0.0).astype(np.int32) << bit
                    collide |= code[:, None] == qcodes[None, :, t]
                acc = np.zeros((nb, nq))
                cn = np.zeros(nb)
                for i in range(dim):
                    ci = cm[:, i]
                    acc += ci[:, None] * qm[None, :, i]
                    cn += ci * ci
                cos = acc / (np.sqrt(cn)[:, None] * qn[None, :])
                # decimal(18,6) half-up rounding, as the JVM/oracle
                cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
                cos[~collide] = -np.inf
                cos[c_ids[:, None] == q_ids[None, :]] = -np.inf
                kk = min(k, nb)
                out = {"query_id": [], "corpus_id": [], "cosine": []}
                for j in range(nq):
                    col = cos[:, j]
                    order = np.lexsort((c_ids, -col))[:kk]
                    keep = order[np.isfinite(col[order])]
                    out["query_id"].extend([q_ids[j]] * len(keep))
                    out["corpus_id"].extend(c_ids[keep])
                    out["cosine"].extend(col[keep])
                yield pd.DataFrame(out)

        return corpus.where(F.col(vec_col).isNotNull()).mapInPandas(
            fused, schema=_SCORED_SCHEMA
        )

    def join_tier(q_ids, qm):
        qn, qb_pdf = query_side(q_ids, qm)
        dim = qm.shape[1]

        # One Arrow pass over one scan (multitable_bucket_pass): the
        # vectors cross into Python once and only id-sized
        # (id, table_no, bucket) rows come back — nothing vector-sized
        # returns to the JVM. (The expression spelling costs L×b
        # interpreted folds per vector: 3.9 s for 8×3 planes over 20k
        # vectors at sf1, vs vectorized microseconds.) NULL vectors
        # never cross the Arrow boundary.
        gen, schema = multitable_bucket_pass(
            tables, id_col=id_col, vec_col=vec_col, out_id="corpus_id"
        )
        cb = corpus.where(F.col(vec_col).isNotNull()).mapInPandas(
            gen, schema=schema
        )
        qb = corpus.sparkSession.createDataFrame(
            qb_pdf, schema="query_id long, table_no int, bucket int"
        )
        # collect_set fuses pair-dedup into the per-corpus grouping:
        # one shuffle on corpus_id with map-side partial sets, instead
        # of dropDuplicates' extra exchange on the pair key followed
        # by a second shuffle for collect_list. Set order is
        # irrelevant — every (query, corpus) pair scores
        # independently downstream.
        per_corpus = (
            cb.join(F.broadcast(qb), ["table_no", "bucket"])
            .where(F.col("query_id") != F.col("corpus_id"))
            .groupBy("corpus_id")
            .agg(F.collect_set("query_id").alias("qids"))
        )
        corpus_vecs = corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
        )
        withvec = per_corpus.join(corpus_vecs, "corpus_id")

        # Sorted-id lookup for candidate query ids: searchsorted maps
        # the whole batch's id lists in two vectorized passes. (The
        # dict comprehension it replaces walked every candidate pair
        # in the Python interpreter — measured as the DOMINANT cost of
        # this tier at the sf10 ladder: ~260M pairs through a
        # per-element dict lookup.)
        q_sorter = np.argsort(q_ids)
        q_sorted = q_ids[q_sorter]

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cm = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["cvec"]]
                )
                cn = np.zeros(len(pdf))
                for i in range(dim):
                    cn += cm[:, i] * cm[:, i]
                cn = np.sqrt(cn)
                counts = pdf["qids"].map(len).to_numpy(dtype=np.int64)
                if not counts.sum():
                    continue
                c_idx = np.repeat(np.arange(len(pdf)), counts)
                all_q = np.concatenate(
                    [np.asarray(lst, dtype=np.int64) for lst in pdf["qids"]]
                )
                q_idx = q_sorter[np.searchsorted(q_sorted, all_q)]
                acc = np.zeros(len(c_idx))
                for i in range(dim):
                    acc += qm[q_idx, i] * cm[c_idx, i]
                cos = acc / (qn[q_idx] * cn[c_idx])
                # decimal(18,6) half-up rounding, same as the JVM/oracle
                cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
                # Zero-norm vectors (0/0 → NaN cosine) are dropped in
                # BOTH tiers: the fused tier's isfinite keep-mask
                # already excludes them, and without this mask Spark's
                # descending sort would rank the NaN rows above every
                # real cosine — the tier probe must only pick an
                # implementation, never a result (ADVICE round 9).
                fin = np.isfinite(cos)
                if not fin.all():
                    cos, q_idx, c_idx = cos[fin], q_idx[fin], c_idx[fin]
                yield pd.DataFrame(
                    {
                        "query_id": q_ids[q_idx],
                        "corpus_id": pdf["corpus_id"].to_numpy(
                            dtype=np.int64
                        )[c_idx],
                        "cosine": cos,
                    }
                )

        return withvec.mapInPandas(score, schema=_SCORED_SCHEMA)

    return _ann_topk(
        "lsh_cosine_topk_multitable", corpus, queries, query_pred, k,
        id_col, vec_col, corpus_count_hint, fused_tier, join_tier,
        join_needs_matrix=True,
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow-vectorized.

    Same semantics as ``cosine_topk`` (self-matches excluded, ties on
    rounded cosine broken by corpus id) at a fraction of the constant:
    the query set — bounded by contract, it is the broadcast side —
    is collected to a numpy matrix, and each corpus Arrow batch is
    scored with 64 vectorized fused multiply-add passes in
    ``mapInPandas``. Crucially the accumulation loops over the vector
    DIMENSION, so every (query, corpus) dot product is the same
    left-associated IEEE addition chain as the higher-order-function
    fold and the oracle's list_sum — bit-identical values, ~50× less
    per-pair interpreter overhead.

    Each batch emits only its per-query top-k (any global top-k
    member is in its batch's top-k), so the final rank window reads
    |queries| × k × n_batches rows instead of |queries| × |corpus|.

    Scale: corpus-side work is one scan, embarrassingly parallel;
    driver holds only the query matrix. This is still the O(|Q|·|C|)
    VERIFICATION tier — the LSH/IVF tiers are the 100 TB candidate
    generators — but its constant no longer drowns the comparison.
    """
    import numpy as np
    import pandas as pd

    # NULL vectors are excluded JVM-side (both sides) before any
    # matrix is built or crosses the Arrow boundary.
    queries = queries.where(F.col(vec_col).isNotNull())
    corpus = corpus.where(F.col(vec_col).isNotNull())
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        # empty query set: a valid empty result, not a crash
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank int"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([r[1] for r in qrows], dtype=np.float64)
    nq, dim = qm.shape
    qn = np.zeros(nq)
    for i in range(dim):  # sequential, matches norm()'s fold order
        qn += qm[:, i] * qm[:, i]
    qn = np.sqrt(qn)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            nb = len(c_ids)
            acc = np.zeros((nb, nq))
            cn = np.zeros(nb)
            for i in range(dim):
                ci = cm[:, i]
                acc += ci[:, None] * qm[None, :, i]
                cn += ci * ci
            cos = acc / (np.sqrt(cn)[:, None] * qn[None, :])
            # decimal(18,6) half-up rounding, same as the JVM/oracle
            cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            # exclude self-matches
            cos[c_ids[:, None] == q_ids[None, :]] = -np.inf
            kk = min(k, nb)
            out = {"query_id": [], "corpus_id": [], "cosine": []}
            for j in range(nq):
                col = cos[:, j]
                # top-k by (cosine desc, corpus_id asc)
                order = np.lexsort((c_ids, -col))[:kk]
                keep = order[np.isfinite(col[order])]
                out["query_id"].extend([q_ids[j]] * len(keep))
                out["corpus_id"].extend(c_ids[keep])
                out["cosine"].extend(col[keep])
            yield pd.DataFrame(out)

    scored = corpus.mapInPandas(
        score, schema="query_id long, corpus_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def cosine_pairs_arrow(
    bucketed: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Within-bucket exact-cosine near-duplicate pairs,
    Arrow-vectorized: one shuffle on the LSH bucket key, then each
    bucket's pairwise score matrix is computed in numpy inside
    ``applyInPandas`` — accumulating over the vector DIMENSION so
    every pair's dot product is the same left-associated IEEE chain
    as the expression fold / the oracle's list_sum (bit-identical),
    with ~50× less per-pair overhead than the interpreted HOF.

    Emits (id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold. Per-bucket cost is occupancy² — the
    LSH design bounds occupancy; at 100 TB use more bucket bits /
    tables (sim_lsh_multitable_topk) exactly as for top-k."""
    import numpy as np
    import pandas as pd

    out_schema = "id_a long, id_b long, cosine double"
    bucketed = bucketed.where(F.col(vec_col).isNotNull())

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        nb = len(ids)
        if nb < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        dim = cm.shape[1]
        acc = np.zeros((nb, nb))
        cn = np.zeros(nb)
        for i in range(dim):
            ci = cm[:, i]
            acc += ci[:, None] * ci[None, :]
            cn += ci * ci
        rn = np.sqrt(cn)
        cos = acc / (rn[:, None] * rn[None, :])
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        ia, ib = np.triu_indices(nb, k=1)  # ids sorted → id_a < id_b
        c = cos[ia, ib]
        keep = c >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": c[keep]}
        )

    return bucketed.groupBy(bucket_col).applyInPandas(pairs, out_schema)


def ivf_train(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """Train the IVF coarse quantizer with spherical k-means:
    ``iters`` distributed Lloyd steps, assignment against the
    UNIT-NORMALIZED codebook (argmax dot == argmax cosine), update =
    per-cell mean direction. Each step is one posexplode + hash
    aggregation (plans/vectors.sim_ivf_train_step is the
    oracle-checked single step); only the k×dim mean matrix and a
    scalar coherence come back to the driver — bounded by the
    codebook size, never by the data.

    Returns (unit codebook, per-iteration mean coherence) where
    coherence is mean(max_c x·c) over unit centroids — the spherical
    k-means objective, non-decreasing across iterations (both Lloyd
    steps are ascent steps: reassignment by definition of argmax;
    the mean direction maximizes Σ x·c over unit c), up to the 1e-4
    mean quantization. Empty cells keep their previous centroid (the
    standard dead-cell rule).

    At 100 TB: train on a deterministic hash-sample of the corpus
    (`documents`-style gate), then one full-corpus ivf_assign writes
    the cell-partitioned layout. Reference analog: none (the
    reference has no vector search); this backs SURVEY.md's IVF tier.
    """
    import math

    from pyspark.sql import functions as F

    def _unit(c: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        return [x / n for x in c]

    cents = [_unit(list(map(float, c))) for c in centroids]
    coherences: list[float] = []
    for _ in range(iters):
        assigned = ivf_assign(df, cents, id_col, vec_col)
        val = F.col("v").cast("double")
        rows = (
            assigned.select(
                "cell",
                F.array_max("cell_scores").alias("best"),
                F.posexplode(F.col(vec_col)).alias("pos", "v"),
            )
            .groupBy("cell", "pos")
            .agg(
                (
                    (
                        F.sum(
                            F.floor(val * 10000 + F.lit(0.5)).cast("bigint")
                        )
                        / F.lit(10000.0)
                    )
                    / F.count(F.lit(1))
                ).alias("mean"),
                F.sum(F.col("best")).alias("coh"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        means = [list(c) for c in cents]
        coh_total = 0.0
        n_total = 0
        for r in rows:
            means[r["cell"]][r["pos"]] = float(r["mean"])
            if r["pos"] == 0:
                coh_total += float(r["coh"])
                n_total += int(r["n"])
        coherences.append(coh_total / max(n_total, 1))
        cents = [_unit(c) for c in means]
    return cents, coherences


def rp_project_arrow(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Dense random projection, Arrow-vectorized: (id, vec) →
    (id, proj) where proj[j] = Σ_i vec[i]·planes[j][i].

    The accumulation loops over the vector DIMENSION (i), so every
    projected component is the same left-associated IEEE addition
    chain as the `dot()` higher-order fold and the oracle's
    list_sum — bit-identical outputs, ~25× less interpreter
    overhead than evaluating len(planes) HOF folds per row.
    """
    import numpy as np
    import pandas as pd

    R = np.array(planes, dtype=np.float64).T  # dim × n_planes
    df = df.where(F.col(vec_col).isNotNull())

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            acc = np.zeros((cm.shape[0], R.shape[1]))
            for i in range(R.shape[0]):  # sequential: fold order
                acc += cm[:, i:i + 1] * R[i:i + 1, :]
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: list(acc),
            })

    out_schema = f"{id_col} long, {out_col} array<double>"
    return df.select(id_col, vec_col).mapInPandas(
        project, schema=out_schema
    )


def int8_dot_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    scale: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused Arrow kernel for the scalar-quantized (int8) tier: one
    corpus scan quantizes each batch and scores it against the
    broadcast quantized query matrix with a float64 GEMM, emitting
    per-query batch top-k of the exact INTEGER dot product.

    Exactness: quantized components are integers |q| <= 128, so every
    product (<= 16,384) and every 64-term partial sum (< 2^21) is an
    exactly-representable float64 integer — the GEMM result IS the
    int64 fold the expression spelling computes, bit for bit.
    Quantization uses the identical float64 expression order as the
    JVM tier (floor(v*127.0/scale + 0.5)).

    Scale story (why this tier exists): the join spelling scores
    |Q|x|C| pairs through an interpreted per-pair HOF fold — the pair
    count grows with corpus^2/101 and measured unbounded at the 100x
    ladder. The kernel's pair work is one BLAS GEMM per batch with
    the corpus crossing Arrow once; at warehouse scale the int8
    column is the scan (4x less bytes), queries are the broadcast
    side by contract.

    Emits (query_id, corpus_id, qdot) batch top-k rows — callers
    apply the global rank window and exact-cosine rerank, shared
    with the join tier so both tiers are row-identical.
    """
    import numpy as np
    import pandas as pd

    # NULL vectors are excluded on both sides, the same rule as every
    # similarity entry point (cosine_topk_arrow's convention)
    qrows = queries.where(
        F.col(vec_col).isNotNull()
    ).select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    out_schema = "query_id long, corpus_id long, qdot long"
    if not qrows:
        return spark.createDataFrame([], out_schema)
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([r[1] for r in qrows], dtype=np.float64)
    qq = np.floor((qm * 127.0) / scale + 0.5)  # already-exact ints
    nq = len(q_ids)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            cq = np.floor((cm * 127.0) / scale + 0.5)
            dot_f = cq @ qq.T  # (nb, nq); exact integer-valued f64
            qdot = dot_f.astype(np.int64)
            big = np.iinfo(np.int64).min
            qdot[c_ids[:, None] == q_ids[None, :]] = big  # self
            kk = min(k, len(c_ids))
            out = {"query_id": [], "corpus_id": [], "qdot": []}
            for j in range(nq):
                col = qdot[:, j]
                # descending sort key in float64 (exact: |qdot| < 2^21,
                # and the int64.min sentinel is a power of two) — the
                # int64 negation of the sentinel would overflow and
                # sort the self row FIRST, spending a top-k slot
                order = np.lexsort((c_ids, -col.astype(np.float64)))[:kk]
                keep = order[col[order] != big]
                out["query_id"].extend([q_ids[j]] * len(keep))
                out["corpus_id"].extend(c_ids[keep])
                out["qdot"].extend(col[keep])
            yield pd.DataFrame(out)

    return corpus.where(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    ).mapInPandas(score, schema=out_schema)


def pq_adc_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    m_sub: int,
    d_sub: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused Arrow kernel for the product-quantization ADC tier: one
    corpus scan encodes each batch (per-subspace argmin against the
    broadcast codebooks) AND scores it against the precomputed
    integer query LUTs with m_sub int64 gathers, emitting per-query
    batch top-k of the exact quantized asymmetric distance.

    ``centroids`` is a list of (cid, vector) rows sorted by cid —
    the same sample-initialized codebook the join tier derives
    (lowest-id corpus vectors). Exactness: subspace squared-L2 uses
    the identical sequential per-dimension float64 fold as the
    aggregate/zip_with spelling and DuckDB's list_sum; LUT entries
    quantize with the same floor(x*1e6+0.5); the ADC sum is an int64
    add of m_sub quantized entries — order-free, bit-identical.
    argmin ties break to the lowest cid in both spellings (np.argmin
    returns the first minimum; the centroid axis is cid-sorted).

    Scale story: the join spelling materializes |pairs| x m_sub rows
    through a hash aggregate — measured unbounded at the 100x ladder
    (>25 min where the kernel runs the same pairs in seconds). Here
    a corpus vector crosses Arrow once, is encoded once, and the
    only per-pair work is m_sub table lookups — the ADC contract.
    At warehouse scale the encode runs once and persists the 8-byte
    code column; the scan then touches codes, not vectors.

    Emits (query_id, corpus_id, adist) batch top-k rows — callers
    apply the global rank window and exact-cosine rerank shared with
    the join tier.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    out_schema = "query_id long, corpus_id long, adist long"
    qrows = queries.where(
        F.col(vec_col).isNotNull()
    ).select(id_col, vec_col).collect()
    if not qrows or not centroids:
        return spark.createDataFrame([], out_schema)
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([r[1] for r in qrows], dtype=np.float64)
    nq = len(q_ids)
    kc = len(centroids)
    cents = np.array([list(v) for _, v in centroids], dtype=np.float64)

    def sub_dists(mat, m):
        """(rows, kc) sequential-fold squared-L2 in subspace m."""
        acc = np.zeros((mat.shape[0], kc))
        base = m * d_sub
        for d in range(d_sub):
            diff = mat[:, base + d][:, None] - cents[None, :, base + d]
            acc += diff * diff
        return acc

    # per-query integer LUTs: (m_sub, nq, kc)
    luts = np.stack([
        np.floor(sub_dists(qm, m) * 1e6 + 0.5).astype(np.int64)
        for m in range(m_sub)
    ])
    # Gather layout (measured at the sf10 batch shape, 10k x 1980):
    # the naive luts[m][:, codes] fancy-index along axis 1 is a
    # strided scatter — 9.4 s/batch; transposing to row-gathers
    # (each code selects one contiguous nq-wide row) is 1.2 s, and
    # PAIRING adjacent subspaces into 256-entry combined LUTs halves
    # the gather count again — 0.25 s/batch in int32. int32 is used
    # only when the driver-side bound (m_sub * max LUT entry, the
    # largest any ADC sum can reach — corpus codes only SELECT
    # entries) fits; otherwise int64 row-gathers, same layout.
    max_entry = int(luts.max()) if luts.size else 0
    dtype = np.int32 if m_sub * max_entry < 2**31 else np.int64
    pair_luts = [
        np.ascontiguousarray(
            (luts[2 * p][:, :, None] + luts[2 * p + 1][:, None, :])
            .reshape(nq, kc * kc).T.astype(dtype)
        )
        for p in range(m_sub // 2)
    ]
    tail_lut = (
        np.ascontiguousarray(luts[-1].T.astype(dtype))
        if m_sub % 2 else None
    )
    big = np.iinfo(dtype).max

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            nb = len(c_ids)
            codes = [
                np.argmin(sub_dists(cm, m), axis=1)
                for m in range(m_sub)
            ]
            adist = np.zeros((nb, nq), dtype=dtype)
            for p in range(len(pair_luts)):
                adist += pair_luts[p][codes[2 * p] * kc + codes[2 * p + 1]]
            if tail_lut is not None:
                adist += tail_lut[codes[-1]]
            adist[c_ids[:, None] == q_ids[None, :]] = big  # self
            kk = min(k, nb)
            out = {"query_id": [], "corpus_id": [], "adist": []}
            for j in range(nq):
                row = adist[:, j]
                # threshold top-k: partition gives the kth value;
                # every row at-or-below it is a tie candidate, so the
                # (adist, corpus_id) order is exact under ties
                kth = min(kk - 1, nb - 1)
                part = np.argpartition(row, kth)
                thr = row[part[kth]]
                sel = np.flatnonzero(row <= thr)
                order = sel[np.lexsort((c_ids[sel], row[sel]))][:kk]
                keep = order[row[order] != big]
                out["query_id"].extend([q_ids[j]] * len(keep))
                out["corpus_id"].extend(c_ids[keep])
                out["adist"].extend(np.asarray(row[keep], dtype=np.int64))
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out["query_id"], np.int64),
                    "corpus_id": np.asarray(out["corpus_id"], np.int64),
                    "adist": np.asarray(out["adist"], np.int64),
                }
            )

    return corpus.where(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    ).mapInPandas(score, schema=out_schema)

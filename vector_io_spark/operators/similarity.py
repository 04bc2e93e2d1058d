"""Similarity search over an embedding column (array<float>).

Two strategies:
- ``brute_force_topk``: exact cosine top-k per query — broadcast the query
  set, codegen'd dot products over the corpus scan, per-query top-k via
  window. The correctness baseline; also the right plan when the query set
  is small (the 100 TB corpus is scanned once, never shuffled — only
  (query_id, corpus_id, score) tuples shuffle for the top-k).
- ``lsh_bucketed_topk``: random-hyperplane LSH bucketing — queries and
  corpus hash to signature buckets; only colliding buckets score. The
  recall/speed knob is (num_planes, bands). At 100 TB this turns a full
  scan per query batch into a bucket-pruned probe; an IVF variant would
  replace the hash with k-means cell assignment, same join shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from vector_io_spark import artifact_memo
from vector_io_spark.session import local_rows_df
from vector_io_spark.functions.vectors import (
    chebyshev_distance,
    cosine_similarity,
    dot_product,
    l1_distance,
    l2_distance,
)
from vector_io_spark.operators.dedup import _hyperplane_signature

# Static-index maintenance ops (token appends, compaction) hold a
# mutual-exclusion marker for their whole run — a marker older than
# this is assumed to belong to a crashed holder and is cleared by the
# next taker. Generous: a holder's clock is its marker's mtime, never
# refreshed mid-run, so the timeout must exceed the LONGEST plausible
# append/compaction (a delta encode+write or a full cells rewrite).
_MAINT_TIMEOUT_S = 3600.0


_METRIC_FNS = {
    "cosine": cosine_similarity,
    "dot": dot_product,
    "euclid": l2_distance,
    "manhattan": l1_distance,
    "chebyshev": chebyshev_distance,
}


def _round6_half_up(x):
    """Vectorized replica of Spark's ``F.round(x, 6)`` (BigDecimal
    HALF_UP, away from zero) for float64 arrays. ``sign*floor(|x|*1e6 +
    0.5)/1e6`` is correct except when the f64 product ``|x|*1e6`` lands
    within one rounding error of an exact halfway point — those rare
    entries (|frac - 0.5| < 4e-9; the product's error is bounded well
    inside that band) are re-done with decimal arithmetic on the
    SHORTEST decimal representation (``repr``) — Spark's round is
    ``BigDecimal.valueOf(double)`` = Double.toString semantics, so a
    literal like 0.1234565 rounds UP even though its exact binary
    expansion sits just below the midpoint (pytest-pinned against
    F.round, including dyadic midpoints like 1/128). NaNs pass
    through.

    The risky band scales with magnitude (round-5 fix): the product's
    error is RELATIVE (~ULP of y), so a fixed 4e-9 band only covers
    |score| ≲ 36 — a large-magnitude midpoint like 12345678.1234565
    (ULP of y ≈ 2) would bypass the decimal path and mis-round. Band =
    max(4e-9, 8·spacing(y)) per entry; past y ≈ 2⁴⁹ everything routes
    through decimal (correct, just slower — scores that large are
    pathological)."""
    import numpy as np

    y = np.abs(x) * 1e6
    f = np.floor(y + 0.5)
    with np.errstate(invalid="ignore"):
        risky = np.abs((y - np.floor(y)) - 0.5) < np.maximum(
            4e-9, 8 * np.spacing(y)
        )
    if risky.any():
        import decimal

        q = decimal.Decimal("0.000001")
        flat = x.ravel()
        out = f.ravel()
        for i in np.flatnonzero(risky.ravel()):
            v = decimal.Decimal(repr(abs(float(flat[i])))).quantize(
                q, rounding=decimal.ROUND_HALF_UP
            )
            out[i] = float(v * 1_000_000)
        f = out.reshape(f.shape)
    return np.sign(x) * f / 1e6


def _kernel_scores(metric: str, C, Q, qn=None):
    """Pairwise (batch × queries) scores with accumulation SEQUENTIAL
    across dimensions (j ascending) — vectorized across rows but
    bit-identical per pair to the ``aggregate(zip_with(...))`` HOF
    left-to-right double sum (and therefore to the DuckDB
    ``list_sum(list_transform(...))`` oracle replica). ``qn`` is the
    query-norm vector for cosine, precomputed with the same sequential
    rule."""
    import numpy as np

    n, d = C.shape
    m = Q.shape[0]
    if metric == "chebyshev":
        # max is exactly associative-commutative: order irrelevant
        s = np.zeros((n, m))
        for j in range(d):
            np.maximum(s, np.abs(C[:, j, None] - Q[None, :, j]), out=s)
        return s
    acc = np.zeros((n, m))
    if metric == "cosine":
        num = np.zeros((n, m))
        cn = np.zeros(n)
        for j in range(d):
            cj = C[:, j]
            num += cj[:, None] * Q[None, :, j]
            cn += cj * cj
        den = np.sqrt(cn)[:, None] * qn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(den != 0.0, num / den, np.nan)
    if metric == "dot":
        for j in range(d):
            acc += C[:, j, None] * Q[None, :, j]
        return acc
    if metric == "euclid":
        for j in range(d):
            dlt = C[:, j, None] - Q[None, :, j]
            acc += dlt * dlt
        return np.sqrt(acc)
    if metric == "manhattan":
        for j in range(d):
            acc += np.abs(C[:, j, None] - Q[None, :, j])
        return acc
    raise ValueError(f"unknown metric {metric!r}")


def _seq_sq_norm(v):
    """sqrt of the j-ascending sum of squares — the exact l2_norm order."""
    import numpy as np

    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    import math

    return math.sqrt(acc)


# bounded-driver-state contract shared by every query-side collect in this
# module (brute-force kernel, PQ/IVFPQ LUT builders, the persisted-IVF
# probe planner): the query batch lives on the driver — the same size
# class as broadcasting it — so a corpus-sized "query" frame is a caller
# bug at any of these call sites, not a supported shape.
MAX_QUERY_ROWS = 100_000


def _collect_bounded_queries(
    queries: DataFrame, query_id: str, query_vec: str, caller: str,
    hint: str = "",
) -> list:
    """Collect the (id, vector) query batch under the bounded-driver-state
    contract: LIMIT ``MAX_QUERY_ROWS + 1`` then raise loudly past the cap
    instead of OOMing the driver silently. Bigger batches run in chunks —
    each chunk closure-bound, the corpus re-scanned per chunk,
    embarrassingly parallel across chunks (the kNN-graph shape)."""
    rows = (
        queries.select(query_id, query_vec).limit(MAX_QUERY_ROWS + 1).collect()
    )
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"{caller}: query side exceeds {MAX_QUERY_ROWS} rows — run in "
            "batches (each batch closure-bound, corpus re-scanned; "
            f"embarrassingly parallel across batches){hint}"
        )
    return rows


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    exclude_self: bool = False,
    impl: str = "kernel",
) -> DataFrame:
    """Exact top-k neighbors for every query row.

    Returns (query_id, vec_id, score, rank), rank 1..k, deterministic
    tie-break on corpus id. Query side is broadcast: the corpus — the
    100 TB side — is scanned in place and never shuffled; only top-k
    candidate triples per partition leave the scan.

    ``impl="kernel"`` (default since round 4): an Arrow-batched
    ``mapInPandas`` kernel scores each corpus batch against the whole
    (bounded, driver-collected — same boundedness as the broadcast)
    query matrix with dimension-SEQUENTIAL numpy accumulation, rounds
    with the exact HALF_UP replica (:func:`_round6_half_up`) and emits
    only the per-batch top-k per query — results are bit-identical to
    the HOF formulation (the whole oracle ANN family re-verifies this)
    at BLAS-ish throughput instead of interpreted per-pair HOF chains
    (measured ~10× on the sf10 kNN scan; Spark's HOF lambdas are not
    codegen'd). ``impl="hof"`` keeps the pure-Catalyst crossJoin form.
    Both impls agree on undefined scores (round 5): corpus rows whose
    score is undefined (NULL vector; zero-norm cosine) are emitted with
    a NULL score and ranked NULLS-LAST (smallest-id tie-break), so a
    query with fewer than k scoreable corpus rows still returns k rows
    when un-scoreable rows exist — pytest-pinned kernel == hof. The
    kernel additionally enforces the bounded-query-side contract
    (loud ValueError past MAX_QUERY_ROWS; hof handles any size).

    ``exclude_self=True`` drops rows where query_id == corpus id — the
    kNN-GRAPH construction mode, where the query batch is drawn from the
    corpus itself (run batch-by-batch over the corpus at scale: each
    batch broadcast, the corpus re-scanned — embarrassingly parallel
    across batches, never an N×N shuffle).
    """
    if impl == "kernel":
        return _brute_force_topk_kernel(
            corpus, queries, k, metric, corpus_id, corpus_vec,
            query_id, query_vec, exclude_self,
        )
    asc = metric in ("euclid", "manhattan", "chebyshev")  # distances rank ascending
    if metric == "cosine":
        # hoist the norms: ||c|| once per corpus row, ||q|| once per query
        # row, instead of re-deriving both inside every (corpus × query)
        # score. Same subexpressions in the same order — sqrt(dot(x,x))
        # then na*nb then the divide — so results are bit-identical to
        # cosine_similarity; the pair loop just does 3× less work.
        from vector_io_spark.functions.vectors import l2_norm

        q = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv"),
            l2_norm(query_vec).alias("__qn"),
        )
        c = corpus.withColumn("__cn", l2_norm(corpus_vec))
        den = F.col("__cn") * F.col("__qn")
        score = F.when(
            den != 0.0, dot_product(F.col(corpus_vec), F.col("__qv")) / den
        )
        scored = c.crossJoin(broadcast(q)).select(
            "query_id", F.col(corpus_id), F.round(score, 6).alias("score")
        )
    else:
        score_fn = _METRIC_FNS[metric]
        q = queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
        )
        scored = corpus.crossJoin(broadcast(q)).select(
            "query_id",
            F.col(corpus_id),
            F.round(score_fn(F.col(corpus_vec), F.col("__qv")), 6).alias("score"),
        )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col(corpus_id))
    # undefined scores (NULL vector, zero-norm cosine) rank NULLS-LAST
    # for BOTH directions (round 5): Spark's asc default is NULLS FIRST,
    # which would rank un-scoreable rows ABOVE real neighbors for the
    # distance metrics; explicit nulls_last unifies hof with the kernel
    # impl and with DuckDB's default null ordering.
    order = [
        F.col("score").asc_nulls_last() if asc else F.col("score").desc_nulls_last(),
        F.col(corpus_id).asc(),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    filter_cols: tuple = ("label",),
    metric: str = "cosine",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """FILTERED vector search (r7): exact top-k where each query scores
    ONLY the corpus rows whose ``filter_cols`` values equal its own —
    the metadata-predicate + vector-query composition every production
    vector store exposes (Pinecone `filter=`, Qdrant payload filters,
    Milvus expr; the reference ships these filters to those services —
    here the engine runs them). Both frames must carry ``filter_cols``;
    a query with a NULL filter value matches nothing (SQL equality),
    and a query whose predicate selects < k rows returns what exists.

    Spark-first shape — this is a JOIN, not a post-filter: the tiny
    query side broadcasts and the equality on ``filter_cols`` prunes
    candidates inside the codegen'd broadcast-hash join BEFORE any
    vector math runs (a filter-after-scoring formulation would pay the
    dot product on every corpus row). The corpus — the 100 TB side —
    is scanned once, in place, never shuffled; per-query top-k is a
    partitioned window (WindowGroupLimit applies). If the corpus is
    stored partitioned/bucketed by a filter column, the broadcast join
    additionally enables dynamic partition pruning, so highly
    selective predicates never even read the pruned-out files.

    Engine-exact: hoisted-norm sequential-double cosine (identical
    subexpression order to :func:`brute_force_topk`'s hof path),
    ``F.round(..., 6)``, NULLS-LAST rank, ascending-id tie-break.
    Returns (query_id, vec_id, score, rank).
    """
    fcols = list(filter_cols)
    for c in fcols:
        for side, df in (("corpus", corpus), ("queries", queries)):
            if c not in df.columns:
                raise ValueError(
                    f"filtered_topk: filter column {c!r} missing from "
                    f"the {side} frame"
                )
    asc = metric in ("euclid", "manhattan", "chebyshev")
    if metric == "cosine":
        from vector_io_spark.functions.vectors import l2_norm

        q = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv"),
            l2_norm(query_vec).alias("__qn"),
            *fcols,
        )
        c = corpus.withColumn("__cn", l2_norm(corpus_vec))
        den = F.col("__cn") * F.col("__qn")
        score = F.when(
            den != 0.0, dot_product(F.col(corpus_vec), F.col("__qv")) / den
        )
    else:
        score_fn = _METRIC_FNS[metric]
        q = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv"),
            *fcols,
        )
        c = corpus
        score = score_fn(F.col(corpus_vec), F.col("__qv"))
    scored = c.join(broadcast(q), fcols).select(
        "query_id", F.col(corpus_id), F.round(score, 6).alias("score")
    )
    order = [
        F.col("score").asc_nulls_last()
        if asc
        else F.col("score").desc_nulls_last(),
        F.col(corpus_id).asc(),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank")
    )


def _brute_force_topk_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    exclude_self: bool,
) -> DataFrame:
    """Kernel implementation of :func:`brute_force_topk` — see its
    docstring. Scale shape: corpus scanned once (column-pruned to id +
    vector, rebalanced to one partition per core when the scan is
    narrower), queries live in the UDF closure (bounded batch — the
    exact same driver-size contract as broadcasting them), per-batch
    top-k selection means the downstream exact window ranks ≤
    partitions × |queries| × k candidate rows, never |corpus| × |queries|."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    from vector_io_spark.operators.dedup import _rebalance_for_cpu

    q_rows = _collect_bounded_queries(
        queries, query_id, query_vec, "brute_force_topk(kernel)",
        hint=" or use impl='hof'",
    )
    if not q_rows:
        empty_schema = StructType(
            [
                StructField("query_id", queries.schema[query_id].dataType),
                StructField(corpus_id, corpus.schema[corpus_id].dataType),
                StructField("score", DoubleType()),
            ]
        )
        base = corpus.sparkSession.createDataFrame([], empty_schema)
        return base.withColumn("rank", F.lit(1).cast("bigint")).where(F.lit(False))
    qids = np.array([r[0] for r in q_rows])
    Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qn = (
        np.array([_seq_sq_norm(r[1]) for r in q_rows])
        if metric == "cosine"
        else None
    )
    asc = metric in ("euclid", "manhattan", "chebyshev")
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[query_id].dataType),
            StructField(corpus_id, corpus.schema[corpus_id].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vec = pdf[corpus_vec]
            ok = vec.notna().to_numpy()
            all_ids = pdf[corpus_id].to_numpy()
            ids = all_ids[ok]
            null_vec_ids = all_ids[~ok]
            if len(ids):
                C = np.vstack(vec.to_numpy()[ok]).astype(np.float64)
                s = _round6_half_up(_kernel_scores(metric, C, Q, qn))
            out_q, out_c, out_s = [], [], []
            has_null = False
            for qi in range(len(qids)):
                qid = qids[qi]
                undef_ids = null_vec_ids
                if len(ids):
                    col = s[:, qi]
                    not_self = ids != qid if exclude_self else slice(None)
                    nan = np.isnan(col)
                    valid = ~nan if not exclude_self else (~nan & not_self)
                    if valid.any():
                        sv, iv = col[valid], ids[valid]
                        order = np.lexsort((iv, sv if asc else -sv))[:k]
                        out_q.extend([qid] * len(order))
                        out_c.extend(iv[order])
                        out_s.extend(sv[order])
                    # zero-norm / undefined scores join the NULL-score
                    # candidates (self-exclusion removes, not nulls)
                    undef_scored = nan if not exclude_self else (nan & not_self)
                    if undef_scored.any():
                        undef_ids = np.concatenate(
                            [undef_ids, ids[undef_scored]]
                        )
                if exclude_self and len(undef_ids):
                    undef_ids = undef_ids[undef_ids != qid]
                if len(undef_ids):
                    # NULL-score candidates rank last; keep the k
                    # smallest ids per batch (the global tie-break)
                    has_null = True
                    nu = np.sort(undef_ids)[:k]
                    out_q.extend([qid] * len(nu))
                    out_c.extend(nu)
                    out_s.extend([None] * len(nu))
            if out_q:
                # nullable Float64 only when NULL candidates exist — the
                # hot path ships a plain float64 column
                score_col = (
                    pd.array(out_s, dtype="Float64")
                    if has_null
                    else np.asarray(out_s, dtype=np.float64)
                )
                yield pd.DataFrame(
                    {"query_id": out_q, corpus_id: out_c, "score": score_col}
                )

    pruned = _rebalance_for_cpu(corpus.select(corpus_id, corpus_vec))
    cand = pruned.mapInPandas(score_batches, out_schema)
    # NULLS-LAST on both directions — matches the hof impl (round 5)
    order = [
        F.col("score").asc_nulls_last() if asc else F.col("score").desc_nulls_last(),
        F.col(corpus_id).asc(),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank")
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_size: int = 50_000,
    impl: str = "kernel",
) -> DataFrame:
    """Full kNN graph over the WHOLE corpus — the batched driver the
    bounded-query-side guard points large callers at (round 5): the
    corpus is split into deterministic hash batches of at most
    ``batch_size`` ids; each batch becomes the (closure-bound, guard-
    compliant) query side of one :func:`brute_force_topk` pass with
    ``exclude_self=True``, and the per-batch results union. Identical
    output to a single unbatched pass (pytest-pinned) because batches
    partition the query set and each pass scans the FULL corpus.

    Scale shape: ceil(n / batch_size) corpus scans, each the standard
    broadcast-queries / per-batch-top-k kernel shape — embarrassingly
    parallel across batches on a real cluster (independent jobs, no
    shared state); driver holds one batch of (id, vector) at a time.
    At 100 TB you'd run batches as separate jobs writing per-batch
    outputs; here they union into one plan (linear in batch count).
    """
    import math

    from functools import reduce

    # hash buckets are only approximately even; half the guard cap
    # leaves ample variance slack before a batch could trip it
    assert batch_size <= MAX_QUERY_ROWS // 2, (
        f"batch_size must be <= {MAX_QUERY_ROWS // 2} (hash-bucket "
        "variance slack under the bounded-query guard)"
    )
    n = corpus.select(id_col).count()
    n_batches = max(1, math.ceil(n / batch_size))
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(n_batches))
    parts = []
    for b in range(n_batches):
        queries = corpus.where(bucket == b).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
        )
        parts.append(
            brute_force_topk(
                corpus, queries, k=k, metric=metric,
                corpus_id=id_col, corpus_vec=vec_col,
                query_id="query_id", query_vec="embedding",
                exclude_self=True, impl=impl,
            )
        )
    return reduce(lambda a, c: a.unionByName(c), parts)


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_col: str = "packed",
    query_id: str = "query_id",
    query_col: str = "packed",
) -> DataFrame:
    """Exact top-k by Hamming distance over PACKED binary embeddings
    (``quantize_embeddings(..., 'ubinary')`` output: sign bits packed
    into bytes) — the standard first-stage retriever for
    binary-quantized search: 8x less data scanned than unpacked bits,
    32x less than float32, and the distance is pure integer xor+popcount
    (codegen'd ``bit_count``), no floating point at all.

    Same 100 TB plan shape as ``brute_force_topk``: queries broadcast,
    corpus scanned once and never shuffled, only (query, id, distance)
    triples enter the ranking exchange.

    Returns (query_id, <corpus_id>, hamming, rank), distance ascending,
    tie-break on corpus id.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_col).alias("__qp")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col(corpus_col),
            F.col("__qp"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    scored = corpus.crossJoin(broadcast(q)).select(
        "query_id", F.col(corpus_id), dist.alias("hamming")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "hamming", "rank")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    multiprobe: int = 0,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane signatures on both sides,
    candidate join on signature bands, exact cosine re-rank of candidates.

    Recall < 1 by design (bucket misses); rank/score of returned rows are
    exact. Returns (query_id, vec_id, score, rank).

    ``multiprobe=1`` additionally probes, per band, every key with ONE
    sign bit flipped — the classic multi-probe LSH trade (Lv et al.,
    VLDB'07): near-miss buckets (a query point close to a hyperplane)
    are recovered by probing neighbors of the query's own bucket instead
    of maintaining more hash tables. The expansion happens ONLY on the
    broadcast query side (x(1 + rows) band keys per query); the corpus
    banding, the expensive side at 100 TB, is untouched — recall rises
    at zero additional corpus scan or index cost.

    ``max_bucket_size`` (default ``"auto"``, see
    ``dedup._cap_buckets``): hot corpus buckets — near-identical
    embedding clusters, the skew that makes per-query candidate counts
    quadratic in the cluster size — are excluded from candidate
    generation; queries landing in a dropped bucket still reach its
    members through OTHER bands. The corpus banding is persisted so the
    auto-sizing stats pass reuses it instead of recomputing signatures;
    the (bounded, |queries|·occupancy-sized) candidate set is then
    materialized and the cache released. Pass ``None`` for exact
    banding semantics (recall pytests pin the uncapped geometry).
    """
    if multiprobe not in (0, 1):
        raise ValueError(
            "multiprobe supports 0 (off) or 1 (flip-1 perturbations); "
            f"got {multiprobe!r} — deeper perturbation sets are not "
            "implemented, and silently degrading to flip-1 would "
            "misreport recall"
        )
    rows = num_planes // bands

    def banded(df: DataFrame, idc: str, vc: str, out_id: str) -> DataFrame:
        sig = _hyperplane_signature(df, idc, vc, num_planes)
        band_arr = F.array(
            *[
                F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows))
                for b in range(bands)
            ]
        )
        return sig.select(
            F.col(idc).alias(out_id), F.posexplode(band_arr).alias("band_id", "band_key")
        )

    def banded_multiprobe(df: DataFrame, idc: str, vc: str, out_id: str) -> DataFrame:
        sig = _hyperplane_signature(df, idc, vc, num_planes)
        def _flip_at(j):
            return lambda x, i: F.when(i == j, 1 - x).otherwise(x)

        entries = []
        for b in range(bands):
            sl = F.slice(F.col("sig"), b * rows + 1, rows)
            keys = [F.concat_ws(",", sl)]
            for j in range(rows):
                keys.append(F.concat_ws(",", F.transform(sl, _flip_at(j))))
            entries.append(
                F.transform(
                    F.array(*keys),
                    lambda kk: F.struct(
                        F.lit(b).alias("band_id"), kk.alias("band_key")
                    ),
                )
            )
        return sig.select(
            F.col(idc).alias(out_id),
            F.explode(F.flatten(F.array(*entries))).alias("e"),
        ).select(
            out_id,
            F.col("e.band_id").alias("band_id"),
            F.col("e.band_key").alias("band_key"),
        )

    from vector_io_spark.operators.dedup import _cap_buckets, _materialize_release

    cb = banded(corpus, corpus_id, corpus_vec, "__cid")
    if max_bucket_size is not None:
        # persist: the auto stats pass + the candidate join both read the
        # banded corpus; without the cache the pandas-UDF signature stage
        # would run twice
        cb = cb.persist()
        cb.count()
        cb_capped = _cap_buckets(cb, max_bucket_size)
    else:
        cb_capped = cb
    qb = (
        banded_multiprobe(queries, query_id, query_vec, "__qid")
        if multiprobe
        else banded(queries, query_id, query_vec, "__qid")
    )
    cand = (
        cb_capped.join(broadcast(qb), ["band_id", "band_key"])
        .select(F.col("__cid"), F.col("__qid"))
        .dropDuplicates(["__cid", "__qid"])
    )
    if max_bucket_size is not None:
        cand = _materialize_release(cand, cb)
    scored = (
        cand.join(
            corpus.select(F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv")),
            "__cid",
        )
        .join(
            broadcast(
                queries.select(F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv"))
            ),
            "__qid",
        )
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias(corpus_id),
            F.round(cosine_similarity("__cv", "__qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    sample_fraction: float = 1.0,
    max_train_rows: int = 100_000,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells partition the
    corpus; each query probes only its ``nprobe`` nearest cells and scores
    those candidates exactly.

    Plan shape for 100 TB:
    1. centroids: KMeans on a corpus sample — the model is tiny and lives
       on the driver; training cost is bounded in ABSOLUTE rows by
       ``max_train_rows`` (a ``limit`` under the sample, so the driver
       never materializes more than ~max_train_rows × dim floats no
       matter the corpus size — ``sample_fraction`` alone would be
       unbounded at 100 TB). The limit short-circuits the scan
       (LocalLimit per file split), so training cost is O(max_train_rows).
    2. cell assignment: one shuffle-free projection over the corpus
       (numpy matmul pandas UDF against the broadcast centroid matrix) —
       at scale you'd persist this as a bucketed table and amortize it
       across query batches.
    3. probe: queries (small, broadcast) join the corpus on cell id —
       an equi-join that touches ~nprobe/num_cells of the corpus instead
       of all of it; exact cosine re-rank of the candidates.

    Returns (query_id, corpus_id, score, rank); recall < 1 by design
    (cell misses), scores exact.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    sample = corpus.select(corpus_vec).where(F.col(corpus_vec).isNotNull())
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    # hard absolute bound: the collect below is the only driver-side
    # materialization in the engine's ANN path and MUST stay O(constant)
    train = np.vstack(
        [r[0] for r in sample.limit(max_train_rows).collect()]
    ).astype(np.float64)
    # k-means on the driver: centroids are num_cells × dim — tiny. (MLlib
    # KMeans would shuffle the full corpus; for centroid-fitting a sample
    # is standard IVF practice and numpy converges in milliseconds.)
    cent = _lloyd(train, num_cells, seed)  # closure-captured with the UDF

    def _cell_batch(vs):
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        return pd.Series(_sq_dists(mat, cent).argmin(axis=1).astype("int32"))

    cell_udf = pandas_udf(_cell_batch, IntegerType())
    corpus_cells = corpus.withColumn("__cell", cell_udf(F.col(corpus_vec)))

    # queries probe their nprobe nearest cells
    def _probe_batch(vs):
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        order = np.argsort(_sq_dists(mat, cent), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    from pyspark.sql.types import ArrayType

    probe_udf = pandas_udf(_probe_batch, ArrayType(IntegerType()))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.explode(probe_udf(F.col(query_vec))).alias("__cell"),
    )
    scored = (
        corpus_cells.join(broadcast(q), "__cell")
        .select(
            "query_id",
            F.col(corpus_id),
            F.round(cosine_similarity(F.col(corpus_vec), F.col("__qv")), 6).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank")
    )


def _sq_dists(x, cent):
    """Squared L2 distances (N, K) via the ||x||²−2x·c+||c||² expansion:
    one BLAS matmul and O(N·K) memory — the naive broadcast form
    materializes an (N, K, dim) temporary, which at the 100k-row training
    cap × 64 cells × 64 dims is ~3 GB per iteration."""
    import numpy as np

    x2 = (x**2).sum(axis=1)
    c2 = (cent**2).sum(axis=1)
    d2 = x2[:, None] - 2.0 * (x @ cent.T) + c2[None, :]
    return np.maximum(d2, 0.0)  # clamp negative rounding residue


def _lloyd(train, k: int, seed: int, iters: int = 10):
    """Tiny driver-side k-means (numpy). Deterministic given seed.
    Centroid update is vectorized per dimension (bincount with weights),
    so an iteration is O(N·K) + O(N·dim) — no per-centroid Python loop."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cent = train[
        rng.choice(len(train), size=min(k, len(train)), replace=False)
    ].copy()
    prev = None
    for _ in range(iters):
        assign = _sq_dists(train, cent).argmin(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break  # converged: next update is a no-op
        prev = assign
        counts = np.bincount(assign, minlength=len(cent))
        sums = np.empty_like(cent)
        for d in range(train.shape[1]):
            sums[:, d] = np.bincount(
                assign, weights=train[:, d], minlength=len(cent)
            )
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz][:, None]
    return cent


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    codebook_size: int = 16,
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
):
    """Product-quantization codebooks: split the vector into
    ``num_subspaces`` contiguous sub-vectors and k-means each subspace
    independently on a corpus sample.

    Returns ``numpy array (num_subspaces, codebook_size, sub_dim)`` —
    tiny (e.g. 8x16x8 floats), closure-broadcast to executors. The
    training collect is bounded in ABSOLUTE rows by ``max_train_rows``
    (same driver-OOM guard as ``ivf_topk``): at 100 TB the sample limit
    short-circuits the scan, never the corpus.
    """
    import numpy as np

    sample = corpus.select(vec_col).where(F.col(vec_col).isNotNull())
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    train = np.vstack(
        [r[0] for r in sample.limit(max_train_rows).collect()]
    ).astype(np.float64)
    dim = train.shape[1]
    assert dim % num_subspaces == 0, "dim must divide evenly into subspaces"
    sub = dim // num_subspaces
    return np.stack(
        [
            _lloyd(train[:, m * sub : (m + 1) * sub], codebook_size, seed + m)
            for m in range(num_subspaces)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``num_subspaces`` small ints (nearest
    codebook entry per subspace) — e.g. 64-d float32 (256 B) -> 8 bytes,
    32x compression. Shuffle-free projection (Arrow-batched numpy argmin
    against the closure-broadcast codebooks); at scale you persist the
    coded table once and amortize it across every query batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cb = codebooks  # (M, K, sub)
    m_sub, _, sub = cb.shape

    def _encode(vs):
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        for m in range(m_sub):
            block = mat[:, m * sub : (m + 1) * sub]
            codes[:, m] = _sq_dists(block, cb[m]).argmin(axis=1)
        return pd.Series(list(codes))

    enc = pandas_udf(_encode, ArrayType(IntegerType()))
    return corpus.withColumn(code_col, enc(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_subspaces: int = 8,
    codebook_size: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN: asymmetric distance computation (ADC)
    top-k by L2. The 100 TB plan: codebooks trained on a BOUNDED sample
    (driver holds M*K*sub floats, constant); corpus encoded to M-byte
    codes in one shuffle-free pass; each executor scans CODES ONLY —
    per-query distance look-up tables (M x K doubles, precomputed from
    the collected small query set) turn each candidate's distance into M
    table reads, no float vector ever re-read. Only (query, id, dist)
    triples reach the ranking exchange — same shape as brute force but
    over 32x less scanned data.

    Distances are approximate (quantization error); returns
    (query_id, corpus_id, adc_dist, rank), ascending distance.
    """
    import numpy as np
    import pandas as pd

    cb = train_pq_codebooks(
        corpus, corpus_vec, num_subspaces, codebook_size,
        max_train_rows, sample_fraction, seed,
    )
    m_sub, kk, sub = cb.shape
    coded = pq_encode(corpus, cb, corpus_vec, "__code").select(
        F.col(corpus_id), F.col("__code")
    )

    # queries are the SMALL side (same assumption as brute_force_topk's
    # broadcast): collect once under the bounded-driver-state guard,
    # precompute per-query LUTs driver-side, ship them in the UDF closure.
    qrows = _collect_bounded_queries(queries, query_id, query_vec, "pq_topk")
    qids = [r[0] for r in qrows]
    # (0, d) instead of np.vstack([]) crashing: the ADC kernel then
    # emits zero rows per batch and the result is empty but typed.
    qmat = (
        np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        if qrows
        else np.zeros((0, m_sub * sub), dtype=np.float64)
    )
    luts = np.empty((len(qids), m_sub, kk), dtype=np.float64)
    for m in range(m_sub):
        qblock = qmat[:, m * sub : (m + 1) * sub]  # (Q, sub)
        # (Q, K): squared L2 between query sub-vector and each codeword
        luts[:, m, :] = (
            ((qblock[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
        )

    id_field = coded.schema[corpus_id]

    def _adc(batches):
        for pdf in batches:
            codes = np.vstack(pdf["__code"].to_numpy())  # (B, M)
            # dist[b, q] = sum_m luts[q, m, codes[b, m]]
            dist = np.zeros((len(codes), len(qids)), dtype=np.float64)
            for m in range(m_sub):
                dist += luts[:, m, codes[:, m]].T  # (B, Q)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(codes)),
                    corpus_id: np.tile(pdf[corpus_id].to_numpy(), len(qids)),
                    "adc_dist": np.round(dist.T.ravel(), 6),
                }
            )
            yield out

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("query_id", id_field.dataType),
            StructField(corpus_id, id_field.dataType),
            StructField("adc_dist", DoubleType()),
        ]
    )
    scored = coded.mapInPandas(_adc, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "adc_dist", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    num_subspaces: int = 16,
    codebook_size: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """IVF+PQ — the canonical 100 TB ANN index (FAISS IndexIVFPQ shape):
    a coarse k-means quantizer prunes the corpus to ``nprobe``/
    ``num_cells`` of its cells per query, and within probed cells
    distances are computed from ``num_subspaces``-byte PQ codes of the
    RESIDUAL (vector − its cell centroid) via per-(query, cell) look-up
    tables. Residual coding is what makes the composition worth it: the
    residual distribution is much tighter than the raw corpus, so the
    same codebook budget quantizes it with far less error.

    Scale shape: training collects a BOUNDED sample (driver holds
    centroids + codebooks — a few KB); the corpus is encoded in ONE
    shuffle-free pass to (cell, code) and at scale you persist that table
    bucketed by cell; the probe join touches ~nprobe/num_cells of the
    codes; executors never re-read a float vector — LUT reads only.
    Candidate volume per query is |corpus|·nprobe/num_cells rows of
    (id, M small ints), and only (query, id, dist) triples reach the
    ranking exchange.

    Returns (query_id, corpus_id, adc_dist, rank) — approximate L2
    distance ascending; recall < 1 by design (cell misses +
    quantization), verified by recall tests. Train/encode/probe/score
    run through the SAME kernels as the persisted-index path
    (:func:`write_ivfpq_index` / :func:`ivfpq_index_probe_topk`), so
    ad-hoc and from-catalog results cannot drift.
    """
    cents, cb = _ivfpq_train(
        corpus, corpus_vec, num_cells, num_subspaces, codebook_size,
        max_train_rows, sample_fraction, seed,
    )
    enc = _ivfpq_encode_udf(cents, cb)
    coded = corpus.select(
        F.col(corpus_id), enc(F.col(corpus_vec)).alias("__cc")
    ).select(
        corpus_id,
        F.col("__cc.cell").alias("__cell"),
        F.col("__cc.code").alias("__code"),
    )
    probe_rows, luts = _ivfpq_query_probes(
        queries, cents, cb, nprobe, query_id, query_vec, "ivfpq_topk"
    )
    id_type = coded.schema[corpus_id].dataType
    probe_df = _ivfpq_probe_df(
        corpus.sparkSession, probe_rows, queries.schema[query_id].dataType
    )
    cand = coded.join(broadcast(probe_df), "__cell")
    return _ivfpq_adc_rank(
        cand, luts, k, num_subspaces, corpus_id, id_type,
        qid_type=queries.schema[query_id].dataType,
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    shortlist: int = 12,
    lam: float = 0.5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily select k
    results maximizing ``lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s)``
    (max over the empty set = 0, so pick 1 is plain highest relevance).
    Ties break on ascending corpus id at every step.

    Scale shape: (1) shortlist = exact/ANN top-`shortlist` per query —
    the corpus is scanned once, broadcast-query style, and never
    shuffled; (2) candidate vectors come back via a broadcast hash join
    of the tiny shortlist against the corpus (again no corpus shuffle);
    (3) the O(shortlist²) pairwise-similarity table and the greedy loop
    touch only q×N rows — the loop runs per-query in applyInPandas,
    embarrassingly parallel across queries.

    Numeric parity: every similarity is computed ONCE, Catalyst-side,
    and rounded to 6 decimals BEFORE the greedy loop; the loop itself
    does only exact double ops (0.5-scaling, subtraction, max,
    comparisons), so any engine replaying the same greedy over the same
    rounded similarities reproduces scores bit-for-bit.

    Returns (query_id, vec_id, mmr_rank 1..k, mmr_score).
    """
    import pandas as pd

    from vector_io_spark.functions.vectors import cosine_similarity

    sl = brute_force_topk(
        corpus, queries, k=shortlist, corpus_id=corpus_id,
        corpus_vec=corpus_vec, query_id=query_id, query_vec=query_vec,
    ).select("query_id", F.col(corpus_id).alias("cand_id"), F.col("score").alias("qsim"))
    # candidate vectors: broadcast the shortlist so the corpus side of
    # this join never shuffles (scan + broadcast hash join)
    sl_vec = corpus.select(
        F.col(corpus_id).alias("cand_id"), F.col(corpus_vec).alias("__v")
    ).join(broadcast(sl), "cand_id")
    a = sl_vec.select(
        "query_id",
        F.col("cand_id").alias("id_a"),
        F.col("qsim"),
        F.col("__v").alias("__va"),
    )
    b = sl_vec.select(
        "query_id", F.col("cand_id").alias("id_b"), F.col("__v").alias("__vb")
    )
    # diagonal (id_a == id_b) rows stay: the greedy never reads them
    # (penalty pairs are cand × already-selected, disjoint sets), and
    # they guarantee a single-candidate query still reaches the loop
    pairs = (
        a.join(b, "query_id")
        .select(
            "query_id",
            "id_a",
            "qsim",
            "id_b",
            F.round(cosine_similarity("__va", "__vb"), 6).alias("psim"),
        )
    )

    lam = float(lam)
    rem = 1.0 - lam
    kk = int(k)

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        qsim = {}
        psim = {}
        for row in pdf.itertuples(index=False):
            qsim[row.id_a] = row.qsim
            psim[(row.id_a, row.id_b)] = row.psim
        sel: list = []
        out = []
        while len(sel) < kk and len(sel) < len(qsim):
            best = None
            for cand, qs in qsim.items():
                if cand in sel:
                    continue
                pen = max((psim[(cand, s)] for s in sel), default=0.0)
                score = lam * qs - rem * pen
                if best is None or score > best[0] or (
                    score == best[0] and cand < best[1]
                ):
                    best = (score, cand)
            sel.append(best[1])
            out.append((qid, best[1], len(sel), best[0]))
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank", "mmr_score"]
        )

    schema = (
        "query_id long, vec_id long, mmr_rank long, mmr_score double"
    )
    return pairs.groupBy("query_id").applyInPandas(_greedy, schema)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    query_label: str = "label",
) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for each
    query, the top-k most-similar corpus vectors with a DIFFERENT label
    (high-similarity wrong-class examples — the negatives that actually
    move a contrastive loss, vs easy random negatives).

    Same 100 TB shape as brute_force_topk: the query batch (with labels)
    broadcasts, the corpus is scanned in place and never shuffled, the
    label filter rides the broadcast join, and only (query, id, score)
    triples reach the top-k window.

    Returns (query_id, vec_id, neg_label, score, rank).
    """
    from vector_io_spark.functions.vectors import l2_norm

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.col(query_label).alias("__ql"),
        l2_norm(query_vec).alias("__qn"),
    )
    c = corpus.withColumn("__cn", l2_norm(corpus_vec))
    den = F.col("__cn") * F.col("__qn")
    score = F.when(den != 0.0, dot_product(F.col(corpus_vec), F.col("__qv")) / den)
    scored = (
        c.crossJoin(broadcast(q))
        .where(F.col(label_col) != F.col("__ql"))
        .select(
            "query_id",
            F.col(corpus_id),
            F.col(label_col).alias("neg_label"),
            F.round(score, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "neg_label", "score", "rank")
    )


def _cell_assign_udf(cent):
    """Pandas UDF assigning each vector to its nearest centroid row —
    the single shared assignment kernel for index build (`write_ivf_index`),
    delta append (`append_to_ivf_index`), and the ad-hoc IVF path, so the
    cell geometry can never drift between writers and readers."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    def _cell_batch(vs):
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        return pd.Series(_sq_dists(mat, cent).argmin(axis=1).astype("int32"))

    return pandas_udf(_cell_batch, IntegerType())


def _centroid_matrix(cent_rows):
    import numpy as np

    cent = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        cent[r["cell"]] = r["centroid"]
    cent.setflags(write=False)
    return cent


def _load_centroid_matrix(spark, path: str):
    """Load the persisted centroid table of a `write_ivf_index` layout as
    a dense, read-only (num_cells x dim) ndarray ordered by cell id —
    shared by the probe and append paths, memoized on the table's
    listing (:mod:`vector_io_spark.artifact_memo`)."""
    return artifact_memo.small_table(
        spark, f"{path}/centroids", _centroid_matrix
    )



def write_ivf_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    num_cells: int = 16,
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
    metadata_cols: tuple = (),
) -> None:
    """Persist an IVF index as a CELL-PARTITIONED parquet layout:
    ``<path>/cells/cell=<i>/…`` holds each cell's (id, vector) rows and
    ``<path>/centroids`` the num_cells × dim centroid table. This is the
    amortization step the ad-hoc ``ivf_topk`` docstring points at — pay
    centroid training + assignment ONCE, then every probe reads only
    ``nprobe``/num_cells of the data via Hive-style PARTITION PRUNING
    (directory-level skipping, cheaper than any row filter).

    Training is the same bounded-sample driver k-means as ``ivf_topk``
    (collect capped at max_train_rows); assignment is one shuffle-free
    Arrow pass; the write's partitionBy shuffles each row once to its
    cell file — at 100 TB this is the index-build job.

    ``metadata_cols`` (r7) persists filterable attribute columns next
    to the vectors, enabling FILTERED probes
    (:func:`ivf_index_probe_topk`'s ``where``) — same contract as the
    IVFPQ catalog's.
    """
    import numpy as np

    sample = corpus.select(corpus_vec).where(F.col(corpus_vec).isNotNull())
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    train = np.vstack(
        [r[0] for r in sample.limit(max_train_rows).collect()]
    ).astype(np.float64)
    cent = _lloyd(train, num_cells, seed)

    # a full rebuild replaces the layout wholesale, so stale tombstones
    # must not outlive it (they would hide re-inserted ids); cleared
    # up-front — a crash mid-build leaves a broken layout that needs a
    # re-run regardless (overwrite writes are not atomic)
    _clear_tombstones(corpus.sparkSession, path)
    (
        corpus.select(corpus_id, *metadata_cols, corpus_vec)
        .withColumn("cell", _cell_assign_udf(cent)(F.col(corpus_vec)))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    spark = corpus.sparkSession
    cent_rows = [(int(i), [float(x) for x in cent[i]]) for i in range(len(cent))]
    local_rows_df(
        spark, cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _check_return_cols(
    scan: DataFrame, return_cols: tuple, corpus_id: str, corpus_vec: str,
    query_id: str, caller: str,
) -> None:
    """Validate a probe's ``return_cols`` against the index's persisted
    schema: every requested column must exist (else the caller gets an
    AnalysisException deep in the plan) and must not collide with the
    probe's own output columns (query_id/id/score/rank) — shared by
    every catalog probe so the payload-passthrough contract cannot
    drift between them (r9)."""
    present = set(scan.columns)
    missing = [c for c in return_cols if c not in present]
    if missing:
        meta = sorted(
            present - {corpus_id, corpus_vec, "cell", "code", "ingest_batch"}
        )
        raise ValueError(
            f"{caller}: return_cols {missing} are not persisted in this "
            f"index (available metadata columns: {meta}) — pass them as "
            "metadata_cols at build/append time to return them with hits."
        )
    reserved = {query_id, "query_id", corpus_id, "score", "rank",
                "adc_dist", "cell", corpus_vec}
    clash = [c for c in return_cols if c in reserved]
    if clash:
        raise ValueError(
            f"{caller}: return_cols {clash} collide with the probe's own "
            "output columns — rename the metadata column at build time."
        )


def ivf_index_probe_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    where=None,
    return_cols: tuple = (),
) -> DataFrame:
    """Top-k probe against a persisted :func:`write_ivf_index` layout.
    The centroid table (num_cells rows) collects to the driver; each
    query's ``nprobe`` nearest cells resolve there; the scan then reads
    ONLY those cell directories — ``.where(cell.isin(...))`` becomes a
    PartitionFilter, so unprobed cells cost zero I/O (gated by
    ``test_ivf_index_partition_pruned_probe``). Scoring and ranking are
    the standard broadcast-queries / window top-k shape.

    ``return_cols`` (r9): persisted ``metadata_cols`` to return WITH
    each hit — the reference's own query shape (Pinecone query
    ``include_metadata=True``, pinecone_export.py:186-192; Qdrant
    scroll ``with_payload``, qdrant_export.py:119-163). The columns
    ride the already-probed cells scan out through the ranking, so
    payload retrieval costs zero extra I/O or joins — callers who
    previously joined hits back against the corpus (or, worse, the
    index tree itself: ``maxsim_topk_pruned`` pre-r9 re-read the WHOLE
    cells tree to recover doc_id) should ask for the column here.
    Output schema: (query_id, corpus_id, score, rank, *return_cols).
    """
    scored = _ivf_probe_scored(
        spark, path, queries, nprobe, corpus_id, corpus_vec, query_id,
        query_vec, where, return_cols, "ivf_index_probe_topk",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "score", "rank", *return_cols)
    )


def _ivf_probe_scored(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    where,
    return_cols: tuple,
    caller: str,
) -> DataFrame:
    """Shared probe stage of the raw-IVF catalog queries: plan each
    query's ``nprobe`` cells on the driver (centroid table is
    num_cells rows), read ONLY those cell directories (the isin becomes
    a PartitionFilter — unprobed cells cost zero I/O), apply ``where``
    + live tombstones, and emit the scored candidate frame
    (query_id, corpus_id, score, *return_cols) — rounded cosine, ready
    for the caller's ranking (topk) or thresholding (range)."""
    import numpy as np

    cent = _load_centroid_matrix(spark, path)
    qrows = _collect_bounded_queries(queries, query_id, query_vec, caller)
    if qrows:
        qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        d2 = ((qmat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        probes = np.argsort(d2, axis=1)[:, :nprobe]
        probe_pairs = [
            (qrows[qi][0], int(c))
            for qi in range(len(qrows))
            for c in probes[qi]
        ]
    else:
        probe_pairs = []  # empty query side -> empty typed result
    qvec_map = {r[0]: r[1] for r in qrows}
    # inherit the CALLER's query-id type — hardcoding long broke any
    # string-keyed probe (r8: the maxsim token probe keys queries by a
    # "qid#pos" composite)
    qid_dt = queries.schema[query_id].dataType.simpleString()
    probe_df = local_rows_df(
        spark,
        [(pid, c, qvec_map[pid]) for pid, c in probe_pairs],
        f"{query_id} {qid_dt}, cell int, __qv array<float>",
    )
    cells = sorted({c for _, c in probe_pairs})
    scan = artifact_memo.read_layout(spark, path, "cells")
    _check_return_cols(
        scan, return_cols, corpus_id, corpus_vec, query_id, caller,
    )
    if where is not None:
        # filtered ANN against the catalog (r7): pre-filter semantics
        # over the persisted metadata_cols, pushed into the pruned scan
        # (same contract as ivfpq_index_probe_topk's where, including
        # its r8 selectivity rule: aim for ≥ ~20×k matching candidates
        # in the probed cells — selectivity × N × nprobe / nlist —
        # else raise nprobe or fall back to filtered_topk)
        scan = scan.where(where)
    scan = scan.where(F.col("cell").isin(cells))
    # deleted rows stop matching immediately (r9): broadcast anti-join
    # against the live tombstones, applied AFTER partition pruning so
    # it costs one hash probe per surviving row
    scan = _apply_tombstones(spark, path, scan, caller)
    return scan.join(broadcast(probe_df), "cell").select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id),
        F.round(cosine_similarity(F.col(corpus_vec), F.col("__qv")), 6).alias(
            "score"
        ),
        *[F.col(c) for c in return_cols],
    )


def ivf_index_probe_range(
    spark,
    path: str,
    queries: DataFrame,
    min_score: float | None = None,
    max_score: float | None = None,
    limit: int | None = None,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    where=None,
    return_cols: tuple = (),
) -> DataFrame:
    """Range / score-threshold search against the persisted IVF catalog
    (r9): every indexed row in the probed cells whose rounded cosine
    falls inside [min_score, max_score] — the catalog-path twin of
    :func:`~vector_io_spark.operators.vectorquery.range_search`
    (Qdrant ``score_threshold``, Milvus radius search, served from the
    index instead of a corpus scan). Composes with ``where`` (filtered
    range search), ``return_cols`` (payload with hits) and tombstoned
    deletes, exactly like the top-k probe.

    Approximation contract: only the ``nprobe`` nearest cells per query
    are searched, so rows past the threshold that live in unprobed
    cells are missed — same recall geometry as the top-k probe (the
    nprobe sizing rule in :func:`suggest_nprobe` applies). At
    ``nprobe == num_cells`` the result is EXACT (every cell scanned) —
    the oracle-gatable twin (queries.py ann_range_search_indexed).

    Scale shape: pruned cells scan → broadcast probe join → threshold
    filter. With ``limit`` None there is NO window and NO shuffle past
    the probe join — threshold hits stream straight off the pruned
    scan; with ``limit`` the per-query window ranks only rows that
    already passed the threshold (WindowGroupLimit-eligible).
    """
    if min_score is None and max_score is None:
        raise ValueError(
            "ivf_index_probe_range: at least one of min_score / max_score "
            "is required"
        )
    scored = _ivf_probe_scored(
        spark, path, queries, nprobe, corpus_id, corpus_vec, query_id,
        query_vec, where, return_cols, "ivf_index_probe_range",
    )
    cond = F.lit(True)
    if min_score is not None:
        cond = cond & (F.col("score") >= float(min_score))
    if max_score is not None:
        cond = cond & (F.col("score") <= float(max_score))
    hits = scored.where(cond)
    if limit is None:
        return hits.select("query_id", corpus_id, "score", *return_cols)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= limit)
        .select("query_id", corpus_id, "score", "rank", *return_cols)
    )


def append_to_ivf_index(
    new_rows: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    delta_token: str | None = None,
    maint_timeout_s: float = _MAINT_TIMEOUT_S,
) -> None:
    """Incremental IVF index maintenance: assign a delta batch of
    vectors to the EXISTING persisted centroids (no retrain) and append
    the rows into the cell-partitioned layout of
    :func:`write_ivf_index`. Probes via :func:`ivf_index_probe_topk`
    see old and new rows uniformly — partition pruning still applies
    because appends land inside the existing ``cell=<i>`` directories.

    This is the nightly-ingest path: retraining (and re-shuffling 100 TB
    of resident vectors) on every delta is a non-starter, while
    assignment of the delta is one shuffle-free Arrow pass over the NEW
    rows only + one partitionBy write of the delta. The trade is
    centroid staleness: appended data drifts the true cell means and can
    imbalance cells, degrading probe recall over time — monitor per-cell
    row counts and rebuild with :func:`write_ivf_index` when the max/min
    cell ratio (or delta fraction) crosses a budget. Rebuild-on-drift is
    the standard IVF maintenance contract (same as FAISS's
    add-vs-retrain guidance).

    ``delta_token`` (required) keys retry idempotency: re-running the
    same token replaces that delta's rows instead of doubling them —
    see :func:`_idempotent_delta_write`.
    """
    spark = new_rows.sparkSession
    cent = _load_centroid_matrix(spark, path)
    meta_cols = _require_index_metadata(
        spark, path, new_rows, corpus_id, corpus_vec,
        "append_to_ivf_index", "appending",
    )
    delta = new_rows.select(corpus_id, *meta_cols, corpus_vec).withColumn(
        "cell", _cell_assign_udf(cent)(F.col(corpus_vec))
    )
    _idempotent_delta_write(
        delta, f"{path}/cells", delta_token, maint_timeout_s=maint_timeout_s
    )


# --------------------------------------------------------------------------
# Persisted IVF+PQ index — the catalog form of ivfpq_topk. At 100 TB the
# index build (train + one encode pass + one partitionBy shuffle) runs
# ONCE; every query batch afterwards reads codebooks (a few KB) plus
# nprobe/num_cells of the M-byte codes via Hive partition pruning. The
# ad-hoc ivfpq_topk path and this one share every kernel below, so their
# results are identical by construction (pinned in
# tests/test_ivf_skew.py::test_ivfpq_index_probe_matches_from_scratch).
# --------------------------------------------------------------------------


def _ivfpq_train(
    corpus: DataFrame,
    corpus_vec: str,
    num_cells: int,
    num_subspaces: int,
    codebook_size: int,
    max_train_rows: int,
    sample_fraction: float,
    seed: int,
):
    """Coarse centroids + residual PQ codebooks from a BOUNDED corpus
    sample (the `ivfpq_topk` trainer, factored out so the ad-hoc and
    persisted-index builds cannot drift). Driver state is C·dim +
    M·K·sub floats — a few KB, constant in corpus size; the sample
    ``limit`` short-circuits the scan, never the corpus."""
    import numpy as np

    sample = corpus.select(corpus_vec).where(F.col(corpus_vec).isNotNull())
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    train = np.vstack(
        [r[0] for r in sample.limit(max_train_rows).collect()]
    ).astype(np.float64)
    dim = train.shape[1]
    assert dim % num_subspaces == 0
    sub = dim // num_subspaces
    cents = _lloyd(train, num_cells, seed)  # (C, dim)
    resid = train - cents[_sq_dists(train, cents).argmin(axis=1)]
    cb = np.stack(
        [
            _lloyd(resid[:, m * sub : (m + 1) * sub], codebook_size, seed + m)
            for m in range(num_subspaces)
        ]
    )  # (M, K, sub)
    return cents, cb


def _ivfpq_encode_udf(cents, cb):
    """struct(cell, code) residual-PQ encoder against closure-broadcast
    artifacts — one shuffle-free Arrow pass. The single encode kernel
    for the ad-hoc path, the index build, and delta appends."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType, IntegerType, StructField, StructType,
    )

    num_subspaces, _, sub = cb.shape

    def _encode(vs):
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        cell = _sq_dists(mat, cents).argmin(axis=1)
        res = mat - cents[cell]
        codes = np.empty((len(mat), num_subspaces), dtype=np.int32)
        for m in range(num_subspaces):
            block = res[:, m * sub : (m + 1) * sub]
            codes[:, m] = _sq_dists(block, cb[m]).argmin(axis=1)
        out = pd.DataFrame({"cell": cell.astype("int32")})
        out["code"] = list(codes)
        return out

    return pandas_udf(
        _encode,
        StructType(
            [
                StructField("cell", IntegerType()),
                StructField("code", ArrayType(IntegerType())),
            ]
        ),
    )


def _ivfpq_query_probes(
    queries: DataFrame, cents, cb, nprobe: int,
    query_id: str, query_vec: str, caller: str,
):
    """Bounded-collect the query side and precompute, driver-side, each
    query's ``nprobe`` nearest cells plus the per-(query, cell) residual
    ADC look-up tables (M × K doubles each; |Q|·nprobe tables total).
    Returns (probe_rows, luts)."""
    import numpy as np

    num_subspaces, codebook_size, sub = cb.shape
    qrows = _collect_bounded_queries(queries, query_id, query_vec, caller)
    if not qrows:
        # Empty query side: no probes, no LUTs. Callers feed these into
        # the shared probe-df / ADC-rank path, which then returns an
        # empty, correctly-typed frame (mirrors brute_force_topk's
        # empty-schema short-circuit instead of np.vstack([]) crashing).
        return [], {}
    qids = [r[0] for r in qrows]
    qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qd2 = ((qmat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)  # (Q, C)
    probes = np.argsort(qd2, axis=1)[:, :nprobe]  # (Q, nprobe)
    luts: dict[tuple, object] = {}
    for qi, qid_val in enumerate(qids):
        for cell in probes[qi]:
            qres = qmat[qi] - cents[cell]
            lut = np.empty((num_subspaces, codebook_size), dtype=np.float64)
            for m in range(num_subspaces):
                qblock = qres[m * sub : (m + 1) * sub]
                lut[m] = ((cb[m] - qblock[None, :]) ** 2).sum(axis=1)
            luts[(qid_val, int(cell))] = lut
    probe_rows = [
        (qids[qi], int(c)) for qi in range(len(qids)) for c in probes[qi]
    ]
    return probe_rows, luts


def _ivfpq_probe_df(spark, probe_rows, qid_type):
    """(query_id, __cell) probe list as a broadcastable DataFrame,
    query ids typed from the caller's queries frame."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    return local_rows_df(
        spark,
        probe_rows,
        StructType(
            [
                StructField("query_id", qid_type),
                StructField("__cell", IntegerType()),
            ]
        ),
    )


def _ivfpq_adc_rank(
    cand: DataFrame, luts, k: int, num_subspaces: int, corpus_id, id_type,
    qid_type=None, extra_fields: tuple = (),
) -> DataFrame:
    """ADC-score candidate (query, row) pairs from codes — rows grouped
    by (query, cell) so each group is one vectorized LUT gather — then
    per-query top-k. Only (query, id, dist) triples — plus any
    requested ``extra_fields`` payload columns (r9 ``return_cols``,
    already present on ``cand``) — reach the ranking exchange."""
    import itertools

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    extra_names = [f.name for f in extra_fields]

    def _adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["__code"].to_numpy())  # (B, M)
            qcol = pdf["query_id"].to_numpy()
            ccol = pdf["__cell"].to_numpy()
            dist = np.empty(len(pdf), dtype=np.float64)
            order = np.lexsort((ccol, qcol))
            for _, idx_iter in itertools.groupby(
                order, key=lambda i: (qcol[i], ccol[i])
            ):
                idx = np.fromiter(idx_iter, dtype=np.int64)
                lut = luts[(qcol[idx[0]], int(ccol[idx[0]]))]
                g = codes[idx]  # (B_g, M)
                dist[idx] = lut[np.arange(num_subspaces)[None, :], g].sum(
                    axis=1
                )
            out = {
                "query_id": qcol,
                corpus_id: pdf[corpus_id].to_numpy(),
                "adc_dist": np.round(dist, 6),
            }
            for c in extra_names:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    out_schema = StructType(
        [
            # query ids are typed from the caller's queries frame (r8):
            # they are unrelated to the corpus id type in general
            StructField("query_id", qid_type if qid_type is not None else id_type),
            StructField(corpus_id, id_type),
            StructField("adc_dist", DoubleType()),
            *extra_fields,
        ]
    )
    scored = cand.mapInPandas(_adc, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", corpus_id, "adc_dist", "rank", *extra_names)
    )


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    num_cells: int = 16,
    num_subspaces: int = 16,
    codebook_size: int = 64,
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
    metadata_cols: tuple = (),
) -> None:
    """Persist an IVF+PQ index (FAISS IndexIVFPQ shape, reference
    parity: the reference ships vectors to external ANN services —
    here the index IS a parquet layout):
    ``<path>/cells/cell=<i>/…`` holds each cell's (id, residual-PQ
    code) rows — M small ints per vector, the 32× payload shrink —
    ``<path>/centroids`` the coarse quantizer and ``<path>/codebooks``
    the M·K residual codewords. Training and encoding are the exact
    `ivfpq_topk` kernels; the build pays train + one shuffle-free
    encode pass + one partitionBy shuffle ONCE, after which every
    probe batch reads ``nprobe``/num_cells of the codes via
    directory-level partition pruning and a few KB of artifacts.

    ``metadata_cols`` (r7) persists filterable attribute columns NEXT
    TO the codes, enabling FILTERED probes
    (:func:`ivfpq_index_probe_topk`'s ``where``) whose predicates push
    into the pruned code scan — the persisted-index form of
    :func:`filtered_topk`. Keep it to the few columns queries filter
    on: each adds bytes to every code row.
    """
    cents, cb = _ivfpq_train(
        corpus, corpus_vec, num_cells, num_subspaces, codebook_size,
        max_train_rows, sample_fraction, seed,
    )
    # rebuild = new truth: stale tombstones must not hide re-inserted
    # ids (see write_ivf_index)
    _clear_tombstones(corpus.sparkSession, path)
    _write_ivfpq_artifacts(
        corpus, cents, cb, f"{path}/cells", path, corpus_id, corpus_vec,
        metadata_cols=metadata_cols,
    )


def _write_ivfpq_artifacts(
    corpus: DataFrame, cents, cb, cells_path: str, artifacts_root: str,
    corpus_id: str, corpus_vec: str, metadata_cols: tuple = (),
) -> None:
    """The one serializer for an IVF+PQ layout: encode + cell-partitioned
    codes write (``cells_path`` — the only thing that differs between
    the static index and the streaming store's ``ingest_batch=-1``
    seed), then centroids + codebooks under ``artifacts_root``. Shared
    so the two layouts can never drift from `_load_ivfpq_artifacts`."""
    enc = _ivfpq_encode_udf(cents, cb)
    (
        corpus.select(
            F.col(corpus_id),
            *metadata_cols,
            enc(F.col(corpus_vec)).alias("__cc"),
        )
        .select(
            corpus_id,
            *metadata_cols,
            F.col("__cc.cell").alias("cell"),
            F.col("__cc.code").alias("code"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(cells_path)
    )
    spark = corpus.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in cents[i]]) for i in range(len(cents))
    ]
    local_rows_df(
        spark, cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{artifacts_root}/centroids"
    )
    cb_rows = [
        (int(m), int(c), [float(x) for x in cb[m, c]])
        for m in range(cb.shape[0])
        for c in range(cb.shape[1])
    ]
    local_rows_df(
        spark, cb_rows, "s int, c int, codeword array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{artifacts_root}/codebooks"
    )


def _codebook_tensor(cb_rows):
    import numpy as np

    m_sub = max(r["s"] for r in cb_rows) + 1
    kk = max(r["c"] for r in cb_rows) + 1
    sub = len(cb_rows[0]["codeword"])
    cb = np.zeros((m_sub, kk, sub))
    for r in cb_rows:
        cb[r["s"], r["c"]] = r["codeword"]
    cb.setflags(write=False)
    return cb


def _load_ivfpq_artifacts(spark, path: str):
    """(cents, cb) read-only ndarrays from a `write_ivfpq_index` layout.
    Both are a few KB — codebook loading is driver-side by design, and
    memoized on each table's listing."""
    cents = _load_centroid_matrix(spark, path)
    cb = artifact_memo.small_table(
        spark, f"{path}/codebooks", _codebook_tensor
    )
    return cents, cb


def ivfpq_index_probe_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    where=None,
    return_cols: tuple = (),
) -> DataFrame:
    """Top-k ADC probe against a persisted :func:`write_ivfpq_index`
    layout. Centroids + codebooks (KBs) collect to the driver, once per
    build (memoized on their listing, :mod:`vector_io_spark.artifact_memo`);
    each query's ``nprobe`` cells and residual LUTs resolve there; the codes
    scan reads ONLY the probed ``cell=<i>`` directories —
    ``.where(cell.isin(...))`` becomes a PartitionFilter, so unprobed
    cells cost zero I/O — and scoring/ranking are the exact
    `ivfpq_topk` kernels. No float vector is ever re-read: executors
    see M-byte codes and LUT lookups only.

    ``where`` (r7): an optional predicate (SQL string or Column) over
    the index's persisted ``metadata_cols`` — FILTERED ANN against the
    catalog. It is applied to the code scan BEFORE candidate ranking
    (pre-filter semantics: the top-k is over matching rows, exactly
    like :func:`filtered_topk`), and Catalyst pushes it into the
    parquet scan (PushedFilters), so non-matching code rows are
    skipped at I/O level via row-group stats, on top of the cell-level
    partition pruning. One predicate applies to ALL queries in the
    batch — group query batches by their filter.

    ``return_cols`` (r9): persisted ``metadata_cols`` returned WITH
    each hit — reference parity for Pinecone ``include_metadata`` /
    Qdrant ``with_payload`` (pinecone_export.py:186-192,
    qdrant_export.py:119-163). The columns ride the pruned code scan
    through the ADC kernel and out of the ranking — zero extra I/O,
    no join-back against the corpus. Composes with ``where``. Output:
    (query_id, corpus_id, adc_dist, rank, *return_cols).

    **Selectivity rule (r8, measured — BASELINE.md round-8 filtered
    table)**: the predicate thins candidates AFTER cell pruning, so a
    selective ``where`` can leave the probed cells with fewer than
    ``k`` matches and recall@k drops SILENTLY (sf0.1: at 1%
    selectivity, nprobe=4 returned < k rows for all 32 queries,
    recall 0.35; nprobe=nlist recovered 0.83). Size
    ``selectivity × N × nprobe / nlist`` to at least ~20×k matching
    candidates; below that, raise ``nprobe`` (recall rises
    monotonically, pinned by ``test_filtered_probe_recall_floor``) —
    and when the predicate is so selective that even ``nprobe=nlist``
    scans few matching rows, skip the index and use
    :func:`filtered_topk`: an exact pushed-down scan of a 1% slice is
    both cheaper and recall-1.0. :func:`suggest_nprobe` (r9) computes
    this rule from (corpus_rows, nlist, k, selectivity)."""
    cents, cb = _load_ivfpq_artifacts(spark, path)
    probe_rows, luts = _ivfpq_query_probes(
        queries, cents, cb, nprobe, query_id, query_vec,
        "ivfpq_index_probe_topk",
    )
    cells = sorted({c for _, c in probe_rows})
    scan = artifact_memo.read_layout(spark, path, "cells")
    _check_return_cols(
        scan, return_cols, corpus_id, "embedding", query_id,
        "ivfpq_index_probe_topk",
    )
    from pyspark.sql.types import StructField

    extra_fields = tuple(
        StructField(c, scan.schema[c].dataType) for c in return_cols
    )
    if where is not None:
        scan = scan.where(where)
    scan = scan.where(F.col("cell").isin(cells))
    # deleted rows stop matching immediately (r9): broadcast anti-join
    # against live tombstones, after partition pruning, before the ADC
    scan = _apply_tombstones(spark, path, scan, "ivfpq_index_probe_topk")
    scan = scan.select(
        corpus_id,
        *return_cols,
        F.col("cell").alias("__cell"),
        F.col("code").alias("__code"),
    )
    id_type = scan.schema[corpus_id].dataType
    # query ids are typed from the CALLER's queries frame, not from the
    # corpus id column (r8: they are unrelated types in general — a
    # string-keyed query batch against a long-keyed corpus is legal)
    probe_df = _ivfpq_probe_df(
        spark, probe_rows, queries.schema[query_id].dataType
    )
    cand = scan.join(broadcast(probe_df), "__cell")
    return _ivfpq_adc_rank(
        cand, luts, k, cb.shape[0], corpus_id, id_type,
        qid_type=queries.schema[query_id].dataType,
        extra_fields=extra_fields,
    )


def ivfpq_index_stats(spark, path: str) -> DataFrame:
    """The monitoring half of the IVF+PQ maintenance contract the
    write/append docstrings point at: per-cell row counts of a
    persisted index (static ``write_ivfpq_index`` layout or the
    streaming store — ``ingest_batch`` levels are transparent), plus
    the store-wide occupancy share and imbalance factor
    (max·nlist/total over the TRAINED cell count from the centroid
    table, so empty cells count as imbalance — 1.0 is perfectly
    balanced, an all-in-one-cell degenerate index reads nlist, not
    1.0; FAISS flags > ~2-3 as rebuild-worthy) and the delta fraction
    that arrived after the initial build. ``delta_share`` is derived
    from the ``ingest_batch`` level, so it tracks STREAMING ingest
    only — ``append_to_ivfpq_index`` writes into the static layout's
    cell dirs indistinguishably; for static indexes track drift by
    comparing ``n_vectors`` totals against the build-time count. Run
    between probe batches; ``imbalance_factor`` or ``delta_share``
    past budget ⇒ rebuild with :func:`write_ivfpq_index` / reseed.

    Counts include rows under live tombstones (r9,
    :func:`delete_from_index`) — deliberately: the stats job reads
    partition metadata only, and tombstoned rows still occupy the
    files probes scan, so they are the honest COST signal this
    monitor exists for; :func:`compact_index_cells` removes them
    physically and the counts drop then.

    Scale shape: one scan of the code table reading ONLY partition
    columns (cell, ingest_batch — satisfied from directory names +
    row-group counts, no column data), one |cells|-row rollup, a
    1-row total (with the nlist-row centroid count) broadcast back.
    Nothing corpus-sized anywhere.
    """
    codes = artifact_memo.read_layout(spark, path, "cells")
    nlist = len(_load_centroid_matrix(spark, path))
    has_batches = "ingest_batch" in codes.columns
    delta = (
        F.sum(
            F.when(F.col("ingest_batch") >= 0, F.lit(1)).otherwise(F.lit(0))
        )
        if has_batches
        else F.lit(0)
    )
    sizes = codes.groupBy(F.col("cell").cast("long").alias("cell")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        delta.cast("long").alias("__nd"),
    )
    tot = sizes.agg(
        F.sum("n_vectors").alias("__t"),
        F.lit(nlist).alias("__nc"),
        F.max("n_vectors").alias("__mx"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / (F.lit(1.0) * F.col("__t")), 6).alias(
            "share"
        ),
        F.round(F.col("__nd") / (F.lit(1.0) * F.col("n_vectors")), 6).alias(
            "delta_share"
        ),
        F.round(
            F.col("__mx") * F.col("__nc") / (F.lit(1.0) * F.col("__t")), 4
        ).alias("imbalance_factor"),
    )


def rebuild_ivfpq_if_drifted(
    spark,
    path: str,
    corpus: DataFrame,
    imbalance_budget: float = 3.0,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> dict:
    """The acting half of the IVF+PQ maintenance contract (VERDICT r6
    Next #3): read :func:`ivfpq_index_stats`, compare the imbalance
    factor against ``imbalance_budget``, and conditionally retrain +
    rewrite the index with :func:`write_ivfpq_index` using the
    GEOMETRY PERSISTED IN THE ARTIFACTS (num_cells from the centroid
    table, num_subspaces/codebook_size from the codebooks — never
    caller-supplied, so a drifted index can't be "fixed" into a
    different shape by a typo'd rebuild).

    Why imbalance is the trigger: under distribution shift the
    measured failure mode is COST, not quality — probes over the
    stale centroids still recall well, but hot cells grow until every
    probe scans a corpus-sized cell (BASELINE.md round-6 drift table:
    imbalance 6.8 under shift while recall held). FAISS flags > ~2-3
    as rebuild-worthy; 3.0 is the default budget.

    ``corpus`` must be the CURRENT full corpus (resident + all deltas)
    — the rebuild re-encodes everything from vectors; the index stores
    only codes, which cannot be decoded back losslessly.

    Scale shape: the decision costs one partition-metadata-only scan
    (cell counts from directory names + row-group counts) and an
    nlist-row centroid count; a triggered rebuild pays the one-time
    build (bounded-sample train + one encode pass + one partitionBy
    shuffle). A crash mid-rebuild leaves standard Spark overwrite
    semantics per artifact dir — re-run to converge.

    Returns ``{"rebuilt", "imbalance_before", "imbalance_after",
    "imbalance_budget", "nlist"}`` — ``imbalance_after`` is None when
    no rebuild ran.
    """
    cents, cb = _load_ivfpq_artifacts(spark, path)
    # preserve the persisted metadata_cols (r7 review finding: a rebuild
    # that drops them silently destroys the filtered-ANN capability and
    # every subsequent where= probe fails)
    meta_cols = _require_index_metadata(
        spark, path, corpus, corpus_id, corpus_vec,
        "rebuild_ivfpq_if_drifted", "rebuilding",
    )

    def _rebuild() -> None:
        write_ivfpq_index(
            corpus,
            path,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            num_cells=int(len(cents)),
            num_subspaces=int(cb.shape[0]),
            codebook_size=int(cb.shape[1]),
            max_train_rows=max_train_rows,
            sample_fraction=sample_fraction,
            seed=seed,
            metadata_cols=tuple(meta_cols),
        )

    return _drift_decision(
        spark, path, int(len(cents)), imbalance_budget, _rebuild,
        "rebuild_ivfpq_if_drifted",
    )


def _index_metadata_cols(
    spark, path: str, corpus_id: str, corpus_vec: str = "embedding"
) -> list:
    """The filterable metadata columns a cells layout persists beside
    its codes/vectors — everything that isn't the id, the partition
    levels, or the payload column (``corpus_vec`` must be the CALLER'S
    vector column name, not a hardcoded default: a plain-IVF store
    built with corpus_vec="vector" would otherwise misclassify its own
    vector column as metadata — r7 review). Shared by append/rebuild
    so neither can silently drop what the build persisted."""
    schema = artifact_memo.read_layout(spark, path, "cells").schema
    return [
        f.name
        for f in schema.fields
        if f.name
        not in (corpus_id, corpus_vec, "cell", "code", "ingest_batch")
    ]


def _require_index_metadata(
    spark, path: str, df: DataFrame, corpus_id: str, corpus_vec: str,
    caller: str, action: str,
) -> list:
    """Detect the store's persisted metadata columns and refuse a frame
    missing any of them — the one guard shared by every append/rebuild
    site (r7 review: three hand-copies existed and the fourth required
    site had none). Writing NULL (or absent) metadata silently hides
    rows from every filtered probe."""
    meta_cols = _index_metadata_cols(spark, path, corpus_id, corpus_vec)
    missing = [c for c in meta_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{caller}: the index at {path} persists metadata columns "
            f"{meta_cols} but the supplied frame is missing {missing} — "
            f"{action} without them would silently break every "
            "filtered probe."
        )
    return meta_cols


def _drift_decision(
    spark,
    path: str,
    nlist: int,
    imbalance_budget: float,
    rebuild_fn,
    caller: str,
    force: bool = False,
) -> dict:
    """The one stats → threshold → conditional-rebuild decision shared
    by every rebuild-on-drift twin (static IVFPQ / static IVF /
    streaming reseed — r7 review: three hand-copies of this logic were
    one drift away from diverging). ``rebuild_fn`` does whatever
    "rebuild" means for the layout; ``force=True`` skips the budget
    check (used by the streaming reseed to finish an interrupted
    rebuild whose batch partitions are already gone)."""

    def _imbalance() -> float:
        row = (
            ivfpq_index_stats(spark, path)
            .agg(F.max("imbalance_factor"))
            .first()
        )
        if row is None or row[0] is None:
            raise ValueError(
                f"{caller}: no rows under {path}/cells — not a "
                "populated index layout"
            )
        return float(row[0])

    if force:
        # a forced run exists to FINISH an interrupted rebuild whose
        # destructive deletes already happened — the store can be
        # row-empty mid-overwrite, making _imbalance() raise on every
        # re-run and the recovery path unable to converge (ADVICE r8).
        # The before-measurement is reporting, not a decision input,
        # when force is set: tolerate its failure.
        try:
            before = _imbalance()
        except Exception:
            before = None
    else:
        before = _imbalance()
        if before <= imbalance_budget:
            return {
                "rebuilt": False,
                "imbalance_before": before,
                "imbalance_after": None,
                "imbalance_budget": imbalance_budget,
                "nlist": nlist,
            }
    rebuild_fn()
    return {
        "rebuilt": True,
        "imbalance_before": before,
        "imbalance_after": _imbalance(),
        "imbalance_budget": imbalance_budget,
        "nlist": nlist,
    }


def rebuild_ivf_if_drifted(
    spark,
    path: str,
    corpus: DataFrame,
    imbalance_budget: float = 3.0,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_train_rows: int = 100_000,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> dict:
    """Plain-IVF twin of :func:`rebuild_ivfpq_if_drifted` — the raw-
    vector :func:`write_ivf_index` layout drifts under appends exactly
    like the coded one (hot stale cells = probe COST, the measured
    first casualty), and :func:`ivfpq_index_stats` reads any
    cells+centroids layout (the per-cell rollup touches partition
    metadata only), so the stats → threshold → conditional retrain
    composition is identical; num_cells is read from the persisted
    centroid table, never caller-supplied. Returns the same decision
    dict."""
    nlist = len(_load_centroid_matrix(spark, path))
    # preserve persisted metadata_cols — same hazard as the IVFPQ twin
    # (r7 review: this site was initially missed)
    meta_cols = _require_index_metadata(
        spark, path, corpus, corpus_id, corpus_vec,
        "rebuild_ivf_if_drifted", "rebuilding",
    )

    def _rebuild() -> None:
        write_ivf_index(
            corpus,
            path,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            num_cells=nlist,
            max_train_rows=max_train_rows,
            sample_fraction=sample_fraction,
            seed=seed,
            metadata_cols=tuple(meta_cols),
        )

    return _drift_decision(
        spark, path, nlist, imbalance_budget, _rebuild,
        "rebuild_ivf_if_drifted",
    )


def suggest_nprobe(
    corpus_rows: int,
    nlist: int,
    k: int = 10,
    selectivity: float = 1.0,
    candidate_floor_multiple: float = 20.0,
) -> dict:
    """The round-8 measured filtered-probe sizing rule as API, so
    callers don't re-derive it from docstrings: matching candidates a
    probe sees ≈ ``selectivity × corpus_rows × nprobe / nlist``, and
    recall@k stays healthy while that is ≥ ``candidate_floor_multiple
    × k`` (sf0.1 sweep, BASELINE.md round-8 filtered tables: below the
    floor all queries went "short" and recall cratered SILENTLY to
    0.35; raising nprobe recovers it monotonically — pinned by
    ``test_filtered_probe_recall_floor``).

    Returns ``{"nprobe", "expected_matching_candidates",
    "use_exact_fallback"}``. ``use_exact_fallback=True`` means even
    ``nprobe = nlist`` (exact-over-filter) scans too few matching rows
    to be worth the index — run :func:`filtered_topk` on the
    predicate's slice instead (an exact pushed-down scan of a sliver
    is both cheaper and recall-1.0). Driver-side arithmetic only —
    call it with ``ivfpq_index_stats``' totals when sizing a batch.
    """
    if corpus_rows <= 0 or nlist <= 0 or k <= 0:
        raise ValueError("suggest_nprobe: corpus_rows/nlist/k must be > 0")
    if not 0.0 < selectivity <= 1.0:
        raise ValueError("suggest_nprobe: selectivity must be in (0, 1]")
    import math

    floor_rows = candidate_floor_multiple * k
    per_cell = selectivity * corpus_rows / nlist
    nprobe = min(nlist, max(1, math.ceil(floor_rows / per_cell)))
    expected = per_cell * nprobe
    return {
        "nprobe": int(nprobe),
        "expected_matching_candidates": round(expected, 1),
        "use_exact_fallback": bool(
            selectivity * corpus_rows < floor_rows
        ),
    }


def _tombstone_frames(spark, index_root: str):
    """List the live tombstone dirs under ``<index_root>/tombstones``
    and load their union as one single-column DataFrame. Returns
    ``(names, df_or_None)``. All tombstones in one store must target
    the SAME column (mixed targets would need per-column anti-joins
    and make 'is this id deleted' ambiguous) — enforced here so every
    reader shares the check. One recursive listing finds the dirs and
    keys the memoized union schema; tombstone dirs are written once,
    by rename, so the listing changes with every delete or compaction
    (hidden ``.del-*`` staging dirs are not live tombstones)."""
    root = f"{index_root}/tombstones"
    files = artifact_memo.listing(spark, root)
    parents = {f.rsplit("/", 2)[-2] for f, _, _ in files or ()}
    names = sorted(n for n in parents if n.startswith("del-"))
    if not names:
        return [], None
    df = artifact_memo.read_parquet(
        spark, [f"{root}/{n}" for n in names], root, files
    )
    if len(df.columns) != 1:
        raise ValueError(
            f"tombstones at {index_root} target mixed columns "
            f"{sorted(df.columns)} — every delete_from_index call on "
            "one store must use the same id_col; compact to apply the "
            "existing tombstones before deleting by a different column."
        )
    return names, df.distinct()


def _apply_tombstones(spark, index_root: str, scan: DataFrame, caller: str):
    """Anti-join a cells/codes scan against the store's live tombstones
    (no-op when none exist). The tombstone side is bounded by the
    compaction cadence — deletes accumulate only until the next
    :func:`compact_index_cells` folds them into the layout — so it
    broadcasts; the scan side never shuffles."""
    _, tombs = _tombstone_frames(spark, index_root)
    if tombs is None:
        return scan
    col = tombs.columns[0]
    if col not in scan.columns:
        raise ValueError(
            f"{caller}: tombstones at {index_root} target column "
            f"{col!r}, which this scan does not carry ({scan.columns})."
        )
    return scan.join(broadcast(tombs), col, "left_anti")


def delete_from_index(
    spark,
    path: str,
    ids,
    id_col: str = "vec_id",
    delete_token: str | None = None,
) -> None:
    """Delete rows from a persisted STATIC index (IVF / IVFPQ / token —
    any ``cells`` layout) by id, or by any persisted metadata column
    (e.g. ``id_col="doc_id"`` on a token index deletes every token of
    those docs — the late-interaction delete). This completes the
    catalogs' CRUD surface: build, probe, append, compact, rebuild —
    and now delete; the reference's targets all expose delete-by-id
    (e.g. Pinecone ``delete(ids=...)``, Qdrant points delete — cited
    for parity scope), while the reference itself only ever re-uploads.

    Mechanism — TOMBSTONES, the LSM/Delta-style shape, never an
    in-place rewrite:

    - ``ids`` (a DataFrame carrying ``id_col``, or a plain Python
      iterable of values) is written to
      ``<path>/tombstones/del-<delete_token>`` via hidden staging +
      one atomic rename — a crashed write is invisible, a retried
      token is a no-op (same contract as append's ``delta_token``);
    - every probe anti-joins its (already partition-pruned) scan
      against the broadcast tombstone union — deleted rows stop
      matching IMMEDIATELY, with zero data movement;
    - :func:`compact_index_cells` APPLIES tombstones physically during
      its rewrite and clears exactly the tombstone dirs it folded in
      (a delete landing mid-compaction survives untouched); a full
      rebuild (``write_*_index``) clears them wholesale — the new
      layout is the new truth;
    - appending rows whose ids are under a live tombstone raises
      loudly (the tombstone would silently hide the new rows);
      compact first, then re-append — re-insert-after-delete is a
      compaction-ordered sequence, not a race.

    Tombstone writes take NO maintenance lock: they only add files
    under ``tombstones/``, which the compactor snapshots at entry (the
    one reader that also deletes them deletes only what it listed).
    The exact-PQ ``codes`` layout has no compactor — its tombstones
    apply at probe time and clear on the next
    ``write_pq_exact_index`` rebuild.

    Scale shape: the delete itself writes |ids| rows — a metadata-
    sized job; probes add one broadcast anti-join on the pruned scan
    (tombstone volume is bounded by compaction cadence); nothing
    corpus-sized moves until the next compaction, which was already a
    full-rewrite job. Streaming (``ingest_batch``) stores are refused
    — their replay semantics need lease-aware folding; delete support
    there is the streaming compactor's contract, not this one's.
    """
    import re as _re

    if not delete_token or not _re.fullmatch(
        r"[A-Za-z0-9._-]+", str(delete_token)
    ):
        raise ValueError(
            "delete_from_index: delete_token must be a non-empty "
            "[A-Za-z0-9._-]+ string uniquely identifying this delete "
            "batch (it keys retry idempotency); got "
            f"{delete_token!r}"
        )
    jvm = spark._jvm
    root_p = jvm.org.apache.hadoop.fs.Path(path)
    fs = root_p.getFileSystem(spark._jsc.hadoopConfiguration())
    # cells = IVF/IVFPQ/token layouts; codes = exact-PQ;
    # postings = the sparse posting-list catalog
    data_sub = None
    for sub in ("cells", "codes", "postings"):
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")):
            data_sub = sub
            break
    if data_sub is None:
        raise ValueError(
            f"delete_from_index: {path} has no cells / codes / postings "
            "layout — not a persisted index root."
        )
    if data_sub == "cells":
        cells_p = jvm.org.apache.hadoop.fs.Path(f"{path}/cells")
        for st in fs.listStatus(cells_p):
            if st.getPath().getName().startswith("ingest_batch="):
                raise ValueError(
                    f"delete_from_index: {path}/cells is a STREAMING "
                    "store (ingest_batch partitions) — tombstone "
                    "deletes are a static-layout contract; fold the "
                    "stream first."
                )
    schema = artifact_memo.read_layout(spark, path, data_sub).schema
    if id_col not in schema.fieldNames():
        raise ValueError(
            f"delete_from_index: column {id_col!r} is not persisted in "
            f"{path}/{data_sub} (has {schema.fieldNames()})."
        )
    names, tombs = _tombstone_frames(spark, path)
    if tombs is not None and tombs.columns[0] != id_col:
        raise ValueError(
            f"delete_from_index: store already has tombstones on "
            f"{tombs.columns[0]!r}; one store uses one delete column — "
            "compact to apply them before deleting by a different one."
        )
    final = jvm.org.apache.hadoop.fs.Path(
        f"{path}/tombstones/del-{delete_token}"
    )
    if fs.exists(final):
        return  # committed once already — retry is a no-op
    if isinstance(ids, DataFrame):
        if id_col not in ids.columns:
            raise ValueError(
                f"delete_from_index: ids frame is missing {id_col!r}."
            )
        ids_df = ids.select(id_col)
    else:
        from pyspark.sql.types import StructField, StructType

        ids_df = local_rows_df(
            spark,
            [(v,) for v in ids],
            StructType([StructField(id_col, schema[id_col].dataType)]),
        )
    staging = f"{path}/tombstones/.del-{delete_token}"
    ids_df.distinct().coalesce(1).write.mode("overwrite").parquet(staging)
    if not fs.rename(
        jvm.org.apache.hadoop.fs.Path(staging), final
    ):
        raise RuntimeError(
            f"delete_from_index: rename {staging} -> {final} failed "
            "(concurrent identical token?) — re-run; a committed token "
            "is a no-op."
        )


def _clear_tombstones(spark, index_root: str) -> None:
    """Drop every tombstone: a full index rebuild makes the fresh
    layout the whole truth (stale tombstones would silently hide
    re-inserted ids from probes)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_root}/tombstones")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def compact_index_cells(
    spark, path: str, maint_timeout_s: float = _MAINT_TIMEOUT_S,
    data_sub: str = "cells", partition_col: str = "cell",
) -> dict:
    """File compaction for a STATIC :func:`write_ivf_index` /
    :func:`write_ivfpq_index` cells layout (r7) — and, via
    ``data_sub="postings", partition_col="shard"``, the sparse
    posting-list catalog (r9; same staging/swap/ledger/tombstone
    machinery, different directory names): every
    ``append_to_*_index`` delta token adds ≥1 file to each touched
    ``cell=<i>`` dir, so after N nightly appends a probe pays N file
    opens per probed cell — this rewrites the layout into
    row-count-sized files (~1M rows/file, the footprint cure the
    streaming store gets from ``compact_neardup_index``). All columns
    (including persisted ``metadata_cols``) survive verbatim; rows are
    NOT deduplicated — token-keyed appends cannot duplicate ids, and a
    genuine duplicate id is an upstream bug this should surface, not
    hide.

    Concurrency (r8, hardened r9): the whole run holds the fixed-name
    ``_MAINT-LOCK`` mutex (:func:`_take_maint_marker`, atomic
    ``createNewFile`` claim) — an ``append_to_*_index`` racing the
    swap would otherwise land its committed delta files in the aside
    dir and have them deleted with it; both ops refuse while the other
    holds a fresh lock instead of assuming serial nightly scheduling.
    Long rewrites heartbeat the lock between stages
    (:func:`_refresh_maint_marker`), so a run exceeding the staleness
    timeout is never reaped as "crashed" while alive — and a holder
    that really was reaped aborts loudly BEFORE the swap. The appends' ``_DELTA-<token>`` commit-ledger
    markers are recreated inside ``.cells-tmp`` BEFORE the swap, so
    the atomic rename carries them and a token retry spanning a
    compaction stays a no-op instead of re-appending (ADVICE r8).

    Crash safety — stage + swap with repair, the compaction pattern:
    the rewrite lands in a hidden ``.cells-tmp`` (invisible to parquet
    discovery), the live ``cells`` dir renames to ``.cells-aside``,
    tmp renames in, aside is deleted; entry repair restores a
    half-finished predecessor (aside present + cells missing →
    restore; stale tmp → delete), and every rename return value is
    checked (Hadoop signals failure by returning False).

    Streaming stores are refused — their batch-partitioned layout
    needs ``compact_neardup_index(partition_by=("cell",))``, which
    also honors ingest leases and replay safety.

    Scale shape: one scan + one partitionBy("cell") shuffle of the
    index rows (codes are M small ints/row; raw-vector IVF rows are
    corpus-row-sized — run it as the same class of job as the original
    build). Returns ``{"rows", "files_before", "files_after"}``.
    """
    jvm = spark._jvm
    cells = jvm.org.apache.hadoop.fs.Path(f"{path}/{data_sub}")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/.{data_sub}-tmp")
    aside = jvm.org.apache.hadoop.fs.Path(f"{path}/.{data_sub}-aside")
    fs = cells.getFileSystem(spark._jsc.hadoopConfiguration())

    def _rename(src, dst):
        if not fs.rename(src, dst):
            raise RuntimeError(
                f"compact_index_cells: rename {src} -> {dst} failed; "
                "store left as-is (re-run to repair)"
            )

    marker = _take_maint_marker(
        spark, path, "compact", timeout_s=maint_timeout_s
    )
    try:
        # repair a half-finished predecessor
        if fs.exists(aside):
            if not fs.exists(cells):
                _rename(aside, cells)
            else:
                fs.delete(aside, True)
        if fs.exists(tmp):
            fs.delete(tmp, True)
        ledgers = []
        for st in fs.listStatus(cells):
            name = st.getPath().getName()
            if name.startswith("ingest_batch="):
                raise ValueError(
                    f"compact_index_cells: {path}/{data_sub} is a "
                    "STREAMING store (ingest_batch partitions) — use "
                    f'compact_neardup_index(spark, "{path}/{data_sub}", '
                    f'id_col, partition_by=("{partition_col}",)) '
                    "instead; it honors ingest leases and replay safety."
                )
            if name.startswith("_DELTA-"):
                ledgers.append(name)

        def _count_files() -> int:
            n = 0
            it = fs.listFiles(cells, True)
            while it.hasNext():
                name = it.next().getPath().getName()
                if not name.startswith(("_", ".")):
                    n += 1
            return n

        files_before = _count_files()
        df = artifact_memo.read_layout(spark, path, data_sub)
        # apply live tombstones physically (r9): snapshot the dir list
        # FIRST — a delete landing mid-compaction is not folded in and
        # must survive; we clear exactly what we folded, after the swap
        tomb_names, tombs = _tombstone_frames(spark, path)
        if tombs is not None:
            tcol = tombs.columns[0]
            if tcol not in df.columns:
                raise ValueError(
                    f"compact_index_cells: tombstones at {path} target "
                    f"{tcol!r}, which the {data_sub} layout does not "
                    "carry."
                )
            df = df.join(broadcast(tombs), tcol, "left_anti")
        n_rows = df.count()
        # heartbeat between the expensive stages (ADVICE r8): the count
        # and the full rewrite can each exceed the staleness timeout at
        # 100 TB — keep the lock fresh so a concurrent append never
        # reaps it mid-run
        _refresh_maint_marker(spark, marker, "compact_index_cells")
        n_files = max(1, -(-n_rows // 1_000_000))
        (
            df.repartition(n_files, F.col(partition_col))
            .write.partitionBy(partition_col)
            .parquet(f"{path}/.{data_sub}-tmp")
        )
        # last heartbeat doubles as a lost-lock abort gate: if we were
        # reaped during the rewrite, raise HERE — before staging the
        # ledger and swapping — instead of destroying a new holder's
        # committed delta with the aside dir
        _refresh_maint_marker(spark, marker, "compact_index_cells")
        # carry the append commit-ledger through the swap atomically:
        # stage the markers into tmp BEFORE renaming it in, so no crash
        # point exists where the new layout is live without its ledger
        for name in ledgers:
            if not fs.createNewFile(
                jvm.org.apache.hadoop.fs.Path(
                    f"{path}/.{data_sub}-tmp/{name}"
                )
            ):
                raise RuntimeError(
                    f"compact_index_cells: could not stage ledger "
                    f"marker {name} into .{data_sub}-tmp — store left "
                    "as-is"
                )
        _rename(cells, aside)
        _rename(tmp, cells)
        fs.delete(aside, True)
        # clear ONLY the tombstones this rewrite folded in (snapshotted
        # above); a crash between the swap and here just means the
        # already-applied tombstones keep anti-joining absent ids —
        # harmless — until the next compaction clears them
        for name in tomb_names:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones/{name}"),
                True,
            )
        # hygiene: a delete_from_index that crashed between its staging
        # write and its rename leaves a hidden .del-* dir; prune the
        # stale ones (older than the maintenance timeout — a LIVE
        # delete's staging is always younger, so its rename never
        # loses its source; and if one somehow did, the rename returns
        # False and that delete retries cleanly under its token)
        tomb_root = jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
        if fs.exists(tomb_root):
            now_ms = _fs_now_ms(fs, jvm, f"{path}/tombstones")
            for st in fs.listStatus(tomb_root):
                name = st.getPath().getName()
                if (
                    name.startswith(".del-")
                    and (now_ms - st.getModificationTime()) / 1000.0
                    > maint_timeout_s
                ):
                    fs.delete(st.getPath(), True)
        return {
            "rows": n_rows,
            "files_before": files_before,
            "files_after": _count_files(),
            "tombstones_applied": len(tomb_names),
        }
    finally:
        fs.delete(marker, False)


def _fs_now_ms(fs, jvm, dir_path: str) -> int:
    """Read "now" from the FILESYSTEM's clock — touch a probe file and
    take its mtime — so staleness comparisons against other files'
    mtimes are skew-free on HDFS/object stores whose server clock may
    differ from the driver's (ADVICE r7: a wall-clock `time.time()`
    baseline can mis-age a fresh lease by exactly the skew)."""
    probe = jvm.org.apache.hadoop.fs.Path(
        f"{dir_path}/.clock-probe-{os.getpid()}"
    )
    fs.create(probe, True).close()
    try:
        return int(fs.getFileStatus(probe).getModificationTime())
    finally:
        fs.delete(probe, False)


_MAINT_LOCK_NAME = "_MAINT-LOCK"


def _take_maint_marker(
    spark, index_root: str, op: str, timeout_s: float = _MAINT_TIMEOUT_S
):
    """Acquire the static-index maintenance mutex: ONE fixed-name lock
    file (``_MAINT-LOCK``) in the INDEX ROOT (not inside ``cells`` — it
    must observe the compactor's cells-dir swap, not travel with it),
    claimed with the atomic ``fs.createNewFile`` — exactly one of two
    racing takers gets ``true``, so mutual exclusion holds by
    construction (ADVICE r8: the previous unique-name check → create →
    re-check protocol had a window where BOTH takers could see
    themselves as the lexicographic minimum).

    Staleness (crashed holders): a lock older than ``timeout_s`` per
    the FILESYSTEM clock (:func:`_fs_now_ms`) is reclaimed by renaming
    it aside — rename is atomic, so of N takers racing to reap the same
    stale lock exactly one wins (deleting in place would let a slow
    second taker delete the winner's FRESH lock — the ABA hazard).
    Live holders whose run may exceed ``timeout_s`` keep the lock
    fresh with :func:`_refresh_maint_marker` between expensive steps,
    so ``timeout_s`` bounds the heartbeat GAP, not the run length.
    Returns the lock Path for the caller's ``finally`` delete.

    This converts the r6/r7 "run maintenance serially" operational
    assumption into a loud error: an ``append_to_*_index`` racing
    :func:`compact_index_cells` would otherwise have its committed
    delta destroyed with the compactor's aside dir."""
    import uuid as _uuid

    jvm = spark._jvm
    root_p = jvm.org.apache.hadoop.fs.Path(index_root)
    fs = root_p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(root_p)

    now_ms = _fs_now_ms(fs, jvm, index_root)
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        # any _MAINT-* entry blocks: the fixed-name lock, plus legacy
        # unique-named markers a pre-r9 holder (or a test) may have left
        if not name.startswith("_MAINT-"):
            continue
        if (now_ms - st.getModificationTime()) / 1000.0 < timeout_s:
            raise RuntimeError(
                f"{op}: {index_root} has maintenance in flight "
                f"({name}, fresher than {timeout_s}s) — static-index "
                "maintenance ops are mutually exclusive; wait for it "
                "to finish (or age out if its holder crashed, or "
                "heartbeat-refresh if it is long-running) and re-run."
            )
        # stale: reclaim ATOMICALLY via rename-aside; only one of N
        # concurrent reapers wins the rename (the others raise)
        aside = jvm.org.apache.hadoop.fs.Path(
            f"{index_root}/.maint-reaped-{_uuid.uuid4().hex[:8]}"
        )
        if not fs.rename(st.getPath(), aside):
            raise RuntimeError(
                f"{op}: lost the race to reap the stale maintenance "
                f"lock {name} on {index_root} — another maintenance op "
                "is acquiring; re-run once it completes."
            )
        fs.delete(aside, False)
    lock_p = jvm.org.apache.hadoop.fs.Path(
        f"{index_root}/{_MAINT_LOCK_NAME}"
    )
    if not fs.createNewFile(lock_p):
        raise RuntimeError(
            f"{op}: lost the maintenance-lock race on {index_root} "
            "(another op created _MAINT-LOCK first) — re-run once it "
            "completes."
        )
    return lock_p


def _refresh_maint_marker(spark, marker_path, op: str) -> None:
    """Heartbeat for a held maintenance lock (ADVICE r8 medium #2): a
    holder whose run exceeds ``timeout_s`` — plausible for a full-cells
    compaction rewrite at 100 TB — would otherwise have its lock reaped
    as "crashed" by a concurrent append, whose committed delta the
    still-running compactor's swap then destroys. Holders call this
    between expensive steps (after the big count, after the repartition
    write, before the swap); the overwrite-create refreshes the lock's
    mtime on the FILESYSTEM clock, the same clock staleness is measured
    against. If the lock is GONE — we were paused past ``timeout_s``
    between heartbeats and reaped — abort loudly BEFORE any destructive
    step rather than fight the new holder."""
    jvm = spark._jvm
    fs = marker_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(marker_path):
        raise RuntimeError(
            f"{op}: the maintenance lock {marker_path} disappeared "
            "mid-run (reaped as stale after a heartbeat gap exceeded "
            "the timeout?) — aborting before any destructive step; "
            "the store is unchanged by this op since the last "
            "completed stage, re-run to continue."
        )
    fs.create(marker_path, True).close()


def _idempotent_delta_write(
    delta: DataFrame, cells_path: str, delta_token: str,
    maint_timeout_s: float = _MAINT_TIMEOUT_S,
    partition_col: str = "cell",
) -> None:
    """Exactly-once append of a partition-keyed delta frame into an
    existing ``<partition_col>=<i>`` parquet layout (``cell=`` for the
    vector catalogs, ``shard=`` for the sparse posting-list catalog),
    keyed by a caller-supplied ``delta_token`` (VERDICT r6 "What's wrong" #1: a plain
    ``mode("append")`` re-run doubles the delta's code rows and
    silently distorts every subsequent probe plus the imbalance
    trigger).

    Mechanism — ledger check, then stage + deterministic rename (the
    :func:`~vector_io_spark.streaming.incremental.compact_neardup_index`
    pattern), all under the maintenance mutex:

    0. the whole run holds the fixed-name ``_MAINT-LOCK`` mutex
       (:func:`_take_maint_marker`; heartbeat-refreshed after the
       staging write) — a concurrent :func:`compact_index_cells`
       would otherwise destroy this delta's committed files with its
       aside dir;
    1. if the ``_DELTA-<token>`` LEDGER marker exists at the cells
       root, the token was fully committed by a previous run —
       **no-op** (its files may since have been folded into anonymous
       compacted files, so "no delta-<token> files present" proves
       nothing; ADVICE r8: without the ledger, a retry spanning a
       compaction re-appends the whole delta). This also means a
       committed token's rows are never transiently removed by a
       retry — probes racing a retry see a complete index throughout;
    2. the encoded delta is written (``mode("overwrite")``) to a hidden
       ``.delta-<token>`` staging dir — dot-prefixed, so INVISIBLE to
       parquet discovery and safe to overwrite on any retry;
    3. every previously-committed file named ``delta-<token>-*`` is
       deleted from the resident cell dirs (a CRASHED earlier attempt
       may have moved some files without reaching the ledger write —
       re-clear, never double; file COUNTS may differ between runs if
       the input partitioning differed);
    4. staged files rename into the resident cells under DETERMINISTIC
       names ``delta-<token>-<j>.parquet`` (rename checked — Hadoop
       signals failure by returning False);
    5. the ``_DELTA-<token>`` ledger marker is written LAST. It lives
       inside the cells dir (underscore-prefixed — invisible to
       parquet discovery), so it dies with the layout on a full
       rebuild and is carried through compaction by the compactor's
       atomic swap (staged into ``.cells-tmp`` pre-swap).

    Crash at any point converges on re-run: staging is overwrite,
    step 3 re-clears partial moves, step 4 re-moves everything, and
    only the post-ledger state is a no-op.

    Scale shape: one partitionBy shuffle of the DELTA only; renames are
    metadata ops; nothing resident is read or rewritten.
    """
    import re as _re

    if not delta_token or not _re.fullmatch(r"[A-Za-z0-9._-]+", delta_token):
        raise ValueError(
            "append: delta_token must be a non-empty "
            "[A-Za-z0-9._-]+ string uniquely identifying this delta "
            "batch (it keys the exactly-once retry semantics); got "
            f"{delta_token!r}"
        )
    spark = delta.sparkSession
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(cells_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def p(sub: str):
        return jvm.org.apache.hadoop.fs.Path(f"{cells_path}/{sub}")

    index_root = cells_path.rsplit("/", 1)[0]
    marker = _take_maint_marker(
        spark, index_root, "append", timeout_s=maint_timeout_s
    )
    try:
        ledger = p(f"_DELTA-{delta_token}")
        if fs.exists(ledger):
            return  # committed once already — retry is a no-op
        # refuse appends that intersect live tombstones (r9): the
        # tombstone anti-join would silently hide the new rows from
        # every probe; compact first (applies + clears tombstones),
        # then re-append — re-insert-after-delete is compaction-ordered
        _, tombs = _tombstone_frames(spark, index_root)
        if tombs is not None:
            tcol = tombs.columns[0]
            if tcol not in delta.columns:
                raise ValueError(
                    f"append: tombstones at {index_root} target "
                    f"{tcol!r}, which the delta does not carry."
                )
            if delta.join(broadcast(tombs), tcol, "left_semi").limit(
                1
            ).count():
                raise ValueError(
                    f"append: the delta contains rows whose {tcol!r} is "
                    f"under a live tombstone at {index_root} — probes "
                    "would silently hide them. Run compact_index_cells "
                    "first (applies and clears tombstones), then "
                    "re-append."
                )
        staging = p(f".delta-{delta_token}")
        delta.write.mode("overwrite").partitionBy(partition_col).parquet(
            f"{cells_path}/.delta-{delta_token}"
        )
        # heartbeat after the one expensive step (the delta write) and
        # before the resident-dir renames: a big delta can out-age the
        # staleness timeout, and losing the lock mid-rename would race
        # a compactor's swap (ADVICE r8)
        _refresh_maint_marker(spark, marker, "append")
        # clear files a CRASHED pre-ledger attempt moved in (retry-repair
        # semantics). EXACT-name match, not a prefix test: tokens can be
        # dash-prefixes of each other ("2026-08" vs "2026-08-15"), and
        # startswith("delta-a-") would also match "delta-a-b-00000.parquet"
        # — silently deleting a DIFFERENT delta's committed rows (r7
        # review finding, repro'd).
        prefix = f"delta-{delta_token}-"
        mine = _re.compile(
            rf"delta-{_re.escape(delta_token)}-\d{{5}}\.parquet"
        )
        part_prefix = f"{partition_col}="
        for st in fs.listStatus(root):
            if not (
                st.isDirectory()
                and st.getPath().getName().startswith(part_prefix)
            ):
                continue
            for f_st in fs.listStatus(st.getPath()):
                if mine.fullmatch(f_st.getPath().getName()):
                    fs.delete(f_st.getPath(), False)
        # move staged files in under deterministic names
        for st in fs.listStatus(staging):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(part_prefix)):
                continue
            dest_dir = p(name)
            fs.mkdirs(dest_dir)
            files = sorted(
                f_st.getPath().getName()
                for f_st in fs.listStatus(st.getPath())
                if not f_st.getPath().getName().startswith(("_", "."))
            )
            for j, fname in enumerate(files):
                src = jvm.org.apache.hadoop.fs.Path(
                    f"{cells_path}/.delta-{delta_token}/{name}/{fname}"
                )
                dst = jvm.org.apache.hadoop.fs.Path(
                    f"{cells_path}/{name}/{prefix}{j:05d}.parquet"
                )
                if not fs.rename(src, dst):
                    raise RuntimeError(
                        f"append: rename {src} -> {dst} failed; staging "
                        "left in place (re-run with the same delta_token "
                        "to repair)"
                    )
        fs.delete(staging, True)
        if not fs.createNewFile(ledger):
            raise RuntimeError(
                f"append: could not write ledger marker {ledger} — "
                "re-run with the same delta_token (the commit itself "
                "is complete; only retry-no-op detection is at stake)"
            )
    finally:
        fs.delete(marker, False)


def append_to_ivfpq_index(
    new_rows: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    delta_token: str | None = None,
    maint_timeout_s: float = _MAINT_TIMEOUT_S,
) -> None:
    """Incremental IVF+PQ maintenance: encode a delta batch against the
    PERSISTED centroids + codebooks (no retrain) and append the codes
    into the cell-partitioned layout. One shuffle-free Arrow pass over
    the new rows + one partitionBy write of the delta; probes see old
    and new rows uniformly, partition pruning intact.

    ``delta_token`` (required) keys retry idempotency: re-running the
    same token replaces that delta's rows instead of doubling them —
    see :func:`_idempotent_delta_write`. Use a stable batch identity
    (ingest date, job id), never a random value.

    Metadata carryover (r7): if the index was built with
    ``metadata_cols``, the delta MUST carry the same columns — they
    are detected from the store schema and included automatically;
    missing ones raise (silently appending NULL metadata would make
    filtered probes exclude every delta row).

    Same trade as :func:`append_to_ivf_index`: appended data drifts
    cell means AND residual distributions, degrading quantization
    fidelity over time — monitor with :func:`ivfpq_index_stats` and
    rebuild past budget via :func:`rebuild_ivfpq_if_drifted` (FAISS
    add-vs-retrain guidance)."""
    spark = new_rows.sparkSession
    cents, cb = _load_ivfpq_artifacts(spark, path)
    meta_cols = _require_index_metadata(
        spark, path, new_rows, corpus_id, corpus_vec,
        "append_to_ivfpq_index", "appending",
    )
    enc = _ivfpq_encode_udf(cents, cb)
    delta = new_rows.select(
        F.col(corpus_id), *meta_cols, enc(F.col(corpus_vec)).alias("__cc")
    ).select(
        corpus_id,
        *meta_cols,
        F.col("__cc.cell").alias("cell"),
        F.col("__cc.code").alias("code"),
    )
    _idempotent_delta_write(
        delta, f"{path}/cells", delta_token, maint_timeout_s=maint_timeout_s
    )

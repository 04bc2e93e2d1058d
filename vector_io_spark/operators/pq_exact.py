"""Engine-exact distributed product-quantization training.

The PQ/IVFPQ scale operators (operators/similarity.py) train codebooks
with numpy Lloyd iterations on a bounded driver sample — fast and
FAISS-shaped, but float-accumulation order makes the trained centroids
engine-specific, so their queries could only ever get rows-only
correctness checks. This module is the ORACLE-GRADE twin: k-means
training and encoding built entirely from exact fixed-point arithmetic
(quantized int coordinates, integer squared distances, one exact-sum
mean per update) with deterministic md5-seeded initialization and
deterministic tie-breaks — every intermediate is bit-identical between
Spark and an unrolled-CTE DuckDB replay generated by :func:`pq_exact_sql`.
That upgrades the PQ family from "rows-only" to hash-exact CORRECTNESS
rows: codebooks AND codes are verified value-by-value against SQL.

Scale shape: centroids live in a broadcast-sized table (m·K·sub_dim
rows); each Lloyd assignment is a broadcast join + two map-combined
shuffles (argmin rows = N·m, update rows combine to tasks·m·K·sub_dim);
nothing corpus-proportional ever reaches the driver. Training on the
full table is exact; at 100 TB bound the training input with a
deterministic filter (e.g. ``pmod(hash(id), p) = 0``) exactly like the
sampled path — the SQL replays the same filter.

Reference context: vector-io has no ANN indexing at all (SURVEY §2.4 —
the similarity family is the north-star extension); the PQ design
follows the published FAISS IndexPQ structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from vector_io_spark import artifact_memo
from vector_io_spark.session import local_rows_df
from pyspark.sql import functions as F


def quantized_subvectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 8,
    scale: int = 10_000,
) -> DataFrame:
    """(id, s, j, xq): subspace index s, dim-within-subspace j, and the
    coordinate quantized to exact fixed-point BIGINT — the shared base
    relation of training, encoding, and the SQL oracle."""
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "x"))
        .select(
            id_col,
            (F.col("pos") / sub_dim).cast("long").alias("s"),
            (F.col("pos") % sub_dim).cast("long").alias("j"),
            F.round(F.col("x").cast("double") * scale).cast("long").alias("xq"),
        )
    )


def _seed_centroids(sub: DataFrame, id_col: str, k: int) -> DataFrame:
    """Deterministic init: the K ids ranked first by (md5(id), id) seed
    the codebook of EVERY subspace. The global rank window carries a
    literal rk <= K filter, so WindowGroupLimit truncates map-side —
    never a full single-partition sort."""
    from pyspark.sql import Window

    ids = sub.select(id_col).distinct()
    w = Window.orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
    seeds = (
        ids.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .select(id_col, (F.col("__r") - 1).cast("long").alias("c"))
    )
    return sub.join(F.broadcast(seeds), id_col).select(
        "s", "c", "j", F.col("xq").alias("cq")
    )


def _assign(sub: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """Nearest centroid per (id, subspace): integer squared distance,
    ties to the smallest code. Centroids broadcast; both aggregations
    map-combine before their shuffles."""
    d2 = (F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))
    dist = (
        sub.join(F.broadcast(cent), ["s", "j"])
        .groupBy(id_col, "s", "c")
        .agg(F.sum(d2).alias("dist"))
    )
    return dist.groupBy(id_col, "s").agg(
        F.min_by("c", F.struct("dist", "c")).alias("c")
    )


def _update(
    sub: DataFrame, assign: DataFrame, cent: DataFrame, id_col: str
) -> DataFrame:
    """Lloyd update: exact integer mean (sum < 2^53 divides exactly the
    same in any engine, round half-away-from-zero matches Spark and
    DuckDB); empty clusters keep their previous centroid."""
    means = (
        sub.join(assign, [id_col, "s"])
        .groupBy("s", "c", "j")
        .agg(F.round(F.avg("xq")).cast("long").alias("mq"))
    )
    # means is m*K*sub_dim rows but DERIVED from a corpus aggregate, so
    # size estimation won't broadcast it on its own — force it, else the
    # tiny centroid-update join plans as a sort-merge
    return (
        cent.join(F.broadcast(means), ["s", "c", "j"], "left")
        .select("s", "c", "j", F.coalesce("mq", "cq").alias("cq"))
    )


def _packed_quantized(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(id, __xq): the vector quantized to exact fixed-point BIGINT,
    packed as ONE array row — the same per-coordinate values as
    :func:`quantized_subvectors` (round/cast stay in Catalyst, so the
    fixed-point contract is byte-identical) without the ×dim row
    explosion that made every training aggregate shuffle dim× the
    corpus row count."""
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("long"),
        ).alias("__xq"),
    )


def _lloyd_partials_kernel(cent, num_subspaces: int, sub_dim: int):
    """mapInPandas kernel: one pass over the packed corpus computes the
    nearest-centroid assignment (integer squared distance, ties to the
    smallest code — ``argmin`` returns the first minimum, identical to
    ``min_by(struct(dist, c))``) AND the per-(s, c, j) partial sums the
    Lloyd update needs. Emits only M·K·sub_dim partial rows per task —
    the corpus never reaches a shuffle."""
    import numpy as np
    import pandas as pd

    kk = cent.shape[1]

    def fn(batches):
        sums = np.zeros((num_subspaces, kk, sub_dim), dtype=np.int64)
        cnts = np.zeros((num_subspaces, kk), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["__xq"].to_numpy()).astype(np.int64)
            xr = x.reshape(len(x), num_subspaces, sub_dim)
            for s in range(num_subspaces):
                d = xr[:, s, None, :] - cent[s][None, :, :]
                code = (d * d).sum(axis=2).argmin(axis=1)
                np.add.at(sums[s], code, xr[:, s, :])
                np.add.at(cnts[s], code, 1)
        s_idx, c_idx, j_idx = np.indices(sums.shape)
        yield pd.DataFrame(
            {
                "s": s_idx.ravel(),
                "c": c_idx.ravel(),
                "j": j_idx.ravel(),
                "sxq": sums.ravel(),
                "n": np.repeat(cnts.ravel(), sub_dim),
            }
        )

    return fn


def _assign_codes_udf(cent, num_subspaces: int, sub_dim: int):
    """pandas_udf: packed quantized vector -> array of per-subspace
    codes (same integer argmin + smallest-code tie-break as
    :func:`_assign`)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    def fn(col):
        if not len(col):
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.int64)
        xr = x.reshape(len(x), num_subspaces, sub_dim)
        codes = np.empty((len(x), num_subspaces), dtype=np.int64)
        for s in range(num_subspaces):
            d = xr[:, s, None, :] - cent[s][None, :, :]
            codes[:, s] = (d * d).sum(axis=2).argmin(axis=1)
        return pd.Series(list(codes))

    return pandas_udf(fn, ArrayType(LongType()))


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    codebook_size: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Returns (codes, codebook): codes = (id, s, code) — the final
    assignment against the trained codebook; codebook = (s, c, j, cq)
    after ``iters`` Lloyd updates. Deterministic and engine-exact; the
    DuckDB replay is :func:`pq_exact_sql` with the same parameters.

    r12 shape: the codebook is O(K·dim) integers — bounded by
    parameters, never by the corpus (the same driver-state trade the
    IVFPQ trainer's bounded sample makes) — so each Lloyd round is ONE
    Arrow pass over the packed corpus emitting M·K·sub_dim partial-sum
    rows per task plus a KB-sized combine, instead of the exploded
    (id, s, j, xq) relation shuffling corpus×K rows through two
    aggregates per assign. Quantization and every rounding stay in
    Catalyst expressions (``_packed_quantized``, the ``round(sum/n)``
    combine), so the fixed-point math is bit-identical to the previous
    formulation and to the SQL replay."""
    import numpy as np
    from pyspark.sql import Window

    sub_dim = dim // num_subspaces
    spark = df.sparkSession
    pk = _packed_quantized(df, id_col, vec_col, scale).persist()

    # deterministic seeds: the K ids ranked first by (md5(id), id) —
    # same rank order as _seed_centroids. Ranking the packed relation
    # directly (ids are unique per row in every caller — vec_id is the
    # corpus primary key, exactly what the SQL oracle's seed CTE
    # assumes) folds the old distinct-ids job AND the follow-up
    # seed-vector scan into ONE job: the literal rk <= K filter lets
    # WindowGroupLimit truncate map-side, so only K rows per map task
    # (with their packed vectors) reach the final rank — no id-wide
    # distinct shuffle, and only K rows reach the driver.
    w = Window.orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    seed_rows = (
        pk.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= codebook_size)
        .collect()
    )
    codes_schema = f"`{id_col}` {df.schema[id_col].dataType.simpleString()}, s long, code long"
    if not seed_rows:
        codes = spark.createDataFrame([], codes_schema)
        cent_df = spark.createDataFrame([], "s long, c long, j long, cq long")
        pk.unpersist()
        return codes, cent_df
    seed_c = {r[0]: r["__r"] - 1 for r in seed_rows}
    kk = len(seed_c)
    cent = np.empty((num_subspaces, kk, sub_dim), dtype=np.int64)
    for r in seed_rows:
        cent[:, seed_c[r[0]], :] = np.asarray(r["__xq"], dtype=np.int64).reshape(
            num_subspaces, sub_dim
        )

    for _ in range(iters):
        part = pk.select("__xq").mapInPandas(
            _lloyd_partials_kernel(cent, num_subspaces, sub_dim),
            schema="s long, c long, j long, sxq long, n long",
        )
        # round(sum/n) in Catalyst: sum(long)/sum(long) is the same
        # double avg(xq) produced (partial sums exact below 2^53), and
        # F.round keeps Spark's half-up semantics — bit-identical to
        # the previous F.round(F.avg(...)) update
        means = (
            part.groupBy("s", "c", "j")
            .agg(F.sum("sxq").alias("__ts"), F.sum("n").alias("__tn"))
            .where(F.col("__tn") > 0)
            .select(
                "s", "c", "j",
                F.round(F.col("__ts") / F.col("__tn")).cast("long").alias("mq"),
            )
            .collect()
        )
        # empty clusters keep their previous centroid (LEFT JOIN
        # coalesce semantics of _update)
        for r in means:
            cent[r["s"], r["c"], r["j"]] = r["mq"]

    enc = _assign_codes_udf(cent, num_subspaces, sub_dim)
    codes = (
        pk.select(F.col(id_col), F.posexplode(enc(F.col("__xq"))))
        .select(id_col, F.col("pos").cast("long").alias("s"), F.col("col").alias("code"))
    )
    codes = codes.localCheckpoint(eager=True)
    pk.unpersist()
    cent_rows = [
        (int(s), int(c), int(j), int(cent[s, c, j]))
        for s in range(num_subspaces)
        for c in range(kk)
        for j in range(sub_dim)
    ]
    cent_df = local_rows_df(
        spark, cent_rows, "s long, c long, j long, cq long"
    )
    return codes, cent_df


def pq_exact_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    codebook_size: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
    output: str = "codes",
) -> str:
    """DuckDB replay of :func:`pq_train` — Lloyd unrolled into CTE
    layers (assign_t / cent_t), bit-identical at every stage. ``output``
    selects ``codes`` (id, s, code) or ``codebook`` (s, c, j, cq)."""
    sub_dim = dim // num_subspaces
    k = codebook_size
    parts = [
        f"""
    sub AS (
        SELECT {id_col},
               CAST((t.i - 1) // {sub_dim} AS BIGINT) AS s,
               CAST((t.i - 1) % {sub_dim} AS BIGINT) AS j,
               CAST(round(CAST({vec_col}[t.i] AS DOUBLE) * {scale}) AS BIGINT)
                   AS xq
        FROM {table},
             LATERAL (SELECT unnest(range(1, len({vec_col}) + 1)) AS i) t
        WHERE {vec_col} IS NOT NULL
    ),
    seeds AS (
        SELECT {id_col}, CAST(r - 1 AS BIGINT) AS c
        FROM (
            SELECT {id_col},
                   row_number() OVER (
                       ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC,
                                {id_col} ASC) AS r
            FROM (SELECT DISTINCT {id_col} FROM {table}
                  WHERE {vec_col} IS NOT NULL)
        ) WHERE r <= {k}
    ),
    cent0 AS (
        SELECT s, c, j, xq AS cq FROM sub JOIN seeds USING ({id_col})
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    assign{t} AS (
        SELECT {id_col}, s, c FROM (
            SELECT a.{id_col}, a.s, b.c,
                   row_number() OVER (
                       PARTITION BY a.{id_col}, a.s
                       ORDER BY sum((a.xq - b.cq) * (a.xq - b.cq)) ASC,
                                b.c ASC) AS rk
            FROM sub a JOIN cent{t - 1} b ON a.s = b.s AND a.j = b.j
            GROUP BY a.{id_col}, a.s, b.c
        ) WHERE rk = 1
    ),
    cent{t} AS (
        SELECT p.s, p.c, p.j, coalesce(m.mq, p.cq) AS cq
        FROM cent{t - 1} p LEFT JOIN (
            SELECT sub.s, assign{t}.c, sub.j,
                   CAST(round(avg(sub.xq)) AS BIGINT) AS mq
            FROM sub JOIN assign{t}
                 ON sub.{id_col} = assign{t}.{id_col} AND sub.s = assign{t}.s
            GROUP BY sub.s, assign{t}.c, sub.j
        ) m ON p.s = m.s AND p.c = m.c AND p.j = m.j
    )""")
    final = iters + 1
    parts.append(f"""
    assign{final} AS (
        SELECT {id_col}, s, c FROM (
            SELECT a.{id_col}, a.s, b.c,
                   row_number() OVER (
                       PARTITION BY a.{id_col}, a.s
                       ORDER BY sum((a.xq - b.cq) * (a.xq - b.cq)) ASC,
                                b.c ASC) AS rk
            FROM sub a JOIN cent{iters} b ON a.s = b.s AND a.j = b.j
            GROUP BY a.{id_col}, a.s, b.c
        ) WHERE rk = 1
    )""")
    if output == "codes":
        select = f"SELECT {id_col}, s, c AS code FROM assign{final}"
    elif output == "codebook":
        select = f"SELECT s, c, j, cq FROM cent{iters}"
    elif output == "with_block":
        # the bare WITH chain, for composition — pair with
        # :func:`pq_exact_cte_names` instead of hardcoding CTE names
        return "WITH " + ",".join(parts)
    else:
        raise ValueError(f"unknown output {output!r}")
    return "WITH " + ",".join(parts) + "\n    " + select


def pq_exact_cte_names(iters: int = 2) -> dict[str, str]:
    """The public CTE names of :func:`pq_exact_sql`'s generated chain —
    the composition contract for SQL built on ``output='with_block'``
    (quantized relation, trained codebook, final assignment). Keeping
    them here means a rename/reshape of the generated SQL breaks its
    composers at ONE definition site instead of via stale string
    surgery in other modules."""
    return {
        "sub": "sub",
        "codebook": f"cent{iters}",
        "assign": f"assign{iters + 1}",
    }



def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    num_subspaces: int = 8,
    codebook_size: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over the exact-trained PQ index: per
    (query, subspace, codeword) partial distances form a broadcast LUT
    (|queries|·m·K rows); the corpus is scanned as CODES ONLY (m small
    ints per vector, the 100 TB PQ payoff) and ADC distance is one
    broadcast join + an integer sum. All arithmetic fixed-point — the
    ranking is bit-identical to the SQL replay in :func:`pq_adc_sql`."""
    codes, cent = pq_train(
        df, id_col, vec_col, num_subspaces, codebook_size, iters, scale, dim
    )
    return _pq_adc_rank_exact(
        codes, cent, queries, id_col, vec_col, query_id_col, k,
        num_subspaces, scale, dim,
    )


def _pq_adc_rank_exact(
    codes: DataFrame,
    cent: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
    num_subspaces: int,
    scale: int,
    dim: int,
) -> DataFrame:
    """ADC scoring + ranking over an already-trained exact PQ index —
    the post-training half of :func:`pq_adc_topk`, shared with the
    persisted-catalog path (:func:`pq_adc_topk_from_index`) so ad-hoc
    and from-disk rankings are the same plan over the same integers."""
    from pyspark.sql import Window

    sub_dim = dim // num_subspaces
    qsub = quantized_subvectors(
        queries.select(F.col(query_id_col).alias("__qid"), vec_col),
        "__qid", vec_col, sub_dim, scale,
    )
    d2 = (F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))
    lut = (
        qsub.join(F.broadcast(cent), ["s", "j"])
        .groupBy("__qid", "s", "c")
        .agg(F.sum(d2).alias("pd"))
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["c"]),
        )
        .groupBy("__qid", id_col)
        .agg(F.sum("pd").alias("dist"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            "dist",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def ivf_exact_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    num_cells: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """IVF cell-probe ANN with a FULL hash-exact oracle: the coarse
    quantizer is the fixed-point k-means with ONE subspace spanning all
    ``dim`` dims (num_subspaces=1, K=num_cells), so cell assignment is
    engine-exact; each query probes its ``nprobe`` nearest cells and
    ranks candidates by EXACT integer squared distance. The SQL replay
    (:func:`ivf_exact_sql`) retrains the quantizer, re-probes, and must
    produce the identical ranking — upgrading the IVF family from
    rows-only to hash-verified.

    Scale shape: corpus shuffles only for training aggregates and the
    final per-query top-k (WindowGroupLimit truncates map-side);
    centroids and the query↔cell probe table broadcast; the candidate
    join touches ~nprobe/num_cells of the corpus — the IVF payoff.
    Candidate distances are computed on the PACKED quantized vector
    (one ``zip_with`` integer fold per (query, id) pair, r12): the
    exploded (id, s, j, xq) relation multiplied every candidate row
    ×dim through the join and paid an aggregate exchange to sum it
    back — integer squared distance is order-independent, so the packed
    fold is bit-identical to the exploded ``sum``."""
    from pyspark.sql import Window

    codes, cent = pq_train(
        df, id_col, vec_col, num_subspaces=1, codebook_size=num_cells,
        iters=iters, scale=scale, dim=dim,
    )
    # cells: (id, cell); full-dim quantized vectors for exact distances
    cells = codes.select(id_col, F.col("code").alias("cell"))
    qsub = quantized_subvectors(
        queries.select(F.col(query_id_col).alias("__qid"), vec_col),
        "__qid", vec_col, dim, scale,
    )
    d2 = (F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))
    qcell_dist = (
        qsub.join(F.broadcast(cent), ["s", "j"])
        .groupBy("__qid", "c")
        .agg(F.sum(d2).alias("cdist"))
    )
    wprobe = Window.partitionBy("__qid").orderBy(
        F.col("cdist").asc(), F.col("c").asc()
    )
    probes = (
        qcell_dist.withColumn("pr", F.row_number().over(wprobe))
        .where(F.col("pr") <= nprobe)
        .select("__qid", F.col("c").alias("cell"))
    )
    # candidates: corpus rows in probed cells, exact integer distance
    # over the packed vectors — one row per (query, id) pair end to
    # end; nothing ×dim is ever generated and no aggregate exchange
    # is needed to sum coordinates back
    cand = cells.join(F.broadcast(probes), "cell")
    pkc = _packed_quantized(df, id_col, vec_col, scale)
    qpk = _packed_quantized(
        queries.select(F.col(query_id_col).alias("__qid"), vec_col),
        "__qid", vec_col, scale,
    ).withColumnRenamed("__xq", "__qv")
    dist = (
        pkc.join(cand, id_col)
        .join(F.broadcast(qpk), "__qid")
        .select(
            "__qid",
            id_col,
            F.aggregate(
                F.zip_with(
                    "__xq", "__qv", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    wk = Window.partitionBy("__qid").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        dist.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            "dist",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def ivf_exact_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_where: str = "vec_id < 16",
    k: int = 10,
    num_cells: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`ivf_exact_topk`: retrain the coarse
    quantizer, re-assign cells, re-probe, re-rank — identical output."""
    with_block = pq_exact_sql(
        table, id_col, vec_col, num_subspaces=1, codebook_size=num_cells,
        iters=iters, scale=scale, dim=dim, output="with_block",
    )
    final = iters + 1
    return f"""{with_block},
    qsub AS (
        SELECT {id_col} AS qid, s, j, xq FROM sub
        WHERE {id_col} IN (SELECT {id_col} FROM {table} WHERE {queries_where})
    ),
    probes AS (
        SELECT qid, c AS cell FROM (
            SELECT q.qid, b.c,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY sum((q.xq - b.cq) * (q.xq - b.cq)) ASC,
                                b.c ASC) AS pr
            FROM qsub q JOIN cent{iters} b ON q.s = b.s AND q.j = b.j
            GROUP BY q.qid, b.c
        ) WHERE pr <= {nprobe}
    ),
    cand AS (
        SELECT p.qid, a.{id_col}
        FROM assign{final} a JOIN probes p ON a.c = p.cell
    ),
    dist AS (
        SELECT c.qid, c.{id_col},
               CAST(sum((s.xq - q.xq) * (s.xq - q.xq)) AS BIGINT) AS dist
        FROM cand c
        JOIN sub s ON s.{id_col} = c.{id_col}
        JOIN qsub q ON q.qid = c.qid AND q.j = s.j
        GROUP BY c.qid, c.{id_col}
    )
    SELECT qid AS query_id, {id_col}, dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, {id_col}, dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist ASC, {id_col} ASC) AS rk
        FROM dist
    ) WHERE rk <= {k}"""


def pq_adc_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_where: str = "vec_id < 16",
    k: int = 10,
    num_subspaces: int = 8,
    codebook_size: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`pq_adc_topk`: retrains the codebook from
    scratch (same deterministic procedure), re-encodes, rebuilds the
    LUTs, and must produce the identical top-k ranking."""
    with_block = pq_exact_sql(
        table, id_col, vec_col, num_subspaces, codebook_size, iters,
        scale, dim, output="with_block",
    )
    final = iters + 1
    return f"""{with_block},
    qsub AS (
        SELECT {id_col} AS qid, s, j, xq FROM sub
        WHERE {id_col} IN (SELECT {id_col} FROM {table} WHERE {queries_where})
    ),
    lut AS (
        SELECT q.qid, c.s, c.c,
               CAST(sum((q.xq - c.cq) * (q.xq - c.cq)) AS BIGINT) AS pd
        FROM qsub q JOIN cent{iters} c ON q.s = c.s AND q.j = c.j
        GROUP BY q.qid, c.s, c.c
    ),
    adc AS (
        SELECT l.qid, a.{id_col}, CAST(sum(l.pd) AS BIGINT) AS dist
        FROM assign{final} a JOIN lut l ON a.s = l.s AND a.c = l.c
        GROUP BY l.qid, a.{id_col}
    )
    SELECT qid AS query_id, {id_col}, dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT qid, {id_col}, dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist ASC, {id_col} ASC) AS rk
        FROM adc
    ) WHERE rk <= {k}"""


def ivf_cell_balance_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> str:
    """DuckDB replay of the IVF cell-balance report: retrain the coarse
    quantizer (same unrolled fixed-point CTEs as :func:`ivf_exact_sql`)
    and roll up the final assignment into per-cell sizes + the global
    imbalance factor."""
    with_block = pq_exact_sql(
        table, id_col, vec_col, num_subspaces=1, codebook_size=num_cells,
        iters=iters, scale=scale, dim=dim, output="with_block",
    )
    final = iters + 1
    return f"""{with_block},
    sizes AS (SELECT c AS cell, count(*) AS n FROM assign{final} GROUP BY c),
    tot AS (SELECT sum(n) AS t, count(*) AS nc, max(n) AS mx FROM sizes)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n AS BIGINT) AS n_vectors,
           round(n / (1e0 * t), 6) AS share,
           round(mx * nc / (1e0 * t), 4) AS imbalance_factor
    FROM sizes, tot
    """


def ivf_cell_balance(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """IVF index-health audit: per-cell occupancy of the (hash-exact)
    coarse quantizer plus the global imbalance factor max_cell ×
    num_cells / total — 1.0 is perfectly balanced; a high factor means
    probing the hot cell scans a corpus-sized candidate set and nprobe
    latency is skew-bound, the IVF analogue of the LSH
    bucket-occupancy report (run BEFORE building the index at 100 TB;
    fix = more cells, better-spread training sample, or spilling the
    hot cell's residuals to PQ). Scale shape: the fixed-point training
    aggregates + one map-combined cell rollup (num_cells rows); the
    1-row totals broadcast back; nothing corpus-sized moves."""
    codes, _cent = pq_train(
        df, id_col, vec_col, num_subspaces=1, codebook_size=num_cells,
        iters=iters, scale=scale, dim=dim,
    )
    sizes = codes.groupBy(F.col("code").cast("long").alias("cell")).agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    tot = sizes.agg(
        F.sum("n_vectors").alias("__t"),
        F.count("*").alias("__nc"),
        F.max("n_vectors").alias("__mx"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / (F.lit(1.0) * F.col("__t")), 6).alias(
            "share"
        ),
        F.round(
            F.col("__mx") * F.col("__nc") / (F.lit(1.0) * F.col("__t")), 4
        ).alias("imbalance_factor"),
    )


def write_pq_exact_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    codebook_size: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    dim: int = 64,
    metadata_cols: tuple = (),
) -> None:
    """Persist the engine-exact PQ index: ``<path>/codes`` holds the
    (id, s, code) assignment rows and ``<path>/codebook`` the trained
    (s, c, j, cq) fixed-point codewords. Every column is BIGINT, so the
    parquet round-trip is value-exact and a from-disk probe ranks
    bit-identically to retraining (the SQL oracle — :func:`pq_adc_sql`
    with the same parameters — stays valid for the catalog path
    unchanged: persistence is invisible to results). This is the
    oracle-grade twin of :func:`vector_io_spark.operators.similarity.
    write_ivfpq_index` — train once, probe forever; the reference has
    no index-persistence form at all (it re-uploads vectors per target
    DB), cited for parity scope only.

    ``metadata_cols`` (r9): payload columns persisted to a ``meta``
    SIDE table (one row per id) rather than onto the code rows — the
    codes layout is one row per (id, subspace), so inlining metadata
    would duplicate it ×num_subspaces. Probes return it via
    ``return_cols`` (:func:`pq_adc_topk_from_index`)."""
    from vector_io_spark.operators.similarity import _clear_tombstones

    codes, cent = pq_train(
        df, id_col, vec_col, num_subspaces, codebook_size, iters, scale, dim
    )
    # rebuild = new truth: stale tombstones must not hide re-inserted
    # ids (same contract as write_ivf_index / write_ivfpq_index)
    _clear_tombstones(df.sparkSession, path)
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    if metadata_cols:
        df.select(id_col, *metadata_cols).write.mode("overwrite").parquet(
            f"{path}/meta"
        )
    # persist the training parameters next to the artifacts: probes must
    # quantize queries with the SAME geometry/scale or the ADC join
    # silently matches a fraction of (s, j) keys — the from-index path
    # reads these instead of trusting caller-supplied values.
    spark = df.sparkSession
    local_rows_df(
        spark,
        [(num_subspaces, codebook_size, iters, scale, dim)],
        "num_subspaces long, codebook_size long, iters long, "
        "scale long, dim long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def _first_row(rows):
    return rows[0]


def _load_pq_params(spark, path: str):
    """The one ``params`` row of a :func:`write_pq_exact_index` layout
    (num_subspaces, codebook_size, iters, scale, dim), memoized on the
    table's listing (:mod:`vector_io_spark.artifact_memo`)."""
    return artifact_memo.small_table(spark, f"{path}/params", _first_row)


def pq_adc_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    return_cols: tuple = (),
) -> DataFrame:
    """ADC top-k against a persisted :func:`write_pq_exact_index`
    layout: no retraining, no float vectors — the codebook (m·K·sub
    BIGINT rows, broadcast) and the code table are read from parquet
    and ranked through the exact kernel shared with
    :func:`pq_adc_topk`. Quantization geometry (num_subspaces, scale,
    dim) comes from the index's own persisted ``params`` row — a
    caller cannot mis-parameterize the probe into a silently wrong
    ranking. (``params`` has shipped with :func:`write_pq_exact_index`
    since both landed together, so every persisted layout carries it;
    a missing dir fails loudly at read.)

    ``return_cols`` (r9): payload columns returned with each hit from
    the index's persisted ``meta`` side table (see
    :func:`write_pq_exact_index`). The ranked hit frame is bounded
    (k × |Q| rows) and BROADCASTS into one hash join against the
    column-pruned meta scan — no corpus re-read, no shuffle of either
    side. Raises if the index was built without the requested columns.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from vector_io_spark.operators.similarity import _apply_tombstones

    codes = spark.read.parquet(f"{path}/codes")
    # deleted rows stop matching immediately (r9, delete_from_index):
    # broadcast anti-join against the index's live tombstones
    codes = _apply_tombstones(spark, path, codes, "pq_adc_topk_from_index")
    cent = spark.read.parquet(f"{path}/codebook")
    prm = _load_pq_params(spark, path)
    ranked = _pq_adc_rank_exact(
        codes, cent, queries, id_col, vec_col, query_id_col, k,
        int(prm["num_subspaces"]), int(prm["scale"]), int(prm["dim"]),
    )
    if not return_cols:
        return ranked
    if not artifact_memo.path_exists(spark, f"{path}/meta"):
        raise ValueError(
            f"pq_adc_topk_from_index: return_cols={list(return_cols)} "
            f"requested but {path} has no meta side table — rebuild "
            "with write_pq_exact_index(..., metadata_cols=...)."
        )
    meta = spark.read.parquet(f"{path}/meta")
    missing = [c for c in return_cols if c not in meta.columns]
    if missing:
        raise ValueError(
            f"pq_adc_topk_from_index: return_cols {missing} not in the "
            f"index's meta table (has {sorted(meta.columns)})."
        )
    clash = [c for c in return_cols if c in ranked.columns]
    if clash:
        raise ValueError(
            f"pq_adc_topk_from_index: return_cols {clash} collide with "
            "the probe's own output columns — rename the metadata "
            "column at build time."
        )
    out_cols = list(ranked.columns) + list(return_cols)
    return (
        meta.select(id_col, *return_cols)
        .join(broadcast(ranked), id_col)
        .select(*[F.col(c) for c in out_cols])
    )

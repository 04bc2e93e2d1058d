"""Catalog → dataset export: read a persisted index back out as the
logical dataset it serves — the "get my vectors back" path.

Reference parity: the reference's entire mission is store round-trips —
it exports a live vector DB to a VDF parquet dataset and re-imports it
elsewhere (export_vdf_cli.py / vdb_export_cls.py — full re-export is
its only backup/migration primitive). Here the engine's OWN persisted
catalogs are first-class export sources: a store served by an IVF /
SQ8 / sparse catalog can be materialized back to a plain VDF dataset
(``export_index_to_vdf``) and re-imported anywhere, without keeping the
original corpus around.

Semantics:
- IVF / token layouts store RAW rows — export is EXACT (bit-identical
  to the indexed data, minus tombstoned ids; oracle-gated by
  queries.py ``index_export_roundtrip``).
- SQ8 stores uint8 codes — export reconstructs ``lo + code·span/255``
  and is LOSSY by exactly the quantization error; the function name
  says so and the docstring states the bound.
- IVFPQ / PQ-exact store codebook codes — export DECODES them
  (cell centroid + residual codeword; fixed-point ``cq/scale``) and is
  LOSSY by the PQ snap; the namespace's ``model_map`` records the
  provenance so a consumer can tell a decoded export from originals.
- Sparse postings are re-assembled into the original
  ``struct<indices array<int>, values array<float>>`` rows — exact
  (weights were 1e-6-quantized on the way in; pytest-pinned
  round-trip).

Scale shape: every reader is one scan of the catalog's data layout
with the partition/bookkeeping levels dropped and live tombstones
anti-joined (broadcast — bounded by compaction cadence). The sparse
re-assembly shuffles once on doc_id (the inverse of the build's
explode). Nothing corpus-sized reaches the driver; ``write_vdf``
rotates output files and range-sorts if asked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_io_spark import artifact_memo
from vector_io_spark.operators.similarity import _apply_tombstones

# bookkeeping levels that never belong to the logical dataset
_LAYOUT_COLS = ("cell", "ingest_batch", "shard")


def read_index_vectors(spark, path: str) -> DataFrame:
    """The logical rows of a raw-vector ``cells`` catalog (IVF layout,
    token index — anything whose cells store the original columns):
    one scan of ``<path>/cells`` with the partition levels dropped and
    live tombstones applied. EXACT — what went in (minus deletes)
    comes out, including persisted ``metadata_cols``.

    Scale shape: one full catalog scan (this is an export, the scan IS
    the job); tombstones broadcast; no shuffle, no Python."""
    scan = spark.read.parquet(f"{path}/cells")
    scan = _apply_tombstones(spark, path, scan, "read_index_vectors")
    drop = [c for c in _LAYOUT_COLS if c in scan.columns]
    return scan.drop(*drop)


def read_sq8_reconstructed(
    spark, path: str, vec_name: str = "embedding"
) -> DataFrame:
    """The logical rows of an SQ8 catalog with each code RECONSTRUCTED
    to ``lo + (code · span) / 255`` — lossy by at most span/510 per
    component (half a quantization step), the same reconstruction every
    probe scores against. Use the raw-IVF layout when exact export
    matters; SQ8 traded exactness for 4× smaller cells at build time
    and an export cannot get it back.

    Scale shape: one catalog scan; the bounds row broadcasts as
    literals; reconstruction is a codegen'd zip_with — no Python."""
    from vector_io_spark.operators.sq8 import _load_sq8_bounds

    los, his = _load_sq8_bounds(spark, path)
    scan = spark.read.parquet(f"{path}/cells")
    scan = _apply_tombstones(spark, path, scan, "read_sq8_reconstructed")
    los_lit = F.array(*[F.lit(float(x)) for x in los])
    spans_lit = F.array(
        *[F.lit(float(h) - float(lo)) for h, lo in zip(his, los)]
    )
    recon = F.zip_with(
        F.zip_with(
            F.col("code"), spans_lit,
            lambda c, s: (c.cast("double") * s) / 255.0,
        ),
        los_lit,
        lambda t, lo: lo + t,
    )
    drop = [c for c in _LAYOUT_COLS if c in scan.columns]
    return scan.withColumn(vec_name, recon).drop("code", *drop)


def read_ivfpq_reconstructed(
    spark, path: str, vec_name: str = "embedding"
) -> DataFrame:
    """The logical rows of an IVFPQ catalog with each residual-PQ code
    RECONSTRUCTED to ``centroid[cell] + concat_m(codebook[m][code[m]])``
    — the decode every ADC probe implicitly scores against. LOSSY by
    the PQ quantization error (each sub-block snaps to its nearest of
    K codewords); the raw-IVF layout is the exact-export path — a PQ
    catalog traded exactness for the 32× payload shrink at build time
    and an export cannot get it back (VERDICT r10 Next #3: the most
    compressed index must still be exportable).

    Scale shape: one catalog scan; the codebook (a few KB) inlines as
    a nested array literal so the sub-block lookup is a codegen'd
    ``element_at`` — no Python; the centroid table (nlist rows)
    broadcast-joins on the cell partition column. No shuffle. Persisted
    ``metadata_cols`` ride the code rows and survive unchanged."""
    from vector_io_spark.operators.similarity import _load_ivfpq_artifacts

    cents, cb = _load_ivfpq_artifacts(spark, path)
    m_sub, kk, _ = cb.shape
    cb_lit = F.array(*[
        F.array(*[
            F.array(*[F.lit(float(x)) for x in cb[m, c]])
            for c in range(kk)
        ])
        for m in range(m_sub)
    ])
    scan = spark.read.parquet(f"{path}/cells")
    scan = _apply_tombstones(spark, path, scan, "read_ivfpq_reconstructed")
    residual = F.flatten(
        F.transform(
            F.col("code"),
            lambda cd, m: F.element_at(
                F.element_at(cb_lit, m.cast("int") + 1),
                cd.cast("int") + 1,
            ),
        )
    )
    cent_df = spark.read.parquet(f"{path}/centroids")
    recon = F.zip_with(
        F.col("__centroid"), residual, lambda a, b: a + b
    )
    drop = [c for c in _LAYOUT_COLS if c in scan.columns and c != "cell"]
    return (
        scan.join(
            F.broadcast(cent_df.withColumnRenamed("centroid", "__centroid")),
            "cell",
        )
        .withColumn(vec_name, recon)
        .drop("code", "cell", "__centroid", *drop)
    )


def read_pq_reconstructed(
    spark, path: str, vec_name: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """The logical rows of a :func:`~vector_io_spark.operators.pq_exact.
    write_pq_exact_index` catalog with each (id, s, code) assignment
    DECODED through the fixed-point codebook: component ``s·sub_dim+j``
    is ``cq / scale`` of codeword row (s, code, j). LOSSY by the PQ
    snap (exact replay of the decode, but not of the original floats).
    The persisted ``meta`` side table (if built) joins back so exported
    rows keep their payload columns.

    Scale shape: the codes scan broadcast-joins the codebook (M·K·sub
    BIGINT rows, a few KB) and shuffles ONCE on id (the groupBy that
    inverts the build's per-subspace explode — the sparse exporter's
    shape); the meta join is a second broadcast-free join on the same
    id key. Geometry (scale, dim) reads from the index's own params
    row — never caller-supplied."""
    from pyspark.sql.functions import broadcast

    from vector_io_spark.operators.pq_exact import _load_pq_params

    codes = spark.read.parquet(f"{path}/codes")
    codes = _apply_tombstones(spark, path, codes, "read_pq_reconstructed")
    cb = spark.read.parquet(f"{path}/codebook")
    scale = float(_load_pq_params(spark, path)["scale"])
    comps = codes.join(
        broadcast(cb),
        (codes["s"] == cb["s"]) & (codes["code"] == cb["c"]),
    ).select(
        codes[id_col].alias(id_col),
        codes["s"].alias("__s"),
        cb["j"].alias("__j"),
        (cb["cq"].cast("double") / F.lit(scale)).alias("__v"),
    )
    assembled = (
        comps.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__s", "__j", "__v"))
            ).alias("__e")
        )
        .select(
            id_col,
            F.transform("__e", lambda e: e["__v"]).alias(vec_name),
        )
    )
    # only a MISSING side table means "no metadata": a corrupt or
    # unreadable one must fail the export, not drop its columns
    if artifact_memo.path_exists(spark, f"{path}/meta"):
        meta = spark.read.parquet(f"{path}/meta")
        assembled = assembled.join(meta, id_col, "left")
    return assembled


def read_sparse_vectors(
    spark, path: str, sparse_name: str = "sparse"
) -> DataFrame:
    """Re-assemble a sparse posting-list catalog into the original
    per-document ``struct<indices array<int>, values array<float>>``
    rows (bucket-ascending, the :func:`~vector_io_spark.operators.
    ranking.bm25_sparse_vectors` contract) — the inverse of
    ``write_sparse_index``'s explode. Tombstoned docs are excluded.

    Scale shape: one postings scan + ONE shuffle on doc_id (the
    groupBy that inverts the build's explode); per-doc posting lists
    are bounded by vocabulary, so collect_list stays row-sized."""
    scan = spark.read.parquet(f"{path}/postings")
    scan = _apply_tombstones(spark, path, scan, "read_sparse_vectors")
    return _assemble_sparse_rows(scan, sparse_name)


def _assemble_sparse_rows(postings: DataFrame, sparse_name: str) -> DataFrame:
    """Invert a (doc_id, bucket, weight) postings relation back into
    per-document ``struct<indices, values>`` rows, bucket-ascending —
    the one re-assembly shared by the full export and the scroll page
    so their struct layout can never drift."""
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("bucket"), F.col("weight")))
    )
    return (
        postings.groupBy("doc_id")
        .agg(entries.alias("__e"))
        .select(
            "doc_id",
            F.struct(
                F.transform("__e", lambda e: e["bucket"]).alias("indices"),
                F.transform("__e", lambda e: e["weight"]).alias("values"),
            ).alias(sparse_name),
        )
    )


def scan_sparse_index_pages(
    spark,
    path: str,
    after=None,
    limit: int = 1000,
    sparse_name: str = "sparse",
) -> DataFrame:
    """One keyset page of a sparse posting-list catalog, re-assembled
    into per-document ``struct<indices, values>`` rows (VERDICT r10
    Next #5 — the sparse twin of :func:`scan_index_pages`, the Qdrant
    scroll parity for SPARSE collections, qdrant_export.py:119-163):
    documents with ``doc_id > after`` in ascending id order, at most
    ``limit`` of them, tombstoned docs never appearing. Iterate by
    passing the previous page's max doc_id as ``after``.

    Scale shape: the cursor predicate pushes into the postings scan
    both times it is read; the page's doc ids come from a
    column-pruned distinct (doc_id only crosses the shuffle) whose
    ordered LIMIT plans as TakeOrderedAndProject (map-side truncation,
    one bounded merge — plan-pinned in tests/test_export_catalog.py);
    the ≤limit-row id page then BROADCASTS back against the postings
    scan, so only page-sized posting sets reach the re-assembly
    groupBy. The postings layout is shard-partitioned by bucket, so
    the doc_id pushdown prunes row-groups statistically rather than
    whole directories — the page is O(scan of matching row-groups +
    page-sized shuffle), never a global sort."""
    if limit <= 0 or limit > 1_000_000:
        raise ValueError(
            f"scan_sparse_index_pages: limit={limit} out of range "
            "(1..1e6) — pages are driver-consumable units, not bulk "
            "exports; use read_sparse_vectors for the full catalog."
        )
    scan = spark.read.parquet(f"{path}/postings")
    scan = _apply_tombstones(spark, path, scan, "scan_sparse_index_pages")
    if after is not None:
        scan = scan.where(F.col("doc_id") > F.lit(after))
    page_ids = (
        scan.select("doc_id")
        .distinct()
        .orderBy(F.col("doc_id").asc())
        .limit(limit)
    )
    # re-assembly is a groupBy and loses order; the final sort is over
    # the ≤limit assembled rows only (page-sized, bounded)
    return _assemble_sparse_rows(
        scan.join(F.broadcast(page_ids), "doc_id"), sparse_name
    ).orderBy(F.col("doc_id").asc())


def scan_index_pages(
    spark,
    path: str,
    id_col: str = "vec_id",
    after=None,
    limit: int = 1000,
    kind: str = "raw",
) -> DataFrame:
    """One page of a keyset-paginated catalog scan — the Qdrant
    ``scroll`` / Milvus ``query_iterator`` / Pinecone ``list`` serving
    shape, over the engine's own layouts: rows with ``id > after`` in
    ascending id order, at most ``limit`` of them. Iterate by passing
    the previous page's max id as ``after`` (keyset pagination —
    O(page) per call, no OFFSET re-scan, stable under concurrent
    appends of LARGER ids). Tombstoned rows never appear.

    ``kind`` (r11): 'raw' (IVF/token cells — exact rows), or 'sq8' /
    'ivfpq' / 'pq' — pages of the compressed catalogs' RECONSTRUCTED
    vectors (the same decode the export readers serve; lossy, same
    caveats) — a deployment holding only a compressed store can still
    scroll it. The sparse postings layout has its own doc-keyed twin
    (:func:`scan_sparse_index_pages`).

    Scale shape: the ``id > after`` predicate pushes into the parquet
    scan (row-group min/max skipping — near-free when the layout was
    written ``sort_by`` id; for 'pq' it pushes into the codes scan
    BELOW the re-assembly groupBy), and the ordered LIMIT plans as
    TakeOrderedAndProject (map-side truncation to ``limit`` rows per
    partition, one small final merge) — never a global sort of the
    catalog. Plan-pinned in tests/test_export_catalog.py."""
    if limit <= 0 or limit > 1_000_000:
        raise ValueError(
            f"scan_index_pages: limit={limit} out of range (1..1e6) — "
            "pages are driver-consumable units, not bulk exports; use "
            "read_index_vectors for the full catalog."
        )
    if kind == "raw":
        df = read_index_vectors(spark, path)
    elif kind == "sq8":
        df = read_sq8_reconstructed(spark, path)
    elif kind == "ivfpq":
        df = read_ivfpq_reconstructed(spark, path)
    elif kind == "pq":
        df = read_pq_reconstructed(spark, path, id_col=id_col)
    else:
        raise ValueError(
            f"scan_index_pages: unknown kind {kind!r} — expected "
            "'raw', 'sq8', 'ivfpq', or 'pq' (sparse postings scroll "
            "is scan_sparse_index_pages)"
        )
    if after is not None:
        df = df.where(F.col(id_col) > F.lit(after))
    return df.orderBy(F.col(id_col).asc()).limit(limit)


def export_index_to_vdf(
    spark,
    index_path: str,
    dataset_dir: str,
    kind: str = "ivf",
    index_name: str = "exported",
    namespace: str = "",
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    metric: str | None = "cosine",
    **write_kwargs,
) -> "object":
    """Materialize a persisted catalog back into a VDF parquet dataset
    (``format/writer.py::write_vdf`` — size-rotated files +
    VDF_META.json), ready for re-import by any connector. ``kind`` ∈
    {'ivf', 'token'} (raw rows, exact), 'sq8' / 'ivfpq' / 'pq'
    (reconstructed through the codec — lossy, recorded in the
    namespace's ``model_map`` provenance so a downstream consumer can
    tell a decoded export from original floats), 'sparse'
    (re-assembled structs; pass ``id_column='doc_id'``,
    ``vector_column='sparse'``). Returns the committed VDFMeta."""
    from vector_io_spark.format.writer import write_vdf

    lossy_detail = None
    if kind in ("ivf", "token"):
        df = read_index_vectors(spark, index_path)
    elif kind == "sq8":
        df = read_sq8_reconstructed(spark, index_path, vector_column)
        lossy_detail = "per-dim uint8 dequantize: lo + code*span/255"
    elif kind == "ivfpq":
        df = read_ivfpq_reconstructed(spark, index_path, vector_column)
        lossy_detail = "cell centroid + residual codebook decode"
    elif kind == "pq":
        df = read_pq_reconstructed(
            spark, index_path, vector_column, id_col=id_column
        )
        lossy_detail = "fixed-point codebook decode: cq/scale"
    elif kind == "sparse":
        df = read_sparse_vectors(spark, index_path, vector_column)
    else:
        raise ValueError(
            f"export_index_to_vdf: unknown kind {kind!r} — expected "
            "'ivf', 'token', 'sq8', 'ivfpq', 'pq', or 'sparse'"
        )
    vec_kw = (
        {"sparse_vector_columns": [vector_column], "vector_columns": []}
        if kind == "sparse"
        else {"vector_columns": [vector_column]}
    )
    if lossy_detail is not None:
        write_kwargs.setdefault(
            "model_map",
            {
                "source_index_kind": kind,
                "lossy": True,
                "reconstruction": lossy_detail,
            },
        )
    return write_vdf(
        {(index_name, namespace): df},
        dataset_dir,
        exported_from=f"vdf_spark_catalog_{kind}",
        id_column=id_column,
        metric=metric,
        **vec_kw,
        **write_kwargs,
    )


def import_vdf_to_index(
    spark,
    dataset_dir: str,
    index_path: str,
    kind: str = "ivf",
    index_name: str | None = None,
    namespace: str | None = None,
    id_column: str | None = None,
    vector_column: str | None = None,
    **build_kwargs,
) -> DataFrame:
    """The inverse of :func:`export_index_to_vdf`, completing the
    migration loop the reference performs between SERVICES for the
    engine's own catalogs: read a VDF dataset (``VDF_META.json`` +
    parquet namespaces) and build a persisted index from it. ``kind`` ∈
    {'ivf', 'sq8', 'ivfpq', 'pq', 'sparse'}; id/vector columns default
    from the
    dataset's meta (``id_column``; the namespace's first
    vector/sparse column). ``build_kwargs`` forward to the writer
    (num_cells / seed / metadata_cols / num_shards...). Returns the
    source DataFrame that was indexed (lazy; useful for sanity counts).

    A VDF→IVF→VDF→IVF chain round-trips exactly (raw layouts are
    lossless; pytest-pinned probe equality). Scale shape: one dataset
    scan feeding the catalog build job — the build's own shuffles
    (partitionBy cell/shard) are the cost, nothing extra."""
    from vector_io_spark.meta import read_meta

    meta = read_meta(dataset_dir)
    if index_name is None:
        if len(meta.indexes) != 1:
            raise ValueError(
                "import_vdf_to_index: dataset holds "
                f"{sorted(meta.indexes)} — pass index_name"
            )
        index_name = next(iter(meta.indexes))
    nss = meta.indexes.get(index_name)
    if not nss:
        raise ValueError(
            f"import_vdf_to_index: no index {index_name!r} in "
            f"{dataset_dir} (has {sorted(meta.indexes)})"
        )
    if namespace is None:
        ns = nss[0]
    else:
        ns = next(
            (n for n in nss if n.namespace == namespace), None
        )
        if ns is None:
            raise ValueError(
                f"import_vdf_to_index: namespace {namespace!r} not in "
                f"index {index_name!r} (has "
                f"{sorted(n.namespace for n in nss)})"
            )
    df = spark.read.parquet(
        f"{dataset_dir}/{ns.data_path}"
    )
    id_col = id_column or meta.id_column or "id"
    if kind in ("ivf", "sq8", "ivfpq", "pq"):
        vcol = vector_column or (
            ns.vector_columns[0] if ns.vector_columns else "vector"
        )
        if vcol not in df.columns:
            raise ValueError(
                f"import_vdf_to_index: vector column {vcol!r} not in "
                f"dataset columns {df.columns}"
            )
        if kind == "ivf":
            from vector_io_spark.operators.similarity import (
                write_ivf_index,
            )

            write_ivf_index(
                df, index_path, corpus_id=id_col, corpus_vec=vcol,
                **build_kwargs,
            )
        elif kind == "sq8":
            from vector_io_spark.operators.sq8 import write_sq8_index

            write_sq8_index(
                df, index_path, corpus_id=id_col, corpus_vec=vcol,
                **build_kwargs,
            )
        elif kind == "ivfpq":
            from vector_io_spark.operators.similarity import (
                write_ivfpq_index,
            )

            write_ivfpq_index(
                df, index_path, corpus_id=id_col, corpus_vec=vcol,
                **build_kwargs,
            )
        else:
            from vector_io_spark.operators.pq_exact import (
                write_pq_exact_index,
            )

            write_pq_exact_index(
                df, index_path, id_col=id_col, vec_col=vcol,
                **build_kwargs,
            )
    elif kind == "sparse":
        vcol = vector_column or (
            ns.sparse_vector_columns[0]
            if ns.sparse_vector_columns
            else "sparse"
        )
        if vcol not in df.columns:
            raise ValueError(
                f"import_vdf_to_index: sparse column {vcol!r} not in "
                f"dataset columns {df.columns}"
            )
        from vector_io_spark.operators.sparse_index import (
            write_sparse_index,
        )

        write_sparse_index(
            df, index_path, doc_id=id_col, sparse_col=vcol,
            **build_kwargs,
        )
    else:
        raise ValueError(
            f"import_vdf_to_index: unknown kind {kind!r} — expected "
            "'ivf', 'sq8', 'ivfpq', 'pq', or 'sparse'"
        )
    return df

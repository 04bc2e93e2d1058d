"""The catalog artifact memo (vector_io_spark/artifact_memo.py) and the
per-call job floor it buys the serving probes.

- Invalidation: every way a catalog changes at the same path — a
  rebuild with another seed, a rebuild with other ``metadata_cols``, a
  rebuild-if-drifted, a tombstoned delete — must be seen by the next
  probe: it must equal the same probe made with the memo cleared.
- Job floor: a warm probe re-reads no artifact and ships its driver
  frames from the JVM, so its Spark job count is fixed by the plan. The
  ceilings below are the counts measured on these tiny catalogs; a
  count above one names the probe that grew a per-call read.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import load
from vector_io_spark import artifact_memo
from vector_io_spark.operators.hybrid import hybrid_indexed_topk_batch
from vector_io_spark.operators.ranking import bm25_sparse_vectors
from vector_io_spark.operators.similarity import (
    delete_from_index,
    ivfpq_index_probe_topk,
    rebuild_ivfpq_if_drifted,
    write_ivfpq_index,
)
from vector_io_spark.operators.sparse_index import write_sparse_index
from vector_io_spark.operators.sq8 import (
    rebuild_sq8_if_drifted,
    sq8_index_probe_topk,
    write_sq8_index,
)
from vector_io_spark.session import local_rows_df


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"job-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _local_queries(spark, emb, n):
    rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.where(F.col("vec_id") < n).orderBy("vec_id").collect()
    ]
    return local_rows_df(spark, rows, "query_id bigint, embedding array<float>")


def _build(kind, corpus, path, seed, metadata_cols=()):
    if kind == "ivfpq":
        write_ivfpq_index(
            corpus, path, num_cells=4, num_subspaces=8, codebook_size=16,
            seed=seed, metadata_cols=metadata_cols,
        )
    else:
        write_sq8_index(
            corpus, path, num_cells=4, seed=seed,
            metadata_cols=metadata_cols,
        )


_PROBES = {"ivfpq": ivfpq_index_probe_topk, "sq8": sq8_index_probe_topk}


@pytest.mark.parametrize("kind", ["ivfpq", "sq8"])
def test_memo_sees_every_catalog_change(spark, sf_dir, tmp_path, kind):
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # a drifted corpus: every component shifted past the trained range
    shifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 2.0 + 1.0)
        .cast("array<float>")
        .alias("embedding"),
        "label",
    )
    path = str(tmp_path / kind)
    queries = _local_queries(spark, emb, 8)

    def probe(**kw):
        return sorted(
            tuple(r)
            for r in _PROBES[kind](
                spark, path, queries, k=10, nprobe=2, **kw
            ).collect()
        )

    def probe_matches_cleared_memo(**kw):
        warm = probe(**kw)
        artifact_memo.clear()
        assert warm == probe(**kw)
        return warm

    _build(kind, emb.select("vec_id", "embedding"), path, seed=7)
    first = probe_matches_cleared_memo()

    # 1. a rebuild with another seed
    _build(kind, emb.select("vec_id", "embedding"), path, seed=8)
    reseeded = probe_matches_cleared_memo()
    if kind == "ivfpq":  # new codebooks: every ADC distance moves
        assert reseeded != first

    # 2. a rebuild that adds a metadata column, probed for it (a stale
    # cells schema would refuse return_cols)
    _build(kind, emb, path, seed=8, metadata_cols=("label",))
    with_label = probe_matches_cleared_memo(return_cols=("label",))
    assert all(len(r) == 5 for r in with_label)

    # 3. a rebuild-if-drifted over the drifted corpus
    if kind == "ivfpq":
        got = rebuild_ivfpq_if_drifted(
            spark, path, shifted, imbalance_budget=0.0, seed=9
        )
    else:
        got = rebuild_sq8_if_drifted(spark, path, shifted, seed=9)
    assert got["rebuilt"] is True, got
    probe_matches_cleared_memo(return_cols=("label",))

    # 4. a tombstoned delete of ids the probe returns
    victims = sorted({r[1] for r in probe(return_cols=("label",))})[:5]
    delete_from_index(spark, path, victims, delete_token="memo-d1")
    after = probe_matches_cleared_memo(return_cols=("label",))
    assert not {r[1] for r in after} & set(victims)


@pytest.fixture(scope="module")
def floor_stores(spark, sf_dir, tmp_path_factory):
    """The clean catalogs, and a copy whose dense catalogs carry a live
    tombstone (one more broadcast anti-join per probe)."""
    root = tmp_path_factory.mktemp("job_floor")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    clean = {k: str(root / "clean" / k) for k in ("ivfpq", "sq8", "sparse")}
    _build("ivfpq", emb, clean["ivfpq"], seed=7)
    _build("sq8", emb, clean["sq8"], seed=7)
    write_sparse_index(
        bm25_sparse_vectors(docs, "doc_id", "text", vocab_buckets=512),
        clean["sparse"], num_shards=8,
    )
    shutil.copytree(root / "clean", root / "tombstoned")
    tombstoned = {k: str(root / "tombstoned" / k) for k in clean}
    for k in ("ivfpq", "sq8"):
        delete_from_index(spark, tombstoned[k], [1, 2, 3], delete_token="t1")
    buckets = sorted(
        r["bucket"]
        for r in spark.read.parquet(f"{clean['sparse']}/postings")
        .select("bucket").distinct().limit(3).collect()
    )
    return (
        {False: clean, True: tombstoned},
        emb,
        [(0, [(b, 1.0) for b in buckets])],
    )


# Spark jobs of one WARM call, collect included, measured on the
# catalogs above (local mode, AQE on): the scan/rank stages, plus one
# tombstone broadcast per dense leg. Before the memo and the JVM-local
# driver frames these were 9/12, 9/12 and 17/20. Raise a ceiling only
# with a reason; lower it when a change cuts a job.
JOB_CEILINGS = {
    ("ivfpq_index_probe_topk", False): 3,
    ("ivfpq_index_probe_topk", True): 5,
    ("sq8_index_probe_topk", False): 3,
    ("sq8_index_probe_topk", True): 5,
    ("hybrid_indexed_topk_batch", False): 8,
    ("hybrid_indexed_topk_batch", True): 10,
}


@pytest.mark.parametrize("probe,tombstoned", sorted(JOB_CEILINGS))
def test_warm_probe_job_floor(spark, floor_stores, probe, tombstoned):
    stores, emb, batch = floor_stores
    paths = stores[tombstoned]
    q = _local_queries(spark, emb, 16 if probe.startswith("ivfpq") else 1)

    def call():
        if probe == "ivfpq_index_probe_topk":
            return ivfpq_index_probe_topk(
                spark, paths["ivfpq"], q, k=10, nprobe=2
            ).collect()
        if probe == "sq8_index_probe_topk":
            return sq8_index_probe_topk(
                spark, paths["sq8"], q, k=10, nprobe=2
            ).collect()
        return hybrid_indexed_topk_batch(
            spark, paths["sparse"], paths["sq8"], batch, q, k=10,
            shortlist=50, nprobe=2, dense_kind="sq8",
        ).collect()

    assert call(), probe  # warm: fills the memo
    jobs = _jobs(spark, call)
    ceiling = JOB_CEILINGS[(probe, tombstoned)]
    assert jobs <= ceiling, (
        f"{probe} (tombstoned={tombstoned}): a warm call started {jobs} "
        f"Spark jobs, above its ceiling of {ceiling} — a per-call "
        "artifact read, schema inference or Python-worker frame is back"
    )

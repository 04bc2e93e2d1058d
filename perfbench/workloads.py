"""The benchmark workloads, driven through the program's public
functions by one client in a closed loop.

Each workload object offers ``warmup()`` (untimed, counted in
``setup_s``) and ``round(i)``, one unit of the closed loop.
Every layer call, probe batch, upsert batch and correctness check is an
*op*: it is counted in ``Ops.attempted`` and, when it raises or its
check fails, in ``Ops.failed``.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import time
import zlib
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vector_io_spark import cache_registry
from vector_io_spark.embed import reembed_vdf
from vector_io_spark.format import read_vdf, write_vdf
from vector_io_spark.functions import cleanup_df, quality_score
from vector_io_spark.operators.dedup import (
    dedup_exact_content,
    dedup_survivors,
    minhash_lsh_dup_pairs,
)
from vector_io_spark.operators.hybrid import hybrid_indexed_topk_batch
from vector_io_spark.operators.ranking import bm25_sparse_vectors
from vector_io_spark.operators.semdedup import semdedup
from vector_io_spark.operators.similarity import (
    append_to_ivfpq_index,
    compact_index_cells,
    delete_from_index,
    ivfpq_index_probe_topk,
    write_ivfpq_index,
)
from vector_io_spark.operators.sparse_index import write_sparse_index
from vector_io_spark.operators.sq8 import sq8_index_probe_topk, write_sq8_index
from vector_io_spark.session import local_rows_df
from vector_io_spark.sources import EmbeddedVectorDB, paginated_read, partitioned_upsert


class Counted(Exception):
    """A failure already counted in ``Ops.failed`` (a failed check, or a
    layer call that raised); it ends the current round."""


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class CountingDB(EmbeddedVectorDB):
    """EmbeddedVectorDB whose upserts count calls and failures into two
    Spark accumulators (it runs inside executor Python workers)."""

    def __init__(self, root, calls, fails):
        super().__init__(root)
        self._calls, self._fails = calls, fails

    def upsert_batch(self, collection, batch):
        self._calls.add(1)
        try:
            super().upsert_batch(collection, batch)
        except Exception:
            self._fails.add(1)
            raise


class CountingFactory:
    """Connector factory handed to ``paginated_read`` / ``partitioned_upsert``."""

    def __init__(self, sc, root):
        self.root = root
        self.calls = sc.accumulator(0)
        self.fails = sc.accumulator(0)

    def __call__(self):
        return CountingDB(self.root, self.calls, self.fails)


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _close(a: float, b: float, tol: float = 1e-6) -> bool:
    return abs(a - b) <= tol + 1e-9 * abs(b)


class Workload:
    """Shared plumbing: spans, op counting, checks, per-round output directories."""

    # rounds that make one iteration (``run_s`` is the median iteration);
    # the loop ends only on an iteration boundary, after at least
    # ``min_iterations`` of them
    iteration_rounds = 1
    min_iterations = 1

    def __init__(self, spark, inputs: dict, work: str, tracer, ops: Ops, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data = inputs["data"]
        self.truth = inputs["truth"]
        self.input_bytes = inputs["input_bytes"]
        self.work = work
        self.tracer = tracer
        self.ops = ops
        self.seed = seed
        self.par = int(os.environ["SPARK_GRAFT_CPUS"])
        self.counters: dict[str, list[float]] = {}

    @contextmanager
    def layer(self, name: str):
        """One layer call: an op, inside a span named after the call."""
        self.ops.attempted += 1
        try:
            with self.tracer.span(name):
                yield
        except Exception as e:
            self.ops.fail(f"{name}: {type(e).__name__}: {e}")
            raise Counted(name) from e

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One correctness check: an op that fails when ``ok`` is false."""
        self.ops.attempted += 1
        if not ok:
            self.ops.fail(f"check {name}: {detail}")
            raise Counted(f"{name}: {detail}")

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(float(value))

    def out_dir(self, tag) -> str:
        d = os.path.join(self.work, f"out-{tag}")
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
        return d

    def warmup(self) -> None:
        self.round("warm", warm=True)

    def repeatable(self, i: int) -> bool:
        """Whether round ``i`` may run twice (untraced, then traced)."""
        return True

    def finish(self) -> None:
        """Checks over the whole run, after the loop."""

    def summary(self) -> dict:
        return {}


# --------------------------------------------------------------------------
ETL_SCHEMA = (
    "id string, vector array<float>, vector_b array<float>, title string, "
    "text string, category string, score double, flag boolean, created_at timestamp"
)
ETL_SCHEMA_COLS = [c.split()[0] for c in ETL_SCHEMA.split(", ")]
QUALITY_MIN = 0.25
MINHASH_THRESHOLD = 0.5
SEMDEDUP_THRESHOLD = 0.95
RECALL_FLOOR = 0.9
PRECISION_FLOOR = 0.9


def _vec_sum(col: str):
    return F.sum(F.aggregate(F.col(col), F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")))


def _shingles(text: str, k: int = 3) -> set:
    w = text.split()
    return {" ".join(w[j : j + k]) for j in range(len(w) - k + 1)}


def _components(pairs) -> dict:
    """id -> min id of its component (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


class VdfEtl(Workload):
    """One round moves a dirty VDF source from one vector DB to another,
    deduplicating on the way:

    export (paginated_read) -> cleanup_df -> write_vdf -> reembed_vdf ->
    read_vdf -> quality_score filter -> dedup_exact_content ->
    minhash_lsh_dup_pairs -> dedup_survivors (connected components) ->
    semdedup -> import (partitioned_upsert) -> scan back.
    """

    name = "vdf_etl"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        t = self.truth
        self.db_root = os.path.join(self.work, "db")
        shutil.copytree(os.path.join(self.data, "db"), self.db_root)
        self.factory = CountingFactory(self.sc, self.db_root)
        self.rows = t["rows"]
        src = pd.concat(
            pd.read_parquet(os.path.join(self.db_root, "src", f), columns=["id", "text", "vector"])
            for f in sorted(os.listdir(os.path.join(self.db_root, "src")))
            if f.endswith(".parquet")
        )
        self.texts = dict(zip(src["id"], src["text"]))
        self.vec_sum = {i: float(np.asarray(v, dtype=np.float64).sum()) for i, v in zip(src["id"], src["vector"])}
        self.junk = set(t["junk_ids"])
        self.exact_victims = set(t["exact_victims"])
        self.near_pairs = {tuple(p) for p in t["near_pairs"]}
        # planted groups: components over near-duplicate and paraphrase links
        self.group = _components([tuple(p) for p in t["near_pairs"] + t["sem_pairs"]])
        self.recall: list[float] = []
        self.precision: list[float] = []

    def round(self, i, warm: bool = False) -> int:
        t = self.truth
        out = self.out_dir(i)
        dst = f"dst_{i}"
        calls0, fails0 = self.factory.calls.value, self.factory.fails.value
        with self.layer("sources.paginated_read"):
            src = paginated_read(self.spark, self.factory, "src", ETL_SCHEMA, parallelism=self.par).persist()
            n_read = src.count()
        self.check("read_rows", n_read == self.rows, f"{n_read} != {self.rows}")
        with self.layer("functions.cleanup_df"):
            clean = cleanup_df(src).persist()
            clean.count()
        src.unpersist()
        v1, v2 = os.path.join(out, "vdf1"), os.path.join(out, "vdf2")
        with self.layer("format.write_vdf"):
            meta1 = write_vdf(
                {("etl", ""): clean}, v1, id_column="id", vector_columns=["vector", "vector_b"],
                metric="Cosine", max_records_per_file=self.rows // 8,
            )
        clean.unpersist()
        self._check_meta("vdf1", v1, meta1, t["dims"])
        written = [os.path.join(v1, f) for f in meta1.file_structure]
        self.count("format.files_written", len(written) - 1)
        self.count("format.bytes_per_input_byte", sum(os.path.getsize(p) for p in written) / self.input_bytes)
        with self.layer("embed.reembed_vdf"):
            meta2 = reembed_vdf(read_vdf(self.spark, v1), v2, "text", dims=t["embed_dims"], backend="hash")
        self._check_meta("vdf2", v2, meta2, t["embed_dims"])
        emb_col = meta2.indexes["etl"][0].vector_columns[0]
        with self.layer("format.read_vdf"):
            back = read_vdf(self.spark, v2).df("etl").persist()
            agg = back.agg(
                F.count("*").alias("n"),
                F.sum(F.crc32(F.col("id").cast("binary"))).alias("id_crc"),
                _vec_sum("vector").alias("v"),
                _vec_sum("vector_b").alias("vb"),
                _vec_sum(emb_col).alias("e"),
                F.sum(F.col("score").isNull().cast("int")).alias("bad"),
                F.sum((F.col("created_at") == F.lit(0).cast("timestamp")).cast("int")).alias("nat"),
            ).collect()[0]
        self.check("roundtrip_rows", agg["n"] == self.rows, f"{agg['n']}")
        self.check("roundtrip_ids", agg["id_crc"] == t["id_crc_sum"], f"{agg['id_crc']}")
        self.check("roundtrip_vector", _close(agg["v"], t["vector_sum"]) and _close(agg["vb"], t["vector_b_sum"]),
                   f"{agg['v']} {agg['vb']}")
        self.check("reembed_values", _close(agg["e"], t["embed_sum"], 1e-4), f"{agg['e']} != {t['embed_sum']}")
        self.check("cleanup_nan_inf", agg["bad"] == t["bad_scores"], f"{agg['bad']} != {t['bad_scores']}")
        self.check("cleanup_nat", agg["nat"] == t["nat_timestamps"], f"{agg['nat']} != {t['nat_timestamps']}")

        final, keep_ids, cached = self._dedup(back, warm)

        db = self.factory()
        db.create_collection(dst, t["dims"], "Cosine")
        with self.layer("sources.partitioned_upsert"):
            sent = partitioned_upsert(final.select(*ETL_SCHEMA_COLS), self.factory, dst, batch_size=1_000)
        for df in cached:
            df.unpersist()
        cache_registry.release_pending()
        calls = self.factory.calls.value - calls0
        fails = self.factory.fails.value - fails0
        self.count("sources.upsert_calls", calls)
        self.count("sources.upsert_failures", fails)
        self.ops.attempted += calls
        self.ops.failed += fails
        self.check("upsert_rows", sent == len(keep_ids), f"sent {sent} of {len(keep_ids)}")
        with self.layer("sources.paginated_read"):
            scan = paginated_read(self.spark, self.factory, dst, ETL_SCHEMA, parallelism=self.par).agg(
                F.countDistinct("id").alias("n"),
                F.sum(F.crc32(F.col("id").cast("binary"))).alias("id_crc"),
                _vec_sum("vector").alias("v"),
            ).collect()[0]
        self.check(
            "scan_back",
            scan["n"] == len(keep_ids)
            and scan["id_crc"] == sum(zlib.crc32(k.encode()) for k in keep_ids)
            and _close(scan["v"], sum(self.vec_sum[k] for k in keep_ids)),
            f"{scan}",
        )
        shutil.rmtree(out)
        shutil.rmtree(os.path.join(self.db_root, dst))
        return self.rows

    def _dedup(self, back, warm: bool):
        """The dedup stages with their checks; returns the frame of rows
        to import, their ids, and the frames to unpersist after."""
        with self.layer("functions.quality_score"):
            kept = back.where(quality_score("text")["score"] >= QUALITY_MIN).persist()
            n_kept = kept.count()
        self.check("quality_filter", n_kept == self.rows - len(self.junk), f"kept {n_kept} of {self.rows}")
        with self.layer("dedup.exact_content"):
            ex = dedup_exact_content(kept, "id", "text").persist()
            ex_ids = {r[0] for r in ex.select("id").collect()}
        expect = set(self.texts) - self.junk - self.exact_victims
        self.check("exact_dedup", ex_ids == expect, f"{len(ex_ids)} != {len(expect)}")
        with self.layer("dedup.minhash_pairs"):
            pairs_df = minhash_lsh_dup_pairs(ex, "id", "text", threshold=MINHASH_THRESHOLD)
            pairs = [(r[0], r[1]) for r in pairs_df.select("id_a", "id_b").collect()]
        self.count("dedup.pairs_found", len(pairs))
        found = set(pairs)
        recall = sum(1 for p in self.near_pairs if p in found) / len(self.near_pairs)
        good = sum(
            1 for a, b in pairs
            if (a in self.group and self.group[a] == self.group.get(b)) or self._jaccard(a, b) >= MINHASH_THRESHOLD
        )
        precision = good / len(pairs) if pairs else 0.0
        if not warm:
            self.recall.append(recall)
            self.precision.append(precision)
        self.check("dup_pair_recall", recall >= RECALL_FLOOR, f"{recall:.3f}")
        self.check("dup_pair_precision", precision >= PRECISION_FLOOR, f"{precision:.3f}")
        with self.layer("dedup.survivors"):
            surv = dedup_survivors(ex, pairs_df, "id").persist()
            n_surv = surv.count()
        victims = sum(1 for x, c in _components(pairs).items() if x != c)
        self.check("survivors", n_surv == len(ex_ids) - victims, f"{n_surv} != {len(ex_ids)} - {victims}")
        with self.layer("semdedup.semdedup"):
            dec = semdedup(
                surv, id_col="id", vec_col="vector", in_dims=self.truth["dims"], num_planes="auto",
                threshold=SEMDEDUP_THRESHOLD,
            ).persist()
            keep = {r[0]: r[1] for r in dec.select("id", "keep").collect()}
        dropped = [d for d, k in keep.items() if not k]
        kept_groups = {self.group[d] for d, k in keep.items() if k and d in self.group}
        self.check(
            "semdedup",
            len(keep) == n_surv and all(d in self.group and self.group[d] in kept_groups for d in dropped),
            f"{len(keep)} decisions, {len(dropped)} dropped",
        )
        final = surv.join(dec.where(F.col("keep")).select("id"), "id", "left_semi")
        return final, [d for d, k in keep.items() if k], (back, kept, ex, surv, dec)

    def _jaccard(self, a, b) -> float:
        sa, sb = _shingles(self.texts[a]), _shingles(self.texts[b])
        return len(sa & sb) / max(1, len(sa | sb))

    def _check_meta(self, tag, path, meta, dims) -> None:
        ns = meta.indexes["etl"][0]
        with open(os.path.join(path, "VDF_META.json")) as f:
            disk = json.load(f)["indexes"]["etl"][0]
        self.check(
            f"{tag}_meta",
            ns.total_vector_count == ns.exported_vector_count == self.rows
            and disk["total_vector_count"] == self.rows
            and ns.dimensions == dims
            and all(os.path.exists(os.path.join(path, f)) for f in meta.file_structure),
            f"{ns.total_vector_count}/{ns.exported_vector_count}/{ns.dimensions}",
        )

    def summary(self) -> dict:
        return {
            "dup_pair_recall": (_median(self.recall), "ratio"),
            "dup_pair_precision": (_median(self.precision), "ratio"),
        }


# --------------------------------------------------------------------------
# The serving script, one iteration of catalog_serve: each probe kind
# and each batch size once, among an append, a delete and a compaction.
# Every probe runs 9 Spark jobs. On the 12,000-row catalog the 1- and
# 16-query probes cost within ~40 % of the 1-query floor, while the
# 64-query sq8 batch takes 2-2.7x the floor on 16x its executor CPU:
# the batch on the compute side (measurements in perfbench/README.md).
SCRIPT = [("ivfpq", 16), ("sq8", 64), ("delete", 32), ("hybrid", 1), ("append", 64), ("compact", 0)]
K = 10
NPROBE = 4
NUM_CELLS = 16
VOCAB_BUCKETS = 4096
RECALL10_FLOOR = {"ivfpq": 0.4, "sq8": 0.9}


def _bucket(term: str) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % VOCAB_BUCKETS


class CatalogServe(Workload):
    """Build IVF-PQ, SQ8 and sparse catalogs once (in the warm-up); then
    one op of ``SCRIPT`` per round: probe batches of mixed size and
    kind, an append batch, a delete and a compaction."""

    name = "catalog_serve"
    iteration_rounds = len(SCRIPT)
    # what an untimed pass of the script changes, restored after it
    _PASS_STATE = ("lat", "queries_answered", "hits", "a_next", "deleted", "ivf_ids", "ivf_vec", "counters")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        t = self.truth
        self.corpus_dir = os.path.join(self.data, "corpus")
        corpus = pd.read_parquet(os.path.join(self.corpus_dir, "catalog", "part-00000.parquet"))
        self.base_ids = corpus["vec_id"].to_numpy()
        self.base_vec = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
        q = pd.read_parquet(os.path.join(self.data, "queries.parquet"))
        self.q_ids = q["query_id"].to_numpy()
        self.q_vec = np.stack(q["embedding"].to_numpy()).astype(np.float32)
        self.q_terms = [
            sorted({_bucket(w) for w in text.split()}) for text in q["text"]
        ]
        a = pd.read_parquet(os.path.join(self.data, "append.parquet"))
        self.a_ids = a["vec_id"].to_numpy()
        self.a_vec = np.stack(a["embedding"].to_numpy()).astype(np.float32)
        self.deletes = np.array(t["delete_ids"], dtype=np.int64)
        self.lat: dict[str, list[float]] = {"probe": [], "append": []}
        self.queries_answered = 0
        self.hits = {"ivfpq": [0, 0], "sq8": [0, 0]}
        self.build_s = 0.0
        self.a_next = 0
        self.deleted: set[int] = set()
        # the live contents of the IVF-PQ catalog, for exact top-k
        self.ivf_ids = self.base_ids.copy()
        self.ivf_vec = self.base_vec.copy()

    def warmup(self) -> None:
        """Build every catalog (timed as ``build_s``), then run one pass
        of the script on a copy of them, so that every probe and
        maintenance path is warm before timing starts."""
        root = self.out_dir("cat")
        self.paths = {"ivfpq": f"{root}/ivfpq", "sq8": f"{root}/sq8", "sparse": f"{root}/sparse"}
        t0 = time.perf_counter()
        with self.layer("format.read_vdf"):
            corpus = read_vdf(self.spark, self.corpus_dir).df("catalog").persist()
            corpus.count()
        dense = corpus.select("vec_id", "embedding")
        with self.layer("similarity.write_ivfpq_index"):
            write_ivfpq_index(
                dense, self.paths["ivfpq"], num_cells=NUM_CELLS, num_subspaces=8, codebook_size=64, seed=self.seed
            )
        with self.layer("sq8.write_index"):
            write_sq8_index(dense, self.paths["sq8"], num_cells=NUM_CELLS, seed=self.seed)
        with self.layer("sparse_index.write"):
            sv = bm25_sparse_vectors(
                corpus.select(F.col("vec_id").alias("doc_id"), "text"), vocab_buckets=VOCAB_BUCKETS
            )
            write_sparse_index(sv, self.paths["sparse"], num_shards=8)
        corpus.unpersist()
        self.build_s = time.perf_counter() - t0
        live, saved = self.paths, copy.deepcopy({k: getattr(self, k) for k in self._PASS_STATE})
        warm = self.out_dir("cat-warm")
        shutil.copytree(root, warm, dirs_exist_ok=True)
        self.paths = {k: f"{warm}/{k}" for k in live}
        try:
            # negative op indices: other queries and delete ids than the timed pass
            for i in range(-len(SCRIPT), 0):
                self.round(i)
        finally:
            self.paths = live
            for k, v in saved.items():
                setattr(self, k, v)
            shutil.rmtree(warm)

    # -- ops -------------------------------------------------------------
    def _queries_df(self, ids, vecs):
        rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
        return local_rows_df(self.spark, rows, "query_id long, embedding array<float>")

    def _queries(self, op: int, n: int) -> list[int]:
        """The ``n`` queries of op ``op``: fixed by the op index, so a
        repeated probe asks the same questions."""
        return [(op * 64 + j) % len(self.q_ids) for j in range(n)]

    def _files_per_cell(self) -> float:
        cells = os.path.join(self.paths["ivfpq"], "cells")
        dirs = [d for d in os.listdir(cells) if d.startswith("cell=")]
        files = sum(
            1 for d in dirs for f in os.listdir(os.path.join(cells, d)) if f.endswith(".parquet")
        )
        return files / max(1, len(dirs))

    def _probe(self, op: int, kind: str, size: int) -> None:
        idx = self._queries(op, size)
        qdf = self._queries_df(self.q_ids[idx], self.q_vec[idx])
        t0 = time.perf_counter()
        if kind == "ivfpq":
            with self.layer("similarity.ivfpq_probe"):
                rows = ivfpq_index_probe_topk(self.spark, self.paths["ivfpq"], qdf, k=K, nprobe=NPROBE).collect()
            got = [(r["query_id"], r["vec_id"]) for r in rows]
        elif kind == "sq8":
            with self.layer("sq8.probe"):
                rows = sq8_index_probe_topk(self.spark, self.paths["sq8"], qdf, k=K, nprobe=NPROBE).collect()
            got = [(r["query_id"], r["vec_id"]) for r in rows]
        else:
            batch = [(int(self.q_ids[j]), [(b, 1.0) for b in self.q_terms[j]]) for j in idx]
            with self.layer("hybrid.probe_batch"):
                rows = hybrid_indexed_topk_batch(
                    self.spark, self.paths["sparse"], self.paths["sq8"], batch, qdf,
                    k=K, shortlist=50, nprobe=NPROBE, dense_kind="sq8",
                ).collect()
            got = [(r["query_id"], r["doc_id"]) for r in rows]
        lat = time.perf_counter() - t0
        self.lat["probe"].append(lat)
        self.lat.setdefault(f"probe_{kind}_{size}", []).append(lat)
        self.queries_answered += size
        per_q: dict[int, list[int]] = {}
        for qid, vid in got:
            per_q.setdefault(qid, []).append(vid)
        self.check(f"{kind}_answered", len(per_q) == size and all(len(v) <= K for v in per_q.values()),
                   f"{len(per_q)} of {size} queries answered")
        if kind == "ivfpq":
            self.count("similarity.files_per_cell", self._files_per_cell())
            bad = [v for vs in per_q.values() for v in vs if v in self.deleted]
            self.check("deleted_never_returned", not bad, f"{bad[:5]}")
        if kind in self.hits:
            ids, vecs = (self.ivf_ids, self.ivf_vec) if kind == "ivfpq" else (self.base_ids, self.base_vec)
            scores = self.q_vec[idx].astype(np.float64) @ vecs.T
            top = np.argsort(-scores, axis=1, kind="stable")[:, :K]
            for row, j in enumerate(idx):
                exact = set(ids[top[row]].tolist())
                self.hits[kind][0] += len(exact & set(per_q.get(int(self.q_ids[j]), [])))
                self.hits[kind][1] += K

    def _append(self) -> None:
        n = 64
        lo = self.a_next % len(self.a_ids)
        ids, vecs = self.a_ids[lo : lo + n], self.a_vec[lo : lo + n]
        self.a_next = lo + n
        df = local_rows_df(
            self.spark, [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>",
        )
        t0 = time.perf_counter()
        with self.layer("similarity.append"):
            append_to_ivfpq_index(df, self.paths["ivfpq"], delta_token=f"a{lo}")
        lat = time.perf_counter() - t0
        # the appended id must be found by its own vector (a check probe,
        # in a span of its own so the script's probes time alone)
        qdf = self._queries_df([0], vecs[:1])
        with self.layer("check.ivfpq_probe"):
            hit = ivfpq_index_probe_topk(self.spark, self.paths["ivfpq"], qdf, k=K, nprobe=NPROBE).collect()
        self.check("append_found", int(ids[0]) in {r["vec_id"] for r in hit}, f"id {int(ids[0])}")
        self.lat["append"].append(lat)
        self.ivf_ids = np.concatenate([self.ivf_ids, ids])
        self.ivf_vec = np.concatenate([self.ivf_vec, vecs.astype(np.float64)])

    def _delete(self, i: int, n: int) -> None:
        """Delete the next ``n`` ids of the delete list (token: the batch)."""
        batch = (i // len(SCRIPT) * n) % len(self.deletes)
        ids = self.deletes[batch : batch + n]
        with self.layer("similarity.delete"):
            delete_from_index(self.spark, self.paths["ivfpq"], [int(x) for x in ids], delete_token=f"d{batch}")
        self.deleted |= set(ids.tolist())
        keep = ~np.isin(self.ivf_ids, ids)
        self.ivf_ids, self.ivf_vec = self.ivf_ids[keep], self.ivf_vec[keep]
        pos = {int(v): j for j, v in enumerate(self.base_ids)}
        probe = ids[:16]
        qdf = self._queries_df(probe, self.base_vec[[pos[int(x)] for x in probe]].astype(np.float32))
        with self.layer("check.ivfpq_probe"):
            got = {r["vec_id"] for r in ivfpq_index_probe_topk(
                self.spark, self.paths["ivfpq"], qdf, k=K, nprobe=NPROBE).collect()}
        self.check("delete_applied", not (got & self.deleted), f"{sorted(got & self.deleted)[:5]}")

    def _compact(self) -> None:
        with self.layer("similarity.compact"):
            compact_index_cells(self.spark, self.paths["ivfpq"])
        n = self.spark.read.parquet(f"{self.paths['ivfpq']}/cells").count()
        self.check("compact_rows", n == len(self.ivf_ids), f"{n} != {len(self.ivf_ids)}")

    def round(self, i, warm: bool = False) -> int:
        """One op of the script; returns input rows completed (queries
        answered, rows appended or ids deleted)."""
        kind, size = SCRIPT[i % len(SCRIPT)]
        if kind == "append":
            self._append()
        elif kind == "delete":
            self._delete(i, size)
        elif kind == "compact":
            self._compact()
        else:
            self._probe(i, kind, size)
        return size

    def repeatable(self, i: int) -> bool:
        return SCRIPT[i % len(SCRIPT)][0] not in ("append", "delete", "compact")

    def finish(self) -> None:
        for kind, (hit, tot) in self.hits.items():
            if tot:
                self.check(f"recall_at_10_{kind}", hit / tot >= RECALL10_FLOOR[kind], f"{hit / tot:.3f}")

    def summary(self) -> dict:
        probe = sorted(self.lat["probe"])
        for key, vals in sorted(self.lat.items()):
            if key.startswith("probe_"):
                self.counters[f"{key}_p50_s"] = [_median(vals)]
        hit = sum(h for h, _ in self.hits.values())
        tot = sum(t for _, t in self.hits.values())
        n = len(probe)
        out = {
            "build_s": (self.build_s, "s"),
            "probe_p50_s": (_median(probe), "s"),
            "probe_p95_s": (float(np.percentile(probe, 95)) if n else 0.0, "s"),
            "probe_qps": (self.queries_answered / sum(probe) if n else 0.0, "queries/s"),
            "append_p50_s": (_median(self.lat["append"]), "s"),
            "recall_at_10": (hit / tot if tot else 0.0, "ratio"),
            **{f"recall_at_10_{k}": (h / t if t else 0.0, "ratio") for k, (h, t) in self.hits.items()},
            "probe_samples": (n, "count"),
        }
        # the highest percentile with at least 10 samples beyond it
        if n > 10:
            pct = 100.0 * (n - 10) / n
            out["probe_tail_pct"] = (pct, "pct")
            out["probe_tail_s"] = (float(np.percentile(probe, pct)), "s")
        return out


WORKLOADS = {w.name: w for w in (VdfEtl, CatalogServe)}

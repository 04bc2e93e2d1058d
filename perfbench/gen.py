"""Seeded input generator for the benchmark workloads.

Every input is a function of ``(workload, seed)`` only: one
``numpy.random.Generator(PCG64(seed))`` drives all draws, files are
written in a fixed order with fixed names, and the SHA-256 over every
generated byte is recorded in ``manifest.json`` so two runs can prove
they measured the same inputs. Ground truth (what a correct program
must return) is written beside the inputs as ``truth.json`` and never
handed to the program.

Sizes are module constants, stated here so a result can be quoted
with its input size. They are small because one run, Spark start and
cold warm-up included, must fit a ~45 s slot on a 4-core box; at these
sizes every round is bound by the per-job floor more than by bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- vdf_etl: FIXTURES vdf_basic / vdf_dirty shape, plus planted dups ---
ETL_BASE_DOCS = 2_000
ETL_SHARDS = 8
ETL_DIM = 64
ETL_DIM_B = 8
ETL_EMBED_DIM = 8  # hash-backend re-embedding width
ETL_VOCAB = 5_000  # distinct words
ETL_ZIPF_S = 1.1  # word-rank skew: p(rank r) ~ r^-s
ETL_DOC_TOKENS = (30, 90)
ETL_NEAR_SHARE = 0.15  # base docs given one near-duplicate
ETL_NEAR2_SHARE = 0.05  # ... and of those, a second one
ETL_EDIT_SHARE = 0.05  # tokens substituted in a near-duplicate
ETL_EXACT_SHARE = 0.10  # base docs given a case/punctuation copy
ETL_SEM_SHARE = 0.05  # base docs given a paraphrase (new text, ~same vector)
ETL_JUNK_SHARE = 0.03  # short docs the quality filter must drop

# --- catalog_serve ------------------------------------------------------
CAT_ROWS = 12_000
CAT_DIM = 32
CAT_CLUSTERS = 16
CAT_QUERIES = 512
CAT_APPEND_ROWS = 2_048
CAT_DELETE_IDS = 64
CAT_TOPIC_WORDS = 40
CAT_COMMON_WORDS = 400


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words (3-9 letters)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _vec_list(a: np.ndarray) -> list[np.ndarray]:
    return [row for row in a.astype(np.float32)]


# --------------------------------------------------------------------------
def _zipf_tokens(rng, p, n_tok):
    return rng.choice(len(p), size=n_tok, p=p)


def gen_vdf_etl(rng: np.random.Generator, out: str) -> dict:
    """An EmbeddedVectorDB collection ``src`` of documents with mixed
    ids, NaN/Inf scores, NaT timestamps and two vector columns, split
    into shards, with planted exact copies, near-duplicates, paraphrases
    (new text, near-identical ``vector``) and junk.

    A planted copy's id is its base document's id plus a ``~`` suffix,
    so it sorts after the base: every duplicate group's minimum id,
    which the dedup operators keep, is its base document."""
    vocab = _words(rng, ETL_VOCAB)
    ranks = np.arange(1, ETL_VOCAB + 1, dtype=np.float64)
    p = ranks ** -ETL_ZIPF_S
    p /= p.sum()
    b = ETL_BASE_DOCS
    base_ids = []
    for i, k in enumerate(rng.integers(0, 3, size=b)):
        if k == 0:
            base_ids.append(str(1_000_000 + i))  # int-as-string
        elif k == 1:
            h = rng.bytes(12).hex()
            base_ids.append(f"{h[:8]}-{h[8:12]}-4{h[12:15]}-a{h[15:18]}-{i:012x}")  # uuid-shaped
        else:
            base_ids.append(f"doc/{i}-{rng.bytes(3).hex()}")  # arbitrary
    base_tok = [_zipf_tokens(rng, p, int(rng.integers(*ETL_DOC_TOKENS))) for _ in range(b)]
    base_vec = _unit(rng.standard_normal((b, ETL_DIM)))
    docs: list[tuple[str, str, np.ndarray]] = [
        (base_ids[i], " ".join(vocab[t] for t in base_tok[i]), base_vec[i]) for i in range(b)
    ]

    def near(v):
        return _unit(v + 0.01 * rng.standard_normal(ETL_DIM))

    near_pairs: list[tuple[str, str]] = []
    sem_pairs: list[tuple[str, str]] = []
    exact_victims: list[str] = []
    junk: list[str] = []
    chosen = rng.permutation(b)
    n_near, n_near2 = int(b * ETL_NEAR_SHARE), int(b * ETL_NEAR2_SHARE)
    for j, i in enumerate(chosen[:n_near]):
        seen = {docs[i][1]}
        for c in range(2 if j < n_near2 else 1):
            text = docs[i][1]
            while text in seen:  # a Zipf draw can put back the word it replaced
                tok = base_tok[i].copy()
                n_edit = max(1, int(round(len(tok) * ETL_EDIT_SHARE)))
                tok[rng.choice(len(tok), size=n_edit, replace=False)] = _zipf_tokens(rng, p, n_edit)
                text = " ".join(vocab[t] for t in tok)
            seen.add(text)
            docs.append((f"{base_ids[i]}~n{c}", text, near(base_vec[i])))
            near_pairs.append((base_ids[i], docs[-1][0]))
    for i in rng.permutation(b)[: int(b * ETL_EXACT_SHARE)]:
        words = [vocab[t] for t in base_tok[i]]
        text = words[0].capitalize() + ", " + ", ".join(words[1:3]) + " " + " ".join(words[3:]) + "."
        docs.append((f"{base_ids[i]}~x", text, base_vec[i]))
        exact_victims.append(docs[-1][0])
    for i in rng.permutation(b)[: int(b * ETL_SEM_SHARE)]:
        tok = _zipf_tokens(rng, p, int(rng.integers(*ETL_DOC_TOKENS)))
        docs.append((f"{base_ids[i]}~p", " ".join(vocab[t] for t in tok), near(base_vec[i])))
        sem_pairs.append((base_ids[i], docs[-1][0]))
    for j in range(int(b * ETL_JUNK_SHARE)):
        tok = _zipf_tokens(rng, p, int(rng.integers(3, 8)))
        docs.append((f"junk/{j}", " ".join(vocab[t] for t in tok), _unit(rng.standard_normal(ETL_DIM))))
        junk.append(docs[-1][0])

    n = len(docs)
    order = rng.permutation(n)
    ids = [docs[k][0] for k in order]
    texts = [docs[k][1] for k in order]
    vec = np.stack([docs[k][2] for k in order]).astype(np.float32)
    vec_b = rng.standard_normal((n, ETL_DIM_B)).astype(np.float32)
    n_title = rng.integers(2, 9, size=n)
    title_idx = rng.integers(0, ETL_VOCAB, size=(n, 8))
    score = rng.random(n)
    u = rng.random(n)
    score[u < 0.03] = np.nan
    score[(u >= 0.03) & (u < 0.04)] = np.inf
    score[(u >= 0.04) & (u < 0.05)] = -np.inf
    created = pd.Timestamp("2023-01-01") + pd.to_timedelta(rng.integers(0, 365 * 86400, size=n), unit="s")
    created = pd.Series(created.astype("datetime64[us]"))
    nat = rng.random(n) < 0.03
    created[nat] = pd.NaT
    df = pd.DataFrame(
        {
            "id": ids,
            "vector": list(vec),
            "vector_b": list(vec_b),
            "title": [" ".join(vocab[t] for t in title_idx[i, : n_title[i]]) for i in range(n)],
            "text": texts,
            "category": np.array([f"cat{k}" for k in range(8)])[rng.integers(0, 8, size=n)],
            "score": score,
            "flag": rng.random(n) < 0.5,
            "created_at": created,
        }
    )
    schema = pa.schema(
        [
            ("id", pa.string()),
            ("vector", pa.list_(pa.float32())),
            ("vector_b", pa.list_(pa.float32())),
            ("title", pa.string()),
            ("text", pa.string()),
            ("category", pa.string()),
            ("score", pa.float64()),
            ("flag", pa.bool_()),
            ("created_at", pa.timestamp("us")),
        ]
    )
    coll = os.path.join(out, "db", "src")
    os.makedirs(coll)
    with open(os.path.join(coll, "_config.json"), "w") as f:
        json.dump({"dimensions": ETL_DIM, "metric": "Cosine", "index_config": {}}, f)
    bounds = np.linspace(0, n, ETL_SHARDS + 1).astype(int)
    for s in range(ETL_SHARDS):
        _write_parquet(df.iloc[bounds[s] : bounds[s + 1]], os.path.join(coll, f"shard-{s:04d}.parquet"), schema)

    emb_sum = 0.0
    for t in texts:  # independent re-statement of the hash embedder
        for d in range(ETL_EMBED_DIM):
            h = hashlib.md5(f"{t}|{d}".encode()).hexdigest()[:8]
            emb_sum += float(np.float32(int(h, 16) / float(0xFFFFFFFF) * 2.0 - 1.0))
    return {
        "rows": n,
        "base_docs": b,
        "vocab": ETL_VOCAB,
        "zipf_s": ETL_ZIPF_S,
        "id_crc_sum": int(sum(zlib.crc32(i.encode()) for i in ids)),
        "vector_sum": float(vec.astype(np.float64).sum()),
        "vector_b_sum": float(vec_b.astype(np.float64).sum()),
        "embed_sum": emb_sum,
        "bad_scores": int((~np.isfinite(score)).sum()),
        "nat_timestamps": int(nat.sum()),
        "dims": ETL_DIM,
        "embed_dims": ETL_EMBED_DIM,
        "junk_ids": sorted(junk),
        "exact_victims": sorted(exact_victims),
        "near_pairs": sorted(near_pairs),
        "sem_pairs": sorted(sem_pairs),
    }


# --------------------------------------------------------------------------
def gen_catalog_serve(rng: np.random.Generator, out: str) -> dict:
    """Clustered unit vectors with topic text (for BM25), a held-out
    query set, an append pool and a delete list."""
    cents = _unit(rng.standard_normal((CAT_CLUSTERS, CAT_DIM)))
    common = _words(rng, CAT_COMMON_WORDS + CAT_CLUSTERS * CAT_TOPIC_WORDS)
    topic = [
        common[CAT_COMMON_WORDS + c * CAT_TOPIC_WORDS : CAT_COMMON_WORDS + (c + 1) * CAT_TOPIC_WORDS]
        for c in range(CAT_CLUSTERS)
    ]
    common = common[:CAT_COMMON_WORDS]

    def draw(n):
        lab = rng.integers(0, CAT_CLUSTERS, size=n)
        vec = _unit(cents[lab] + 0.15 * rng.standard_normal((n, CAT_DIM)))
        texts = []
        for c in lab:
            k = int(rng.integers(10, 20))
            w = [topic[c][j] for j in rng.integers(0, CAT_TOPIC_WORDS, size=k // 2)]
            w += [common[j] for j in rng.integers(0, CAT_COMMON_WORDS, size=k - k // 2)]
            texts.append(" ".join(rng.permutation(w)))
        return vec.astype(np.float32), texts

    vec, texts = draw(CAT_ROWS)
    qvec, qtexts = draw(CAT_QUERIES)
    avec, atexts = draw(CAT_APPEND_ROWS)
    corpus = pd.DataFrame(
        {"vec_id": np.arange(CAT_ROWS, dtype=np.int64), "embedding": _vec_list(vec), "text": texts}
    )
    _write_vdf_dir(corpus, os.path.join(out, "corpus"), "catalog", "vec_id", ["embedding"], CAT_DIM)
    _write_parquet(
        pd.DataFrame(
            {
                "vec_id": np.arange(CAT_ROWS, CAT_ROWS + CAT_APPEND_ROWS, dtype=np.int64),
                "embedding": _vec_list(avec),
            }
        ),
        os.path.join(out, "append.parquet"),
    )
    _write_parquet(
        pd.DataFrame(
            {"query_id": np.arange(CAT_QUERIES, dtype=np.int64), "embedding": _vec_list(qvec), "text": qtexts}
        ),
        os.path.join(out, "queries.parquet"),
    )
    deletes = np.sort(rng.choice(CAT_ROWS, size=CAT_DELETE_IDS, replace=False))
    return {
        "rows": CAT_ROWS,
        "dim": CAT_DIM,
        "queries": CAT_QUERIES,
        "append_rows": CAT_APPEND_ROWS,
        "delete_ids": [int(x) for x in deletes],
    }


def _write_vdf_dir(df, path, index, id_col, vec_cols, dims) -> None:
    """A one-file VDF dataset (VDF_META.json + one parquet directory),
    written without the program so the benchmark feeds it only files."""
    sub = os.path.join(path, index)
    os.makedirs(sub)
    _write_parquet(df, os.path.join(sub, "part-00000.parquet"))
    meta = {
        "version": "bench",
        "file_structure": [f"{index}/part-00000.parquet", "VDF_META.json"],
        "author": "perfbench",
        "exported_from": "perfbench",
        "exported_at": "1970-01-01T00:00:00+00:00",
        "id_column": id_col,
        "indexes": {
            index: [
                {
                    "namespace": "",
                    "index_name": index,
                    "total_vector_count": len(df),
                    "exported_vector_count": len(df),
                    "dimensions": dims,
                    "model_name": None,
                    "vector_columns": vec_cols,
                    "data_path": index,
                    "metric": "Cosine",
                }
            ]
        },
    }
    with open(os.path.join(path, "VDF_META.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


GENERATORS = {
    "vdf_etl": gen_vdf_etl,
    "catalog_serve": gen_catalog_serve,
}


def _tree_sha256(root: str) -> tuple[str, int]:
    """SHA-256 over (relative path, bytes) of every file, in sorted order."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                data = f.read()
            total += len(data)
            h.update(data)
    return h.hexdigest(), total


def generate(workload: str, seed: int, root: str) -> dict:
    """Write the inputs for ``(workload, seed)`` under
    ``<root>/<workload>-s<seed>/`` and return its manifest: the input
    directory, the truth file, the input SHA-256 and byte count."""
    out = os.path.join(root, f"{workload}-s{seed}")
    if os.path.isdir(out):
        shutil.rmtree(out)
    data = os.path.join(out, "data")
    os.makedirs(data)
    rng = np.random.Generator(np.random.PCG64(seed))
    truth = GENERATORS[workload](rng, data)
    sha, nbytes = _tree_sha256(data)
    manifest = {"workload": workload, "seed": seed, "sha256": sha, "input_bytes": nbytes, "data": data}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    manifest["truth"] = truth
    return manifest

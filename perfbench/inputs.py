"""Seeded benchmark inputs, written as parquet under the benchmark's work dir.

The same seed always gives the same files. The program under test only ever
sees DataFrames read back from these files.

- ``write_corpus_versions``: two versions of the synthetic source-code
  corpus, made by ``theta_spark.corpus.generate_doc``. Version 2 deletes,
  edits and adds about 1% of the documents each, chosen by a hash of
  ``(seed, repo, path)``.
- ``write_query_tables``: the ``lineitem``, ``documents`` and ``embeddings``
  tables the graph-query mix reads, sized by ``QUERY_SIZES``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from theta_spark.corpus import KeyedDraws, generate_doc

# Query table sizes: those of the repo's TPC-H-style test data at scale
# factor 0.01 (6M x sf lineitem rows, 200k x sf parts, 10k x sf suppliers,
# keys drawn uniformly; 500 documents and 500 embeddings). The benchmark's
# run-time budget rules out sf0.1: there a pass cost ~30% more CPU and a run
# took ~80 s.
QUERY_SIZES = {"n_lineitem": 60_000, "n_parts": 2_000, "n_suppliers": 100, "n_docs": 500, "n_vecs": 500}

# share of documents per fate, in 1/10000
DELETE_BP, EDIT_BP, ADD_BP = 100, 100, 100


def doc_fate(seed: int, i: int) -> str:
    """'delete', 'edit', 'add' or 'keep' for document i between versions."""
    repo, path = f"org{i % 7}/proj{i % 13}", f"src/pkg{i % 5}/mod{i}.py"
    u = int(hashlib.md5(f"{seed}:{repo}/{path}".encode()).hexdigest()[:8], 16) % 10000
    if u < DELETE_BP:
        return "delete"
    if u < DELETE_BP + EDIT_BP:
        return "edit"
    if u < DELETE_BP + EDIT_BP + ADD_BP:
        return "add"
    return "keep"


def version_doc(seed: int, i: int, version: int):
    """Document i as it reads in corpus `version` (1 or 2), or None if absent.
    An edited document keeps its repo/path/commit (so its doc_id) and gets
    content drawn under another seed."""
    fate = doc_fate(seed, i)
    if (version == 1 and fate == "add") or (version == 2 and fate == "delete"):
        return None
    draw_seed = seed + 7919 if (version == 2 and fate == "edit") else seed
    return generate_doc(KeyedDraws(draw_seed, i), i)


def version_docs(seed: int, n_docs: int, version: int) -> list:
    """The in-memory Doc list of one corpus version (gold rows included)."""
    return [d for i in range(n_docs) if (d := version_doc(seed, i, version)) is not None]


def write_corpus_versions(out_dir: str, n_docs: int, seed: int, n_files: int = 8) -> dict:
    """Write corpus versions 1 and 2 to ``out_dir/v<n>/part-<k>.parquet`` in
    the `theta_spark.corpus` schema. `n_files` files per version, so a scan
    gets as many partitions as ``corpus.corpus_df`` makes by default.
    Returns {version: directory}."""
    paths = {}
    for version in (1, 2):
        docs = version_docs(seed, n_docs, version)
        path = os.path.join(out_dir, f"v{version}")
        os.makedirs(path, exist_ok=True)
        for k in range(n_files):
            part = docs[k::n_files]
            table = pa.table(
                {c: [getattr(d, c) for d in part] for c in ("repo", "path", "commit", "lang", "content")}
            )
            pq.write_table(table, os.path.join(path, f"part-{k}.parquet"))
        paths[version] = path
    return paths


_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query stream order group "
    "filter big vector"
).split()


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, size=int(rng.integers(8, 96)))) for _ in range(n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _lineitem(rng: np.random.Generator, n_rows: int, n_parts: int, n_suppliers: int) -> pa.Table:
    return pa.table(
        {
            "l_partkey": pa.array(rng.integers(0, n_parts, n_rows, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_suppliers, n_rows, dtype=np.int64)),
            "l_quantity": pa.array(rng.integers(1, 51, n_rows).astype(np.float64)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)]),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, size=(n_vecs, dim)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def write_query_tables(
    out_dir: str, seed: int, n_lineitem: int, n_parts: int, n_suppliers: int, n_docs: int, n_vecs: int
) -> str:
    """Write ``<table>.parquet`` for the three tables the query mix reads,
    with the testdata schema's columns that the mix uses."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (
        ("lineitem", _lineitem(rng, n_lineitem, n_parts, n_suppliers)),
        ("documents", _documents(rng, n_docs)),
        ("embeddings", _embeddings(rng, n_vecs)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

"""The benchmark's workloads.

Each workload is driven closed-loop by one client (this process): the next
iteration starts when the previous one has finished and been checked.

- ``kg_incremental``: one iteration is ``pipeline.run_pipeline_incremental``
  of corpus version 2 against a full snapshot of version 1, into an empty
  work dir. Set-up builds that prior snapshot and, side by side with it, a
  full build of version 2, the reference; as soon as the prior is built, an
  untimed warm-up refresh runs alongside the reference build and is checked
  against it.
- ``graph_queries``: one iteration is one pass of a fixed mix of the
  program's queries (``theta_spark.queries``) over seeded tables, each result
  collected and hash-checked against its DuckDB oracle. Set-up warms up
  by running every query once, side by side, and checks that pass too.

A workload has four steps: ``prepare`` (inputs, before Spark starts),
``setup`` (after Spark starts; includes the untimed warm-up), ``iterate``
(one timed iteration) and ``check`` (after the timer stops).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs

KG_STAGES = (
    "mentions", "triples", "scored_docs", "delta_stats",
    "nodes", "canon_map", "edge_provenance", "edges",
)


def disk_mb(path: str) -> tuple[float, int]:
    """(MiB, data files) under `path`; hidden and `_`-prefixed side files
    (`_lineage`, `_retired`) count, CRC files do not."""
    total, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
    return total / 2**20, files


def value_hash(rows, colnames) -> str:
    """Order-insensitive hash of a result, as the repo's oracle harness
    computes it: columns sorted by name, cells normalized, lines sorted."""

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    h = hashlib.sha256()
    for line in sorted("|".join(cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_fingerprint(df, cols) -> tuple:
    """(rows, two order-insensitive hash sums) of `df` over `cols`."""
    keyed = df.select(*cols)
    row = keyed.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.hash(*cols).cast("decimal(38,0)")),
    ).first()
    return tuple(int(x or 0) for x in row)


def stage_ledger(workdir: str) -> dict:
    """{stage: (rows_out, sum of its _lineage fingerprints)} from the
    manifests and lineage tables a run left in `workdir`."""
    out = {}
    for stage in KG_STAGES:
        manifest_path = os.path.join(workdir, stage, "_STAGE_MANIFEST.json")
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                rows = json.load(f)["rows_out"]
            lineage = pq.read_table(os.path.join(workdir, stage, "_lineage"))
            out[stage] = (rows, sum(lineage.column("fingerprint").to_pylist()))
    return out


# ------------------------------------------------------------ kg_incremental


class KgIncremental:
    name = "kg_incremental"
    n_docs = 1000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.prior_dir = os.path.join(work, "prior")
        self.reference_dir = os.path.join(work, "reference")
        self.first_ledger = None

    def prepare(self, phases: dict):
        t = time.time()
        self.corpus_paths = inputs.write_corpus_versions(
            os.path.join(self.work, "corpus"), self.n_docs, self.seed
        )
        fates = [inputs.doc_fate(self.seed, i) for i in range(self.n_docs)]
        self.changed_docs = sum(f in ("edit", "add") for f in fates)
        phases["corpus.gen_s"] = time.time() - t

    def setup(self, spark, phases: dict) -> list[str]:
        """Build the prior and reference snapshots and run the warm-up
        refresh; return the names of failed checks. Both full builds must
        hash-match the generator's gold triples, and the warm-up refresh
        must equal the reference on mentions, triples and edges."""
        from theta_spark.pipeline import run_pipeline

        self.spark = spark
        self.v1 = spark.read.parquet(self.corpus_paths[1])
        self.v2 = spark.read.parquet(self.corpus_paths[2])
        # the reference build needs no prior: it runs alongside the prior
        # build and then alongside the warm-up refresh; each check runs as
        # soon as what it reads is there
        with ThreadPoolExecutor(max_workers=2) as pool:
            t = time.time()
            reference = pool.submit(self._reference, phases)
            prior = run_pipeline(spark, self.v1, self.prior_dir)
            phases["prior_build_s"] = time.time() - t
            warmup = pool.submit(self.iterate, "warmup")
            failed = self._gold_check(1, prior)
            ref_failed, ref_fps = reference.result()
            warm = warmup.result()
            phases["builds_and_warmup_s"] = time.time() - t
        failed += ref_failed
        for stage, (cols, fp) in ref_fps.items():
            if frame_fingerprint(warm["out"][stage], cols) != fp:
                failed.append(f"equals_full:{stage}")
        self.first_ledger = stage_ledger(warm["workdir"])
        self.release(warm)
        return failed

    def _reference(self, phases: dict) -> tuple[list[str], dict]:
        """Full build of version 2: (failed gold check, {stage: (columns,
        fingerprint)} of the stages a refresh must reproduce)."""
        from theta_spark.pipeline import run_pipeline

        t = time.time()
        out = run_pipeline(self.spark, self.v2, self.reference_dir)
        phases["reference_build_s"] = time.time() - t
        fps = {
            stage: (out[stage].columns, frame_fingerprint(out[stage], out[stage].columns))
            for stage in ("mentions", "triples", "edges")
        }
        return self._gold_check(2, out), fps

    def _gold_check(self, version: int, out: dict) -> list[str]:
        from theta_spark.corpus import gold_triple_rows

        cols = ["subj", "pred", "obj", "doc_id"]
        got = [tuple(r) for r in out["triples"].select(*cols).distinct().collect()]
        gold = gold_triple_rows(inputs.version_docs(self.seed, self.n_docs, version))
        return [] if value_hash(got, cols) == value_hash(gold, cols) else [f"gold_triples_v{version}"]

    def iterate(self, k, tracer=None):
        from theta_spark.pipeline import run_pipeline_incremental

        workdir = os.path.join(self.work, f"refresh-{k}")
        out = run_pipeline_incremental(self.spark, self.v2, workdir, prior_workdir=self.prior_dir)
        return {"workdir": workdir, "out": out}

    def check(self, result) -> list[str]:
        """Every timed refresh must leave the same per-stage rows and lineage
        fingerprints as the warm-up refresh, which equals the full build."""
        ledger = stage_ledger(result["workdir"])
        return [f"ledger:{s}" for s in KG_STAGES if ledger.get(s) != self.first_ledger.get(s)]

    def facts(self, result, traced: bool) -> dict:
        """Sizes read after the timer stops."""
        workdir = result["workdir"]
        stats = pq.read_table(os.path.join(workdir, "delta_stats")).to_pylist()[0]
        facts = dict(zip(("commit.snapshot_mb", "commit.files"), disk_mb(workdir)))
        for stage in KG_STAGES:
            with open(os.path.join(workdir, stage, "_STAGE_MANIFEST.json")) as f:
                facts[f"commit.{stage}.wall_s"] = json.load(f)["wall_ms"] / 1000
            facts[f"commit.{stage}.disk_mb"] = disk_mb(os.path.join(workdir, stage))[0]
        facts["delta.resolve.extract_ratio"] = stats["n_extracted"] / max(1, self.changed_docs)
        if traced:
            facts["canonicalize.names_in"] = result["out"]["mentions"].select("norm").distinct().count()
            facts["canonicalize.canon_rows"] = result["out"]["canon_map"].count()
        return facts

    def release(self, result):
        shutil.rmtree(result["workdir"], ignore_errors=True)

    def install_trace(self, tracer):
        """Time the pipeline's layers from outside. Functions that return
        lazy DataFrames get their result materialized inside the span, so
        the Spark jobs that compute it are charged to that layer."""
        from theta_spark import pipeline

        def materialized(df, sp):
            df = df.localCheckpoint(eager=True)
            sp.attrs["rows_out"] = df.count()
            return df

        def counted(df, sp):
            sp.attrs["rows_out"] = df.count()
            return df

        def nodes_materialized(result, sp):
            nodes, edges, stream = result
            return materialized(nodes, sp), edges, stream

        def delta_materialized(result, sp):
            reused, delta_docs = result
            return reused, materialized(delta_docs, sp)

        def committed(df, sp):
            with open(os.path.join(sp.attrs["workdir"], sp.attrs["stage"], "_STAGE_MANIFEST.json")) as f:
                sp.attrs["rows_out"] = json.load(f)["rows_out"]
            return df

        def commit_name(spark, workdir, stage, *args, **kwargs):
            return f"commit.{stage}"

        def commit_attrs(spark, workdir, stage, *args, **kwargs):
            return {"workdir": workdir, "stage": stage}

        tracer.wrap(pipeline, "extract_mentions_df", "extract.mentions", materialized)
        tracer.wrap(pipeline, "extract_triples", "extract.triples", materialized)
        tracer.wrap(pipeline, "compute_canon_map", "canonicalize", counted)
        tracer.wrap(pipeline, "build_nodes_edges", "graph.build", nodes_materialized)
        tracer.wrap(pipeline, "corpus_delta", "delta.resolve", delta_materialized)
        tracer.wrap(pipeline, "read_stage", "delta.resolve")
        tracer.wrap(pipeline, "run_checkpointed", commit_name, committed, span_attrs=commit_attrs)


# ------------------------------------------------------------ graph_queries


class GraphQueries:
    name = "graph_queries"
    # Left out to keep a run within the benchmark's time budget:
    # dd_ngram_jaccard (2-2.7 s a pass, plus 9-13 s of single-thread DuckDB
    # oracle during the warm-up; functions.dedup) and gr_components (2.6-3.2 s
    # a pass; its rounds are canonicalize.connected_components, which
    # kg_incremental's canonicalize layer times)
    queries = ("gr_pagerank", "kge_transe", "t_train_quality_lr", "sim_ivfpq_topk", "t_quantiles")
    sizes = inputs.QUERY_SIZES
    tables = ("lineitem", "documents", "embeddings")

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.oracle = {}

    def prepare(self, phases: dict):
        t = time.time()
        self.data = inputs.write_query_tables(os.path.join(self.work, "tables"), self.seed, **self.sizes)
        phases["corpus.gen_s"] = time.time() - t
        # the DuckDB oracles run on two threads while Spark starts and warms up
        self._oracle_pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="duckdb-oracle")
        self._oracles = {name: self._oracle_pool.submit(self._oracle, name) for name in self.queries}

    def _oracle(self, name: str) -> tuple[int, str]:
        """(rows, value hash) of the query's DuckDB oracle, on a connection
        of its own. The tables are loaded into DuckDB rather than read
        through views, and every named CTE is evaluated once (``AS
        MATERIALIZED``). Neither changes the rows; without them an oracle
        that unrolls iterations as CTEs, each naming the ones before
        (``t_train_quality_lr``, ``gr_pagerank``), re-evaluates its early
        CTEs exponentially often: 16.5 s instead of 0.1 s, with the
        parquet file open some 2,000 times at once."""
        import duckdb

        from theta_spark.queries import ORACLES

        con = duckdb.connect(config={"threads": 1})
        try:
            for table in self.tables:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{path}')")
            cur = con.execute(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", ORACLES[name]))
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            return len(rows), value_hash(rows, cols)
        finally:
            con.close()

    def setup(self, spark, phases: dict) -> list[str]:
        """One untimed warm-up run of every query, checked against the
        oracles; every timed pass is checked against them too."""
        self.spark = spark
        t = time.time()
        # the queries of the warm-up run side by side: they only need to
        # have run once, and their JIT and codegen costs then overlap
        with ThreadPoolExecutor(max_workers=len(self.queries)) as pool:
            warm = dict(zip(self.queries, pool.map(self._query, self.queries)))
        phases["warmup_s"] = time.time() - t
        t = time.time()
        failed = []
        for name, fut in self._oracles.items():
            try:
                self.oracle[name] = fut.result()
            except Exception as e:  # noqa: BLE001 - a failed oracle is a failed check
                failed.append(f"oracle:{name}:{type(e).__name__}: {e}")
        self._oracle_pool.shutdown()
        phases["oracle_wait_s"] = time.time() - t
        return failed + [f"warmup:{name}" for name in self.check(warm)]

    def _query(self, name: str) -> tuple[int, str]:
        from theta_spark.queries import QUERIES

        df = QUERIES[name](self.spark, self.data)
        rows = [tuple(r) for r in df.collect()]
        return len(rows), value_hash(rows, df.columns)

    def iterate(self, k: int, tracer=None) -> dict:
        results = {}
        for name in self.queries:
            with tracer.span(f"q.{name}") if tracer else contextlib.nullcontext() as sp:
                results[name] = self._query(name)
                if sp is not None:
                    sp.attrs["rows_out"] = results[name][0]
        return results

    def check(self, result) -> list[str]:
        return [name for name in self.queries if result[name] != self.oracle.get(name)]

    def facts(self, result, traced: bool) -> dict:
        return {}

    def release(self, result):
        pass

    def install_trace(self, tracer):
        pass


WORKLOADS = {w.name: w for w in (KgIncremental, GraphQueries)}

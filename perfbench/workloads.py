"""The workloads: inputs, warm-up, timed jobs and reference checks.

Every job goes from input files to a complete result. A job returns a
``JobOut``: what the comparator needs (a collected frame or an output
directory) plus the work counters and per-layer facts the kernel, the
algorithms' ``stats=`` dicts and the benchmark's own spans expose.
Calls made only to time a layer on its own run in ``traced.*`` spans,
only when tracing."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import reference as ref

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: the r13 record for the sf0.1 trade graph; every run must repeat it
TRADE_COUNTERS = {
    "wcc": {"supersteps": 6, "messages": 2_942_442},
    "min_spanning_forest": {"rounds": 6, "rows": 15_998},
}


@dataclass
class JobOut:
    frame: pd.DataFrame | None = None  # collected result, or
    out_dir: str | None = None  # a written text directory
    counters: dict = field(default_factory=dict)  # must repeat exactly
    layer: dict = field(default_factory=dict)  # per-layer facts
    pregel: object = None  # PregelMetrics of a kernel job


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    run_id: str = ""
    traced: bool = False


def pregel_facts(m) -> dict:
    parts = [s["partitions"] for s in m.supersteps]
    return {
        "supersteps": m.num_supersteps,
        "messages": m.total_messages,
        "superstep_s": [s["seconds"] for s in m.supersteps],
        "gear_changes": sum(1 for a, b in zip(parts, parts[1:]) if a != b),
    }


def _kernel_out(out: JobOut, m) -> JobOut:
    out.pregel = m
    facts = pregel_facts(m)
    out.counters = {"supersteps": facts["supersteps"], "messages": facts["messages"]}
    return out


def _duckdb_refs(ctx: Ctx, jobs, tables: dict[str, str]) -> dict:
    cache = os.path.join(ctx.work, "refs")
    return {j: ref.duckdb_reference(j, tables, cache) for j in jobs}


# ---------------------------------------------------------- trade-analytics --


class TradeAnalytics:
    """sf0.1 trade graph (16,000 vertices; 1,173,742 edges) built from
    parquet by ``plans.fixtures.trade_graph`` in every job. The warm-up
    runs both jobs, capped at 3 supersteps and 2 rounds, on a 1-in-50
    order sample of the same tables."""

    name = "trade-analytics"
    dir = os.path.join(DATA, "sf0.1")
    tables = ("orders", "lineitem", "customer", "supplier")
    job_names = ("wcc", "min_spanning_forest")

    def __init__(self):
        self.graph_dir = self.dir
        self.sample_dir = ""
        self.warm = False  # warm-up: sample input, capped loops

    def inputs(self, base: str | None = None) -> dict[str, str]:
        return {t: os.path.join(base or self.dir, f"{t}.parquet") for t in self.tables}

    def prepare(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        self.sample_dir = os.path.join(ctx.work, "inputs", "trade-sample")
        os.makedirs(self.sample_dir, exist_ok=True)
        src, dst = self.inputs(), self.inputs(self.sample_dir)
        for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                       ("customer", None), ("supplier", None)):
            tab = pq.read_table(src[t])
            if key:
                tab = tab.filter(tab[key].to_numpy() % 50 == 0)
            pq.write_table(tab, dst[t])

    def warm_up(self, ctx: Ctx) -> None:
        self.graph_dir, self.warm = self.sample_dir, True
        try:
            for job in self.job_names:
                self.run(job, ctx)
        finally:
            self.graph_dir, self.warm = self.dir, False

    def run(self, job: str, ctx: Ctx) -> JobOut:
        from pyspark.sql import functions as F

        from giraph_spark.plans.fixtures import trade_graph
        from giraph_spark.pregel import PregelMetrics

        tr, out = ctx.tracer, JobOut()
        g = trade_graph(ctx.spark, self.graph_dir, directed=job == "min_spanning_forest")
        if ctx.traced and job == "wcc":
            with tr.span("traced.fixtures_build"):
                out.layer["fixtures.edges"] = g.edges.count()
        if job == "min_spanning_forest":
            from giraph_spark.algos.mst import minimum_spanning_forest

            stats: dict = {}
            rounds = 2 if self.warm else 40
            res = minimum_spanning_forest(g, max_rounds=rounds, stats=stats).select(
                F.col("u").cast("long").alias("u"),
                F.col("v").cast("long").alias("v"),
                F.round(F.col("weight"), 2).alias("weight"),
            )
            out.frame = res.toPandas()
            out.counters = {"rounds": stats.get("rounds", 0), "rows": len(out.frame)}
            return out
        from giraph_spark.algos.components import wcc

        m = PregelMetrics()
        if ctx.traced:
            self._time_symmetrize(g, out, tr)
        res = wcc(g, max_supersteps=3 if self.warm else 50, metrics=m).select(
            F.col("id").cast("long").alias("id"),
            F.col("component").cast("long").alias("component"),
        )
        out.frame = res.toPandas()
        return _kernel_out(out, m)

    @staticmethod
    def _time_symmetrize(g, out: JobOut, tr) -> None:
        """The ``symmetrize`` prep ``wcc`` runs, timed on its own: its
        dedup keeps ``edges out`` of the ``2 |E|`` rows that enter it."""
        from giraph_spark.algos.prepare import symmetrize

        with tr.span("traced.symmetrize"):
            n_out = symmetrize(g).edges.count()
        with tr.span("traced.symmetrize_input"):
            n_in = 2 * g.edges.count()
        out.layer["prepare.kept_ratio"] = n_out / n_in if n_in else 0.0

    def references(self, ctx: Ctx) -> dict:
        return _duckdb_refs(ctx, self.job_names, self.inputs())

    def check(self, job: str, out: JobOut, want) -> tuple[bool, str]:
        ok, why = ref.frames_match(out.frame, want)
        if ok and out.counters != TRADE_COUNTERS[job]:
            return False, f"counters {out.counters} != record {TRADE_COUNTERS[job]}"
        return ok, why


# --------------------------------------------------------------- small-jobs --

CHAIN_LAYERS = 20
CHAIN_WIDTH = 1000
CHAIN_DEGREE = 4


def chain_edges(seed: int, layers: int = CHAIN_LAYERS, width: int = CHAIN_WIDTH,
                degree: int = CHAIN_DEGREE) -> np.ndarray:
    """Layered random DAG: vertex ``l * width + i`` sends ``degree``
    distinct edges into layer ``l + 1``, integer weights 1-99. Returns
    ``(src, dst, weight)`` rows; the same seed gives the same graph."""
    rng = np.random.default_rng(seed)
    blocks = []
    base = np.tile(np.arange(width), (width, 1))
    for layer in range(layers - 1):
        picks = rng.permuted(base, axis=1)[:, :degree]
        src = np.repeat(np.arange(width) + layer * width, degree)
        dst = picks.reshape(-1) + (layer + 1) * width
        w = rng.integers(1, 100, size=src.size)
        blocks.append(np.stack([src, dst, w], axis=1))
    return np.concatenate(blocks).astype(np.int64)


def chain_text(edges: np.ndarray) -> bytes:
    """Tab-separated edge-list text, one ``src dst weight`` line per edge."""
    return "".join(f"{s}\t{d}\t{w}\n" for s, d, w in edges.tolist()).encode()


class SmallJobs:
    """Small inputs, where per-superstep and per-job fixed costs dominate.

    - ``chain_bfs``: a seeded layered graph written as edge-list text;
      ``read_edge_list`` -> BFS from vertex 0, one superstep per layer ->
      ``write_id_with_value`` text.
    - ``dedup_corpus``: the first 40 documents of sf0.1 in registry-key
      form (portable hashes, a planted perturbed copy of every 20th
      document): exact dedup, then MinHash-LSH near-dup clusters.

    The warm-up runs ``chain_bfs`` on a 3-layer chain and ``dedup_corpus``
    (whose first run in a JVM also compiles its wide hashing aggregate)."""

    name = "small-jobs"
    docs = os.path.join(DATA, "curation", "documents.parquet")
    job_names = ("chain_bfs", "dedup_corpus")

    def __init__(self):
        self.layers = CHAIN_LAYERS
        self.path = self.warmup_path = ""
        self.edges: np.ndarray | None = None

    def inputs(self) -> dict[str, str]:
        return {"edges": self.path, "documents": self.docs}

    def prepare(self, ctx: Ctx) -> None:
        d = os.path.join(ctx.work, "inputs", f"chain-{ctx.seed}")
        os.makedirs(d, exist_ok=True)
        self.edges = chain_edges(ctx.seed, self.layers)
        self.path = os.path.join(d, "edges.txt")
        self.warmup_path = os.path.join(d, "warmup.txt")
        with open(self.path, "wb") as fh:
            fh.write(chain_text(self.edges))
        with open(self.warmup_path, "wb") as fh:
            fh.write(chain_text(chain_edges(ctx.seed, 3)))

    def warm_up(self, ctx: Ctx) -> None:
        self._chain_bfs(ctx, self.warmup_path, 3)
        self._dedup(ctx)

    def run(self, job: str, ctx: Ctx) -> JobOut:
        if job == "chain_bfs":
            return self._chain_bfs(ctx, self.path, self.layers)
        return self._dedup(ctx)

    def _chain_bfs(self, ctx: Ctx, path: str, layers: int) -> JobOut:
        from giraph_spark.algos.paths import bfs
        from giraph_spark.graph import Graph, vertices_from_edges
        from giraph_spark.pregel import PregelMetrics
        from giraph_spark.sources.readers import read_edge_list
        from giraph_spark.sources.writers import write_id_with_value

        tr, out, m = ctx.tracer, JobOut(), PregelMetrics()
        with tr.span("read"):
            edges = read_edge_list(ctx.spark, path, value_type="double")
            g = Graph(vertices_from_edges(edges), edges)
        if ctx.traced:  # the read is lazy; materialize it once to time it
            with tr.span("traced.read"):
                edges.count()
        with tr.span("compute"):
            res = bfs(g, source=0, max_supersteps=layers + 10, metrics=m)
        out.out_dir = os.path.join(ctx.work, "out", "chain_bfs")
        with tr.span("write"):
            write_id_with_value(res, out.out_dir, value_col="level")
        out.layer["sources.bytes_written"] = sum(
            os.path.getsize(os.path.join(out.out_dir, f)) for f in os.listdir(out.out_dir)
        )
        return _kernel_out(out, m)

    def _dedup(self, ctx: Ctx) -> JobOut:
        from pyspark.sql import functions as F

        from giraph_spark.functions.dedup import dedup_corpus

        d = ctx.spark.read.parquet(self.docs).select("doc_id", "text")
        planted = d.where(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
        )
        with ctx.tracer.span("compute"):
            res = dedup_corpus(d.unionByName(planted), portable=True).select(
                F.col("doc_id").cast("long").alias("doc_id")
            )
            out = JobOut(frame=res.toPandas())
        out.counters = {"rows": len(out.frame)}
        return out

    def dedup_rows_in(self) -> int:
        """Rows entering ``dedup_corpus``: documents plus planted copies."""
        ids = pd.read_parquet(self.docs, columns=["doc_id"])["doc_id"]
        return len(ids) + int((ids % 20 == 0).sum())

    def references(self, ctx: Ctx) -> dict:
        refs = _duckdb_refs(ctx, ("dedup_corpus",), {"documents": self.docs})
        refs["chain_bfs"] = ref.networkx_levels(self.edges, 0)
        return refs

    def check(self, job: str, out: JobOut, want) -> tuple[bool, str]:
        if job == "dedup_corpus":
            return ref.frames_match(out.frame, want)
        got = ref.read_id_values(out.out_dir)
        return ref.id_values_match(got, np.unique(self.edges[:, :2]), want, unreachable=-1.0)


WORKLOADS = {w.name: w for w in (TradeAnalytics, SmallJobs)}

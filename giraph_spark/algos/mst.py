"""Minimum spanning forest — distributed Borůvka.

The classic Pregel-model algorithm (Chung & Condon's parallel Borůvka;
the GPS and Okapi Giraph libraries both shipped it as the MST example
for the vertex-centric model the reference implements): every round,
each component selects its minimum-weight outgoing edge under a total
order, the selected edges join the forest, and the touching components
merge. Components at least halve per round, so the loop is
O(log n) rounds on ANY graph — no diameter dependence (unlike label
propagation), which is what makes it the scale-safe spanning-tree
construction.

Determinism: edges are ranked by ``(weight, u, v)`` — a TOTAL order on
canonical edges — so the selected forest is unique even with duplicate
weights (the classic uniqueness argument for distinct weights applies
to any total order compatible with the weights). That is what lets a
SQL oracle replay the run bit-for-bit.

Scale shape per round: ONE aggregation over the live edges. Each live
edge carries its endpoints' component labels ``(u, v, w, cu, cv)`` —
the identity in round 1 — so there is no per-vertex label relation to
join or rewrite: one partial-aggregated ``min(struct(w, u, v, oc))``
groupBy per component (map-side combinable — NO window over the edge
list) returns every component's selected edge and live-edge count. The
live edges are checkpointed lazily, so that aggregation is also the job
that materializes them.

The component merge works on at most ``n_v`` rows of global state
between rounds — what Giraph keeps on the master
(``MasterCompute``), not in worker supersteps. The merge runs on the
driver exactly when that relation fits the broadcast budget the other
round loops gate on (``n_v × ROW_BYTES_NARROW ≤
broadcast_limit_bytes``, plans/gear.py): the round's aggregate is
collected through Arrow, mutual-pair rooting and pointer doubling run
as NumPy index arithmetic, the picked forest edges accumulate there,
and one broadcast comp→root join relabels the live edges inside the
next round's job. Past the gate the same comp→root map is computed as
DataFrames — a mutual-pair self-join, then pointer jumping on the
≤ #components-row parent relation (halves the chain depth per jump),
each jump truncated with :func:`fresh_checkpoint_count`: pointer
doubling joins a frame with ITSELF, the exact shape whose inherited
size estimate otherwise squares per iteration (see
plans/checkpoint.py). Either way the live edge set shrinks
monotonically: an edge is dropped by the relabel that puts both of its
endpoints in one component.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import _rewrap, fresh_checkpoint_count
from ..plans.gear import ROW_BYTES_NARROW, LoopGear, broadcast_limit_bytes


def save_msf_input(
    graph: Graph,
    table_prefix: str,
    weight_col: str = "weight",
    buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Canonicalize the MSF input ONCE and persist it bucketed — the
    storage layout a repeated-MSF deployment wants. Edges become the
    unique canonical relation ``(u < v, min weight)`` bucketed+sorted
    by ``u``; vertices are bucketed by ``id`` with the same width. A
    graph loaded back via :func:`load_msf_input` enters
    :func:`minimum_spanning_forest` with ``assume_canonical=True`` and
    skips the canonicalize groupBy, paid once at write time (the same
    amortization ``save_graph_bucketed`` gives the pregel kernel —
    sources/writers.py:211); past the broadcast gate the ``u``-side
    vertex semi-join also reads both bucketings from storage."""
    src, dst = graph.src_col, graph.dst_col
    canon = (
        graph.edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
            F.col(weight_col).cast("double").alias(weight_col),
        )
        .groupBy("u", "v")
        .agg(F.min(weight_col).alias(weight_col))
    )
    (
        canon.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, "u")
        .sortBy("u")
        .saveAsTable(f"{table_prefix}_edges")
    )
    (
        graph.vertices.select(
            F.col(graph.id_col).cast("long").alias("id")
        )
        .write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .saveAsTable(f"{table_prefix}_vertices")
    )


def load_msf_input(spark: SparkSession, table_prefix: str) -> Graph:
    """Load a canonical-edge graph saved by :func:`save_msf_input`:
    ``Graph(vertices(id), edges(u, v, weight))`` with the bucket layout
    attached, ready for ``minimum_spanning_forest(g,
    assume_canonical=True)``."""
    from ..sources.readers import _bucket_spec

    v_spec = _bucket_spec(spark, f"{table_prefix}_vertices")
    e_spec = _bucket_spec(spark, f"{table_prefix}_edges")
    return Graph(
        spark.table(f"{table_prefix}_vertices"),
        spark.table(f"{table_prefix}_edges"),
        "id",
        "u",
        "v",
        vertices_layout=v_spec if v_spec and v_spec[0] == "id" else None,
        edges_layout=e_spec if e_spec and e_spec[0] == "u" else None,
    )


def minimum_spanning_forest(
    graph: Graph,
    weight_col: str = "weight",
    max_rounds: int = 40,
    stats: dict | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact minimum spanning forest of the undirected graph induced by
    ``graph.edges``: edges are canonicalized to ``u = least(src, dst) <
    v = greatest(src, dst)`` keeping the MINIMUM weight among parallel
    edges (only the lightest parallel edge can ever be in an MSF), so
    any directed/asymmetric relation is accepted as-is. Edges with an
    endpoint missing from ``graph.vertices`` are ignored. Returns the
    forest edge relation ``(u, v, weight)`` — one spanning tree per
    connected component, ``n_vertices − n_components`` rows, unique
    under the (weight, u, v) total order.

    ``assume_canonical=True`` declares the edge relation ALREADY
    canonical (``src < dst``, unique, lightest parallel edge kept —
    e.g. a table written by :func:`save_msf_input`): the canonicalize
    groupBy is skipped. The repeated-run storage layout."""
    src, dst = graph.src_col, graph.dst_col
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    spark = graph.edges.sparkSession
    with LoopGear(spark) as gear:
        return _msf_loop(
            graph, weight_col, max_rounds, stats, gear, u, v,
            assume_canonical,
        )


def _msf_loop(
    graph, weight_col, max_rounds, stats, gear, u, v, assume_canonical
):
    src, dst = graph.src_col, graph.dst_col
    spark = gear.spark
    n_v = graph.vertices.count()
    # the one input-size decision: the component relation has at most
    # n_v rows, so it is merged on the driver exactly when it fits the
    # broadcast budget the other round loops gate on
    on_driver = n_v * ROW_BYTES_NARROW <= broadcast_limit_bytes(spark)
    if assume_canonical:
        canon = graph.edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
    else:
        canon = (
            graph.edges.where(F.col(src) != F.col(dst))
            .select(
                u.cast("long").alias("u"),
                v.cast("long").alias("v"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .groupBy("u", "v")
            .agg(F.min("w").alias("w"))
        )
    # edges with an endpoint missing from graph.vertices are ignored:
    # one semi-join of the vertex ids per endpoint, broadcast (and the
    # broadcast shared by both) under the gate
    vids = graph.vertices.select(
        F.col(graph.id_col).cast("long").alias("_vid")
    )
    if on_driver:
        vids = F.broadcast(vids)
    # round 1's labels are the identity; the checkpoint is lazy, so the
    # canonicalize and the semi-joins run inside round 1's job
    live = _lazy(
        canon.join(vids, F.col("u") == F.col("_vid"), "left_semi")
        .join(vids, F.col("v") == F.col("_vid"), "left_semi")
        .select(
            "u", "v", "w", F.col("u").alias("cu"), F.col("v").alias("cv")
        )
    )
    # forest edges picked per round: NumPy (u, v, w) triples on the
    # driver, per-round frames past the gate (unioned once at the end)
    picked: list = []

    for rnd in range(max_rounds):
        sel = _cheapest_edges(live)
        if on_driver:
            agg = sel.toArrow()
            if agg.num_rows == 0:
                break
            n_live = int(agg["n"].to_numpy().sum()) // 2
            comp_root, edges = _merge_on_driver(agg)
            picked.append(edges)
            comp_root = F.broadcast(spark.createDataFrame(comp_root))
        else:
            # the round's one job: materializes the live edges and sel
            # and counts both (sum of per-component counts = 2 × live)
            ck = sel.localCheckpoint(eager=False)
            n_sel, n_ends = ck.agg(
                F.count(F.lit(1)), F.sum("n")
            ).first()
            if n_sel == 0:
                break
            n_live = n_ends // 2
            sel = _rewrap(ck)
            picked.append(sel.select("u", "v", "w").distinct())
            comp_root = _merge_frames(sel, max_rounds)
        gear.resize(n_live)
        if stats is not None:
            stats["rounds"] = rnd + 1
        live = _relabel(live, comp_root)

    if not picked:
        return live.select(
            F.col("u"), F.col("v"), F.col("w").alias(weight_col)
        ).limit(0)
    if on_driver:
        import pyarrow as pa

        cols = [np.concatenate(c) for c in zip(*picked)]
        return spark.createDataFrame(
            pa.table(dict(zip(("u", "v", weight_col), cols)))
        )
    forest = picked[0]
    for p in picked[1:]:
        forest = forest.unionByName(p)
    return forest.select("u", "v", F.col("w").alias(weight_col))


def _lazy(df: DataFrame) -> DataFrame:
    """Lazy checkpoint: the next job that reads ``df`` materializes it;
    :func:`_rewrap` resets the inherited plan statistics."""
    return _rewrap(df.localCheckpoint(eager=False))


def _cheapest_edges(live: DataFrame) -> DataFrame:
    """``(comp, w, u, v, oc, n)``: every component's minimum outgoing
    edge under the (w, u, v) total order, the component it leads to,
    and the component's live-edge count. ``min(struct)`` is
    partial-aggregated (no window)."""
    both = live.select(
        F.col("cu").alias("comp"), F.col("cv").alias("oc"), "u", "v", "w"
    ).unionByName(
        live.select(
            F.col("cv").alias("comp"), F.col("cu").alias("oc"), "u", "v", "w"
        )
    )
    return (
        both.groupBy("comp")
        .agg(
            F.min(F.struct("w", "u", "v", "oc")).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("comp", "m.w", "m.u", "m.v", "m.oc", "n")
    )


def _merge_on_driver(agg):
    """The component merge over a round aggregate collected as a
    ``pyarrow.Table``. Returns the ``(comp, root)`` table of every
    component that merged into another, and the round's forest edges
    as ``(u, v, w)`` arrays.

    ``parent(comp) = oc``, except the smaller member of each MUTUAL
    pair roots itself: each merge tree contains exactly one mutual pair
    (its globally-lightest edge is selected from both sides under the
    total order), so pointer doubling then reaches the roots in
    ≤ log₂(depth) + 1 steps."""
    import pyarrow as pa

    agg = agg.sort_by("comp")
    comp, oc, u, v, w = (
        agg[c].to_numpy() for c in ("comp", "oc", "u", "v", "w")
    )
    idx = np.arange(len(comp))
    # every oc is itself a component of this round: the edge that leads
    # to it is live from its side too
    par = np.searchsorted(comp, oc)
    mutual = par[par] == idx
    rooted = mutual & (comp < oc)
    par[rooted] = idx[rooted]
    while True:
        grand = par[par]
        if np.array_equal(grand, par):
            break
        par = grand
    moved = par != idx
    # a mutual pair selected the same edge from both sides: keep it once
    keep = ~(mutual & (comp > oc))
    comp_root = pa.table({"comp": comp[moved], "root": comp[par[moved]]})
    return comp_root, (u[keep], v[keep], w[keep])


def _merge_frames(sel: DataFrame, max_jumps: int) -> DataFrame:
    """:func:`_merge_on_driver`'s comp→root map as DataFrames, for
    component relations past the broadcast gate: the mutual-pair
    self-join, then pointer jumping to the roots."""
    other = sel.select(F.col("comp").alias("b_comp"), F.col("oc").alias("b_oc"))
    # lazy like sel: the first jump's count job materializes parent
    parent = _lazy(
        sel.join(
            other,
            (F.col("oc") == F.col("b_comp")) & (F.col("b_oc") == F.col("comp")),
            "left",
        ).select(
            F.col("comp"),
            F.when(
                F.col("b_comp").isNotNull() & (F.col("comp") < F.col("oc")),
                F.col("comp"),
            )
            .otherwise(F.col("oc"))
            .alias("par"),
        )
    )
    # depth halves per jump; the "did any pointer move" probe is a flag
    # column counted inside the checkpoint job — one action per jump
    for _ in range(max_jumps):
        grand = parent.select(
            F.col("comp").alias("g_comp"), F.col("par").alias("g_par")
        )
        jumped, _, n_moved = fresh_checkpoint_count(
            parent.join(grand, parent["par"] == grand["g_comp"], "left").select(
                "comp",
                F.coalesce("g_par", "par").alias("par"),
                (
                    F.col("g_par").isNotNull() & (F.col("g_par") != F.col("par"))
                ).alias("_moved"),
            ),
            flag=F.col("_moved"),
        )
        parent = jumped.drop("_moved")
        if n_moved == 0:
            break
    return parent.where(F.col("comp") != F.col("par")).select(
        "comp", F.col("par").alias("root")
    )


def _relabel(live: DataFrame, comp_root: DataFrame) -> DataFrame:
    """Move both endpoint labels of the live edges to their roots and
    drop the edges that became intra-component — they can never be
    selected again. Lazily checkpointed: the next round's aggregation
    materializes it."""
    a, b = comp_root.alias("a"), comp_root.alias("b")
    return _lazy(
        live.join(a, F.col("cu") == F.col("a.comp"), "left")
        .join(b, F.col("cv") == F.col("b.comp"), "left")
        .select(
            "u",
            "v",
            "w",
            F.coalesce("a.root", "cu").alias("cu"),
            F.coalesce("b.root", "cv").alias("cv"),
        )
        .where(F.col("cu") != F.col("cv"))
    )

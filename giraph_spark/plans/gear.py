"""The one place that sizes a loop's shuffle width and writes the
session's ``spark.sql.shuffle.partitions`` / ``spark.sql.adaptive.enabled``.

Every iterative operator — the pregel kernel, the driver-side round
loops (Borůvka MSF, the two matchings, Jones–Plassmann coloring, Luby
MIS, k-truss peeling) and alternating-star components — runs
inside one :class:`LoopGear`, and every data-sized width comes from
:func:`width_for`. Giraph makes the same decision in one place too
(``USER_PARTITION_COUNT``, ``conf/GiraphConstants.java:914``, default
workers²); a DataFrame loop sizes it from the *data*: at small scale
per-task scheduling overhead dominates (measured: PageRank sf0.1 runs 3×
faster on 8 partitions than 32 on a 32-core local box), while at cluster
scale ``ceil(rows / ROWS_PER_PARTITION)`` exceeds any sane ceiling and
the session setting governs.

Why AQE is off in-loop: with AQE on, ``localCheckpoint`` wraps the
per-round state in a LogicalRDD with UNKNOWN partitioning
(AdaptiveSparkPlanExec's output partitioning is undecided at checkpoint
time), so every later join re-shuffles the state. With AQE off the
checkpoint keeps ``HashPartitioning(id)`` and the state side of each join
is exchange-free — Giraph's "vertices stay put, only messages move".
AQE's coalescing would not help anyway: with
``spark.sql.adaptive.coalescePartitions.parallelismFirst`` (default true)
it coalesces only down to the default parallelism, so a 50-row round
still schedules one task per core per exchange. The gear is the same
decision made explicitly: the width follows the live set down (and back
up), with 2× hysteresis bounding re-plans to O(log width) per run.

SESSION-GLOBAL WINDOW (deliberate): both settings are session conf, so
OTHER queries submitted on the SAME SparkSession while a loop is in
flight see its shuffle width (and AQE off) until the loop exits; both are
restored on any exit, error included. This is not avoidable from inside
the loop — an aggregation's exchange width has no per-operator override,
and pre-repartitioning the kernel's raw message stream to dodge the conf
would pay the delivery shuffle before map-side combining (measured
strictly worse; see ``pregel(skew_metrics=)``). Concurrent OLAP work
should run on ``spark.newSession()`` (same SparkContext and cache,
isolated SQL conf), which is free; the loop itself is unaffected by
either choice.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Auto-partitioning target: loops size their shuffles so each task
# carries about this many edge/message rows.
ROWS_PER_PARTITION = 150_000


def width_for(rows: int, ceiling: int) -> int:
    """Shuffle width for ``rows`` live rows: ``ceil(rows /
    ROWS_PER_PARTITION)``, at least 1 and at most ``ceiling`` (the
    cluster-scale width the session is configured with)."""
    return max(1, min(ceiling, -(-rows // ROWS_PER_PARTITION)))


def session_width(spark: SparkSession) -> int:
    """The session's configured ``spark.sql.shuffle.partitions`` — the
    ceiling every data-sized width is capped by."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


class LoopGear:
    """Context manager: ``with LoopGear(spark, width=n) as gear:`` around
    a round loop. Turns AQE off and sets the shuffle width to ``width``
    (default: the session's width) for the loop's duration; ``width`` is
    also the ceiling the gear never exceeds. Both settings are restored
    on any exit (see the module docstring for the session-global window
    this opens).

    Call ``gear.resize(live_rows)`` once per round with the live set size
    in the unit that dominates the round's shuffles (live EDGES for
    edge-relation loops; live vertices × avg degree when only a vertex
    count is at hand). Set ``floor_rows`` (typically |V|) as soon as the
    loop learns it: the width never drops below ``width_for(floor_rows)``,
    so the per-round O(V) state rewrite does not serialize.
    """

    def __init__(
        self,
        spark: SparkSession,
        width: int | None = None,
        floor_rows: int | None = None,
    ):
        self.spark = spark
        self.width = width
        self.floor_rows = floor_rows
        self._aqe_before: str | None = None
        self._parts_before: str | None = None
        self.ceiling: int = 0
        self.cur: int = 0

    def __enter__(self) -> "LoopGear":
        conf = self.spark.conf
        self._aqe_before = conf.get("spark.sql.adaptive.enabled", "true")
        self._parts_before = conf.get("spark.sql.shuffle.partitions", "200")
        self.ceiling = self.cur = self.width or int(self._parts_before)
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(self.cur))
        return self

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.adaptive.enabled", self._aqe_before)
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", self._parts_before
        )

    def resize(self, live_rows: int, declining: bool = True) -> int:
        """Re-fit the loop's shuffle width to ``live_rows``; returns the
        width now in force. 2× hysteresis both ways; floor at the state
        rewrite's need; ceiling at the loop's starting width.

        ``declining=False`` holds the width during a ramp-up: a loop
        whose live set can regrow (the kernel's frontier fans out by the
        average degree each superstep) passes whether its count fell
        since the last round, and gearing down just before the explosion
        would serialize the heavy rounds (measured 1.5× slower). Gear-up
        is always allowed. Monotone loops keep the default and step down
        at once."""
        want = width_for(max(live_rows, self.floor_rows or 0), self.ceiling)
        if (want * 2 <= self.cur and declining) or want >= self.cur * 2:
            self.cur = want
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self.cur)
            )
        return self.cur


# Driver-known broadcast gate for round loops: the loops learn exact row
# counts from each fresh_checkpoint_count fold, so they can decide
# broadcasts EXACTLY where AQE would have to guess from stale estimates
# (and AQE is off inside the loops anyway — see LoopGear). The gate is
# BYTES, not rows: a row cap alone is wrong for array-bearing relations
# (coloring's per-vertex ``_taken`` sets can hold up to palette-size
# entries per row, so 4M rows may be GBs, not tens of MB). Narrow loop
# rows (two ids + a weight) serialize to a few tens of bytes including
# hash-relation overhead; callers with variable-width columns pass the
# element total via ``extra_bytes``. The same budget decides where
# Borůvka MSF merges its components (algos/mst.py): a component
# relation of ``n_v × ROW_BYTES_NARROW`` bytes within it is collected
# and merged on the driver — the round's one job plus one broadcast
# comp→root relabel — and past it stays a DataFrame merge.
ROW_BYTES_NARROW = 32
ARRAY_ELEM_BYTES = 8
_LIMIT_FLOOR = 64 << 20
_LIMIT_CAP = 1 << 30
_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def broadcast_limit_bytes(spark=None) -> int:
    """Broadcast-size budget for the loop gate: 1/16 of the configured
    driver memory (the broadcast is built and held driver-side before
    shipping), clamped to [64 MiB, 1 GiB] — always far below Spark's
    8 GB broadcast ceiling. Falls back to 256 MiB when the driver
    memory setting is absent or unparsable."""
    mem = None
    if spark is not None:
        try:
            mem = spark.conf.get("spark.driver.memory", None)
        except Exception:
            mem = None
    if not mem:
        return 256 << 20
    m = str(mem).strip().lower()
    # Spark's JVM-memory grammar: optional suffix b/k/m/g/t (or
    # kb/mb/gb/tb), and a UNITLESS value means MiB
    # (JavaUtils.byteStringAsMb) — not bytes
    if m.endswith("b") and len(m) >= 2 and m[-2] in _MEM_SUFFIX:
        m = m[:-1]
    try:
        if m[-1] in _MEM_SUFFIX:
            nbytes = int(float(m[:-1]) * _MEM_SUFFIX[m[-1]])
        elif m[-1] == "b":
            nbytes = int(m[:-1])  # plain-'b' suffix = bytes
        else:
            nbytes = int(m) << 20  # unitless = MiB per Spark's grammar
    except (ValueError, IndexError):
        return 256 << 20
    return max(_LIMIT_FLOOR, min(_LIMIT_CAP, nbytes // 16))


def bcast_if_small(
    df,
    n_rows: int,
    row_bytes: int = ROW_BYTES_NARROW,
    extra_bytes: int = 0,
    limit_bytes: int | None = None,
):
    """``F.broadcast(df)`` when the caller KNOWS df's estimated size
    (``n_rows × row_bytes + extra_bytes``, counts from a fold) fits the
    driver-memory-derived budget, else df unchanged. A broadcast side
    turns the loop's delta anti-joins / state updates into map-side
    hash joins — zero exchange, the cached big side never moves.

    ``extra_bytes`` carries variable-width payload the row estimate
    can't see: for an array column, pass ``ARRAY_ELEM_BYTES × total
    elements across all rows`` (often exactly known, e.g. coloring's
    ``_taken`` sets hold at most one entry per live in-edge)."""
    from pyspark.sql import functions as F

    if limit_bytes is None:
        limit_bytes = broadcast_limit_bytes(df.sparkSession)
    return (
        F.broadcast(df)
        if n_rows * row_bytes + extra_bytes <= limit_bytes
        else df
    )

"""Independent references and the comparators that check job outputs
against them. Reference work runs outside every timed region.

- Parquet-input jobs compare with their DuckDB twins in
  ``__spark_entry__.oracle_sql()`` run on the same files. The twins are
  slow, so each result is cached in the work directory under a key that
  hashes the registry key, the module holding the SQL and the inputs.
- The edge-list job compares with networkx BFS on the same edges."""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def duckdb_reference(key: str, tables: dict[str, str], cache_dir: str) -> pd.DataFrame:
    """Run the DuckDB twin of registry key ``key`` over the parquet
    ``tables`` (view name -> file), caching the result as parquet under a
    digest of the key, the module that holds the SQL and the input bytes."""
    from importlib.util import find_spec

    entry_file = find_spec("__spark_entry__").origin  # found, not imported
    h = hashlib.sha256(f"{key}:{file_digest(entry_file)}".encode())
    for name in sorted(tables):
        h.update(f"{name}={file_digest(tables[name])}".encode())
    path = os.path.join(cache_dir, h.hexdigest()[:32] + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()[key]
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for name, file in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{file}')")
        ref = con.execute(sql).fetchdf()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    ref.to_parquet(tmp, index=False)
    os.replace(tmp, path)  # atomic: a concurrent reader sees all or nothing
    return ref


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """``(ok, reason)``: the same columns and the same rows in any order,
    compared as text. Both engines round every float column to the same
    digits, so the text forms agree exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    bad = int((g != w).any(axis=1).sum())
    return bad == 0, (f"{bad} rows differ" if bad else "")


# ------------------------------------------------------------- edge lists --


def networkx_levels(edges: np.ndarray, source: int) -> dict[int, int]:
    """BFS hop level of every vertex reachable from ``source`` over the
    directed ``(src, dst, ...)`` edge rows; unreachable vertices are absent."""
    import networkx as nx

    g = nx.DiGraph()
    g.add_edges_from(edges[:, :2].tolist())
    return dict(nx.single_source_shortest_path_length(g, source))


def read_id_values(out_dir: str) -> dict[int, str]:
    """Every ``id<TAB>value`` line of a text output directory."""
    vals: dict[int, str] = {}
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(out_dir, name)) as fh:
            for line in fh:
                vid, val = line.rstrip("\n").split("\t")
                vals[int(vid)] = val
    return vals


def id_values_match(got: dict[int, str], vertices: np.ndarray, ref: dict[int, float], unreachable: float):
    """``(ok, reason)`` for one value per vertex: every vertex of
    ``vertices`` is present, reached ones carry the reference value and
    the others ``unreachable``."""
    if len(got) != len(vertices):
        return False, f"rows {len(got)} != vertices {len(vertices)}"
    bad = 0
    for v in vertices.tolist():
        val = got.get(v)
        if val is None:
            return False, f"vertex {v} missing"
        x = float(val)
        want = ref.get(v, unreachable)
        if not (x == want or (math.isinf(x) and math.isinf(want))):
            bad += 1
    return (bad == 0), (f"{bad} vertices differ" if bad else "")

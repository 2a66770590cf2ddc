"""Correctness checks made apart from the program.

Every check returns a list of problems (empty = pass) and runs outside the
timed region. Three kinds:

- oracle: a query's output against its registered DuckDB oracle SQL over the
  same generated inputs, with the comparator of ``tests/conftest.py``;
- graph: the graph queries against a union-find built here from the edge
  list the oracle SQL defines (collected from DuckDB, not from Spark);
- read-back: every nightly table read back from its files after the commit.
"""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd

from .gen import TABLES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def check_oracle(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    from tests.conftest import assert_frames_match

    try:
        assert_frames_match(got, expected, name)
    except AssertionError as e:
        return [f"{name}: oracle mismatch: {str(e).splitlines()[0][:300]}"]
    return []


def cte_sql(sql: str, cte: str, select: str | None = None) -> str:
    """The oracle's WITH chain cut after CTE ``cte``, selecting from it."""
    m = re.search(rf"\b{cte} AS (?:MATERIALIZED )?\(", sql)
    if m is None:
        raise KeyError(f"CTE {cte!r} not in oracle SQL")
    depth, i = 1, m.end()
    while depth:
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        i += 1
    return f"{sql[:i]} {select or f'SELECT * FROM {cte}'}"


class UnionFind:
    def __init__(self, edges):
        self.parent: dict[int, int] = {}
        for a, b in edges:
            self.union(int(a), int(b))

    def find(self, x: int) -> int:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)  # root = min id

    def components(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for x in self.parent:
            out.setdefault(self.find(x), []).append(x)
        return out


def check_labels(name: str, out: pd.DataFrame, edges: pd.DataFrame,
                 node: str, comp: str, size: str | None = None) -> list[str]:
    """Node -> component labels: same partition as the union-find, label =
    min node of its component, equal at both endpoints of every edge, and
    (if ``size`` is given) the component size."""
    uf = UnionFind(edges.itertuples(index=False, name=None))
    problems = []
    labels = dict(zip(out[node].astype("int64"), out[comp].astype("int64")))
    if set(labels) != set(uf.parent):
        problems.append(f"{name}: labelled nodes differ from edge endpoints "
                        f"({len(labels)} vs {len(uf.parent)})")
    if any(labels.get(v) != uf.find(v) for v in uf.parent):
        problems.append(f"{name}: labels are not the min node id of the union-find component")
    a, b = edges.columns[:2]
    if any(labels.get(int(x)) != labels.get(int(y)) for x, y in zip(edges[a], edges[b])):
        problems.append(f"{name}: an edge joins two different labels")
    if size is not None:
        sizes = {r: len(m) for r, m in uf.components().items()}
        if any(int(s) != sizes.get(int(c)) for c, s in zip(out[comp], out[size])):
            problems.append(f"{name}: component sizes differ from the union-find's")
    return problems


def check_within_components(name: str, out: pd.DataFrame, edges: pd.DataFrame,
                            node: str, label: str) -> list[str]:
    """Community labels (label propagation) never cross a union-find
    component: every node's label is a node of its own component."""
    uf = UnionFind(edges.itertuples(index=False, name=None))
    bad = sum(uf.find(int(n)) != uf.find(int(lbl)) for n, lbl in zip(out[node], out[label]))
    return [f"{name}: {bad} labels cross a connected component"] if bad else []


def check_component_counts(name: str, out: pd.DataFrame,
                           levels: list[tuple[float, pd.DataFrame]]) -> list[str]:
    """Per-threshold edge, node, cluster and max-size counts equal the
    union-find's over that threshold's edges."""
    problems = []
    rows = {round(float(r.threshold), 6): r for r in out.itertuples(index=False)}
    for th, edges in levels:
        r = rows.get(round(th, 6))
        if r is None:
            problems.append(f"{name}: no row for threshold {th}")
            continue
        sizes = [len(m) for m in UnionFind(edges.itertuples(index=False, name=None)).components().values()]
        want = (len(edges), sum(sizes), len(sizes), max(sizes, default=0))
        got = (r.n_edges, r.n_nodes, r.n_clusters, r.max_cluster_size)
        if tuple(int(x) for x in got) != want:
            problems.append(f"{name}: threshold {th}: counts {got} != union-find {want}")
    return problems


def graph_checks(name: str, oracle_sql: str, out: pd.DataFrame,
                 con: duckdb.DuckDBPyConnection) -> list[str] | None:
    """Union-find checks for the graph queries; None for other queries."""
    if name == "neardup_components":
        edges = con.sql(cte_sql(oracle_sql, "pairs")).df()
        return check_labels(name, out, edges, "doc_id", "component", "cluster_size")
    if name == "threshold_sweep_components":
        levels = []
        for m in re.finditer(r"\b(e\d+) AS (?:MATERIALIZED )?\(SELECT d1, d2 FROM scored WHERE j >= ([\d.]+)\)",
                             oracle_sql):
            levels.append((float(m.group(2)), con.sql(cte_sql(oracle_sql, m.group(1))).df()))
        if not levels:
            return [f"{name}: no threshold edge sets found in the oracle SQL"]
        return check_component_counts(name, out, levels)
    if name in ("label_propagation_rounds", "incremental_lpa_delta"):
        cte = "edges" if name == "label_propagation_rounds" else "all_edges"
        edges = con.sql(cte_sql(oracle_sql, cte)).df()
        return check_within_components(name, out, edges, "doc_id", "community")
    return None


# -- nightly read-back ---------------------------------------------------------
def read_pointer(root: str) -> int:
    """Live version of a versioned table, read from its pointer file."""
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            return int(f.read().strip().split("_")[-1])
    except FileNotFoundError:
        return 0


def read_parquet_dir(path: str) -> pd.DataFrame:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if not files:
        return pd.DataFrame()
    lst = ", ".join(f"'{f}'" for f in sorted(files))
    return duckdb.sql(f"SELECT * FROM read_parquet([{lst}], hive_partitioning = true, "
                      f"hive_types_autocast = false, union_by_name = true)").df()


def check_table(name: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Read-back of one committed table: row count, unique keys, values."""
    problems = []
    if len(got) != len(want):
        problems.append(f"{name}: read back {len(got)} rows, expected {len(want)}")
    if keys and len(got) and got.duplicated(subset=keys).any():
        problems.append(f"{name}: duplicate keys {keys} after commit")
    if not problems:
        cols = sorted(want.columns)
        a = got[cols].sort_values(cols, na_position="last").reset_index(drop=True)
        b = want[cols].sort_values(cols, na_position="last").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"{name}: read-back values differ: {str(e).splitlines()[0][:200]}")
    return problems


def check_version(name: str, before: int, after: int, commits: int) -> list[str]:
    if after - before != commits:
        return [f"{name}: version {before} -> {after}, expected +{commits}"]
    return []


def merge_expected(target: pd.DataFrame, source: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """MERGE row semantics, computed here: matched rows take
    COALESCE(source, target) per non-key column; unmatched rows pass through."""
    m = target.merge(source, on=keys, how="outer", suffixes=("_t", ""))
    for c in target.columns:
        if f"{c}_t" in m:  # a non-key column both sides have
            m[c] = m[c].where(m[c].notna(), m[f"{c}_t"])
    return m[list(target.columns)]

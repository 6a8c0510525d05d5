"""Output checker: reads what the engine wrote with DuckDB, an engine
independent of Spark, and returns a list of failed invariants (empty when
the output is correct).

Layout read here is the engine's on-disk graph: ``<dir>/nodes`` and
``<dir>/edges`` parquet, partitioned by ``label`` (hive layout), with
``properties`` as ``map<string, list<string>>``.
"""

from __future__ import annotations

import glob
import os

import duckdb


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def graph_scan(path: str) -> str:
    """A label-partitioned parquet table (label restored from the path)."""
    return (f"read_parquet({_lit(path + '/*/*.parquet')}, hive_partitioning=true,"
            " hive_types_autocast=false)")


def flat_scan(paths) -> str:
    paths = [paths] if isinstance(paths, str) else list(paths)
    files = ", ".join(_lit(p) for p in paths)
    return f"read_parquet([{files}])"


def count_lines(pattern: str) -> int:
    n = 0
    for f in glob.glob(pattern):
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# canonical text of a property map: entries and values sorted, so two equal
# maps written in different orders give the same string and hash
_PROPS = ("list_sort(list_transform(map_entries(properties), "
          "e -> e.key || chr(1) || array_to_string(list_sort(e.value), chr(2))))")


class Checker:
    def __init__(self):
        self.con = duckdb.connect(config={"threads": 2})

    def close(self) -> None:
        self.con.close()

    def one(self, sql: str):
        return self.con.sql(sql).fetchone()

    def graph(self, out_dir: str) -> tuple[int, int, list[str]]:
        """Node/edge counts and the structural invariants of a fused graph:
        unique node ids, unique (src, label, dst), no dangling endpoint."""
        nodes = graph_scan(os.path.join(out_dir, "nodes"))
        edges = graph_scan(os.path.join(out_dir, "edges"))
        fails = []
        n, n_ids = self.one(f"SELECT count(*), count(DISTINCT id) FROM {nodes}")
        if n != n_ids:
            fails.append(f"{n - n_ids} duplicate node ids")
        e, e_keys = self.one(
            f"SELECT count(*), count(DISTINCT (src, label, dst)) FROM {edges}")
        if e != e_keys:
            fails.append(f"{e - e_keys} duplicate (src, label, dst) edges")
        (dangling,) = self.one(
            f"SELECT count(*) FROM {edges} e WHERE e.src NOT IN (SELECT id FROM {nodes})"
            f" OR e.dst NOT IN (SELECT id FROM {nodes})")
        if dangling:
            fails.append(f"{dangling} edges with an endpoint that is not a node")
        return n, e, fails

    def against_raw(self, out_dir: str, raw_nodes: str, raw_edges: str) -> list[str]:
        """Fused counts equal the distinct keys of the staged raw output."""
        (n,) = self.one(f"SELECT count(*) FROM {graph_scan(out_dir + '/nodes')}")
        (e,) = self.one(f"SELECT count(*) FROM {graph_scan(out_dir + '/edges')}")
        (rn,) = self.one(f"SELECT count(DISTINCT id) FROM {flat_scan(raw_nodes)}")
        (re,) = self.one(
            f"SELECT count(DISTINCT (src, label, dst)) FROM {flat_scan(raw_edges)}")
        fails = []
        if n != rn:
            fails.append(f"fused nodes {n} != distinct raw node ids {rn}")
        if e != re:
            fails.append(f"fused edges {e} != distinct raw (src, label, dst) {re}")
        return fails

    def property_matches_input(self, out_dir: str, inputs: list[str], key: str,
                               prop: str, column: str) -> list[str]:
        """Per input key, the node's ``prop`` values are exactly the distinct
        input values of ``column`` for that key (byte-identical strings)."""
        nodes = graph_scan(os.path.join(out_dir, "nodes"))
        (bad,) = self.one(f"""
            WITH want AS (
              SELECT {key} AS id, list_sort(list_distinct(list({column}))) AS v
              FROM {flat_scan(inputs)} GROUP BY ALL),
            got AS (SELECT id, list_sort(properties[{_lit(prop)}][1]) AS v FROM {nodes})
            SELECT count(*) FROM want LEFT JOIN got USING (id)
            WHERE got.v IS NULL OR got.v != want.v""")
        return [f"{bad} nodes whose {prop!r} differs from the input"] if bad else []

    def digest(self, out_dir: str) -> tuple:
        """Order-independent digest of a fused graph (row order, map entry
        order and list order do not matter)."""
        nodes = graph_scan(os.path.join(out_dir, "nodes"))
        edges = graph_scan(os.path.join(out_dir, "edges"))
        return (
            self.one(f"SELECT count(*), sum(hash(id, label, {_PROPS})::HUGEINT)"
                     f" FROM {nodes}"),
            self.one(f"SELECT count(*), sum(hash(id, src, dst, label, {_PROPS})::HUGEINT)"
                     f" FROM {edges}"),
        )

    def property_values(self, out_dir: str) -> int:
        (v,) = self.one(
            "SELECT coalesce(sum(list_sum(list_transform(map_values(properties),"
            f" v -> len(v)))), 0) FROM {graph_scan(os.path.join(out_dir, 'nodes'))}")
        return int(v)

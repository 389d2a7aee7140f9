"""Phylogenetic tree ingest: Newick → ``phylo_nodes`` with Euler-tour intervals.

Reference: ``/root/reference/src/silo/common/phylo_tree.h`` (tree loaded from
Newick / Auspice JSON; all nodes uniquely labelled,
``documentation/phylogenetic_queries.md:9-12``). Instead of the reference's
pointer-based tree walks we precompute, per node, ``depth`` and an Euler-tour
interval ``[euler_in, euler_out]``; subtree membership and MRCA then become
interval predicates over a broadcast-scale DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from lapis_silo_spark.session import local_relation

# (label, branch_length, children)
_Node = tuple[str, "float | None", list]


def _parse_newick_tree(s: str) -> _Node:
    pos = 0

    def parse_node() -> _Node:
        nonlocal pos
        children: list[_Node] = []
        if pos < len(s) and s[pos] == "(":
            pos += 1
            while True:
                children.append(parse_node())
                if pos < len(s) and s[pos] == ",":
                    pos += 1
                    continue
                break
            if pos >= len(s) or s[pos] != ")":
                raise ValueError(f"newick parse error at offset {pos}: expected ')'")
            pos += 1
        start = pos
        while pos < len(s) and s[pos] not in ",():;":
            pos += 1
        label = s[start:pos].strip()
        length: float | None = None
        if pos < len(s) and s[pos] == ":":
            pos += 1
            start = pos
            while pos < len(s) and s[pos] not in ",():;":
                pos += 1
            length = float(s[start:pos])
        if not label:
            raise ValueError("newick: unlabelled node (all nodes must be labelled)")
        return (label, length, children)

    root = parse_node()
    if pos < len(s):
        raise ValueError(f"newick: trailing content at offset {pos}")
    return root


def parse_newick(newick: str) -> list[tuple[str, str | None, float | None]]:
    """Parse Newick into ``(node, parent, branch_length)`` tuples.

    Supports labelled internal nodes — ``(A:1,(B,C)D)E;`` — which the
    reference requires (all nodes uniquely labelled).
    """
    s = newick.strip()
    if s.endswith(";"):
        s = s[:-1].strip()
    root = _parse_newick_tree(s)

    out: list[tuple[str, str | None, float | None]] = []
    stack: list[tuple[_Node, str | None]] = [(root, None)]
    while stack:
        (label, length, children), parent = stack.pop()
        out.append((label, parent, length))
        # reversed push → preorder emission in FILE order; sibling order is
        # part of the golden contract (subtree Newick renders children in the
        # source tree's order)
        for child in reversed(children):
            stack.append((child, label))

    names = [n for n, _, _ in out]
    if len(names) != len(set(names)):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"newick: duplicate node labels {dupes}")
    return out


def parse_auspice_json(text: str) -> list[tuple[str, str | None, float | None]]:
    """Parse an Auspice v2 dataset JSON into ``(node, parent,
    branch_length)`` tuples in preorder (file) order.

    Mirrors ``phylo_tree.cpp:71-107,275-285``: the tree lives under the
    ``tree`` key; every node needs a unique ``name``; ``node_attrs.div`` is
    taken as the branch length verbatim.
    """
    import json

    data = json.loads(text)
    if "tree" not in data:
        raise ValueError(
            "Invalid File: Auspice JSON does not contain a 'tree' entry."
        )

    out: list[tuple[str, str | None, float | None]] = []
    seen: set[str] = set()
    stack: list[tuple[dict, str | None]] = [(data["tree"], None)]
    while stack:
        node, parent = stack.pop()
        if "name" not in node:
            raise ValueError(
                "Invalid File: Auspice JSON node does not contain a 'name' entry."
            )
        name = str(node["name"])
        if name in seen:
            raise ValueError(
                f"Duplicate node ID found in Auspice JSON string: '{name}'"
            )
        seen.add(name)
        blen = None
        attrs = node.get("node_attrs") or {}
        if "div" in attrs:
            blen = float(attrs["div"])
        out.append((name, parent, blen))
        for child in reversed(node.get("children") or []):
            stack.append((child, name))
    return out


def parse_tree_file(path: str, text: str) -> list[tuple[str, str | None, float | None]]:
    """Dispatch on extension like the reference (``phylo_tree.cpp:378-394``):
    ``.nwk`` → Newick, ``.json`` → Auspice v2, anything else is an error."""
    lower = path.lower()
    if lower.endswith(".nwk"):
        return parse_newick(text)
    if lower.endswith(".json"):
        return parse_auspice_json(text)
    raise ValueError(
        f"Error when parsing tree file: '{path}'. Path must end with .nwk or .json"
    )


def build_phylo_nodes(
    spark: SparkSession,
    edges: list[tuple[str, str | None, float | None]],
) -> DataFrame:
    """Build the ``phylo_nodes`` DataFrame (node, parent, depth, euler_in,
    euler_out, branch_length) from (node, parent, branch_length) tuples.

    Runs driver-side: phylo trees are bounded by the number of distinct
    sequences ever observed, far below driver memory; the result is a
    broadcast-side dimension table.
    """
    children: dict[str | None, list[str]] = {}
    length_of: dict[str, float | None] = {}
    parent_of: dict[str, str | None] = {}
    for node, parent, blen in edges:
        children.setdefault(parent, []).append(node)
        length_of[node] = blen
        parent_of[node] = parent
    roots = children.get(None, [])
    if not roots:
        raise ValueError("phylo tree has no root")

    rows: list[tuple[str, str | None, int, int, int, float | None]] = []
    counter = 0
    # Iterative Euler tour (trees can be deep chains; no recursion limit).
    for root in roots:
        stack: list[tuple[str, int, bool]] = [(root, 0, False)]
        entry_time: dict[str, int] = {}
        while stack:
            node, depth, done = stack.pop()
            if done:
                counter += 1
                rows.append(
                    (node, parent_of[node], depth, entry_time[node], counter,
                     length_of[node])
                )
                continue
            counter += 1
            entry_time[node] = counter
            stack.append((node, depth, True))
            for child in reversed(children.get(node, [])):
                stack.append((child, depth + 1, False))

    return local_relation(
        spark, rows,
        "node string, parent string, depth int, euler_in long, "
        "euler_out long, branch_length double",
    )


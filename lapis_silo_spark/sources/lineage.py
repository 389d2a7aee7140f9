"""Lineage-definition ingest: relation table + sub-clade closure for the three
recombinant-following modes.

Reference: ``/root/reference/src/silo/common/lineage_tree.h`` (lineage DAG
with recombinant multi-parent edges), relation-table schema
``documentation/lineage_definitions.md:96-140``, filter semantics
``scalar_expressions/lineage_filter.cpp:44-68``.

The closure table ``(ancestor, descendant, mode)`` precomputes, for every
lineage A and mode M, the set of lineages in A's sub-clade:

- ``doNotFollow``: descend only single-parent (non-recombinant) edges.
- ``alwaysFollow``: a recombinant joins the clade if ANY of its parents is in
  the clade.
- ``followIfFullyContainedInClade``: a recombinant joins only if ALL of its
  parents are in the clade.

Lineage definitions are ~10^3-10^4 entries, so the fixpoint runs driver-side
and the closure is a broadcast dimension table at any data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from lapis_silo_spark.session import local_relation

MODES = ("doNotFollow", "alwaysFollow", "followIfFullyContainedInClade")


def build_lineage_closure(
    spark: SparkSession,
    parents: dict[str, list[str]],
    aliases: dict[str, str] | None = None,
) -> DataFrame:
    """Build the closure from ``{lineage: [parent, ...]}`` (roots: []).

    ``aliases`` maps alias names → canonical names; alias rows are added as
    extra ancestor spellings of the same clade (matching the reference's
    alias resolution at definition-load time).
    """
    nodes = set(parents)
    for ps in parents.values():
        for p in ps:
            if p not in parents:
                raise ValueError(f"lineage parent {p!r} is not a defined lineage")
    children: dict[str, list[str]] = {n: [] for n in nodes}
    for child, ps in parents.items():
        for p in ps:
            children[p].append(child)

    rows: list[tuple[str, str, str]] = []
    for mode in MODES:
        for ancestor in nodes:
            clade = {ancestor}
            frontier = [ancestor]
            while frontier:
                nxt: list[str] = []
                for node in frontier:
                    for child in children[node]:
                        if child in clade:
                            continue
                        child_parents = parents[child]
                        is_recombinant = len(child_parents) > 1
                        if not is_recombinant:
                            ok = True
                        elif mode == "doNotFollow":
                            ok = False
                        elif mode == "alwaysFollow":
                            ok = any(p in clade for p in child_parents)
                        else:  # followIfFullyContainedInClade
                            ok = all(p in clade for p in child_parents)
                        if ok:
                            clade.add(child)
                            nxt.append(child)
                frontier = nxt
            rows.extend((ancestor, d, mode) for d in sorted(clade))

    if aliases:
        canonical_rows = [(a, d, m) for (a, d, m) in rows]
        by_ancestor: dict[str, list[tuple[str, str, str]]] = {}
        for a, d, m in canonical_rows:
            by_ancestor.setdefault(a, []).append((a, d, m))
        for alias, canonical in aliases.items():
            for a, d, m in by_ancestor.get(canonical, []):
                rows.append((alias, d, m))

    return local_relation(
        spark, rows, "ancestor string, descendant string, mode string"
    )


def parse_lineage_definition_yaml(
    text: str,
) -> tuple[dict[str, list[str]], dict[str, str]]:
    """Parse the reference's lineage-definition YAML.

    Format (``documentation/lineage_definitions.md``): a mapping of lineage
    name → {parents: [...], aliases: [...]} (keys optional, value may be an
    empty inline dict). Uses PyYAML when present; falls back to a minimal
    indentation parser covering the same subset.
    """
    try:
        import yaml

        data = yaml.safe_load(text) or {}
        parents = {}
        aliases = {}
        for lineage, spec in data.items():
            spec = spec or {}
            parents[str(lineage)] = [str(p) for p in spec.get("parents", [])]
            for alias in spec.get("aliases", []) or []:
                aliases[str(alias)] = str(lineage)
        return parents, aliases
    except ImportError:
        pass
    parents: dict[str, list[str]] = {}
    aliases: dict[str, str] = {}
    current: str | None = None
    mode: str | None = None
    for raw in text.splitlines():
        line = raw.rstrip()
        if not line or line.lstrip().startswith("#"):
            continue
        indent = len(line) - len(line.lstrip())
        stripped = line.strip()
        if indent == 0 and stripped.endswith(":"):
            current = stripped[:-1].strip()
            parents[current] = []
            mode = None
        elif current is not None and stripped.startswith(("parents:", "aliases:")):
            key = stripped.split(":", 1)
            mode = key[0]
            rest = key[1].strip()
            if rest.startswith("[") and rest.endswith("]"):
                vals = [v.strip() for v in rest[1:-1].split(",") if v.strip()]
                if mode == "parents":
                    parents[current].extend(vals)
                else:
                    for v in vals:
                        aliases[v] = current
                mode = None
        elif current is not None and stripped.startswith("- "):
            val = stripped[2:].strip()
            if mode == "parents":
                parents[current].append(val)
            elif mode == "aliases":
                aliases[val] = current
    return parents, aliases

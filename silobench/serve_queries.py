"""The ``lapis_serve`` query mix: six dashboard classes whose parameters
come from small seeded pools, each with an answer computed in numpy from
the generator's aligned-genome matrix."""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np

from silobench.genomes import (
    COUNTRIES, INSERTIONS, LINEAGE_ALIASES, LINEAGES, N, Genomes, descendants,
)

CLASSES = ("aggregated", "sequence_filter", "lineage", "details",
           "mutations", "export")
#: slots per class in one page of a light (dashboard) client: no traffic
#: mix is published for the reference (BASELINE.md), so each light class
#: gets one slot and ``aggregated``, the most frequent class, two
LIGHT_PAGE = {"aggregated": 2, "sequence_filter": 1, "lineage": 1,
              "details": 1}
LIGHT = frozenset(LIGHT_PAGE)
SINCE = ("2021-04-01", "2021-10-01", "2022-03-01", "2022-08-01")


@dataclass(frozen=True)
class Query:
    klass: str
    text: str
    check: Callable[[list[dict]], bool]


def _count_rows(expected: int) -> Callable[[list[dict]], bool]:
    def check(rows: list[dict]) -> bool:
        if expected == 0 and not rows:
            return True
        return len(rows) == 1 and rows[0].get("count") == expected
    return check


def _grouped(key: str, expected: Counter) -> Callable[[list[dict]], bool]:
    def check(rows: list[dict]) -> bool:
        got = Counter({r[key]: r["count"] for r in rows})
        return len(rows) == len(got) and got == +expected
    return check


class QueryPools:
    """Builds every pool query and its answer once; ``page`` deals
    them out."""

    def __init__(self, g: Genomes, seed: int):
        self.g = g
        rng = np.random.default_rng([seed, 7])
        ref = g.reference
        mutated = (g.aligned != ref) & (g.aligned != N)
        hot = np.argsort(-mutated.sum(axis=0), kind="stable")[:16]
        self.pools: dict[str, list[Query]] = {c: [] for c in CLASSES}
        dates = g.dates
        country = g.countries
        lineage_names = np.array(LINEAGES)[g.lineages]

        for c in range(len(COUNTRIES)):
            for since in SINCE:
                mask = (country == c) & (dates >= np.datetime64(since))
                self.pools["aggregated"].append(Query(
                    "aggregated",
                    f"default.filter(country = '{COUNTRIES[c]}' && "
                    f"date >= '{since}'::date)"
                    ".groupBy({count := count()}, {pango_lineage})",
                    _grouped("pango_lineage", Counter(lineage_names[mask])),
                ))

        for k in range(24):
            p = int(hot[rng.integers(0, len(hot))])
            col = g.aligned[:, p]
            c = int(rng.integers(0, len(COUNTRIES)))
            kind = k % 5
            if kind == 0:
                sym = chr(int(np.bincount(col[mutated[:, p]],
                                          minlength=256).argmax()))
                mask = (col == ord(sym)) & (country == c)
                pred = (f"nucleotideEquals(position := {p + 1}, symbol := "
                        f"'{sym}', sequenceName := 'main') && "
                        f"country = '{COUNTRIES[c]}'")
            elif kind == 1:
                since = SINCE[int(rng.integers(0, len(SINCE)))]
                mask = mutated[:, p] & (dates >= np.datetime64(since))
                pred = (f"hasMutation(position := {p + 1}, sequenceName := "
                        f"'main') && date >= '{since}'::date")
            elif kind == 2:
                ps = rng.choice(hot, 3, replace=False)
                mask = mutated[:, ps].sum(axis=1) >= 2
                inner = ", ".join(
                    f"hasMutation(position := {int(q) + 1}, "
                    "sequenceName := 'main')" for q in ps
                )
                pred = f"nOf(2, {{{inner}}})"
            elif kind == 3:
                sym = chr(int(g.reference[p]))
                mask = ((col == ord(sym)) | (col == N)) & (country == c)
                pred = (f"maybe(nucleotideEquals(position := {p + 1}, "
                        f"symbol := '{sym}', sequenceName := 'main')) && "
                        f"country = '{COUNTRIES[c]}'")
            else:
                pos, ins = INSERTIONS[int(rng.integers(0, len(INSERTIONS)))] \
                    .split(":")
                # the pattern is anchored at both ends; '.*' matches any run
                prefix = ins[:2]
                mask = np.array([
                    any(e.split(":")[0] == pos
                        and e.split(":")[1].startswith(prefix) for e in row)
                    for row in g.insertions
                ])
                pred = (f"insertionContains(position := {pos}, value := "
                        f"'{prefix}.*', sequenceName := 'main')")
            self.pools["sequence_filter"].append(Query(
                "sequence_filter",
                f"default.filter({pred}).groupBy({{count := count()}})",
                _count_rows(int(mask.sum())),
            ))

        lineage_pool = ["B.1", "B.1.1", "B.1.617.2", "XBB", "A",
                        LINEAGE_ALIASES["BA.2"][0]]
        for name in lineage_pool:
            canonical = next((k for k, v in LINEAGE_ALIASES.items()
                              if name in v), name)
            # an alias is only looked up together with its sublineages
            for sub in (True,) if canonical != name else (True, False):
                members = descendants(canonical) if sub else {canonical}
                mask = np.isin(lineage_names, list(members))
                self.pools["lineage"].append(Query(
                    "lineage",
                    f"default.filter(pango_lineage.lineage('{name}', "
                    f"includeSublineages := {'true' if sub else 'false'}))"
                    ".groupBy({count := count()}, {country})",
                    _grouped("country", Counter(
                        COUNTRIES[i] for i in country[mask])),
                ))

        for c in range(len(COUNTRIES)):
            for age in (18, 50, 80):
                mask = np.flatnonzero((country == c) & (g.ages >= age))
                order = sorted(mask, key=lambda i: (dates[i], g.pks[i]))[:25]
                expected = [
                    {"primary_key": g.pks[i], "date": str(dates[i]),
                     "age": int(g.ages[i]),
                     "pango_lineage": LINEAGES[g.lineages[i]]}
                    for i in order
                ]
                self.pools["details"].append(Query(
                    "details",
                    f"default.filter(country = '{COUNTRIES[c]}' && "
                    f"age >= {age})"
                    ".project({primary_key, date, age, pango_lineage})"
                    ".orderBy({date, primary_key}).limit(25)",
                    (lambda exp: lambda rows: rows == exp)(expected),
                ))

        for c in range(len(COUNTRIES)):
            for min_prop in (0.05, 0.2):
                mask = country == c
                self.pools["mutations"].append(Query(
                    "mutations",
                    f"default.filter(country = '{COUNTRIES[c]}')"
                    f".mutations(minProportion := {min_prop})",
                    self._mutations_check(mask, min_prop),
                ))

        # sequence reconstruction costs seconds per row, so each export
        # asks for the one genome of a (lineage, country, month)
        month = dates.astype("datetime64[M]")
        combos = Counter(zip(g.lineages.tolist(), country.tolist(),
                             month.tolist()))
        small = sorted(k for k, v in combos.items() if v == 1)
        for j in rng.choice(len(small), min(8, len(small)), replace=False):
            li, c, m = small[j]
            idx = np.flatnonzero((g.lineages == li) & (country == c)
                                 & (month == np.datetime64(m, "M")))
            first = np.datetime64(m, "M").astype("datetime64[D]")
            last = (np.datetime64(m, "M") + 1).astype("datetime64[D]") - 1
            expected = {g.pks[i]: g.aligned[i].tobytes().decode("ascii")
                        for i in idx}
            self.pools["export"].append(Query(
                "export",
                f"default.filter(pango_lineage = '{LINEAGES[li]}' && "
                f"country = '{COUNTRIES[c]}' && between(date, "
                f"'{first}'::date, '{last}'::date))"
                ".project({primary_key, main})",
                (lambda exp: lambda rows: len(rows) == len(exp) and all(
                    exp.get(r["primary_key"]) == r["main"] for r in rows
                ))(expected),
            ))
        self.pools = {k: v for k, v in self.pools.items() if v}

    def _mutations_check(self, mask: np.ndarray, min_prop: float):
        sub = self.g.aligned[mask]
        ref = self.g.reference
        coverage = (sub != N).sum(axis=0)
        expected = set()
        for sym in b"ACGT":
            count = (sub == sym).sum(axis=0)
            count[ref == sym] = 0
            with np.errstate(divide="ignore", invalid="ignore"):
                prop = count / coverage
            hits = np.flatnonzero((count > 0) & (coverage > 0)
                                  & (prop >= min_prop))
            expected.update((int(p) + 1, chr(sym), int(count[p]),
                             int(coverage[p])) for p in hits)

        def check(rows: list[dict]) -> bool:
            got = {(r["position"], r["mutationTo"], r["count"], r["coverage"])
                   for r in rows}
            return len(rows) == len(got) and got == expected
        return check

    def classes(self) -> list[str]:
        return [c for c in CLASSES if c in self.pools]

    def stream(self, rng: np.random.Generator) -> Iterator[Query]:
        """One dashboard client's queries: pages with the page's class
        counts in a seeded order. Each class walks its pool in pool order
        from a seeded start, so the kinds of a class, which the pool
        interleaves, come about equally often in a short run, and fixed
        class counts keep the class mix the same for every seed."""
        klasses = [c for c in self.classes() if c in LIGHT_PAGE
                   for _ in range(LIGHT_PAGE[c])]
        nxt = {c: int(rng.integers(0, len(self.pools[c]))) for c in klasses}
        while True:
            for i in rng.permutation(len(klasses)):
                pool = self.pools[klasses[i]]
                yield pool[nxt[klasses[i]] % len(pool)]
                nxt[klasses[i]] += 1

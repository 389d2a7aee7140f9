"""Seeded SARS-CoV-2-like genome store: reference, lineage tree, aligned
genomes with N runs and insertions, metadata, and the NDJSON/config files
that ``cli preprocessing`` reads. The aligned genomes are kept as a numpy
matrix so that query answers can be computed independently of the engine.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np

GENOME_LENGTH = 29_903
NUC = np.frombuffer(b"ACGT", dtype=np.uint8)
N = ord("N")

#: lineage -> parents; XBB is a recombinant with two parents
LINEAGE_PARENTS: dict[str, list[str]] = {
    "A": [], "A.1": ["A"], "B": ["A"], "B.1": ["B"], "B.1.1": ["B.1"],
    "B.1.1.7": ["B.1.1"], "B.1.617": ["B.1"], "B.1.617.2": ["B.1.617"],
    "BA.1": ["B.1.1"], "BA.2": ["B.1.1"], "XBB": ["BA.2", "B.1.617.2"],
    "XBB.1": ["XBB"],
}
LINEAGE_ALIASES = {"BA.1": ["B.1.1.529.1"], "BA.2": ["B.1.1.529.2"]}
LINEAGES = list(LINEAGE_PARENTS)
LINEAGE_WEIGHTS = np.array([2, 1, 2, 4, 6, 8, 3, 9, 10, 10, 7, 6], float)
#: six values, as in the reference's string-equality benchmark
#: (``performance/many_string_equals.cpp``, BASELINE.md)
COUNTRIES = ["Switzerland", "Germany", "France", "Italy", "Spain",
             "Austria"]
COUNTRY_WEIGHTS = np.array([20, 18, 15, 12, 10, 10], float)
INSERTIONS = ["22204:GAGCCAGAA", "28262:AACA", "11288:TCT", "5000:GG"]
FIRST_DAY = np.datetime64("2021-01-01")
DAYS = 730


def descendants(lineage: str) -> set[str]:
    """``lineage`` and every lineage below it, following only
    single-parent edges: the engine's default ``doNotFollow`` mode leaves a
    recombinant out of its parents' clades."""
    out = {lineage}
    changed = True
    while changed:
        changed = False
        for child, parents in LINEAGE_PARENTS.items():
            if child not in out and len(parents) == 1 and parents[0] in out:
                out.add(child)
                changed = True
    return out


def lineage_yaml() -> str:
    lines = []
    for name, parents in LINEAGE_PARENTS.items():
        lines.append(f"{name}:")
        if parents:
            lines.append("  parents:")
            lines += [f"    - {p}" for p in parents]
        if name in LINEAGE_ALIASES:
            lines.append("  aliases:")
            lines += [f"    - {a}" for a in LINEAGE_ALIASES[name]]
        if not parents and name not in LINEAGE_ALIASES:
            lines[-1] = f"{name}: {{}}"
    return "\n".join(lines) + "\n"


CONFIG_YAML = """schema:
  instanceName: silobench
  primaryKey: primary_key
  metadata:
    - name: primary_key
      type: string
    - name: date
      type: date
    - name: country
      type: string
    - name: age
      type: int
    - name: pango_lineage
      type: string
"""


@dataclass
class Genomes:
    """``n`` genomes; row ``i`` has primary key ``seq_<i>``."""

    reference: np.ndarray  # uint8[L]
    aligned: np.ndarray  # uint8[n, L]; N = missing or uncovered
    pks: list[str]
    dates: np.ndarray  # datetime64[D]
    countries: np.ndarray  # int index into COUNTRIES
    ages: np.ndarray
    lineages: np.ndarray  # int index into LINEAGES
    insertions: list[list[str]]

    @property
    def n(self) -> int:
        return len(self.pks)

    def head(self, n: int) -> "Genomes":
        """The first ``n`` genomes."""
        return Genomes(self.reference, self.aligned[:n], self.pks[:n],
                       self.dates[:n], self.countries[:n], self.ages[:n],
                       self.lineages[:n], self.insertions[:n])

    def reference_str(self) -> str:
        return self.reference.tobytes().decode("ascii")

    def ndjson_bytes(self, rows: range | None = None) -> bytes:
        rows = rows if rows is not None else range(self.n)
        out = []
        for i in rows:
            out.append(json.dumps({
                "primary_key": self.pks[i],
                "date": str(self.dates[i]),
                "country": COUNTRIES[self.countries[i]],
                "age": int(self.ages[i]),
                "pango_lineage": LINEAGES[self.lineages[i]],
                "main": {
                    "sequence": self.aligned[i].tobytes().decode("ascii"),
                    "insertions": self.insertions[i],
                },
            }, separators=(",", ":")))
        return ("\n".join(out) + "\n").encode()

    def write_inputs(self, out_dir: Path, rows: range) -> dict[str, Path]:
        """NDJSON of ``rows``, database config, reference genomes and
        lineage YAML."""
        out_dir.mkdir(parents=True, exist_ok=True)
        paths = {
            "input": out_dir / "data.ndjson",
            "config": out_dir / "database_config.yaml",
            "reference_genomes": out_dir / "reference_genomes.json",
            "lineage_definition": out_dir / "lineage_definitions.yaml",
        }
        paths["input"].write_bytes(self.ndjson_bytes(rows))
        paths["config"].write_text(CONFIG_YAML)
        paths["reference_genomes"].write_text(json.dumps({
            "nucleotideSequences": [
                {"name": "main", "sequence": self.reference_str()}
            ],
            "genes": [],
        }))
        paths["lineage_definition"].write_text(lineage_yaml())
        return paths


def generate(seed: int, n: int) -> Genomes:
    """Evolve ``n`` genomes along the lineage tree: each carries its
    lineage's defining mutations (and its ancestors'), a few private ones,
    N runs and sometimes an insertion."""
    length = GENOME_LENGTH
    rng = np.random.default_rng(seed)
    reference = NUC[rng.integers(0, 4, length)]
    defining: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for name, parents in LINEAGE_PARENTS.items():
        pos = rng.choice(length, 6, replace=False)
        sym = NUC[(np.searchsorted(NUC, reference[pos])
                   + rng.integers(1, 4, 6)) % 4]
        inherited = [defining[p] for p in parents]
        defining[name] = (
            np.concatenate([pos] + [d[0] for d in inherited]),
            np.concatenate([sym] + [d[1] for d in inherited]),
        )

    lineages = rng.choice(len(LINEAGES), n,
                          p=LINEAGE_WEIGHTS / LINEAGE_WEIGHTS.sum())
    aligned = np.tile(reference, (n, 1))
    insertions: list[list[str]] = []
    for i in range(n):
        row = aligned[i]
        pos, sym = defining[LINEAGES[lineages[i]]]
        row[pos] = sym
        k = rng.poisson(3)
        ppos = rng.integers(0, length, k)
        row[ppos] = NUC[(np.searchsorted(NUC, reference[ppos])
                         + rng.integers(1, 4, k)) % 4]
        for _ in range(rng.poisson(1.0)):
            start = int(rng.integers(0, length - 60))
            row[start:start + int(rng.integers(1, 60))] = N
        if rng.random() < 0.8:
            row[:int(rng.integers(1, 300))] = N
        if rng.random() < 0.8:
            row[length - int(rng.integers(1, 300)):] = N
        insertions.append(
            [INSERTIONS[int(rng.integers(0, len(INSERTIONS)))]]
            if rng.random() < 0.15 else []
        )
    return Genomes(
        reference=reference,
        aligned=aligned,
        pks=[f"seq_{i:07d}" for i in range(n)],
        dates=FIRST_DAY + rng.integers(0, DAYS, n).astype("timedelta64[D]"),
        countries=rng.choice(len(COUNTRIES), n,
                             p=COUNTRY_WEIGHTS / COUNTRY_WEIGHTS.sum()),
        ages=rng.integers(0, 96, n),
        lineages=lineages,
        insertions=insertions,
    )

"""Seeded landing-file generator with an expected-state model.

Builds empresas CSVs in the layout of the ``tests/fixtures`` template
(its header row) and keeps a model of what the engine must hold once each
file is ingested and each statement has run: the carriers and their
names, and the rows of the quarantine, SCD2 history and manifest tables.

Design points:
- every generated RUT passes mod-11 unless it is a planted reject;
- rejects are planted at fixed rates, one per quarantine rule; each
  reject row breaks exactly one rule, so it lands with a known reason;
- a share of each file's rows reuse a landed key, so MERGE updates
  matched rows, and half of those are renamed, so SCD2 opens a version;
- keys are unique within a file, so last-wins dedup never decides a
  count, and a deleted key is never landed again.
"""

from __future__ import annotations

import csv
import os
import random

TEMPLATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "empresas_20251001.csv",
)

# Planted reject rates, keyed by the pipeline's error_reason.
REJECT_RATES = {
    "missing_carrier_type": 0.01,
    "missing_carrier_name": 0.01,
    "invalid_rut": 0.02,
    "missing_carrier_bp": 0.01,
}
OVERLAP = 0.3  # share of a file's valid rows that reuse a landed key
RENAME = 0.5  # share of reused carriers whose name changes
CARRIER_TYPES = [f"TIPO {i}" for i in range(1, 7)]
BLANKED = {  # the field a reject leaves empty
    "missing_carrier_type": "carrier_type",
    "missing_carrier_name": "carrier_name",
    "missing_carrier_bp": "carrier_bp",
}


def rut_dv(body: int) -> str:
    """Mod-11 check digit: multipliers 2..7 cycling from the right."""
    total, mult = 0, 2
    for ch in reversed(str(body)):
        total += int(ch) * mult
        mult = 2 if mult == 7 else mult + 1
    r = 11 - total % 11
    return "0" if r == 11 else "K" if r == 10 else str(r)


def rut(body: int, valid: bool = True) -> str:
    dv = rut_dv(body)
    if not valid:
        dv = str((int(dv) + 1) % 10) if dv.isdigit() else "0"
    return f"{body}-{dv}"


class LandingModel:
    """Generates landing files and statements in order, and tracks the
    state the engine must reach."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        with open(TEMPLATE, encoding="utf-8") as f:
            self.header = next(csv.reader(f, delimiter=";"))
        self.next_id = 0
        self.carriers: dict[str, str] = {}  # carrier_bp -> carrier_name
        self.carrier_rut: dict[str, str] = {}
        self.carrier_type: dict[str, str] = {}
        self.history_open: dict[str, tuple] = {}  # SCD2 open version per key
        self.counts = {"empresa_history": 0, "ingestion_manifest": 0, "quarantine_empresa": 0}
        self.csv_bytes = 0

    def _fresh(self) -> int:
        self.next_id += 1
        return self.next_id

    def expected(self) -> dict[str, int]:
        """Expected row count per table."""
        return {**self.counts, "empresa": len(self.carriers)}

    def _rows(self, n: int) -> list[dict]:
        plan: list[str | None] = []
        for reason, rate in REJECT_RATES.items():
            plan += [reason] * round(n * rate)
        plan += [None] * (n - len(plan))
        self.rng.shuffle(plan)
        valid = [i for i, reason in enumerate(plan) if reason is None]
        reuse = self.rng.sample(
            sorted(self.carriers), min(len(self.carriers), round(len(valid) * OVERLAP))
        )
        reused = dict(zip(self.rng.sample(valid, len(reuse)), reuse))

        rows, landed = [], {}
        for i, reason in enumerate(plan):
            if i in reused:
                bp = reused[i]
                tin, ctype, name = self.carrier_rut[bp], self.carrier_type[bp], self.carriers[bp]
                if self.rng.random() < RENAME:
                    name = f"EMPRESA {bp} V{self._fresh()}"
            else:
                k = self._fresh()
                bp, name = str(1_000_000 + k), f"EMPRESA {k}"
                tin = rut(10_000_000 + k * 7, valid=reason != "invalid_rut")
                ctype = self.rng.choice(CARRIER_TYPES)
            row = {"carrier_bp": bp, "carrier_name": name, "carrier_tin": tin, "carrier_type": ctype}
            if reason in BLANKED:
                row[BLANKED[reason]] = ""
            rows.append(row)
            if reason is None:
                landed[bp] = (name, tin, ctype)
            else:
                self.counts["quarantine_empresa"] += 1
        for bp, (name, tin, ctype) in landed.items():
            self.carriers[bp], self.carrier_rut[bp], self.carrier_type[bp] = name, tin, ctype
            if self.history_open.get(bp) != (name, tin, ctype):
                self.counts["empresa_history"] += 1
                self.history_open[bp] = (name, tin, ctype)
        return rows

    def write_file(self, n: int, out_dir: str, tag: str) -> str:
        """Write one landing file of ``n`` rows; the model moves on as if
        the engine has ingested it. Returns the path."""
        rows = self._rows(n)
        path = os.path.join(out_dir, f"empresas_{tag}.csv")
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.DictWriter(f, fieldnames=self.header, delimiter=";", lineterminator="\n")
            w.writeheader()
            w.writerows(rows)
        self.counts["ingestion_manifest"] += 1
        self.csv_bytes += os.path.getsize(path)
        return path

    def dml(self, verb: str) -> tuple[str, int]:
        """One point statement on ``empresa`` by a seeded natural key:
        (sql, expected affected rows). The model moves on as if it ran."""
        bp = self.rng.choice(sorted(self.carriers))
        if verb == "delete":
            del self.carriers[bp]
            return f"DELETE FROM empresa WHERE carrier_bp = '{bp}'", 1
        name = self.carriers[bp] = f"EMPRESA {bp} DML{self._fresh()}"
        if verb == "update":
            return f"UPDATE empresa SET carrier_name = '{name}' WHERE carrier_bp = '{bp}'", 1
        return (
            f"MERGE INTO empresa USING (SELECT '{bp}' AS carrier_bp, "
            f"'{name}' AS carrier_name) src ON carrier_bp = carrier_bp "
            "WHEN MATCHED THEN UPDATE SET carrier_name = src.carrier_name"
        ), 1

    def lookup(self) -> tuple[str, str]:
        """One point read by a seeded key: (carrier_bp, expected name)."""
        bp = self.rng.choice(sorted(self.carriers))
        return bp, self.carriers[bp]

    def checksum_rows(self) -> list[tuple]:
        """The (carrier_bp, carrier_name) state the checksum covers."""
        return sorted(self.carriers.items())

"""Seeded input generators for the benchmark workloads.

Everything the engine reads is generated here from the ``--seed``
argument: the same seed gives byte-identical files, another seed gives
different content of the same shape and size. The engine only ever
receives the written files.

The ETL sources follow the messiness taxonomy of ``tests/conftest.py`` and
``FIXTURES.md``: a BOM + CRLF patients CSV with padded header cells,
mixed height/weight units and many date formats; an encounters CSV with
mixed ``,``/``;`` delimiters, repeated interior headers, ragged and blank
rows; a namespaced diagnoses XML with missing elements; and a few
percent duplicate keys in every source.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

PATIENTS_HEADER = "﻿ patient_id ,given name,family_name,dob,sex, height ,weight\r\n"
ENCOUNTERS_HEADER = (
    "encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file\n"
)
DIAGNOSIS_NS = "http://example.org/diagnosis"

GIVEN = ["Ana", "Ben", "Chloé", "Dan", "Eve", "Finn", "Grace", "李", "Hugo",
         "Ｊｏｈｎ", "Zoë", "Omar", "Priya", "Søren", "Mia", ""]
FAMILY = ["García", "Stone", "MÜLLER", "Okafor", "Nilsen", "O'Neil", "Hopper",
          "雷", "Da Silva", "DOE", "Smith", "Kowalski", "Nguyen", "Ødegaard"]
SEX = ["F", "M", "F", "M", "U", "O", "X", "", "f", "m"]
HEIGHTS = ["{cm} cm", "{cm}cm", "{inch} in", "{inch}in", "{ft}ft {fi}in",
           "{ft}'{fi}\"", "{m}m", "{cm}", "{m}", "tall", ""]
WEIGHTS = ["{kg} kg", "{lb} lb", "{lb}lb", "{kg}", "{lb}", "", "na", "n/a",
           "none", "null", "-", "{big} kg", "no weight"]
DOBS = ["{y}-{mo:02d}-{d:02d}", "{mo:02d}/{d:02d}/{y}", "{d:02d}-{mo:02d}-{y}",
        "{y}/{mo:02d}/{d:02d}", "{y}-{mo}-{d}", "", "   ", "not a date"]
ADMITS = ["2025-{mo:02d}-{d:02d}T{h:02d}:00:00+01:00", "{mo:02d}/{d:02d}/2025 {h:02d}:30",
          "{d:02d}-{mo:02d}-2025 {h:02d}:15", "2025/{mo:02d}/{d:02d} {h:02d}:45",
          "2025-{mo:02d}-{d:02d} {h:02d}:00:00", "2025-{mo:02d}-{d:02d}T{h:02d}:00:00Z"]
ENC_TYPES = ["INPATIENT", "OUTPATIENT", "ED", "inpatient", " ED ", "TELE", ""]
CODES = [("ICD-10", "E11.9"), ("ICD-10", "I10"), ("ICD-10", "J45"), ("ICD-10", "R07.9"),
         ("SNOMED", "38341003"), ("ICD-10", "ZZZ"), ("ICD-10", "K21.0")]
RECORDED = ["2025-{mo:02d}-{d:02d}T{h:02d}:00:00+01:00", "2025-{mo:02d}-{d:02d}",
            "2025-{mo:02d}-{d:02d}T{h:02d}:00:00", "2035-01-01T00:00:00"]


@dataclass(frozen=True)
class EtlSizes:
    patients: int
    encounters: int
    diagnoses: int

    @property
    def records(self) -> int:
        return self.patients + self.encounters + self.diagnoses


def _height(rng: random.Random) -> str:
    cm = rng.randint(150, 200)
    inch = round(cm / 2.54)
    return rng.choice(HEIGHTS).format(
        cm=cm, inch=inch, ft=inch // 12, fi=inch % 12, m=f"{cm / 100:.2f}"
    )


def _weight(rng: random.Random) -> str:
    kg = rng.randint(45, 120)
    return rng.choice(WEIGHTS).format(kg=kg, lb=round(kg * 2.2046), big=rng.randint(250, 400))


def _patient_row(rng: random.Random, pid: str) -> str:
    dob = rng.choice(DOBS).format(
        y=rng.randint(1930, 2010), mo=rng.randint(1, 12), d=rng.randint(1, 28)
    )
    cells = [pid, rng.choice(GIVEN), rng.choice(FAMILY), dob, rng.choice(SEX),
             _height(rng), _weight(rng)]
    if rng.random() < 0.1:  # heavy cell padding
        cells = [f"  {c} " for c in cells]
    return ",".join(cells) + "\r\n"


def patients_csv(rng: random.Random, n: int) -> str:
    out = [PATIENTS_HEADER]
    for i in range(n):
        if i > 10 and rng.random() < 0.03:  # duplicate key, conflicting values
            pid = f"P-{rng.randrange(i):07d}"
        else:
            pid = f"P-{i:07d}"
        out.append(_patient_row(rng, pid))
    return "".join(out)


def _ts(rng: random.Random, fmts: list[str]) -> str:
    return rng.choice(fmts).format(
        mo=rng.randint(1, 12), d=rng.randint(1, 28), h=rng.randint(0, 22)
    )


def encounters_csv(rng: random.Random, n: int, n_patients: int) -> str:
    out = [ENCOUNTERS_HEADER]
    for i in range(n):
        eid = f"E-{i:07d}"
        if i > 10 and rng.random() < 0.03:  # duplicate id from another source file
            eid = f"E-{rng.randrange(i):07d}"
        pid = (f"X-{rng.randrange(10**6):07d}" if rng.random() < 0.02  # orphan
               else f"P-{rng.randrange(n_patients):07d}")
        admit = _ts(rng, ADMITS)
        r = rng.random()
        discharge = "" if r < 0.05 else ("not a date" if r < 0.07 else _ts(rng, ADMITS))
        cells = [eid, pid, admit, discharge, rng.choice(ENC_TYPES), f"file{i % 4}.csv"]
        if rng.random() < 0.05:
            cells[1] = f" {cells[1]} "
        r = rng.random()
        if r < 0.06:  # semicolon line with a 7th field
            out.append(";".join(cells) + ";EXTRA\n")
        elif r < 0.09:  # ragged short row
            out.append(",".join(cells[: rng.randint(2, 5)]) + "\n")
        else:
            out.append(",".join(cells) + "\n")
        if rng.random() < 0.01:
            out.append("\n")
        if rng.random() < 0.004:
            out.append(ENCOUNTERS_HEADER)
    return "".join(out)


def diagnoses_xml(rng: random.Random, n: int, n_encounters: int) -> str:
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n',
           f'<Diagnoses xmlns="{DIAGNOSIS_NS}" version="2">\n']
    prev: tuple[str, str, str] | None = None
    for _ in range(n):
        if prev is not None and rng.random() < 0.03:  # duplicate (encounter, code)
            eid, system, code = prev
        else:
            system, code = rng.choice(CODES)
            eid = f"E-{rng.randrange(n_encounters):07d}"
        prev = (eid, system, code)
        parts = ["  <Diagnosis>\n"]
        if rng.random() >= 0.03:
            parts.append(f"    <encounterId>{eid}</encounterId>\n")
        if rng.random() >= 0.02:
            parts.append(f'    <code system="{system}">{code}</code>\n')
        r = rng.random()
        if r < 0.45:
            parts.append("    <isPrimary>true</isPrimary>\n")
        elif r < 0.9:
            parts.append("    <isPrimary>false</isPrimary>\n")
        parts.append(f"    <recordedAt>{_ts(rng, RECORDED)}</recordedAt>\n")
        parts.append("  </Diagnosis>\n")
        out.append("".join(parts))
    out.append("</Diagnoses>\n")
    return "".join(out)


def etl_sources(seed: int, sizes: EtlSizes) -> dict[str, bytes]:
    """The three ETL source files, keyed by file name."""
    rng = random.Random(f"etl:{seed}")
    return {
        "patients.csv": patients_csv(rng, sizes.patients).encode(),
        "encounters.csv": encounters_csv(rng, sizes.encounters, sizes.patients).encode(),
        "diagnoses.xml": diagnoses_xml(rng, sizes.diagnoses, sizes.encounters).encode(),
    }


def write_files(directory: str, files: dict[str, bytes]) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, data in files.items():
        paths[name] = os.path.join(directory, name)
        with open(paths[name], "wb") as fh:
            fh.write(data)
    return paths

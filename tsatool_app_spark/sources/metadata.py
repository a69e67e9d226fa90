"""Metadata (dimension) loading: stations and sensors CSVs.

Reference: S4 — ``COPY stations/sensors (id, lotjuid, name) FROM ...
DELIMITER '|'`` (03_insert_stations_sensors.sql:10-17), prepared from LOTJU
XML by awk scripts (00_prepare_lotju_metadata.sh:11-29 — trivial selects
here). Sensor name→id resolution (J5) normalizes names the same way the
reference does: ``lower(replace(name, '"', ''))`` (utils.py:281, P7).

The files are small (145 sensors), and the driver is where the lookup
happens, so they are read with the stdlib ``csv`` module: a Spark CSV read
costs a job per file, about 60 ms of a warm CLI run.
"""

from __future__ import annotations

import csv
import re
from collections.abc import Iterable
from typing import NamedTuple


class MetaRow(NamedTuple):
    id: int | None
    lotjuid: int | None
    name: str | None


_INT = re.compile(r"[+-]?\d+")
#: what Java's ``String.trim`` strips: Spark skips a line that trims empty
_TRIM = "".join(map(chr, range(33)))


def _int(field: str) -> int | None:
    """Java's ``Integer.parseInt``, NULL where it would throw."""
    if not _INT.fullmatch(field):
        return None
    v = int(field)
    return v if -(2**31) <= v < 2**31 else None


def read_metadata_csv(path: str) -> list[MetaRow]:
    """S4: pipe-CSV (id, lotjuid, name), no header in the reference dumps.

    Reads what ``spark.read.csv(path, sep="|", header=False, schema=...)``
    reads with Spark's defaults: blank lines are skipped, a quote inside a
    quoted field is escaped with a backslash, an empty field is NULL, a
    field that is not an int is NULL, a short row is padded with NULLs and
    extra columns are dropped. Where a field breaks the quoting (text after
    its closing quote, or a backslash outside quotes) Spark keeps the raw
    text and this reader reads it as the ``csv`` module does."""
    with open(path, newline="", encoding="utf-8") as f:
        lines = [line for line in f if line.strip(_TRIM)]
    rows = []
    for fields in csv.reader(lines, delimiter="|", escapechar="\\"):
        fields = [v or None for v in fields[:3]] + [None] * (3 - len(fields))
        sid, lotjuid, name = fields
        rows.append(MetaRow(sid and _int(sid), lotjuid and _int(lotjuid), name))
    return rows


def sensor_name_to_id(sensors: Iterable) -> dict[str, int]:
    """J5: normalized sensor-name → id dict for DSL block resolution, from
    rows with ``name`` and ``id`` attributes.

    P7 normalization: strip double quotes, lowercase (utils.py:275-283).
    The dict is driver-side (145 sensors) — the lookup happens at parse
    time, not in the distributed plan."""
    return {r.name.replace('"', "").lower(): r.id for r in sensors if r.name is not None}

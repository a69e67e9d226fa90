"""Semi-structured (JSON) column operators.

The reference's data model reserves ``jsonb`` columns for station/sensor
metadata but never queries them (SURVEY.md §1.1, §2.9: "jsonb columns exist
but no query touches them"); event-pipeline data at scale leans on exactly
this shape — a typed core plus a JSON properties bag (the testdata's
``events.props``). These operators make the bag queryable.

Scale design:

- ``extract_json_fields`` parses with ``from_json`` and an explicit
  schema: a JVM-side built-in (Jackson under the hood) that runs inside
  whole-stage codegen, no Python, no shuffle, and parses each row ONCE
  however many fields it extracts (``get_json_object`` re-parses per
  field) — a 100 TB scan extracts at parquet read speed.
- Extracted values are cast to explicit types at the edge so downstream
  aggregates are typed (and oracle-comparable), never stringly-typed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def extract_json_fields(
    df: DataFrame, json_col: str, fields: dict[str, str]
) -> DataFrame:
    """Parse ``json_col`` ONCE with an explicit schema and append each field
    in ``fields`` (name -> Spark type string) as a typed top-level column.

    One ``from_json`` per row regardless of field count — the multi-field
    fast path (``get_json_object`` re-parses the document per field).
    """
    schema = StructType.fromDDL(
        ", ".join(f"{name} {dtype}" for name, dtype in fields.items())
    )
    parsed = df.withColumn("_j", F.from_json(F.col(json_col), schema))
    out = parsed.select(
        *df.columns, *[F.col(f"_j.{name}").alias(name) for name in fields]
    )
    return out

"""JSON flattening (S7 in SURVEY §2.1) — the ``json_normalize``
equivalent: nested struct columns become dotted top-level columns;
array-of-struct record paths explode to rows.

Reference: App/mdc/__init__.py:34-36,66-69,107-112,198 and
App/rco_main.py:141,171 flatten every REST payload this way before
column mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def flatten_structs(df: DataFrame) -> DataFrame:
    """Recursively lift struct fields to top-level ``a.b.c`` columns.
    Non-struct columns pass through; arrays are left intact (use
    ``explode_records`` first for record paths)."""
    while True:
        struct_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StructType)
        ]
        if not struct_cols:
            return df
        cols = []
        for f in df.schema.fields:
            if isinstance(f.dataType, T.StructType):
                for sub in f.dataType.fields:
                    cols.append(
                        F.col(f"`{f.name}`.`{sub.name}`").alias(f"{f.name}.{sub.name}")
                    )
            else:
                cols.append(F.col(f"`{f.name}`"))
        df = df.select(*cols)


def explode_records(
    df: DataFrame, record_path: str, keep_meta: list[str] | None = None
) -> DataFrame:
    """``json_normalize(record_path=..., meta=...)``: explode an
    array-of-struct column to rows, carrying selected metadata
    columns."""
    meta = keep_meta or [c for c in df.columns if c != record_path]
    return df.select(
        *[F.col(f"`{c}`") for c in meta],
        F.explode(F.col(f"`{record_path}`")).alias("__rec"),
    ).select(*[F.col(f"`{c}`") for c in meta], "__rec.*")

"""Envelope normalization — the reference's transform core, Spark-first.

Parity map (all citations into /root/reference):
- dtype-dispatched normalize        src/processor.rs:38-55
- explode (list -> rows)            src/processor.rs:44-46  -> explode_outer
- unnest (struct -> columns)        src/processor.rs:46-52  -> select("c.*")
- drop technical columns            src/processor.rs:57-72  -> df.drop(*cols)
- empty-table guard                 src/processor.rs:31-35  -> require_nonempty (schema check)

Semantics notes:
- Polars ``explode`` emits a null row for null/empty lists, so the
  Spark mapping is ``explode_outer`` (plain ``explode`` drops them).
- Polars ``unnest`` replaces the struct column with its fields in
  place; we reproduce that column ordering and fail on name collisions
  explicitly instead of silently shadowing.
- The reference swallows unnest failures on non-struct roots
  (processor.rs:52 ``unwrap_or``); ``normalize_envelope`` mirrors that
  best-effort branch by returning the frame unchanged.

Everything here is pure DataFrame API: Catalyst sees one declarative
plan (generate + project), so column pruning and pushdown still apply
below the explode at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_etl_spark.errors import SchemaError

#: Pagination/metadata columns of the government-API envelope
#: (src/processor.rs:58-66).
TECHNICAL_COLUMNS: tuple[str, ...] = (
    "totalRegistros",
    "totalPaginas",
    "paginasRestantes",
    "links",
    "dataHoraConsulta",
    "timeZoneAtual",
    "dataHoraAtualizacao",
)


def require_nonempty(df: DataFrame, context: str = "table") -> DataFrame:
    """Refuse to continue on a frame with no columns (processor.rs:31-35).

    A schema check, so it runs no Spark job. It is the empty-table guard
    for a normalized JSON document: a multiLine read of zero records
    infers no fields, and ``explode_outer`` never empties a non-empty
    frame. Column-less frames with rows (``{}``, ``[{}]``, an envelope of
    technical columns only) have nothing to write either.
    """
    if not df.columns:
        raise SchemaError(f"empty {context}: refusing to write output")
    return df


def drop_technical(df: DataFrame, cols: tuple[str, ...] = TECHNICAL_COLUMNS) -> DataFrame:
    """Drop metadata columns if present (processor.rs:57-72).

    Spark's ``drop`` is a no-op for absent names, so the reference's
    per-column existence guard collapses to one projection.
    """
    return df.drop(*cols)


def flatten_struct(df: DataFrame, col: str) -> DataFrame:
    """Promote ``col``'s struct fields to top level, dropping the struct.

    Reproduces Polars ``unnest`` (processor.rs:46-49) including its
    in-place column ordering. Collisions with sibling columns raise —
    the silent-shadowing alternative loses data.
    """
    field = df.schema[col]
    if not isinstance(field.dataType, T.StructType):
        raise SchemaError(f"flatten_struct: column {col!r} is {field.dataType.simpleString()}, not struct")
    inner = [f.name for f in field.dataType.fields]
    siblings = [c for c in df.columns if c != col]
    clash = set(inner) & set(siblings)
    if clash:
        raise SchemaError(f"flatten_struct: field(s) {sorted(clash)} collide with existing columns")
    out: list = []
    for c in df.columns:
        if c == col:
            out.extend(F.col(f"{col}.{f}").alias(f) for f in inner)
        else:
            out.append(F.col(c))
    return df.select(*out)


def explode_records(df: DataFrame, col: str) -> DataFrame:
    """One output row per list element, null row for null/empty lists.

    Polars-``explode`` parity (processor.rs:44-46) => ``explode_outer``.
    """
    return df.withColumn(col, F.explode_outer(F.col(col)))


def normalize_envelope(df: DataFrame, root_path: str | None = None) -> DataFrame:
    """Dtype-dispatched normalization of a JSON envelope (processor.rs:38-55).

    - ``root_path`` column is an array  -> explode_outer, then flatten
      if the elements are structs;
    - a struct -> flatten in place;
    - anything else (or absent/None root) -> best-effort passthrough,
      mirroring the reference's swallowed unnest (processor.rs:51-52).
    """
    if root_path is None or root_path not in df.columns:
        return df
    dtype = df.schema[root_path].dataType
    if isinstance(dtype, T.ArrayType):
        df = explode_records(df, root_path)
        if isinstance(dtype.elementType, T.StructType):
            df = flatten_struct(df, root_path)
        return df
    if isinstance(dtype, T.StructType):
        return flatten_struct(df, root_path)
    return df

"""Codepoint-array -> string decoding (reference op "byte_arrays").

The reference repairs API columns that serialize text as arrays of
integer codepoints: every ``List(Int64|Float64)`` column is cast to
``List(UInt8)`` -> ``Binary`` -> UTF-8 ``String``
(/root/reference/src/processor.rs:100-123). The UInt8 cast *wraps*
(x & 0xFF) and the UTF-8 decode is lossy-tolerant.

Spark mapping: one JVM column expression, no Python worker. Each
element is truncated toward zero and wrapped to a byte with ``pmod``
(exact for every finite long or double); ``char`` makes the byte one
Latin-1 character, so ``encode(..., 'ISO-8859-1')`` assembles the raw
bytes; the cast to string reads them as UTF-8 and ``make_valid_utf8``
replaces each invalid sequence with U+FFFD exactly as Python's
``decode('utf-8', 'replace')`` does. A null array decodes to null; a
null, NaN or infinite element fails the query, as ``int(x)`` would.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: ``int(x) & 0xFF`` per element, then bytes -> lossy UTF-8 (module doc).
#: SQL, not chained Column calls: one parse instead of ~20 py4j round
#: trips, which is most of the plan-time cost of a small envelope.
_DECODE_SQL = (
    "CASE WHEN {c} IS NOT NULL THEN make_valid_utf8(CAST(encode(concat_ws('', transform("
    "transform({c}, x -> pmod(x - x % 1, 256)), b -> char(IF(b IS NULL OR isnan(b), "
    "raise_error('decode_codepoints: null or non-finite codepoint'), CAST(b AS BIGINT))))"
    "), 'ISO-8859-1') AS STRING)) END"
)


def decode_codepoints_col(name: str) -> Column:
    """Column expression: array<int-like> column ``name`` -> decoded UTF-8 string."""
    return F.expr(_DECODE_SQL.format(c="`" + name.replace("`", "``") + "`"))


_DECODABLE = (T.LongType(), T.DoubleType(), T.IntegerType(), T.FloatType(), T.ShortType())


def decode_codepoint_arrays(df: DataFrame) -> DataFrame:
    """Full-schema scan: replace every array<int64|float64> column with
    its decoded string, preserving column order (processor.rs:103-121).
    """
    out: list[Column] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType) and f.dataType.elementType in _DECODABLE:
            out.append(decode_codepoints_col(f.name).alias(f.name))
        else:
            out.append(F.col(f.name))
    return df.select(*out)

"""Scalar function surface (SURVEY.md §2 E1-E6, C8, C9).

Everything that CAN be a pure Column expression is one (JVM-side, codegen);
only the two byte-wrangling functions that need per-byte escapes are Python
UDFs, per the reference's own split:

- ``to_string_binary`` — HBase Bytes.toStringBinary semantics
  (reference hbase.clj:29-35): printable ASCII kept, everything else \\xNN.
- ``parse_region_name`` — HBase region-name decode
  (reference hbase.clj:101-108): table + 32-hex encoded region suffix.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- pure column expressions -------------------------------------------------

def camel_to_kebab(col: Column | str) -> Column:
    """CamelCase method name -> lower-kebab (reference hbase.clj:146-152):
    'GetOnlineRegions' -> 'get-online-regions'."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, r"(?<=[a-z0-9])([A-Z])", r"-$1"))


def sub_ts_ms(ts_a: Column, ts_b: Column) -> Column:
    """Millisecond difference a-b (reference core.clj:141-144 `sub-ts`)."""
    return (F.unix_millis(ts_a) - F.unix_millis(ts_b)).cast("int")


def fmt_bytes(col: Column | str) -> Column:
    """Humanize byte counts B/KiB/MiB/GiB (reference core.clj:309-315)."""
    c = F.col(col) if isinstance(col, str) else col
    kib, mib, gib = 1024.0, 1024.0**2, 1024.0**3
    return (
        F.when(c < kib, F.concat(c.cast("long").cast("string"), F.lit(" B")))
        .when(c < mib, F.concat(F.format_number(c / kib, 1), F.lit(" KiB")))
        .when(c < gib, F.concat(F.format_number(c / mib, 1), F.lit(" MiB")))
        .otherwise(F.concat(F.format_number(c / gib, 1), F.lit(" GiB")))
    )


# --- Python UDFs (the only two; byte-level escapes aren't expressible) -------

def _to_string_binary_py(data: bytes | None) -> str | None:
    if data is None:
        return None
    out = []
    for b in data:
        if 32 <= b < 127:
            out.append(chr(b))
        else:
            out.append(f"\\x{b:02X}")
    return "".join(out)


# useArrow=False names the plain pickled-row UDF the type hints would
# otherwise make PySpark try (and fail, with a UserWarning) to infer
to_string_binary = F.udf(_to_string_binary_py, T.StringType(), useArrow=False)

_ENCODED_SUFFIX = re.compile(rb"\.([0-9a-f]{32})\.$")


def _parse_region_name_py(name: bytes | None):
    """HBase region name: ``<table>,<startkey>,<ts>.<encoded-32hex>.`` ->
    (table as string-binary, encoded region). Old-format names (no encoded
    suffix) fall back to the full name string-binary for the region part."""
    if name is None:
        return None
    comma = name.find(b",")
    table = name if comma < 0 else name[:comma]
    m = _ENCODED_SUFFIX.search(name)
    region = m.group(1).decode("ascii") if m else _to_string_binary_py(name)
    return (_to_string_binary_py(table), region)


parse_region_name = F.udf(
    _parse_region_name_py,
    T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("region", T.StringType()),
        ]
    ),
    useArrow=False,
)

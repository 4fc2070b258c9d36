"""JSON paths for typed access over a dynamic payload column.

The reference's payload is schemaless JSON probed at delivery time with a
type assertion: ``json_get(message, "/foo/bar", expected_type)`` raises on
a missing path or wrong JSON type and the filter treats that as no-match
(/root/reference/evtstrd/filters.py:32-37, 22-27).

Spark-first mapping: parse the payload once with ``try_parse_json``
(VariantType, Spark 4), read the node's actual type with
``schema_of_variant``, and gate every typed extraction on it
(``operators.filters.typed_extract``).  The gate matters because
``try_variant_get`` *coerces* (string "50" -> bigint 50, true -> 1),
which would violate the reference's strict wrong-type => no-match
semantics.  This module turns a dotted field into the variant path
Spark reads and the JSON path DuckDB's twin reads.
"""

from __future__ import annotations

import re

_SIMPLE_SEGMENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def json_path(field: str) -> str:
    """Dotted field path ("foo.bar") -> variant path ("$.foo.bar").

    Segments with characters outside [A-Za-z0-9_] (the DSL grammar allows
    '-', /root/reference/evtstrd/filters.py:65) use bracket quoting.
    """
    parts = []
    for seg in field.split("."):
        if _SIMPLE_SEGMENT.match(seg):
            parts.append("." + seg)
        else:
            parts.append(f"['{seg}']")
    return "$" + "".join(parts)


def duckdb_json_path(field: str) -> str:
    """Same path for DuckDB's json functions (quoted segments)."""
    parts = []
    for seg in field.split("."):
        if _SIMPLE_SEGMENT.match(seg):
            parts.append("." + seg)
        else:
            parts.append('."' + seg + '"')
    return "$" + "".join(parts)


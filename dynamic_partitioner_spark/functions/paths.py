"""Hive/Spark partition-directory name escaping.

Spark's partitioned writers name directories with Hive's
``escapePathName`` rule (``org.apache.spark.sql.catalyst.catalog.
ExternalCatalogUtils.escapePathName``, a port of Hive's
``FileUtils.escapePathName``): only a fixed set of ASCII specials and
the control characters are ``%XX``-encoded — space, ``+``, ``,``,
``(``, ``)``, ``!`` and all non-ASCII stay literal.  Percent-encoding
with ``urllib.parse.quote`` produces *different* spellings for such
values, so hand-composed paths (existence checks, emptied-partition
prune deletes, the pure-Python Avro writer) would miss directories the
native writer created.  This module is the single escaping authority
for every partition path the engine composes or parses itself; parity
with the real writer is pinned in ``tests/test_partitioned_write.py``.
"""

from __future__ import annotations

# Exact character set from ExternalCatalogUtils.charToEscape:
# ASCII 01-1F control chars, DEL, and these specials.  '%' itself is in
# the set, which makes the encoding reversible.
_TO_ESCAPE = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ['"', '#', '%', "'", '*', '/', ':', '=', '?', '\\', '\x7f',
       '{', '[', ']', '^'])


#: Spark's spelling for a null-or-EMPTY partition value
#: (``ExternalCatalogUtils.getPartitionPathString``): the native
#: writer never creates a bare ``f=`` directory.  The engine rejects
#: NULL keys at write time, so only the empty string reaches this —
#: note Spark's own reader surfaces such a directory as NULL, not ''
#: (a Spark semantics fact; the engine's listing-based parsers map it
#: back to '' so key-tuple set comparisons stay consistent).
DEFAULT_PARTITION_NAME = "__HIVE_DEFAULT_PARTITION__"


def escape_path_name(value: str) -> str:
    """Escape a partition column name or value exactly as Spark's
    native writer does."""
    return "".join(f"%{ord(c):02X}" if c in _TO_ESCAPE else c
                   for c in value)


def partition_value_from_dir(name: str) -> str:
    """Decode a partition directory VALUE segment: the default-
    partition spelling maps back to the empty string (see
    :data:`DEFAULT_PARTITION_NAME`), everything else unescapes."""
    if name == DEFAULT_PARTITION_NAME:
        return ""
    return unescape_path_name(name)


def unescape_path_name(name: str) -> str:
    """Inverse of :func:`escape_path_name` (Hive ``unescapePathName``):
    decode ``%XX`` for valid hex pairs, leave anything else literal."""
    out = []
    i, n = 0, len(name)
    while i < n:
        c = name[i]
        if c == "%" and i + 3 <= n:
            hx = name[i + 1:i + 3]
            if all(h in "0123456789abcdefABCDEF" for h in hx):
                out.append(chr(int(hx, 16)))
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def hive_partition_path(field_names: list[str],
                        values: tuple[str, ...]) -> str:
    """``f1=v1/f2=v2`` relative path with writer-exact escaping of
    column names and values (a column ``a:b`` names ``a%3Ab=``
    directories, as ``getPartitionPathString`` does).
    An EMPTY value spells :data:`DEFAULT_PARTITION_NAME`, exactly as
    ``getPartitionPathString`` does — composing ``f=`` here made the
    emptied-partition prune's existence check miss the directory the
    native writer actually created, silently skipping its delete
    (r14 review)."""
    return "/".join(
        f"{escape_path_name(f)}="
        f"{escape_path_name(str(v)) if str(v) else DEFAULT_PARTITION_NAME}"
        for f, v in zip(field_names, values))

"""Driver-side parquet footer field-id extraction, shared by the Delta
(``columnMapping=id``) and Iceberg (field-id resolution) read paths.

Both formats resolve columns by integer field ID when data files carry
parquet ``field_id`` metadata (Delta PROTOCOL.md § Column Mapping;
Iceberg spec § Parquet — "Field IDs are required"). Spark's global
``spark.sql.parquet.fieldId.read.enabled`` conf is consulted at ACTION
time (verified empirically: flipping it after ``spark.read`` but before
``.collect()`` changes the result), so a reader that flips it (a) leaves
a lasting side effect on the shared session and (b) cannot express
per-file resolution for a MIXED table — some files with IDs under
pre-rename physical names, some without — which Spark's single-conf
path cannot read correctly at all.

Instead the readers resolve IDs themselves: one parallel footer-METADATA
read per live file here (no row groups touched — a footer read is the
same O(KB) fetch Spark's own scan planning performs executor-side), then
each distinct ``{field id -> physical name}`` mapping becomes its own
scan group whose columns are aliased back to the canonical schema. The
number of groups is bounded by the number of schema evolutions the
table has seen, never by file count, so the unioned plan stays small at
any scale; at 100 TB the footer sweep is the driver-side analogue of
manifest planning and parallelizes across the thread pool.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = [
    "parquet_footer_schemas",
    "parquet_field_id_mappings",
    "group_paths_by_mapping",
    "parquet_footer_columns",
    "group_paths_by_physical_schema",
]

#: (abs path, size, mtime_ns) -> the footer's Arrow schema. Data files
#: in every format here are IMMUTABLE once committed (uuid-named, never
#: appended), so a size+mtime key is a sound identity and repeated scans
#: of the same snapshot skip the footer I/O entirely. Bounded eviction
#: keeps a long-lived driver from accumulating unboundedly.
_CACHE: dict[tuple, "pa.Schema"] = {}
_CACHE_MAX = 65536


def parquet_footer_schemas(
    paths: list[str], max_workers: int = 16
) -> dict[str, "pa.Schema"]:
    """Per file, the Arrow schema of its parquet footer. Raises — never
    silently degrades to name resolution — when a footer cannot be read:
    a table whose footers are unreadable must fail at plan time, not
    return wrong rows at scan time. Results are memoized on (path, size,
    mtime), so only a snapshot's NEW files pay the footer read on repeat
    scans."""
    import pyarrow.parquet as pq

    def one(p: str) -> "pa.Schema":
        try:
            st = os.stat(p)
            key = (os.path.abspath(p), st.st_size, st.st_mtime_ns)
            hit = _CACHE.get(key)
            if hit is not None:
                return hit
            # field metadata (ids) kept; the file-level key-value
            # metadata (Spark's schema JSON) is dropped to keep entries small
            sch = pq.ParquetFile(p).schema_arrow.remove_metadata()
        except Exception as exc:  # noqa: BLE001 — re-raised, loud
            raise IOError(
                f"cannot read parquet footer of {p}: {exc}"
            ) from exc
        if len(_CACHE) >= _CACHE_MAX:
            _CACHE.clear()
        _CACHE[key] = sch
        return sch

    if not paths:
        return {}
    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        return dict(zip(paths, ex.map(one, paths)))


def parquet_field_id_mappings(
    paths: list[str], max_workers: int = 16
) -> dict[str, dict[int, str]]:
    """Per file, the ``{parquet field id -> physical column name}``
    mapping from its footer (empty when the file carries no field IDs).
    Loud on unreadable footers, memoized (``parquet_footer_schemas``)."""
    out: dict[str, dict[int, str]] = {}
    for p, sch in parquet_footer_schemas(paths, max_workers).items():
        out[p] = {
            int(f.metadata[b"PARQUET:field_id"]): f.name
            for f in sch
            if f.metadata and b"PARQUET:field_id" in f.metadata
        }
    return out


def parquet_footer_columns(
    paths: list[str], max_workers: int = 16
) -> dict[str, frozenset]:
    """Per file, the set of TOP-LEVEL column names in its footer
    schema. Proves column ABSENCE by name for files without field IDs
    (the migrated-file shape): an identity-partition source column
    absent from the bytes must read as the partition constant, not
    NULL. Loud on unreadable footers, memoized."""
    return {
        p: frozenset(sch.names)
        for p, sch in parquet_footer_schemas(paths, max_workers).items()
    }


def _spark_reading(at: "pa.DataType"):
    """The Spark type the parquet reader gives a column whose footer
    reads as Arrow type ``at``, or None where the Arrow type leaves it
    open (INT96 vs. local timestamps, unsigned and nested types)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    exact = {
        pa.bool_(): T.BooleanType(),
        pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(),
        pa.large_string(): T.StringType(),
        pa.binary(): T.BinaryType(),
        pa.large_binary(): T.BinaryType(),
        pa.date32(): T.DateType(),
    }
    if at in exact:
        return exact[at]
    if pa.types.is_decimal(at):
        return T.DecimalType(at.precision, at.scale)
    if pa.types.is_timestamp(at) and at.tz is not None and at.unit != "ns":
        return T.TimestampType()
    return None


def group_paths_by_physical_schema(
    paths: list[str], columns: list[str]
) -> list[tuple[object, list[str]]]:
    """Group parquet files by the physical Spark schema of ``columns``
    in their footers (deterministic order): ``[(StructType | None,
    paths)]``. Reading a group with ``spark.read.schema(st)`` skips
    Spark's footer-inference job, and files whose physical widths differ
    (INT32 vs INT64 bytes for one column) never share a vectorized scan.
    ``None`` groups the files where a column is absent or its Spark
    reading is ambiguous from the footer; those read unpinned."""
    from pyspark.sql.types import StructField, StructType

    groups: dict[object, list[str]] = {}
    for p, sch in parquet_footer_schemas(paths).items():
        idx = [sch.get_field_index(c) for c in columns]  # -1: absent
        types = [
            _spark_reading(sch.field(i).type) if i >= 0 else None
            for i in idx
        ]
        key = (
            None
            if any(t is None for t in types)
            else StructType(
                [StructField(c, t, True) for c, t in zip(columns, types)]
            )
        )
        groups.setdefault(key, []).append(p)
    return sorted(
        groups.items(), key=lambda kv: "" if kv[0] is None else kv[0].json()
    )


def group_paths_by_mapping(
    paths: list[str], mappings: dict[str, dict[int, str]]
) -> list[tuple[dict[int, str], list[str]]]:
    """Group files by their exact footer mapping (deterministic order).
    Files without field IDs group under the empty mapping ``{}`` — the
    caller routes that group down name resolution."""
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        sig = tuple(sorted(mappings.get(p, {}).items()))
        groups.setdefault(sig, []).append(p)
    return [(dict(sig), ps) for sig, ps in sorted(groups.items())]

"""Flight pipeline sources and sinks (S1, S2, S3, S6, S7).

The reference's per-file glob loop (src/data_cleaning.py:89-116) collapses
into one read: the glob is expanded in the driver, as the reference's loop
does, and the matching files become one distributed scan (S1). Columns are
picked by header name, as the reference's ``usecols`` whitelist does
(src/data_cleaning.py:15-25), so CSV parsing is pruned to the whitelist
whatever the file's column order or width (S2).

The star's sink is split by size. The fact scales with base data, so Spark
writes it (``star.write_star``: month-partitioned parquet in place of
10k-row chunked JDBC writes, S3). The dims and the dashboard caches are
bounded by the domain (airports, days, airline × month × city), so they
live in the driver, as ``Table`` columns from the refresh's grouped pass to
the file: ``write_parquet_file`` (S3) writes each dim, the one place the
driver builds an Arrow table, and ``write_cache_csv`` (S6) each cache, as
one file, published atomically through one routine, ``_publish_file``,
under a temporary name of its own, so concurrent publishes stay atomic.
``agg.write_cache``, Spark's cache writer, is kept as the reference the
tests and the benchmark's layer timings hold the driver's writer to; the
refresh does not call it.
``read_cache_csv`` (S7) loads a cache into the driver, exactly the one file
``write_cache_csv`` publishes, with the ``csv`` module, the codec that
writes it, as a ``Table`` of Python columns, and the serving layer answers
every request there, without a JVM — the place ``st.cache_data`` holds
them in the reference (src/app.py:29-46). Which caches there are, and each
one's directory name and schema, is ``schemas.CACHES``: the refresh writes,
and the ``serve`` command reads, each cache it names.

Spark's grouping rules, which the refresh and the serving layer both follow
in the driver, live here once: ``nulls_first`` orders keys, ``spark_sum``
adds a group's values, ``rollup`` is a ``groupBy(...).agg(sum(...))`` over
a ``Table``'s columns built on the two, and ``Table.take`` picks rows by
position. Both tiers go through ``rollup``: the refresh for the dims'
distinct rows and to add the caches' partials per (airline, month[,
city]), the dashboard per chart.
"""

from __future__ import annotations

import csv
import glob
import os
from collections.abc import Callable, Iterable
from operator import itemgetter
from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from us_flight_bigdata_dashboard_spark.flights.schemas import RAW_FLIGHTS_SCHEMA


def read_raw_flights(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """S1/S2: the raw CSVs as one scan, whitelisted columns picked by name.

    ``path_or_glob`` is a file or a glob like ``data/2025_0[1-3].csv``; it
    is expanded here, to the matching regular files. The first file's
    header fixes the column order and every file must repeat it (Spark
    checks each header). Whitelisted columns get their
    ``RAW_FLIGHTS_SCHEMA`` type, any other column is read as a string and
    pruned from the scan. ``Cancelled`` may be absent (``clean_flights``
    then falls back, P6). Raises ``ValueError`` naming any other column
    the header lacks, and ``FileNotFoundError`` when no file matches.
    """
    files = sorted(f for f in glob.glob(path_or_glob) if os.path.isfile(f))
    if not files:
        raise FileNotFoundError(f"no raw CSV file matches {path_or_glob!r}")
    with open(files[0], newline="", encoding="utf-8") as f:
        header = next(csv.reader(f), [])
    types = {f.name: f.dataType for f in RAW_FLIGHTS_SCHEMA.fields}
    missing = [n for n in types if n not in header and n != "Cancelled"]
    if missing:
        raise ValueError(f"raw CSV {files[0]} has no column {', '.join(map(repr, missing))} (header: {header})")
    schema = T.StructType([T.StructField(n, types.get(n, T.StringType())) for n in header])
    df = spark.read.option("header", True).option("enforceSchema", False).schema(schema).csv(files)
    return df.selectExpr(*[f"`{n}`" for n in types if n in header])


class Table:
    """A small table held in the driver, by column: the refresh's grouped
    partials, dims and caches from the collect to the file, and the
    dashboard's caches and chart results. ``columns`` maps each column
    name, in column order, to its values in row order, Python values with
    ``None`` for null; a table with no row keeps its column names.
    ``count()`` and ``collect()`` keep the call shapes of a Spark
    DataFrame's."""

    __slots__ = ("columns",)

    def __init__(self, columns: dict[str, list]):
        self.columns = columns

    def count(self) -> int:
        return len(next(iter(self.columns.values()), ()))

    def collect(self) -> list[Row]:
        row = Row(*self.columns)
        return [row(*values) for values in zip(*self.columns.values())]

    def take(self, positions: list[int]) -> Table:
        """The rows at ``positions``, in that order."""
        return Table({name: [values[i] for i in positions] for name, values in self.columns.items()})


def nulls_first(values: tuple) -> tuple:
    """Sort key ordering tuples as Spark orders structs and grouping keys:
    field by field, null first, strings by code point."""
    return tuple([(v is not None, v) for v in values])


def spark_sum(values: Iterable):
    """Spark's ``sum``: the non-null ``values`` added left to right onto 0,
    null when there are none. A fold, not ``sum()``, which compensates
    float sums from Python 3.12 on."""
    total = None
    for v in values:
        if v is not None:
            total = (0 if total is None else total) + v
    return total


def rollup(table: Table, keys: tuple[str, ...], values: tuple[str, ...] = ()) -> Table:
    """Spark's ``groupBy(*keys).agg(*(sum(v) for v in values))`` over
    ``table``'s columns: one row per group (a null key part is a group of
    its own; groups in key order, nulls first) with its keys and the
    ``spark_sum`` of each value column, added in row order. With no
    ``values``, the distinct keys."""
    names, n = (*keys, *values), len(keys)
    groups: dict[tuple, list] = {}
    for row in zip(*(table.columns[c] for c in names)):
        groups.setdefault(row[:n], []).append(row)
    # each group transposed once: its value columns follow its key columns
    rows = [(*key, *map(spark_sum, list(zip(*groups[key]))[n:])) for key in sorted(groups, key=nulls_first)]
    return Table({name: [r[i] for r in rows] for i, name in enumerate(names)})


def _publish_file(path: str, name: str, write: Callable[[str], None]) -> None:
    """Publish the directory ``path``'s one file ``name``: ``write`` it
    beside it under a dot name of its own (hidden from Spark's readers, and
    unique to this publish, so concurrent publishes never share one), then
    move it onto ``name`` with ``os.replace``, so a concurrent reader sees
    the old file or a new one, never a missing, partial or mixed one. The
    temporary file is removed if ``write`` raises. The files of a Spark
    writer's layout are removed first, because ``spark.read.parquet``
    reads a dim's whole directory and would add their stale rows; that
    one-time upgrade is not atomic."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.{os.urandom(8).hex()}.tmp")
    try:
        write(tmp)
    except BaseException:
        Path(tmp).unlink(missing_ok=True)
        raise
    for entry in os.listdir(path):
        # Spark's layout: its own part files, the _SUCCESS marker, checksums
        if (entry.startswith("part-") and entry != name) or entry == "_SUCCESS" or entry.endswith(".crc"):
            os.remove(os.path.join(path, entry))
    os.replace(tmp, os.path.join(path, name))


# the name of a cache directory's one file: ``write_cache_csv`` publishes
# it and ``read_cache_csv`` reads it
CACHE_FILE = "part-00000.csv"


def write_cache_csv(table: Table, path: str) -> None:
    """S6: ``table`` published (``_publish_file``) as the directory
    ``path``'s one file, ``CACHE_FILE``, with a header; null is an empty
    field."""

    def write(tmp: str) -> None:
        with open(tmp, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(table.columns)
            w.writerows(zip(*table.columns.values()))

    _publish_file(path, CACHE_FILE, write)


def write_parquet_file(table: Table, path: str, schema: T.StructType) -> None:
    """S3 for a star dim: ``table`` published (``_publish_file``) as the
    directory ``path``'s one file, ``part-00000.parquet``, typed as
    ``schema`` (a Spark ``StructType``, which ``to_arrow_schema`` maps to
    the Arrow types Spark's own collect uses), which
    ``spark.read.parquet(path)`` reads back."""
    # imported here, so that serving, which writes no parquet, loads no
    # pyarrow; ``import pyarrow.parquet`` binds ``pyarrow`` too
    import pyarrow.parquet
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = pyarrow.table(table.columns, schema=to_arrow_schema(schema))
    _publish_file(path, "part-00000.parquet", lambda tmp: pyarrow.parquet.write_table(arrow, tmp))


# the builtin that parses a field of each of a cache's Spark types
_PARSERS = {"int": int, "bigint": int, "double": float, "string": str}


def read_cache_csv(spark: SparkSession | None, path: str, schema) -> Table:
    """S7: one dashboard cache, read into the driver: the inverse of
    ``write_cache_csv``.

    ``path`` is the cache's file, or the directory ``write_cache_csv``
    publishes it in, of which only the file ``CACHE_FILE`` is read.
    Columns are picked by header name, not position, and each field is
    parsed with the builtin for its type in ``schema`` (a Spark
    ``StructType``): ``int`` for ``int`` and ``bigint``, ``float`` for
    ``double``. An empty field reads as null and a blank line is skipped,
    as in Spark. Raises ``ValueError`` for a field that does not parse,
    and one naming the file when it is empty, lacks a column (named too)
    or has a row whose field count differs from its header's;
    ``FileNotFoundError`` naming the file when there is none.

    No Spark session is used: ``spark`` is accepted, and ignored, only
    because the benchmark's serve workload passes one; pass ``None``.
    """
    file = path if os.path.isfile(path) else os.path.join(path, CACHE_FILE)
    with open(file, newline="", encoding="utf-8") as f:
        rows = [r for r in csv.reader(f) if r]
    if not rows:
        raise ValueError(f"cache file {file} is empty")
    header = rows.pop(0)
    missing = [n for n in schema.fieldNames() if n not in header]
    if missing:
        raise ValueError(f"cache file {file} has no column {missing[0]!r} (header: {header})")
    if any(len(r) != len(header) for r in rows):
        raise ValueError(f"cache file {file} has a row whose field count differs from its header's")
    columns = {}
    for field in schema.fields:
        parse, i = _PARSERS[field.dataType.simpleString()], header.index(field.name)
        columns[field.name] = [None if v == "" else parse(v) for v in map(itemgetter(i), rows)]
    return Table(columns)

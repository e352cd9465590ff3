"""The Python boundary: the only module that hands work to Python workers.

Every Arrow-batched stage in the package goes through one of the four
functions here (``map_in_pandas``, ``apply_in_pandas``,
``apply_in_pandas_with_state``, ``pandas_column``), and each of them does
the two things a crossing needs:

* **Ship the package.**  Stage functions are pickled by reference to this
  package, so executors must be able to import it.  Before a stage is
  built, :func:`ship` zips the package (once per process, into a fresh
  temp file) and registers it with ``addPyFile`` (once per
  ``applicationId``).  Under ``spark-submit --py-files pipeline.zip`` the
  package is imported from inside that zip, which Spark already ships, so
  nothing is added.
* **Cross spans flat.**  The JVM's ArrowWriter serializes an
  ``array<struct>`` column element by element, and that conversion — not
  Python-side work — dominated the round trip (on a 32-CPU host an
  identity pass over the 160k-doc bench corpus cost 3.2-5.1 s; four
  parallel primitive arrays cut it ~15 %).  So a ``spans`` column
  crosses as one array per struct field in both directions: projected
  apart JVM-side on the way in, rebuilt into the kernel's list-of-dict
  records per batch, taken apart again on the way out and re-zipped
  JVM-side into the declared struct.  Field names (``offset`` on input
  tables, ``order`` on extracted ones) come from the input DataFrame's
  schema and the declared output schema.  The projections are SQL strings
  (``selectExpr``): built from ``Column`` objects they cost several py4j
  round trips per column, which on a 4-CPU host doubled the chunked
  path's driver-side build time (0.11 -> 0.22 s per call).

Stage functions therefore see, and return, a ``spans`` column of
``list[dict]`` (``[]`` for a NULL spans array) and never the flat form.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

SPANS = "spans"

_shipped: set[str] = set()  # applicationIds that have the package
_zip_path: str | None = None  # this process's package zip, removed at exit


def _package_zip() -> str | None:
    """Path of this process's zip of the package, or None when the package
    was not imported from a directory (it then came from a zip that
    ``--py-files`` ships already)."""
    global _zip_path
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        return None
    if _zip_path is None:
        pkg_name = os.path.basename(pkg_dir)
        fd, path = tempfile.mkstemp(prefix=f"{pkg_name}-", suffix=".zip")
        with os.fdopen(fd, "wb") as f, \
                zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)))
        atexit.register(_remove, path)
        _zip_path = path
    return _zip_path


def _remove(path: str) -> None:
    # the temp directory may be gone already (a caller's scratch dir)
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def ship(spark: SparkSession) -> None:
    """Make the package importable on ``spark``'s executors."""
    sc = spark.sparkContext
    if sc.applicationId in _shipped:
        return
    path = _package_zip()
    if path is not None:
        sc.addPyFile(path)
    _shipped.add(sc.applicationId)


# ---------------------------------------------------------------------------
# the flat span crossing
# ---------------------------------------------------------------------------


def _span_fields(schema: T.StructType) -> list[str] | None:
    if SPANS not in schema.names:
        return None
    return schema[SPANS].dataType.elementType.names


def _flat(field: str) -> str:
    return f"_{SPANS}_{field}"


def _q(name: str) -> str:
    return f"`{name}`"


def _flat_input(df: DataFrame) -> tuple[DataFrame, list[str] | None]:
    fields = _span_fields(df.schema)
    if fields is None:
        return df, None
    return df.selectExpr(
        *[_q(c) for c in df.columns if c != SPANS],
        *[f"{_q(SPANS)}.{_q(f)} AS {_q(_flat(f))}" for f in fields],
    ), fields


def _flat_output(schema: T.StructType) -> tuple[T.StructType, list[str] | None]:
    fields = _span_fields(schema)
    if fields is None:
        return schema, None
    return T.StructType(
        [f for f in schema.fields if f.name != SPANS]
        + [T.StructField(_flat(f.name), T.ArrayType(f.dataType), True)
           for f in schema[SPANS].dataType.elementType.fields]
    ), fields


def _to_records(pdf: pd.DataFrame, fields: list[str] | None) -> pd.DataFrame:
    if fields is None:
        return pdf
    arrays = [pdf.pop(_flat(f)) for f in fields]
    pdf[SPANS] = [
        [dict(zip(fields, vals)) for vals in zip(*doc)]
        if doc[0] is not None else []
        for doc in zip(*arrays)
    ]
    return pdf


def _to_arrays(pdf: pd.DataFrame, fields: list[str] | None,
               schema: T.StructType) -> pd.DataFrame:
    if fields is None:
        return pdf
    spans = pdf.pop(SPANS)
    for f in fields:
        pdf[_flat(f)] = [None if sp is None else [s.get(f) for s in sp]
                         for sp in spans]
    return pdf[schema.names]


def _rezip(df: DataFrame, schema: T.StructType,
           fields: list[str] | None) -> DataFrame:
    if fields is None:
        return df
    # the cast renames the zipped struct's fields positionally
    struct = ",".join(f"{_q(f.name)}:{f.dataType.simpleString()}"
                      for f in schema[SPANS].dataType.elementType.fields)
    zipped = (f"CAST(arrays_zip({','.join(_q(_flat(f)) for f in fields)})"
              f" AS array<struct<{struct}>>) AS {_q(SPANS)}")
    return df.selectExpr(*[zipped if n == SPANS else _q(n)
                           for n in schema.names])


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


def map_in_pandas(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: T.StructType,
) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` with the package shipped and spans
    crossing flat."""
    ship(df.sparkSession)
    df, in_fields = _flat_input(df)
    flat, out_fields = _flat_output(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for out in fn(_to_records(b, in_fields) for b in batches):
            yield _to_arrays(out, out_fields, flat)

    return _rezip(df.mapInPandas(run, schema=flat), schema, out_fields)


def apply_in_pandas(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType,
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)`` with the package
    shipped and spans crossing flat."""
    ship(df.sparkSession)
    df, in_fields = _flat_input(df)
    flat, out_fields = _flat_output(schema)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _to_arrays(fn(_to_records(pdf, in_fields)), out_fields, flat)

    return _rezip(df.groupBy(*keys).applyInPandas(run, schema=flat),
                  schema, out_fields)


def apply_in_pandas_with_state(
    df: DataFrame,
    keys: list[str],
    fn: Callable,
    schema: T.StructType,
    state_schema: T.StructType,
    output_mode: str,
    timeout: str,
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandasWithState(...)`` with the package
    shipped and spans crossing flat."""
    ship(df.sparkSession)
    df, in_fields = _flat_input(df)
    flat, out_fields = _flat_output(schema)

    def run(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        for out in fn(key, (_to_records(b, in_fields) for b in batches), state):
            yield _to_arrays(out, out_fields, flat)

    return _rezip(
        df.groupBy(*keys).applyInPandasWithState(
            run, outputStructType=flat, stateStructType=state_schema,
            outputMode=output_mode, timeoutConf=timeout),
        schema, out_fields)


def pandas_column(fn: Callable[..., pd.Series], return_type,
                  *cols: Column) -> Column:
    """``fn(pd.Series, ...) -> pd.Series`` over ``cols``, one call per Arrow
    batch (a scalar pandas UDF), with the package shipped to the active
    session.  ``fn`` needs ``pd.Series`` type hints that resolve in its
    module's globals."""
    from pyspark.sql.functions import pandas_udf

    ship(SparkSession.active())
    return pandas_udf(fn, return_type)(*cols)

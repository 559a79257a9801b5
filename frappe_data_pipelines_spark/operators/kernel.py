"""The one seam between the engine and its Arrow Python passes.

Every ``mapInPandas``/``applyInPandas`` in the engine is made here, in one
of three forms; each takes the input, a function and the output schema and
returns the DataFrame:

- ``map_rows``: a per-row function of the input columns returns 0..N
  output tuples; the seam builds the output columns and emits one pandas
  frame per Arrow batch.
- ``map_batches``: the function gets the batch iterator as it is — for the
  numpy/GEMM kernels and the ones with per-task setup.
- ``apply_groups``: ``fn(key, pdf) -> pdf`` once per group.

What Spark pickles is a ``functools.partial`` of a function of this module,
a by-reference engine object: unpickling any kernel imports the package,
whose ``__init__`` installs ``lazyzip`` in the worker. (A callable-class
instance would not do: the worker reads a grouped function's arity with
``inspect.getfullargspec``, which counts ``self``.)
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.group import GroupedData


def _batches(fn, batches):
    return fn(batches)


def _rows(fn, cols, names, batches):
    import pandas as pd

    for pdf in batches:
        out = [[] for _ in names]
        for vals in zip(*(pdf[c] for c in cols or pdf.columns)):
            for row in fn(*vals):
                for col, v in zip(out, row):
                    col.append(v)
        yield pd.DataFrame(dict(zip(names, out)))


def _groups(fn, key, pdf):
    return fn(key, pdf)


def _ship(runner, fn, *args):
    """``partial(runner, fn, *args)``, named after ``fn`` so that plans and
    the UI name the kernel."""
    shipped = partial(runner, fn, *args)
    shipped.__name__ = getattr(fn, "__name__", runner.__name__)
    return shipped


def map_batches(df: DataFrame, fn: Callable[[Iterator], Iterator], schema) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` behind the seam."""
    return df.mapInPandas(_ship(_batches, fn), schema)


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """``fn(*row)`` over the ``cols`` of each input row (default: all of
    them, in order) returns the output rows as tuples in ``schema`` order."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return df.mapInPandas(_ship(_rows, fn, cols, schema.fieldNames()), schema)


def apply_groups(grouped: GroupedData, fn: Callable, schema) -> DataFrame:
    """``grouped.applyInPandas`` with ``fn(key, pdf)`` behind the seam."""
    return grouped.applyInPandas(_ship(_groups, fn), schema)

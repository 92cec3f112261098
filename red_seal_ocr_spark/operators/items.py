"""The per-item batch loop every ``mapInPandas`` stage of the engine uses.

An *item* is one input row: a media blob, a URL, an HTML page, a
datagen id.  A stage maps each item to zero or more output rows.
:func:`map_items` owns everything around that per-item function:

- iterate the Arrow batches Spark hands the Python worker;
- zip the pass-through ``keys`` columns with the item's ``values``
  columns;
- call ``fn(*values)``, which returns a fully built list of output-row
  tails (tuples);
- emit ``keys + tail`` for each tail, or, when ``fn`` raises one of the
  stage's typed ``errors``, exactly one ``keys + (False, None, ...)``
  row;
- build each batch's pandas frame in the output schema's column order.

Failure rule: ``fn`` returns its rows only once all of them are built,
so an item that fails part-way (a truncated page stream, a corrupt
video frame) gives one ``ok=false`` row and never ``ok=true`` rows
before it.  An exception outside ``errors`` fails the task (and Spark
retries it), as it would in a hand-written loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_NAME = re.compile(r"\s*`?([^`\s:]+)")


def schema_columns(schema: str) -> list[str]:
    """Column names of a DDL schema string, in order.

    Parsed in Python: commas inside ``<...>`` or ``(...)`` belong to a
    column's type, not to the column list."""
    names, depth, start = [], 0, 0
    for i, c in enumerate(schema + ","):
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        elif c == "," and depth == 0:
            names.append(_NAME.match(schema[start:i]).group(1))
            start = i + 1
    return names


def item_mapper(fn, schema: str, keys=("media_ref",), values=("content",),
                errors=()):
    """The ``mapInPandas`` function of :func:`map_items`: Arrow batches in,
    one pandas frame of per-item rows out per batch."""
    n_keys = len(keys)
    columns = schema_columns(schema)
    if errors and columns[n_keys] != "ok":
        raise ValueError(f"a stage with errors needs 'ok' after its keys: {schema}")
    failed = (False,) + (None,) * (len(columns) - n_keys - 1)
    cols = (*keys, *values)

    def run(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for item in zip(*(b[c] for c in cols)):
                key = item[:n_keys]
                try:
                    tails = fn(*item[n_keys:])
                except errors:
                    rows.append(key + failed)
                else:
                    rows.extend(key + t for t in tails)
            yield pd.DataFrame(rows, columns=columns)

    return run


def map_items(df: DataFrame, fn, schema: str, keys=("media_ref",),
              values=("content",), errors=()) -> DataFrame:
    """``df.mapInPandas`` over items: each row's ``values`` columns go to
    ``fn``, its ``keys`` columns lead every output row built from it.

    ``schema`` is the output's DDL string; its leading columns are the
    keys' output names.  ``errors`` is the stage's typed failure tuple;
    a stage that gives one needs an ``ok`` column right after the keys.
    The defaults fit a media table: key ``media_ref``, value ``content``.
    """
    return df.mapInPandas(item_mapper(fn, schema, keys, values, errors),
                          schema=schema)

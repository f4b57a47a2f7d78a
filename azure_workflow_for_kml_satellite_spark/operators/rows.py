"""The engine's one Arrow row mapper for per-row Python operators.

Every per-record step that needs Python (KML extraction, AOI preparation,
NDVI, change pairs, the EUDR layers, reports) is ``map_rows`` over a
DataFrame with its own ``row_fn``. The batch boundary lives here only:

- ``row_fn`` gets a dict of one input row's ``needed`` columns (at least
  one) — read column-wise from the Arrow batch, never as a whole-row dict,
  so values are numpy scalars and a null number is NaN — and returns
  a list of zero or more dicts, each holding (at least) ``fields`` by name;
- each output row is its input row's ``keep`` columns, taken from the
  batch, followed by ``fields``; output rows keep input order, and the rows
  of one input row keep ``row_fn``'s order.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame,
    keep: list[str],
    needed: list[str],
    fields: list[T.StructField],
    row_fn: Callable[[dict], list[dict]],
) -> DataFrame:
    """Flat-map every row of ``df`` through ``row_fn`` (see the module
    docstring). The output schema is ``keep``'s fields of ``df.schema``
    followed by ``fields``."""
    schema = T.StructType([df.schema[c] for c in keep] + list(fields))
    names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src: list[int] = []
            cols: dict[str, list] = {n: [] for n in names}
            for i, vals in enumerate(zip(*(pdf[c].values for c in needed))):
                out = row_fn(dict(zip(needed, vals)))
                for row in out:
                    src.append(i)
                    for n in names:
                        cols[n].append(row[n])
            kept = pdf[keep].take(src)
            kept.index = pd.RangeIndex(len(src))
            for n in names:
                kept[n] = pd.Series(cols[n], dtype=object)
            yield kept

    return df.mapInPandas(run, schema)

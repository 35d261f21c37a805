"""Column expressions built once per JVM, and the step lists that apply them.

A pyspark ``Column`` is a py4j handle on a JVM-side expression tree, so every
``F.*`` call, operator and alias is one or more py4j round trips. The grid
enrichment and the cleaner banks are thousands of such nodes: rebuilding them
for every plan (once per checkpoint batch, once per corrections bucket) cost
~18,000 round trips and seconds of driver time per ``normalize_spans`` call,
during which no task runs.

The trees are unresolved — they name columns, and each DataFrame call resolves
them against its own input — so a builder that is a pure function of column
names and plan-time constants can hand the SAME Column objects to every plan.
:func:`per_jvm` memoizes such a builder. The cache is keyed on the live py4j
gateway: the handles are valid only inside the JVM that made them, and a
process that launches a new gateway gets fresh ones. Values read from the
session conf (partition counts, thresholds) must stay OUT of cached builders —
the conf can change between plans; pass them at wiring time instead.

Cached values are shared by every caller: builders return tuples, and callers
must not mutate the dicts (``withColumns`` accepts only a dict).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence

from pyspark import SparkContext
from pyspark.sql import DataFrame


def per_jvm(builder: Callable[[], object]) -> Callable[[], object]:
    """Memoize a no-argument Column builder per JVM gateway."""
    cached = functools.cache(lambda gateway: builder())

    @functools.wraps(builder)
    def wrapper():
        return cached(SparkContext._gateway)

    return wrapper


def apply_steps(df: DataFrame, steps: Sequence) -> DataFrame:
    """Wire a step list onto ``df``. A step is a ``dict[str, Column]`` — ONE
    ``withColumns`` projection, so its entries must not reference each other
    (one dependency level, one analysis pass instead of one per
    ``withColumn``) — or a ``tuple`` of column names to drop."""
    for step in steps:
        df = df.withColumns(step) if isinstance(step, dict) else df.drop(*step)
    return df

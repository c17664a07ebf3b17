"""Fixed-iteration training loops, written once for every trainer.

A trainer supplies three functions over its own picklable ``state``:

- ``load(batches)`` turns one task's iterator of pandas batches into the
  data ``step`` reads (e.g. unit-normalised vectors);
- ``step(state, data)`` returns that task's partial; it must not mutate
  ``state`` (in one task the same object is handed on to ``fold``);
- ``fold(state, partials)`` returns the next state. It receives the
  partials in partition order, so the floating-point accumulation order
  is fixed by the data layout, never by task completion order.

:func:`fixed_iterations` chooses only *where* the iterations run; the
arithmetic is the same either way.
"""

from __future__ import annotations

import pickle

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame


def one_partition(df: DataFrame) -> bool:
    """True when one task sees every row of ``df``. Reads ``df.rdd``, so
    it is classic-mode only, like ``scatter``'s ``defaultParallelism``."""
    return df.rdd.getNumPartitions() == 1


def in_one_task(frame: DataFrame, state, n_iters: int, load, step, fold):
    """All ``n_iters`` iterations inside ONE ``mapInPandas`` task over a
    one-partition ``frame``: one job instead of ``n_iters`` sequential
    ones. The final state comes back pickled in one ``binary`` row."""

    def run(batches):
        data = load(batches)
        s = state
        for _ in range(n_iters):
            s = fold(s, [step(s, data)])
        yield pd.DataFrame({"state": [pickle.dumps(s)]})

    return pickle.loads(frame.mapInPandas(run, "state binary").collect()[0]["state"])


def fixed_iterations(frame: DataFrame, state, n_iters: int, load, step, fold):
    """``n_iters`` rounds of ``state = fold(state, partials)``: on one
    partition :func:`in_one_task`, else ``frame`` is persisted (it is
    scanned ``n_iters`` times) and each round is one ``mapInPandas`` of
    ``step`` and one ``collect`` of the pickled per-task partials — no
    shuffle, driver traffic tasks × partial size. The persist is released
    even when a round fails."""
    if one_partition(frame):
        return in_one_task(frame, state, n_iters, load, step, fold)
    frame = frame.persist()
    try:
        for _ in range(n_iters):

            def partial(batches, s=state):
                p = pickle.dumps(step(s, load(batches)))
                yield pd.DataFrame({"pid": [TaskContext.get().partitionId()], "p": [p]})

            rows = frame.mapInPandas(partial, "pid int, p binary").collect()
            rows.sort(key=lambda r: r["pid"])
            state = fold(state, [pickle.loads(r["p"]) for r in rows])
    finally:
        frame.unpersist()
    return state

"""Driver-thread job overlap (guide §2.6): Spark schedules concurrent jobs
FIFO, so materializing INDEPENDENT frames from a small set of driver
threads lets the later job's tasks back-fill executors freed by the earlier
job's task tail instead of serializing behind it.

Only use for frames with no data dependency on each other whose shared
upstream frames are already materialized (a persisted-but-unmaterialized
common parent would be computed once per thread, racing the cache).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def _fan_out(fn: Callable[[DataFrame], object], dfs: tuple[DataFrame, ...]) -> tuple:
    """Apply ``fn`` to each frame on its own driver thread; results in
    argument order. Raises after every thread has finished: a single failure
    unchanged, several as one ``ExceptionGroup`` holding each of them."""
    from pyspark import InheritableThread

    out: list = [None] * len(dfs)
    errors: list[Exception | None] = [None] * len(dfs)

    def _run(i: int, df: DataFrame) -> None:
        try:
            out[i] = fn(df)
        except Exception as exc:  # re-raised on the caller's thread
            errors[i] = exc

    threads = [
        InheritableThread(target=_run, args=(i, df)) for i, df in enumerate(dfs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [e for e in errors if e is not None]
    if len(failed) == 1:
        raise failed[0]
    if failed:
        raise ExceptionGroup(f"{len(failed)} of {len(dfs)} frames failed", failed)
    return tuple(out)


def collect_all(*dfs: DataFrame) -> tuple[list, ...]:
    """``collect()`` each frame on its own driver thread; returns the row
    lists in argument order. For small result frames (single-row stats
    aggregates) this is ONE job per frame, where checkpoint-then-collect
    would pay two."""
    return _fan_out(lambda df: df.collect(), dfs)


def eager_checkpoints(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """``localCheckpoint(eager=True)`` each frame on its own driver thread;
    returns the checkpointed frames in argument order."""
    return _fan_out(lambda df: df.localCheckpoint(eager=True), dfs)

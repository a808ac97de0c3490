"""Run the independent Spark actions of one engine call at once.

A lake commit lands its data files and its change-feed (or
equality-delete) files in two Spark jobs that share no output; the
ingest pipeline's stats job and table write share only their input.
Run one after the other, each of these small jobs leaves the other
cores idle.  `run_concurrently` overlaps them.  Each extra thunk runs
on a `pyspark.InheritableThread`, which copies the calling thread's
local properties (job group, job description, scheduler pool) into the
thread, so every job stays attributed to the caller's job group.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark import InheritableThread


def run_concurrently(*thunks: Callable[[], Any]) -> list:
    """Call each zero-argument thunk and return their results in
    argument order.  The first thunk runs on the calling thread, the
    rest on their own `InheritableThread`s.  Every thunk runs to its
    end before this returns or raises; when some fail, the error of the
    first failing thunk in argument order is re-raised."""
    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def call(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # re-raised on the calling thread
            errors[i] = e

    threads = [InheritableThread(target=call, args=(i,)) for i in range(1, len(thunks))]
    for t in threads:
        t.start()
    if thunks:
        call(0)
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results

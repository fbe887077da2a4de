"""io.run_jobs: concurrent independent actions, bounded fan-out."""

import threading
import time

import pytest

from dbdiff_spark.io import run_jobs


def test_run_jobs_width_is_bounded_by_default_parallelism(spark):
    """More thunks than the cluster's default parallelism: at most that
    many run at once, every one runs, and results keep argument order."""
    width = spark.sparkContext.defaultParallelism
    n = width * 2 + 3
    lock = threading.Lock()
    running, peak = 0, 0

    def thunk(i):
        nonlocal running, peak
        with lock:
            running += 1
            peak = max(peak, running)
        time.sleep(0.2)
        # a real Spark action from a pool thread
        total = spark.range(i + 1).count()
        with lock:
            running -= 1
        return total

    assert run_jobs(*(lambda i=i: thunk(i) for i in range(n))) == [i + 1 for i in range(n)]
    assert peak == width


def test_run_jobs_raises_only_after_every_sibling_finishes(spark):
    width = spark.sparkContext.defaultParallelism
    finished = []
    lock = threading.Lock()

    def ok(i):
        time.sleep(0.1)
        with lock:
            finished.append(i)
        return i

    def boom():
        raise ValueError("thunk 0 failed")

    thunks = [boom] + [lambda i=i: ok(i) for i in range(1, width * 2 + 2)]
    with pytest.raises(ValueError, match="thunk 0"):
        run_jobs(*thunks)
    assert sorted(finished) == list(range(1, width * 2 + 2))

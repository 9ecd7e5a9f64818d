"""The fused stage's task prologue freezes the worker heap, so pyspark's
per-task gc.collect() on a reused worker skips what earlier tasks left
alive. It freezes only inside a Spark task: an in-process caller's heap
stays as it was."""

import gc

import pytest

from ai_ocr_spark.pipeline import _task_prologue


@pytest.fixture
def unfrozen():
    gc.unfreeze()
    yield
    gc.unfreeze()


def test_prologue_freezes_the_heap_inside_a_spark_task(spark, unfrozen):
    def probe(batches):
        import gc

        import pandas as pd

        from ai_ocr_spark.pipeline import _task_prologue

        for _ in batches:
            pass
        gc.unfreeze()  # a reused worker may carry an earlier task's freeze
        before = gc.get_freeze_count()
        _task_prologue()
        yield pd.DataFrame({"before": [before], "after": [gc.get_freeze_count()]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, schema="before long, after long"
    ).collect()
    assert row["before"] == 0
    assert row["after"] > 0


def test_prologue_leaves_the_heap_unfrozen_in_process(unfrozen):
    _task_prologue()
    assert gc.get_freeze_count() == 0

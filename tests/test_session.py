"""Session sizing: the driver heap rule get_spark() applies when
SPARK_DRIVER_MEMORY / SPARK_DRIVER_JAVA_OPTS are unset."""

from __future__ import annotations

import pytest

from maxscale_cdc_spark.session import driver_heap


@pytest.mark.parametrize(
    "gib, heap, xms",
    [
        # no swap, 15 GiB: a pinned 16g heap cannot start
        (15, "10g", "-Xms2g"),
        # large hosts keep the pinned 16g heap
        (32, "16g", "-Xms16g"),
        (64, "16g", "-Xms16g"),
    ],
)
def test_driver_heap_fits_host(gib, heap, xms):
    assert driver_heap(gib * 2**20) == (heap, xms)

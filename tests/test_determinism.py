"""Partition-invariance for the 50-query window pinned in
tests/test_registry_window.py.

The local oracle gate runs at 8 shuffle partitions; the driver's session
config is unknown. A query whose result depends on partition count or
partition order (shuffle-order float accumulation, underspecified ties,
limit-without-sort) would be locally green and driver-red. Each window
entry is re-run here under an alien config (200 shuffle partitions,
64 KB scan splits) and must reproduce its value multiset exactly —
full-precision floats, the driver's own bar.

Rounds 1-4 validated the OTHER 148 checked queries against the driver's
real session; ``tests/determinism_check.py`` covers any subset standalone
(the full 279 ran green at sf0.001 when this gate landed).
"""

from __future__ import annotations

import pytest

from convex_batch_processor_spark.queries import QUERIES

from .determinism_check import check_partition_invariance
from .test_registry_window import _R12_WINDOW


@pytest.mark.parametrize("name", _R12_WINDOW)
def test_window_query_is_partition_invariant(spark, sf_dir, name):
    ok, detail = check_partition_invariance(spark, sf_dir, QUERIES[name].fn)
    assert ok, f"{name}: {detail}"

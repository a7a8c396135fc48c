"""bench.py looks queries up by name; no Spark session needed."""

from __future__ import annotations

import bench
from entity_resolution_spark.queries import QUERIES


def test_bench_query_names_are_registered():
    missing = [n for n in bench.HEADLINE + bench.RECALL_GATES if n not in QUERIES]
    assert not missing

"""Trip budget of plan building: the py4j round trips it takes to build
every registry query's plan, counted by ``scripts/trips.py``.

Each query is built twice at sf0.001 in the test session and the
second, warm build is counted. Without the memory-release commands the
count repeats exactly, so the budget is exact, not a noisy bound. A
constant built with one ``F.lit`` per element, or a loop that emits one
column per hash, shows up here as thousands of trips; build such
constants as SQL text (``functions/literals.py``)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from trips import query_trips  # noqa: E402

#: The 147 queries measured 32,289 trips together (sf0.001, warm); with
#: PySpark's origin capture on and one ``F.lit`` per element, 119,504.
REGISTRY_BUDGET = 36_000
#: No query may take more; the largest measured 843 (q_curation_pipeline).
QUERY_CEILING = 1_000


def test_registry_plans_build_within_trip_budget(spark, sf_dir):
    counts = {name: trips.n for name, trips, _ in query_trips(spark, sf_dir, None)}
    over = {name: n for name, n in counts.items() if n > QUERY_CEILING}
    assert not over, f"queries over {QUERY_CEILING} trips: {over}"
    total = sum(counts.values())
    assert total <= REGISTRY_BUDGET, f"registry builds in {total} trips"

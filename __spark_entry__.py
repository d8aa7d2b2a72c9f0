"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash -> CORRECTNESS_r{N}.json).

The real surface lives in ``trendmachine_spark.registry``: 149 named
queries. They cover SURVEY.md §2's operator inventory (the capture
pipeline, the Resilience/Fixity/Chaos daily series and dashboard
aggregates) plus the §2.6 extension operators: exact, near-dup,
substring, semantic, cross-corpus and per-modality dedup with
clustering; similarity search (brute force, LSH, IVF, PQ, SQ8, the
at-rest IVFPQ index with append and streaming serve, filtered ANN);
text analysis, tokenizer training and encoding, chunking, packing,
mixing, splits and quality scoring; multimodal decode of real BMP, PNG,
JPEG, WAV and MJPEG bytes; and relational/event analytics (funnel,
retention, sessionization, attribution, temporal joins, moving
averages, CUBE margins), several of them also as streaming queries.
136 have exactly-parallel DuckDB oracles (dedup clustering is oracled
via a recursive-CTE transitive closure); the O34/O35 recurrences, most
streaming operators and the seed-dependent MLlib variants are rows-only
by design.

The driver's 50-entry correctness window holds every new/changed query
(registry._WINDOW_PINNED) plus a cyclic slice of k = 50 - len(pinned)
names of the rest of the oracled pool, so every oracled query gets a
driver sf0.01 check at least once every ceil(len(pool) / k) rounds.
Every CI run also exact-checks ALL oracled names against DuckDB at
sf0.001 (tests/test_oracle_parity), so a value regression never waits
for its turn; only a scale-dependent one can.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this file from any cwd — make the package
# resolvable regardless
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full scored daily
    series (rollup -> spine -> gap fill -> resilience/fixity/chaos)
    over every url in the events-as-captures stream."""
    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, "/root/testdata/sf0.001")
    return daily_series(caps, fill=2, policy="closest")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from trendmachine_spark.registry import QUERIES

    return {name: qd.builder for name, qd in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from trendmachine_spark.registry import QUERIES

    return {name: qd.oracle for name, qd in QUERIES.items() if qd.oracle is not None}

"""CDC apply loop — a stream of keyed updates folded into a stored
table via ``foreachBatch`` + the batch merge layer (operators/merge.py):
the Delta-free ``MERGE INTO`` stream, i.e. how a scrape/update feed
becomes a continuously-maintained table on plain parquet.

Per micro-batch: ``merge_upsert`` the batch into the current table
version (new rows win on key collision) and commit the result as the
next version (versioned.py ``fold_stream``: naming, commit marker,
resume and GC). ``base`` is the state until the first version commits.
Batch replay after a crash is idempotent for batches whose keys are
disjoint, which availableNow file-ordering guarantees for a
one-row-per-key feed.

Scale note: each micro-batch rewrites the table — correct and simple,
O(table) I/O per batch. That is the plain-parquet floor; production
systems amortize it with partition-pruned rewrites (only partitions a
batch touches — see operators/partitioning.py) or a log-structured
format. The loop here isolates the STREAMING contract: the final table
must equal the one-shot batch merge, whatever the micro-batch layout.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..operators.merge import merge_upsert
from .versioned import fold_stream


def run_upsert_stream(
    updates: DataFrame,
    base: DataFrame,
    keys: Sequence[str],
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``updates`` (a streaming DataFrame) into a versioned table
    seeded with ``base``, applying ``merge_upsert`` per micro-batch.
    Returns the final table as a batch DataFrame."""
    return fold_stream(
        updates, table_root, checkpoint, base,
        lambda table, batch: merge_upsert(table, batch, keys),
    )

"""One split decision, where a job reads its source (SURVEY.md §2.9,
north rule).

The reference's scaling story is 10 cloned workspace dirs with a
process barrier and a 600s straggler timeout (run_all_starts.py:8-19,
W:1388).  Here the curation job, the entry queries and the bench split
what they read one way, ``source_splits``; operators never rebalance,
and extraction runs ``extract_turns`` on the splits its source gives.
AQE's skew-join splitting stays on (session.py) as the runtime
backstop.

A source of fewer split units than ``defaultParallelism`` would run
per-row work (tokenizing, signatures, vector math) on fewer cores, so
it is repartitioned to that count (explicitly, so AQE keeps it).  A
unit is a parquet row group, from the ``inputFiles()`` footers, read
only until the count reaches the target (a 10k-file table costs a
handful); a file without a readable footer (WET text or gz, a scheme
pyarrow does not know) counts as one.  The scan's planned split count
over-counts: Spark splits a file by bytes, but only the split holding
a row group's midpoint reads it, so a 105 MB one-row-group file
planned 4 splits at local[4] and ran on one task.  In-memory and
streaming inputs pass unchanged.

``bucket_id`` is the partition-count-independent key the resumable
extraction commits by (plans/lineage.py).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F


def source_splits(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when its source
    files hold fewer split units than that, else ``df`` itself (module
    docstring)."""
    if df.isStreaming:
        return df
    files = df.inputFiles()
    target = df.sparkSession.sparkContext.defaultParallelism
    units = 0
    for uri in files:
        units += _split_units(uri)
        if units >= target:
            return df
    return df.repartition(target) if files else df


def _split_units(uri: str) -> int:
    """Row groups in the parquet footer at ``uri``; 1 for a file without
    one (WET text or gz) or a scheme pyarrow does not know."""
    try:
        fs, path = pafs.FileSystem.from_uri(uri)
        with pq.ParquetFile(path, filesystem=fs) as footer:
            return footer.metadata.num_row_groups
    except (OSError, pa.ArrowInvalid):
        return 1


def bucket_id(key_col, num_buckets: int):
    """Deterministic bucket id for lineage/checkpointing: stable across
    runs, partition-count independent."""
    return F.pmod(F.xxhash64(key_col), F.lit(num_buckets)).cast("int")

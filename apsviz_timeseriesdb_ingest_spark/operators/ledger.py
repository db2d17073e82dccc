"""Ingest ledger: new-file discovery via anti-join (SURVEY section 2.3 J4).

The reference discovers work by globbing a harvest dir and anti-joining
against ``drf_harvest_obs_file_meta`` where ``ingested`` tracks completion
(``run/createHarvestObsFileMeta.py:179-185``). Streaming mode gets this
for free from the file-source checkpoint. The obs ingest ledger is small
enough to live on the driver, so ``ObsIngest.discover`` runs the same
anti-join as a set lookup over its cached ledger rows; this Spark form
serves ledgers held as frames. The reference's 31-day recency bound
on its ledger side (``run/createHarvestObsFileMeta.py:88,177``) is not
applied: a file older than the bound is still recognized as seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_files_anti_join(candidates: DataFrame, ledger: DataFrame,
                        *, file_col: str = "file_name") -> DataFrame:
    """Rows of ``candidates`` whose ``file_col`` is absent from ``ledger``.

    The ledger's distinct file names are broadcast — file-name sets are
    tiny relative to data, so this never shuffles the candidate side.
    """
    seen = ledger.select(file_col).distinct()
    return candidates.join(F.broadcast(seen), on=file_col, how="left_anti")

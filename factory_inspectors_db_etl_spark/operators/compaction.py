"""Small-file compaction: rewrite a directory of many tiny parquet files
into few right-sized ones.

Why this exists at 100 TB: streaming sinks, frequent CDC merges, and
over-parallel writes each produce files far below the efficient scan
size (~128 MB-1 GB).  Every downstream scan then pays per-file open/
footer/schedule overhead — the classic "small files problem"; NameNode/
listing pressure grows with file COUNT, not bytes.  Periodic compaction
is the standard fix (Delta OPTIMIZE, Iceberg rewrite_data_files); this
is the plain-parquet form.

Design:
* Target size is expressed in ROWS (callers derive rows from bytes via
  the table's observed bytes/row) so sizing needs no sampling pass.
* The row count comes from parquet FOOTER metadata (a metadata-only
  Spark count — no data scan), then the rewrite is one job with
  ``repartition(ceil(n / target))``.  A round-robin repartition gives
  uniform output files regardless of input skew; pass ``by`` columns to
  instead range-partition so the rewrite also restores clustering
  (compaction + re-sort in one pass, like OPTIMIZE ... ZORDER).
* The rewrite is written to a NEW directory, never in place: readers of
  the old location are unaffected until the atomic swap (rename /
  catalog repoint) the caller performs — compaction must never race its
  own readers.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_rows_per_file: int,
    by: list[str] | None = None,
) -> int:
    """Rewrite ``src_dir`` parquet into ``dst_dir`` with about
    ``target_rows_per_file`` rows per output file.  Returns the number of
    output files chosen."""
    if target_rows_per_file <= 0:
        raise ValueError("target_rows_per_file must be positive")
    df = spark.read.parquet(src_dir)
    n = df.count()  # parquet footer count: metadata-only, no data scan
    files = max(1, math.ceil(n / target_rows_per_file))
    if by:
        # range-partition AND sort within each output file: disjoint
        # per-file key ranges alone leave every row group spanning the
        # whole file's range — the intra-file min/max pruning OPTIMIZE
        # restores needs the rows ordered too
        out = df.repartitionByRange(files, *by).sortWithinPartitions(*by)
    else:
        out = df.repartition(files)
    out.write.mode("error").parquet(dst_dir)
    return files

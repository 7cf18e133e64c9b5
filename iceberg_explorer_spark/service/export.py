"""CSV export: streaming with a size cap, plus a distributed sink.

Reference behavior matched (src/iceberg_explorer/api/routes/export.py):
- header + rows streamed in ≥8 KB chunks (:68-150)
- hard size cap, abort beyond it (default 1 GB, config.py:110-114)
- cell formatting None/bool/datetime/bytes (:47-61)
- filename sanitization (:213-217)

Plus the piece the reference cannot do and a cluster engine must: a
*distributed* CSV sink (``df.write.csv``) for results that should never pass
through one process. The streaming path is for interactive downloads; the
distributed path for bulk export at scale.
"""

from __future__ import annotations

import csv
import io
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

from iceberg_explorer_spark.errors import ExportTooLargeError
from iceberg_explorer_spark.lifecycle.models import QueryResult
from iceberg_explorer_spark.observability import observe_call
from iceberg_explorer_spark.service.convert import arrow_rows, csv_cell

MAX_EXPORT_BYTES = 1_073_741_824  # 1 GB (reference config.py:110-114)
CHUNK_BYTES = 8_192


def sanitize_filename(name: str) -> str:
    """reference export.py:213-217."""
    cleaned = re.sub(r"[^A-Za-z0-9._-]", "_", name).strip("._") or "export"
    return cleaned if cleaned.endswith(".csv") else f"{cleaned}.csv"


def stream_csv(
    result: QueryResult, max_size_bytes: int = MAX_EXPORT_BYTES
) -> Iterator[bytes]:
    """Stream a completed query's result as CSV chunks (driver-side path)."""
    buf = io.StringIO()
    writer = csv.writer(buf)
    writer.writerow(result.column_names())
    emitted = 0

    def flush(force: bool = False) -> Iterator[bytes]:
        nonlocal emitted
        if buf.tell() >= CHUNK_BYTES or force:
            data = buf.getvalue().encode("utf-8")
            emitted += len(data)
            if emitted > max_size_bytes:
                raise ExportTooLargeError(
                    f"export exceeds max size of {max_size_bytes} bytes"
                )
            buf.seek(0)
            buf.truncate(0)
            if data:
                yield data

    # the span covers the full drain of the stream, not just generator
    # construction — correlated with the query that produced the result
    with observe_call("export.stream_csv"):
        for batch in result.batches:
            for row in arrow_rows(batch):
                writer.writerow([csv_cell(v) for v in row])
                yield from flush()
        yield from flush(force=True)


def write_csv_distributed(df: DataFrame, path: str, header: bool = True) -> None:
    """Cluster-scale export: executors write partitioned CSV directly to
    storage — no driver bottleneck, no size cap needed."""
    with observe_call("export.write_csv_distributed"):
        df.write.option("header", str(header).lower()).mode("overwrite").csv(path)

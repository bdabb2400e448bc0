"""The distributed file sink the codecs share (avro, rcfile, pagefile).

Every task encodes its rows into ONE file under the sink directory (the
file-per-task layout of any Spark file sink and of the reference's
TableWriter fragments); the action is the collect of one (file, n_rows)
manifest row per task, the TableWriter -> TableFinish commit-summary
shape (TableWriterOperator.java:64).

Rows cross the JVM->Python boundary as Arrow record batches
(``mapInArrow``), NOT pandas: pandas turns a nullable int64 column into
float64, silently rounding |v| > 2^53 before a codec sees it.
``to_pylist()`` on the Arrow columns keeps longs exact (Python ints) at
any magnitude, nulls as None and a double NaN as a NaN value.
"""

from __future__ import annotations

import sys

try:  # worker-side code: by-value fallback until the package ships
    from presto_0_235_spark.session import register_worker_module

    register_worker_module(sys.modules[__name__])
except Exception:  # pragma: no cover - older vendored cloudpickle
    pass


def _exact_values(col) -> list:
    """One Arrow column as Python values, exactly (see the module
    docstring). A column with no nulls, no time zone and no nesting
    converts through numpy, ~20x faster than to_pylist and equal to it:
    nulls are what make numpy turn longs into floats."""
    import pyarrow as pa

    if col.null_count == 0 and not (pa.types.is_timestamp(col.type)
                                    or pa.types.is_nested(col.type)):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def write_per_task(df, path: str, suffix: str, write) -> int:
    """Write ``df`` as one file per task under ``path`` (replaced):
    ``write(fname, pdf)`` encodes one task's rows, an object-dtype
    pandas DataFrame of exact Python values, into
    ``part-<partition><suffix>``. Returns the number of files written."""
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    cols = list(df.columns)

    def encode_partition(batches):
        import pandas as pd
        import pyarrow as pa
        from pyspark import TaskContext

        parts = list(batches)
        if parts:
            tbl = pa.Table.from_batches(parts)
            pdf = pd.DataFrame(
                {c: pd.Series(_exact_values(tbl.column(c)), dtype=object)
                 for c in cols}
            )
        else:
            pdf = pd.DataFrame(columns=cols, dtype=object)
        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}{suffix}")
        write(fname, pdf)
        yield pa.RecordBatch.from_pydict(
            {"file": [fname], "n_rows": [len(pdf)]},
            schema=pa.schema([("file", pa.string()), ("n_rows", pa.int64())]),
        )

    manifest = df.mapInArrow(encode_partition, "file string, n_rows long")
    return len(manifest.collect())

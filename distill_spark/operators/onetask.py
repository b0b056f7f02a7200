"""Memory gate shared by the single-task fast paths.

Connected components (`components._cc_local_labels`) and the Hamming
channel (`hamming._local_pairs`) each fold a small input into ONE
mapInPandas task. Each path states its working set as bytes per input
row, in units of `id_bytes` for the id columns it holds, and takes the
one-task shape only while rows x bytes-per-row stays within TASK_BYTES.
"""

from __future__ import annotations

from pyspark.sql import types as T

TASK_BYTES = 2 << 30  # working-set budget of one Python worker task


def id_bytes(dtype: T.DataType) -> int:
    """Estimated in-task bytes of one id held in a numpy/pandas array:
    an 8 B slot for integral ids; otherwise an 8 B object pointer plus
    its share of the Python object it points to (a short str is ~55 B)."""
    return 8 if isinstance(dtype, T.IntegralType) else 64


def fits_one_task(rows: int, row_bytes: int) -> bool:
    """True when `rows` rows of `row_bytes` each fit one task's budget."""
    return rows * row_bytes <= TASK_BYTES

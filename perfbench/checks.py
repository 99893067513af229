"""Output checks: the content checksum every timed operation reproduces,
and the DuckDB oracle comparison made once per operation in set-up.

Every query result is fetched into the client with ``toPandas()`` (the
sink a user reading results sees) and reduced to (row count, checksum).
The checksum is order-insensitive: the sum modulo 2**63 of pandas' fixed
key row hashes over a normalized frame (columns in name order, integers
as int64, floats rounded to 6 decimals, timestamps as int64, everything
else as its string form), so any row order gives the same value while a
dropped, duplicated or changed row moves it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench.stats import combine_row_hashes


def _normalized(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        else:
            s = s.astype(str)
        cols[c] = s.reset_index(drop=True)
    return pd.DataFrame(cols)


def frame_checksum(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive content checksum) of a result frame."""
    if len(pdf) == 0:
        return 0, 0
    hashes = pd.util.hash_pandas_object(_normalized(pdf), index=False).to_numpy(np.uint64)
    return combine_row_hashes(hashes)


def oracle_equal(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> bool:
    """The ``verify`` CLI's comparison: same column names, same row count,
    at least one row, equal values after sorting rows and casting to str."""
    cols = sorted(spark_pd.columns)
    return bool(
        sorted(duck_pd.columns) == cols
        and len(spark_pd) == len(duck_pd)
        and len(spark_pd) > 0
        and spark_pd[cols].sort_values(cols).reset_index(drop=True).astype(str)
        .equals(duck_pd[cols].sort_values(cols).reset_index(drop=True).astype(str))
    )

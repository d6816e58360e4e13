"""Output check against DuckDB, run outside the timed region.

Every result the benchmark fetches is compared, value by value, with DuckDB
running the same question on the same parquet files: the corpus SQL text for
the join workloads, the registry ``oracle`` SQL for the operator entries.
Rows are compared as an unordered multiset of canonical value strings, so
engine row order and column order do not matter but every value does.

``python3 perfbench/check.py`` runs the self-test: it feeds the checker a
right answer and four deliberately wrong ones and fails unless only the
wrong ones are flagged.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import sys

import numpy as np
import pandas as pd

#: digits kept when a non-integral number is canonicalised (an IEEE double
#: carries 15-17 significant digits; both engines are built to agree on
#: every one of them, so this only absorbs decimal-vs-double typing)
_SIG = 15
#: the token of a NULL, which equals only another NULL
_NULL = "\u2205"


def _number(f: float) -> str:
    if math.isnan(f):
        return _NULL
    if math.isinf(f):
        return "n:" + repr(f)
    if f == int(f) and abs(f) < 2**53:
        return f"n:{int(f)}"
    return f"n:{f:.{_SIG}g}"


def _token(v) -> str:
    """One value as an engine-neutral string."""
    if v is None or v is pd.NaT or v is pd.NA:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date, np.datetime64)):
        return "t:" + pd.Timestamp(v).isoformat()
    if isinstance(v, np.generic):
        return _token(v.item())
    if isinstance(v, decimal.Decimal):
        return _number(float(v)) if v.is_finite() else f"n:{v}"
    if isinstance(v, (int, float)):
        return _number(float(v)) if isinstance(v, float) or abs(v) < 2**53 else f"n:{v}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, str):
        return "s:" + v
    if hasattr(v, "asDict"):  # pyspark Row
        v = v.asDict()
    if isinstance(v, dict):
        return "m:{" + ",".join(sorted(f"{k!s}={_token(x)}" for k, x in v.items())) + "}"
    if hasattr(v, "__len__"):  # list, tuple, numpy array
        return "l:[" + ",".join(_token(x) for x in v) + "]"
    return "?:" + str(v)


def _column(col: pd.Series) -> list[str]:
    """A column as tokens: :func:`_token` of each value, with its integer
    and float cases inlined (large results have 10^5+ values)."""
    values = col.tolist()
    if col.dtype.kind in "iu":
        return [f"n:{v}" for v in values]
    if col.dtype.kind == "f":
        return [_number(v) for v in values]
    return [_token(v) for v in values]


def _rows(df: pd.DataFrame) -> list[str]:
    """Rows as sorted strings of their tokens, columns in name order."""
    columns = [_column(df[c]) for c in sorted(df.columns)]
    return sorted("\x1f".join(row) for row in zip(*columns))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` and ``want`` hold the same rows, else a one-line
    reason naming the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got), _rows(want))):
        if a != b:
            return f"sorted row {i}: {a!r} != {b!r}"[:300]
    return None


class Oracle:
    """DuckDB over the same parquet files, with expected results memoised
    per question so a query repeated within a run is queried once."""

    def __init__(self, sf_dir: str):
        import duckdb

        from skinnerdb_spark.catalog import TABLES, table_path

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        self._expected: dict[str, pd.DataFrame] = {}

    def expected(self, sql: str) -> pd.DataFrame:
        if sql not in self._expected:
            self._expected[sql] = self.con.execute(sql).df()
        return self._expected[sql]

    def close(self) -> None:
        self.con.close()


def self_test() -> None:
    """Raise unless the checker accepts a right answer and rejects wrong
    ones (a changed value, a lost row, a renamed column)."""
    want = pd.DataFrame({
        "k": [1, 2, 3],
        "v": [decimal.Decimal("0.300000"), decimal.Decimal("1.250000"), None],
        "s": ["a", "b", "c"],
    })
    same = pd.DataFrame({"s": ["c", "a", "b"], "k": [3, 1, 2], "v": [None, 0.3, 1.25]})
    problems = []
    if compare(same, want) is not None:
        problems.append(f"right answer rejected: {compare(same, want)}")
    wrong = {
        "changed value": same.assign(v=[None, 0.3, 1.2500001]),
        "lost row": same.iloc[:2],
        "renamed column": same.rename(columns={"s": "t"}),
        "null for zero": same.assign(k=[3, 1, None]),
    }
    for label, bad in wrong.items():
        if compare(bad, want) is None:
            problems.append(f"{label} not caught")
    if problems:
        raise AssertionError("; ".join(problems))


if __name__ == "__main__":
    self_test()
    print("check self-test: wrong expected results are caught")
    sys.exit(0)

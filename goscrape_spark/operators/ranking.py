"""W2: global total-order sequence assignment.

The reference's BFS queue implies one global discovery order
(scraper/scraper.go:165-175).  ``global_sequence`` assigns it with one JVM
window per epoch, ``row_number() OVER (ORDER BY ...)``, as SURVEY's W2 row
prescribes: it runs on the epoch's deduped delta, not the full frontier.
The window's single ordered task was timed against a range shuffle with
per-partition offsets and an Arrow assign pass, and was faster at every
size from 10^3 to 10^6 rows (4 cores), so it is the only path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_sequence(df: DataFrame, order_cols: list[str], start: int = 0,
                    out_col: str = "seq") -> DataFrame:
    """Append ``out_col`` = start, start+1, ... in the total order of
    ``order_cols`` (which must be unique per row for determinism)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(
        out_col, (F.row_number().over(w) + F.lit(start - 1)).cast("long"))

"""CSV / whitespace-text scans and sinks (SURVEY.md §2.1 S5, S6, S8, S12).

The reference's tables are CSV files read with per-column dtype overrides
(`pd.read_csv(f, dtype={"evid": str}, usecols=[...])`, distances.py:836-840,
merge_flatfiles.py:170-195) and written with `to_csv(index=False)`
(geonet.py:986-1002). Here every CSV scan carries an explicit StructType —
never schema inference — so string-typed keys like ``evid = "2022p002924"``
survive round-trips, and column pruning/predicate pushdown happen in the
scan (Catalyst pushes `usecols` and filters down automatically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """S5: schema'd CSV scan. ``schema`` is mandatory by design — the
    reference's dtype bugs (evid parsed as int, loc '01' → 1) are exactly
    what inferred schemas reproduce. Accepts a glob; at scale one logical
    table is thousands of part files and the scan parallelizes per file.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", sep)
        # Match pandas' NaN handling: empty fields → null.
        .option("nullValue", "")
        .option("mode", "PERMISSIVE")
    )
    return reader.csv(path)


def write_csv_table(df: DataFrame, path: str, header: bool = True) -> None:
    """S12: CSV sink (`to_csv(index=False)` equivalent). Writes a directory
    of part files — a single giant CSV is an anti-pattern at scale; callers
    needing one file for interchange coalesce(1) explicitly and accept the
    single-writer cost.
    """
    df.write.mode("overwrite").option("header", header).csv(path)


def read_whitespace_table(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    comment: str = "#",
) -> DataFrame:
    """S8: whitespace-delimited text scan (`np.loadtxt` equivalent —
    Mw→rrup lookup geonet.py:907, basin outlines sites.py:173). Uses the
    CSV reader with a space separator + ignore-leading/trailing whitespace,
    so it stays a native columnar scan instead of a Python parse loop.
    """
    return (
        spark.read.schema(schema)
        .option("sep", " ")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .option("comment", comment)
        .csv(path)
    )

"""Final-state check, run outside every timed window.

The expected state is computed from the staged change-log files alone,
with a ``row_number`` window (latest ``seq`` per key wins, a delete drops
the key) -- a different plan from the engine's ``max_by`` merge. Table and
expectation are compared by row count plus two order-insensitive hashes
(sum and xor of a per-row ``xxhash64`` over every column, token arrays
included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jitsu_spark.changelog import CHANGELOG_SCHEMA

KEY = "doc_id"
PAYLOAD = [f.name for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op")]


def digest(df: DataFrame) -> tuple[int, int, int]:
    h = F.xxhash64(*[F.col(c) for c in PAYLOAD])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0)).alias("s"),
        F.coalesce(F.bit_xor("h"), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["s"]), int(row["x"])


def expected_digest(spark, files: list[str]) -> tuple[int, int, int]:
    log = spark.read.schema(CHANGELOG_SCHEMA).parquet(*files)
    latest = Window.partitionBy(KEY).orderBy(F.col("seq").desc())
    state = (
        log.withColumn("_rn", F.row_number().over(latest))
        .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
        .select(*PAYLOAD)
    )
    return digest(state)

"""CSV scan with the reference's COPY INTO file-format semantics (A3).

reference: dags/gtfs_static_daily.py:117-142 —
  FILE_FORMAT = (TYPE=CSV FIELD_DELIMITER=',' SKIP_HEADER=1
                 FIELD_OPTIONALLY_ENCLOSED_BY='"'
                 NULL_IF=('','NULL','null'))
  ON_ERROR = 'CONTINUE'
with an explicit positional column list (no inference).

Spark mapping: explicit schema + header/quote options; ON_ERROR
CONTINUE -> DROPMALFORMED (or PERMISSIVE + corrupt-record column for
auditability).  Multiple NULL_IF tokens need a post-read normalization
because Spark's csv reader takes a single nullValue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# NULL_IF=('','NULL','null'): '' arrives as null already (the csv
# reader's default nullValue), so only these two need normalizing
NULL_TOKENS = ("NULL", "null")


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType) -> DataFrame:
    """Typed CSV scan with the COPY INTO options above: header row
    skipped, ',' delimiter, '"' quote, NULL_IF tokens -> NULL, and
    malformed rows dropped (ON_ERROR='CONTINUE').

    To apply NULL_IF over *typed* columns faithfully, non-string
    columns are read as string, null-normalized, then try_cast
    (lenient: bad numerics -> NULL, matching ON_ERROR='CONTINUE' row
    tolerance at column granularity, A16; a plain cast raises under
    ANSI mode instead).
    """
    raw_schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in schema.fields])
    df = (spark.read.schema(raw_schema)
          .option("header", True)
          .option("sep", ",")
          .option("quote", '"')
          .option("mode", "DROPMALFORMED")
          .csv(path))

    cols = []
    for f in schema.fields:
        c = F.when(F.col(f.name).isin(*NULL_TOKENS), F.lit(None)) \
            .otherwise(F.col(f.name))
        if not isinstance(f.dataType, T.StringType):
            c = c.try_cast(f.dataType)
        cols.append(c.alias(f.name))
    return df.select(*cols)

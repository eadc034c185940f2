"""Declared schemas — never inferred (SURVEY.md §1.2).

The reference fixes schemas per source via node_header/edge_header lists
(kg_covid_19/transform_utils/transform.py:22-23); we fix them via StructType.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Output element type of the mention detector (operators/mentions.py):
# one struct per detected mention, with token-level span.
MENTION_STRUCT = StructType(
    [
        StructField("term", StringType(), False),
        StructField("curie", StringType(), False),
        StructField("name", StringType(), True),
        StructField("category", StringType(), True),
        StructField("tok_begin", IntegerType(), False),
        StructField("tok_end", IntegerType(), False),
    ]
)
MENTIONS_ARRAY = ArrayType(MENTION_STRUCT)

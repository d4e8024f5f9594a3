"""Tabular de-identification on a Spark DataFrame (mirrors reference
examples/table + examples/slices, with type inference).

Run: python examples/table.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deidentify_spark.operators.tabular import deidentify_table, infer_column_types
from deidentify_spark.runtime import session_builder

spark = session_builder(4).getOrCreate()

df = spark.createDataFrame(
    [
        (1, "John Doe", "john.doe@example.com", "555-123-4567", "active"),
        (2, "Jane Smith", "jane.smith@company.org", "(555) 987-6543", "inactive"),
        (3, "Bob Johnson", "bob@test.co.uk", "555.111.2222", "active"),
    ],
    "id long, name string, email string, phone string, status string",
)

types = infer_column_types(df, order_by="id")
print("Inferred column types:", types)
deidentify_table(df, "my-secret-key", types).show(truncate=False)
spark.stop()

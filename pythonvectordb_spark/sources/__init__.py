from pythonvectordb_spark.sources.testdata import TABLES, load_table  # noqa: F401
from pythonvectordb_spark.sources.snapshot import (  # noqa: F401
    build_vector_table,
    load_snapshot,
    save_snapshot,
)

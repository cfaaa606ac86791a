"""The driver-generated synthetic parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``$SPARK_GRAFT_SF_DIR`` style directories, read through ``_qcore._t``.
"""

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

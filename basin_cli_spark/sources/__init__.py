from basin_cli_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    register_views,
)

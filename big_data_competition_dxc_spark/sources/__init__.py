from .io import TABLES, load, plain_tables, table_sql  # noqa: F401

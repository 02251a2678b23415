"""DuckDB oracle SQL, one string per value-checked registry query.

Only verification code imports this package (``__spark_entry__.oracle_sql``
and the tests); importing ``registry`` alone never builds these strings.
"""

from .sql import ORACLE

__all__ = ["ORACLE"]

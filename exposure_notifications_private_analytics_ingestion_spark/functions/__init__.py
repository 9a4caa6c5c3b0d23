from .hashing import uuid5_col, uuid5_sql, hex_to_long  # noqa: F401

"""The SQL front-end's DML entry point, kept under its original name;
every statement goes through :func:`lakehouse.sql.execute`."""

from .sql import SqlDmlError, execute as execute_dml  # noqa: F401

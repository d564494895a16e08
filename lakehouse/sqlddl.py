"""The SQL front-end's DDL entry point, kept under its original name;
every statement goes through :func:`lakehouse.sql.execute`."""

from .sql import SqlDmlError, _parse_literal, execute as execute_ddl  # noqa: F401

from .tables import TABLE_NAMES, load_table, load_tables

__all__ = ["TABLE_NAMES", "load_table", "load_tables"]

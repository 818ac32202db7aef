from .readers import TABLES, fan_out, load_table, load_tables, local_frame, register_views
from .date_dim import date_dimension

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "local_frame",
    "register_views",
    "date_dimension",
]

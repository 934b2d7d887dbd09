from .session import get_spark, stop_spark  # noqa: F401
from .tables import TESTDATA_TABLES, load_table  # noqa: F401

from .readers import (  # noqa: F401
    MONITOR_RECORDS_SCHEMA,
    PROFILES_SCHEMA,
    TESTDATA_TABLES,
    read_csv,
    read_jsonl,
    read_table,
)
from .sinks import write_bucketed, write_partitioned  # noqa: F401
from . import plots  # noqa: F401

"""Sources & sinks: schema-asserting scans, append/upsert sinks, the
REST-paginated batch source adapter, and the Spark 4 Python
DataSource form of the same API (`format("trade_rest")`)."""

from auto_trade_data_pipeline_spark.sources.files import (
    fan_out_scan,
    load_table,
    read_candles,
    read_ticks,
    ticks_from_events,
)
from auto_trade_data_pipeline_spark.sources.pyds import TickRestDataSource

__all__ = [
    "fan_out_scan",
    "load_table",
    "read_ticks",
    "read_candles",
    "ticks_from_events",
    "TickRestDataSource",
]

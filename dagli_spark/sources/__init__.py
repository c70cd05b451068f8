"""Sources/sinks — the reference's ObjectReader family mapped to Spark IO."""

from dagli_spark.sources.readers import (
    concat_columns,
    dsv_reader,
    multiplexed_union,
    parquet_reader,
    sample_reader,
    shuffled_reader,
)

__all__ = ["dsv_reader", "multiplexed_union", "concat_columns",
           "parquet_reader", "sample_reader", "shuffled_reader"]

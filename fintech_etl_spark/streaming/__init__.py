from fintech_etl_spark.streaming.corpus import start_corpus_intake
from fintech_etl_spark.streaming.intake import start_invoice_stream
from fintech_etl_spark.streaming.events import (
    sessionize_stateful,
    streaming_hourly_rollup,
)

__all__ = [
    "start_corpus_intake",
    "start_invoice_stream",
    "streaming_hourly_rollup",
    "sessionize_stateful",
]

"""Sources & sinks — the engine's connector surface (SURVEY §2.1).

Batch formats + bounded sources in :mod:`batch`; streaming sources,
sinks and the exactly-once file-sink analog in :mod:`streaming`.  Every
connector sink runs on the one delivery loop in :mod:`sink_core`
(partition loop, retry, HTTP call, committed-batch manifest); the
in-process service emulators the connector tests and registry
roundtrips run against live in :mod:`my_flink_1_10_2_spark.testing`.
"""

from my_flink_1_10_2_spark.sources.batch import (  # noqa: F401
    from_elements,
    read_avro,
    write_bucketed,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_sequence_file,
    read_text,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_sequence_file,
    write_text,
)
from my_flink_1_10_2_spark.sources.streaming import (  # noqa: F401
    TransactionalForeachBatchSink,
    file_stream_source,
    memory_sink,
    rate_source,
    socket_text_stream,
    streaming_file_sink,
)

# Jar-free public-protocol connectors: each module carries the protocol
# client and the Spark glue.
from my_flink_1_10_2_spark.sources.amqp_py import (  # noqa: F401
    RMQConnectionConfig,
    RMQSink,
    rmq_drain_source,
)
from my_flink_1_10_2_spark.sources.avro_registry import (  # noqa: F401
    confluent_avro_decode_df,
    confluent_avro_encode_df,
)
from my_flink_1_10_2_spark.sources.http_stream import (  # noqa: F401
    http_line_stream_source,
)
from my_flink_1_10_2_spark.sources.nifi_s2s import (  # noqa: F401
    NiFiS2SSink,
    nifi_s2s_source,
)
from my_flink_1_10_2_spark.sources.pubsub_rest import (  # noqa: F401
    PubSubRestSink,
    pubsub_pull_source,
)

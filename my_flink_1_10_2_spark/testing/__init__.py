"""In-process emulators of the services the jar-free connectors speak
to.  Development/testing utilities: they let the connector tests and
the registry's roundtrip queries run over a REAL HTTP or TCP transport
without installing Elasticsearch, Kinesis, HBase, Pub/Sub, NiFi, a
schema registry, Cassandra, RabbitMQ or an IRC server.  ``changelog``
materializes a retraction changelog for oracle checks."""

from my_flink_1_10_2_spark.testing.http_fakes import (  # noqa: F401
    InMemoryElasticsearchBulkServer,
    InMemoryHBaseRestServer,
    InMemoryJsonHttpServer,
    InMemoryKinesisServer,
    InMemoryLineStreamServer,
    InMemoryNiFiS2SServer,
    InMemoryPubSubServer,
    InMemorySchemaRegistry,
)
from my_flink_1_10_2_spark.testing.tcp_fakes import (  # noqa: F401
    InMemoryAmqpBroker,
    InMemoryCqlServer,
    InMemoryIrcServer,
)

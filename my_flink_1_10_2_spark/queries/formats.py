"""Driver-graded queries for the file-format surface (SURVEY §2.1).

Reference: flink-formats/flink-avro/ (AvroInputFormat.java,
AvroOutputFormat.java).  The query proves the full write → read → query
cycle through the Avro container format produces bit-identical answers
to querying the original parquet — i.e. the format layer is lossless
for the engine's row model (longs, strings, nullable columns).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.queries import read, register


@register(
    "q_avro_documents_roundtrip",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    category="formats",
)
def q_avro_documents_roundtrip(spark, sf_dir):
    """Avro container write → distributed read → aggregate (ref:
    flink-formats/flink-avro/AvroOutputFormat.java, AvroInputFormat.java).

    `write_avro`/`read_avro` use Spark's avro datasource when the jar is
    on the classpath and otherwise the pure-Python spec codec
    (`sources/avro_py.py`, deflate blocks, one container per partition /
    one read task per file).  The aggregate over the roundtripped copy
    must match the oracle's aggregate over the original parquet exactly
    — integer sums only, so the equality is bitwise.
    """
    from my_flink_1_10_2_spark.sources.batch import read_avro, write_avro

    docs = read(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    work = tempfile.mkdtemp(prefix="fl_avro_q_")
    try:
        path = os.path.join(work, "documents_avro")
        write_avro(docs.repartition(4), path)
        back = read_avro(spark, path)
        result = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("lang").alias("n_langs"),
                F.sum("n_chars").alias("total_chars"),
                F.min("doc_id").alias("first_doc"),
            )
            .orderBy("source")
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_multi_format_union",
    oracle="""
    SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders WHERE o_orderkey < 3000
    """,
    category="formats",
)
def q_multi_format_union(spark, sf_dir):
    """One logical table served from three physical formats (ref:
    flink-formats/{flink-csv,flink-json,flink-parquet}): thirds of the
    orders slice round-trip through CSV, JSON-lines and Parquet and
    union back by name — format choice must not change the relational
    result.  Integer cents survive CSV/JSON text round-trips exactly
    (doubles would not, which is the point of the discipline)."""
    import shutil
    import tempfile

    base = (
        read(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        )
    )
    work = tempfile.mkdtemp(prefix="fl_formats_")
    try:
        base.where(F.col("k") % 3 == 0).write.mode("overwrite").option(
            "header", True
        ).csv(f"{work}/csv")
        base.where(F.col("k") % 3 == 1).write.mode("overwrite").json(f"{work}/json")
        base.where(F.col("k") % 3 == 2).write.mode("overwrite").parquet(
            f"{work}/parquet"
        )
        csv = (
            spark.read.option("header", True)
            .schema("k bigint, status string, price_c bigint")
            .csv(f"{work}/csv")
        )
        js = spark.read.schema("k bigint, status string, price_c bigint").json(
            f"{work}/json"
        )
        pq = spark.read.parquet(f"{work}/parquet")
        out = csv.unionByName(js).unionByName(pq.select("k", "status", "price_c"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_text_roundtrip",
    oracle="""
    SELECT event_type AS line, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    category="formats",
)
def q_text_roundtrip(spark, sf_dir):
    """writeAsText → readTextFile roundtrip graded (ref:
    DataSet.writeAsText / ExecutionEnvironment.readTextFile:438): event
    types written as raw text lines, read back as lines, and the line
    multiset must equal the source exactly."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.sources.batch import read_text, write_text

    work = tempfile.mkdtemp(prefix="fl_textrt_")
    try:
        src = read(spark, sf_dir, "events").select(F.col("event_type").alias("value"))
        write_text(src, f"{work}/lines")
        back = read_text(spark, f"{work}/lines")
        out = back.groupBy(F.col(back.columns[0]).alias("line")).agg(
            F.count(F.lit(1)).alias("n")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_compressed_seqfile_roundtrip",
    oracle="""
    SELECT event_type AS k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_e4
    FROM events WHERE event_id < 2000 GROUP BY event_type
    """,
    category="formats",
)
def q_compressed_seqfile_roundtrip(spark, sf_dir):
    """The two remaining format paths graded together (ref:
    DataSet.writeAsText with compression / flink-hadoop-compatibility
    SequenceFile I/O): half the rows round-trip through GZIP text, half
    through a Hadoop SequenceFile (RDD bridge); the recombined rollup
    must equal the source — format and codec choice cannot change the
    relational content."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.sources.batch import (
        read_sequence_file,
        read_text,
        write_sequence_file,
        write_text,
    )

    work = tempfile.mkdtemp(prefix="fl_seqgz_")
    try:
        src = (
            read(spark, sf_dir, "events")
            .where("event_id < 2000")
            .select(
                "event_id",
                "event_type",
                F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
            )
        )
        gz_part = src.where("event_id % 2 = 0").select(
            F.concat_ws("|", "event_type", "v_e4").alias("value")
        )
        write_text(gz_part, f"{work}/gz", compression="gzip")
        seq_part = src.where("event_id % 2 = 1").select(
            F.col("event_type").alias("key"),
            F.col("v_e4").cast("string").alias("value"),
        )
        write_sequence_file(seq_part, f"{work}/seq")

        gz_back = read_text(spark, f"{work}/gz")
        col0 = gz_back.columns[0]
        a = gz_back.select(
            F.split(F.col(col0), r"\|")[0].alias("k"),
            F.split(F.col(col0), r"\|")[1].cast("bigint").alias("v_e4"),
        )
        seq_back = read_sequence_file(spark, f"{work}/seq")
        b = seq_back.select(
            F.col(seq_back.columns[0]).alias("k"),
            F.col(seq_back.columns[1]).cast("bigint").alias("v_e4"),
        )
        out = (
            a.unionByName(b)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v_e4").cast("bigint").alias("v_e4"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_avro_roundtrip",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders WHERE o_orderkey < 6000 GROUP BY o_orderpriority
    """,
    category="formats",
)
def q_avro_roundtrip(spark, sf_dir):
    """Avro container roundtrip graded (ref: flink-formats/flink-avro
    AvroOutputFormat.java / AvroInputFormat.java): orders write to Avro
    (native jar when present, else the pure-Python spec codec with
    deflate blocks — sources/avro_py.py) and read back; the rollup must
    equal the source exactly, proving the whole binary encode/decode
    path, not just the schema plumbing."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.sources.batch import read_avro, write_avro

    work = tempfile.mkdtemp(prefix="fl_avro_rt_")
    try:
        src = (
            read(spark, sf_dir, "orders")
            .where("o_orderkey < 6000")
            .select(
                "o_orderkey",
                "o_orderpriority",
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        write_avro(src, f"{work}/orders_avro")
        back = read_avro(spark, f"{work}/orders_avro")
        out = back.groupBy(F.col("o_orderpriority").alias("prio")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_avro_snappy_roundtrip",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders WHERE o_orderkey < 6000 GROUP BY o_orderpriority
    """,
    category="formats",
)
def q_avro_snappy_roundtrip(spark, sf_dir):
    """Avro snappy + zstandard codec roundtrip (ref:
    flink-formats/flink-avro — Avro's standard codec set per the 1.x
    spec).  The two non-stdlib spec codecs ride pyarrow's bundled C
    codecs (`sources/avro_py.py::_compress_block`): snappy blocks carry
    the spec's 4-byte big-endian CRC32 of the uncompressed data;
    zstandard blocks are stream-decoded so frames without a content-size
    header still read.  Half the slice writes snappy, half zstandard;
    the union's rollup must equal the source exactly — same oracle as
    `q_avro_roundtrip`, so a codec bug shows as a bitwise mismatch."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.sources.batch import read_avro, write_avro

    work = tempfile.mkdtemp(prefix="fl_avro_sz_")
    try:
        src = (
            read(spark, sf_dir, "orders")
            .where("o_orderkey < 6000")
            .select(
                "o_orderkey",
                "o_orderpriority",
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        write_avro(
            src.where("o_orderkey % 2 = 0"), f"{work}/even", codec="snappy"
        )
        write_avro(
            src.where("o_orderkey % 2 = 1"), f"{work}/odd", codec="zstandard"
        )
        back = read_avro(spark, f"{work}/even").unionByName(
            read_avro(spark, f"{work}/odd")
        )
        out = back.groupBy(F.col("o_orderpriority").alias("prio")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_jdbc_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
    category="formats",
)
def q_jdbc_roundtrip(spark, sf_dir):
    """JDBC connector graded against a REAL database (ref:
    JDBCOutputFormat.java / JDBCInputFormat.java; option spellings per
    JDBCValidator.java): nation writes through the Flink-option sink
    into embedded Derby, reads back through the PARTITIONED parallel
    source (read.partition.* quadruple → 4 concurrent range scans), and
    the rollup must equal the parquet source — live SQL-database
    evidence, not an option-mapping unit test."""
    import shutil
    import tempfile

    from my_flink_1_10_2_spark.sources.jdbc import jdbc_sink, jdbc_source

    work = tempfile.mkdtemp(prefix="fl_jdbc_rt_")
    url = f"jdbc:derby:{work}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey"
        )
        jdbc_sink(
            src,
            {"url": url, "table-name": "nation_t", "driver": driver},
            mode="overwrite",
        )
        back = jdbc_source(
            spark,
            {
                "url": url,
                "table-name": "nation_t",
                "driver": driver,
                "read.partition.column": "n_nationkey",
                "read.partition.num": 4,
                "read.partition.lower-bound": 0,
                "read.partition.upper-bound": 25,
            },
        )
        out = back.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_hbase_rest_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_hbase_rest_roundtrip(spark, sf_dir):
    """HBase connector graded over a REAL HTTP transport (ref:
    flink-hbase/.../HBaseTableSource.java, HBaseUpsertTableSink.java,
    HBaseTableSchema.java): nation writes through the typed REST sink
    (Bytes.toBytes wire cells) into a live in-process Stargate
    emulator, reads back through range-partitioned scanners (3 region
    splits, paginated GETs), and the rollup must equal the parquet
    source — live protocol evidence for the jar-free HBase path."""
    from my_flink_1_10_2_spark.sources.hbase_rest import (
        HBaseSchema,
        HBaseTypedRestSink,
        hbase_rest_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer

    schema = HBaseSchema(
        "n_nationkey",
        "BIGINT",
        [
            ("n_name", "info", "name", "STRING"),
            ("n_regionkey", "info", "region", "INT"),
        ],
    )
    server = InMemoryHBaseRestServer(page_rows=4)
    try:
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", F.col("n_regionkey").cast("int")
        )
        HBaseTypedRestSink(server.url, "nation_t", schema, batch_max_rows=7)(src)
        back = hbase_rest_source(
            spark, server.url, "nation_t", schema, split_keys=[9, 17], batch=6
        )
        return (
            back.groupBy(F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
            .agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the emulator dies with this function
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_cassandra_cql_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_total,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_cassandra_cql_roundtrip(spark, sf_dir):
    """Cassandra sink graded over a REAL TCP connection (ref:
    CassandraSink.java upsert semantics; wire format per the public
    native_protocol_v4.spec): nation writes through CassandraCqlSink —
    executor-side STARTUP/READY handshake + UNLOGGED BATCH frames —
    into a live in-process protocol server, the server-decoded INSERT
    statements parse back into rows, and the rollup must equal the
    parquet source.  Grades the literal encoding, batch framing, and
    per-partition connection discipline end-to-end."""
    from my_flink_1_10_2_spark.sources.cassandra_cql import (
        CassandraCqlSink,
        parse_insert,
    )
    from my_flink_1_10_2_spark.testing import InMemoryCqlServer

    server = InMemoryCqlServer()
    try:
        sink = CassandraCqlSink(
            "127.0.0.1", "ks", "nation_t",
            port=server.port, batch_max_statements=7,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        rows = []
        for stmt in server.statements:
            table, vals = parse_insert(stmt)
            if table != "ks.nation_t":
                raise ValueError(f"unexpected target table {table!r}")
            rows.append(
                (
                    int(vals["n_nationkey"]),
                    vals["n_name"][1:-1].replace("''", "'"),
                    int(vals["n_regionkey"]),
                )
            )
        back = spark.createDataFrame(
            rows, "n_nationkey long, n_name string, n_regionkey long"
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("key_total"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
        )
    finally:
        server.close()


@register(
    "q_kinesis_putrecords_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_recs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_kinesis_putrecords_roundtrip(spark, sf_dir):
    """Kinesis producer graded over REAL HTTP (ref: flink-connector-
    kinesis/.../FlinkKinesisProducer.java serialization + partition-key
    contract): nation flows through KinesisPutRecordsSink — executor-
    side JSON serialization, base64 Data, deterministic partition keys,
    API-limit chunking — into a live in-process PutRecords endpoint;
    the recorded payloads decode back into rows and the rollup must
    equal the parquet source."""
    import base64
    import json as _json

    from my_flink_1_10_2_spark.sources.connectors import (
        KinesisPutRecordsSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryJsonHttpServer

    server = InMemoryJsonHttpServer(
        response=b'{"FailedRecordCount": 0, "Records": []}'
    )
    try:
        sink = KinesisPutRecordsSink(
            "nation-stream",
            endpoint=server.url,
            partition_key_field="n_nationkey",
            batch_max_records=7,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        rows = []
        for body in server.bodies:
            for rec in _json.loads(body)["Records"]:
                doc = _json.loads(base64.b64decode(rec["Data"]))
                rows.append((int(doc["n_nationkey"]), int(doc["n_regionkey"])))
        back = spark.createDataFrame(rows, "n_nationkey long, n_regionkey long")
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_recs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            )
            .orderBy("n_regionkey")
        )
    finally:
        server.close()


@register(
    "q_elasticsearch_bulk_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_nationkey) AS BIGINT) AS id_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_elasticsearch_bulk_roundtrip(spark, sf_dir):
    """Elasticsearch sink graded over REAL HTTP (ref: flink-connectors/
    flink-connector-elasticsearch-base/.../ElasticsearchSinkBase.java
    bulk processor): nation flows through ElasticsearchBulkSink —
    executor-side NDJSON bulk framing, deterministic _id routing,
    max-actions chunking — into a live in-process _bulk endpoint; the
    recorded action/doc line pairs decode back into rows and the rollup
    must equal the parquet source."""
    import json as _json

    from my_flink_1_10_2_spark.sources.connectors import (
        ElasticsearchBulkSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryJsonHttpServer

    server = InMemoryJsonHttpServer(response=b'{"errors": false, "items": []}')
    try:
        sink = ElasticsearchBulkSink(
            server.url, "nation_idx", key_field="n_nationkey",
            bulk_max_actions=9,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        rows = []
        for body in server.bodies:
            lines = body.decode().splitlines()
            for action, doc in zip(lines[0::2], lines[1::2]):
                meta = _json.loads(action)["index"]
                if meta["_index"] != "nation_idx":
                    raise ValueError(f"unexpected index {meta['_index']!r}")
                d = _json.loads(doc)
                if int(meta["_id"]) != int(d["n_nationkey"]):
                    raise ValueError("_id routing mismatch")
                rows.append(
                    (int(d["n_nationkey"]), d["n_name"], int(d["n_regionkey"]))
                )
        back = spark.createDataFrame(
            rows, "n_nationkey long, n_name string, n_regionkey long"
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_nationkey").cast("bigint").alias("id_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
        )
    finally:
        server.close()


@register(
    "q_rabbitmq_amqp_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_rabbitmq_amqp_roundtrip(spark, sf_dir):
    """RabbitMQ connector graded over REAL TCP AMQP 0-9-1 (ref:
    flink-connectors/flink-connector-rabbitmq/.../RMQSink.java,
    RMQSource.java exactly-once correlation-id mode): nation publishes
    through RMQSink — executor-side queue.declare + basic.publish with
    correlation-id properties — into a live in-process broker, TWICE
    (simulated duplicate delivery); rmq_drain_source drains with 3
    competing consumers (the reference's parallelism model), acks, and
    drops duplicates on the correlation id exactly like the reference's
    message-id state.  The rollup must equal the parquet source."""
    import json as _json

    from my_flink_1_10_2_spark.sources.amqp_py import (
        RMQSink,
        rmq_drain_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryAmqpBroker

    broker = InMemoryAmqpBroker()
    try:
        sink = RMQSink(
            broker.config(), "nation_q", correlation_id_field="n_nationkey"
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        sink(src, 0)  # replayed micro-batch: every message delivered twice
        drained = rmq_drain_source(
            spark,
            broker.config(),
            "nation_q",
            consumers=3,
            uses_correlation_id=True,
        )
        back = drained.select(
            F.col("body").cast("string").alias("doc")
        ).select(
            F.get_json_object("doc", "$.n_nationkey").cast("long").alias("n_nationkey"),
            F.get_json_object("doc", "$.n_name").alias("n_name"),
            F.get_json_object("doc", "$.n_regionkey").cast("long").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_msgs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the broker dies with this function
            .localCheckpoint()
        )
    finally:
        broker.close()


@register(
    "q_pubsub_rest_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_pubsub_rest_roundtrip(spark, sf_dir):
    """GCP Pub/Sub connector graded over REAL HTTP (ref:
    flink-connectors/flink-connector-gcp-pubsub/.../PubSubSink.java,
    PubSubSource.java acknowledge-on-checkpoint): nation publishes
    through PubSubRestSink — executor-side base64 message framing,
    attribute mapping, API-limit chunking — into a live in-process
    REST emulator; a first pull pass takes leases WITHOUT acking and
    the leases expire (the ack-deadline redelivery path), then
    pubsub_pull_source drains with 3 parallel pullers, acks, and drops
    the at-least-once redeliveries on the server messageId.  The
    rollup must equal the parquet source."""
    import json as _json

    from my_flink_1_10_2_spark.sources.pubsub_rest import (
        PubSubRestSink,
        pubsub_pull_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryPubSubServer

    server = InMemoryPubSubServer()
    try:
        server.create_subscription("nation_topic", "nation_sub")
        sink = PubSubRestSink(
            server.url, "proj", "nation_topic",
            attribute_fields=("n_regionkey",), batch_max_messages=7,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        # crash-before-ack: lease a prefix, EMIT it downstream, never
        # ack; the deadline passes and those messages are REDELIVERED
        # with the same messageId — the union below therefore carries
        # real duplicates that the messageId dedup must drop.
        emitted_before_crash = pubsub_pull_source(
            spark, server.url, "proj", "nation_sub",
            consumers=1, max_messages=9, max_pulls=1, ack=False,
        ).localCheckpoint()  # secure rows NOW (a re-pull would differ)
        n_leased = server.expire_leases()
        if emitted_before_crash.count() != n_leased:
            raise ValueError("lease bookkeeping out of step")
        drained = pubsub_pull_source(
            spark, server.url, "proj", "nation_sub",
            consumers=3,
        )
        merged = emitted_before_crash.unionByName(drained).dropDuplicates(
            ["message_id"]
        )
        back = merged.select(
            F.col("body").cast("string").alias("doc"),
            F.col("attributes").getItem("n_regionkey").cast("long").alias("attr_rk"),
        ).select(
            F.get_json_object("doc", "$.n_nationkey").cast("long").alias("n_nationkey"),
            F.get_json_object("doc", "$.n_name").alias("n_name"),
            F.col("attr_rk").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_msgs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the emulator dies with this function
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_nifi_s2s_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_packets,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_nifi_s2s_roundtrip(spark, sf_dir):
    """NiFi connector graded over REAL Site-to-Site-HTTP (ref:
    flink-connectors/flink-connector-nifi/.../NiFiSink.java,
    NiFiSource.java, StandardNiFiDataPacket.java): nation ships through
    NiFiS2SSink — executor-side data-packet encoding, per-partition
    two-phase transactions confirmed on the server's CRC32 — into a
    live in-process S2S emulator; mid-run an ABANDONED (crashed)
    receive transaction is rolled back by the protocol, then
    nifi_s2s_source drains the output port with 3 consumers.  The
    rollup must equal the parquet source — nothing lost to the crash,
    nothing double-committed."""
    from my_flink_1_10_2_spark.sources.nifi_s2s import (
        NiFiS2SSink,
        nifi_s2s_source,
        _create_transaction,
        _http,
    )
    from my_flink_1_10_2_spark.testing import InMemoryNiFiS2SServer

    server = InMemoryNiFiS2SServer(batch_packets=6)
    try:
        sink = NiFiS2SSink(
            server.url, "port-1",
            attribute_fields=("n_nationkey", "n_regionkey"),
            body_field="n_name", batch_max_packets=7,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        # crashed consumer: create a receive transaction, READ the
        # stream, then die before confirm -> the protocol rolls the
        # leased flowfiles back onto the port
        tx = _create_transaction(server.url, "output-ports", "port-1")
        _http(
            f"{server.url}/nifi-api/data-transfer/output-ports/port-1"
            f"/transactions/{tx}/flow-files",
            "GET",
        )
        if server.abandon_open_transactions() != 1:
            raise ValueError("expected exactly one in-flight transaction")
        drained = nifi_s2s_source(spark, server.url, "port-1", consumers=3)
        back = drained.select(
            F.col("attributes").getItem("n_nationkey").cast("long").alias("n_nationkey"),
            F.col("content").cast("string").alias("n_name"),
            F.col("attributes").getItem("n_regionkey").cast("long").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_packets"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the emulator dies with this function
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_twitter_stream_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_statuses,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_twitter_stream_roundtrip(spark, sf_dir):
    """Twitter connector graded over REAL streaming HTTP (ref:
    flink-connectors/flink-connector-twitter/.../TwitterSource.java):
    a live in-process chunked-HTTP endpoint serves nation rows as
    newline-delimited JSON statuses with keep-alive blank lines
    interleaved (the streaming API's idle signal); twitter_source
    reads the stream executor-side with a bearer header, each status
    surfaces as its raw string (the reference's SimpleStringSchema),
    and the parsed rollup must equal the parquet source.  The seed
    collect is the 25-row nation dim (control-table bounded)."""
    import json as _json

    from my_flink_1_10_2_spark.testing import InMemoryLineStreamServer
    from my_flink_1_10_2_spark.sources.connectors import twitter_source

    seed = [
        _json.dumps(
            {"id": r.n_nationkey, "text": r.n_name, "region": r.n_regionkey},
            sort_keys=True,
        )
        for r in read(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    ]
    server = InMemoryLineStreamServer(seed, keepalive_every=4)
    try:
        lines = twitter_source(
            spark, server.url + "/2/tweets/sample/stream",
            bearer_token="test-token",
        )
        back = lines.select(
            F.get_json_object("line", "$.id").cast("long").alias("n_nationkey"),
            F.get_json_object("line", "$.text").alias("n_name"),
            F.get_json_object("line", "$.region").cast("long").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_statuses"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the emulator dies with this function
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_confluent_avro_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_recs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_confluent_avro_roundtrip(spark, sf_dir):
    """Schema-Registry Avro format graded over REAL HTTP (ref:
    flink-formats/flink-avro-confluent-registry/.../
    ConfluentRegistryAvroSerializationSchema.java,
    ConfluentRegistryAvroDeserializationSchema.java,
    ConfluentSchemaRegistryCoder.java): nation serializes to the
    Confluent wire format (magic 0x00 + 4-byte schema id + bare Avro
    binary) against a live in-process registry, the framed bytes decode
    back through registry-fetched writer schemas (one cached GET per
    partition), and the rollup must equal the parquet source."""
    from my_flink_1_10_2_spark.sources.avro_registry import (
        confluent_avro_decode_df,
        confluent_avro_encode_df,
    )
    from my_flink_1_10_2_spark.testing import InMemorySchemaRegistry

    reg = InMemorySchemaRegistry()
    try:
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        framed = confluent_avro_encode_df(src, reg.url, "nation-value")
        back = confluent_avro_decode_df(
            framed, reg.url,
            "n_nationkey long, n_name string, n_regionkey long",
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_recs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
            # materialize BEFORE the registry dies with this function
            .localCheckpoint()
        )
    finally:
        reg.close()


@register(
    "q_rabbitmq_crash_redelivery",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_rabbitmq_crash_redelivery(spark, sf_dir):
    """Mid-drain CONNECTION KILL on RabbitMQ (ref: RMQSource.java
    ack-on-checkpoint + AMQP basic.get redelivery): a first consumer
    pass takes delivery of EVERY message without acking and then drops
    the connection — the crash window after emitting downstream but
    before the checkpoint-complete ack.  The broker requeues all
    unacked deliveries (AMQP connection-loss semantics), a second
    3-consumer pass drains-and-acks, so every message reaches the
    engine TWICE; the union deduped on the correlation id must equal
    the parquet source exactly — the reference's exactly-once
    correlation-id state, exercised through a real redelivery."""
    from my_flink_1_10_2_spark.sources.amqp_py import (
        RMQSink,
        rmq_drain_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryAmqpBroker

    broker = InMemoryAmqpBroker()
    try:
        sink = RMQSink(
            broker.config(), "crash_q", correlation_id_field="n_nationkey"
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        n_src = src.count()
        # the crashed consumer: ONE connection emits every message,
        # never acks, dies — the broker puts ALL of them back on the
        # queue (two crashing consumers would race: the first close
        # requeues into the second's still-open drain loop)
        emitted = rmq_drain_source(
            spark, broker.config(), "crash_q", consumers=1,
            crash_before_ack=True,
        ).localCheckpoint()
        if emitted.count() != n_src:
            raise ValueError("crashed consumer should have seen every message")
        # the restarted consumer: full drain with acks (redeliveries)
        redelivered = rmq_drain_source(
            spark, broker.config(), "crash_q", consumers=3
        )
        merged = emitted.unionByName(redelivered)
        if merged.count() != 2 * n_src:
            raise ValueError("expected every message delivered exactly twice")
        back = merged.dropDuplicates(["correlation_id"]).select(
            F.col("body").cast("string").alias("doc")
        ).select(
            F.get_json_object("doc", "$.n_nationkey").cast("long").alias("n_nationkey"),
            F.get_json_object("doc", "$.n_name").alias("n_name"),
            F.get_json_object("doc", "$.n_regionkey").cast("long").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_msgs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        broker.close()


@register(
    "q_pubsub_crash_redelivery",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_pubsub_crash_redelivery(spark, sf_dir):
    """Mid-drain CONNECTION KILL on Pub/Sub (ref: PubSubSource.java
    acknowledge-on-checkpoint): the first consumer pass pulls and EMITS
    every message but dies before any ack; every lease expires (the
    ack-deadline), so the full corpus is REDELIVERED with the same
    server messageIds to the restarted 3-puller pass.  Union of both
    passes deduped on messageId must equal the parquet source — the
    documented at-least-once-plus-id-dedup contract under a total
    consumer loss, not just a partial lease lapse."""
    from my_flink_1_10_2_spark.sources.pubsub_rest import (
        PubSubRestSink,
        pubsub_pull_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryPubSubServer

    server = InMemoryPubSubServer()
    try:
        server.create_subscription("crash_topic", "crash_sub")
        sink = PubSubRestSink(
            server.url, "proj", "crash_topic",
            attribute_fields=("n_regionkey",),
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        n_src = src.count()
        emitted = pubsub_pull_source(
            spark, server.url, "proj", "crash_sub", consumers=2, ack=False
        ).localCheckpoint()
        if emitted.count() != n_src:
            raise ValueError("crashed consumer should have seen every message")
        if server.expire_leases() != n_src:
            raise ValueError("every lease should still be outstanding")
        redelivered = pubsub_pull_source(
            spark, server.url, "proj", "crash_sub", consumers=3
        )
        merged = emitted.unionByName(redelivered)
        if merged.count() != 2 * n_src:
            raise ValueError("expected every message delivered exactly twice")
        back = merged.dropDuplicates(["message_id"]).select(
            F.col("body").cast("string").alias("doc"),
            F.col("attributes").getItem("n_regionkey").cast("long").alias("n_regionkey"),
        ).select(
            F.get_json_object("doc", "$.n_nationkey").cast("long").alias("n_nationkey"),
            F.get_json_object("doc", "$.n_name").alias("n_name"),
            "n_regionkey",
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_msgs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_nifi_crash_redelivery",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_packets,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_nifi_crash_redelivery(spark, sf_dir):
    """Mid-drain CONNECTION KILL on NiFi Site-to-Site (ref:
    NiFiSource.java two-phase receive): TWO consecutive consumers each
    open a receive transaction, READ the full flowfile stream, and die
    before the CRC confirm — the S2S protocol rolls every leased
    flowfile back onto the port both times (unconfirmed reads are
    discarded by contract, so no consumer-side dedup is needed).  The
    third, healthy 3-consumer drain must equal the parquet source
    exactly: nothing lost to either crash, nothing double-committed."""
    from my_flink_1_10_2_spark.sources.nifi_s2s import (
        NiFiS2SSink,
        nifi_s2s_source,
        _create_transaction,
        _http,
    )
    from my_flink_1_10_2_spark.testing import InMemoryNiFiS2SServer

    server = InMemoryNiFiS2SServer(batch_packets=6)
    try:
        sink = NiFiS2SSink(
            server.url, "port-1",
            attribute_fields=("n_nationkey", "n_regionkey"),
            body_field="n_name",
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        for _ in range(2):  # two consecutive mid-drain crashes
            tx = _create_transaction(server.url, "output-ports", "port-1")
            _http(
                f"{server.url}/nifi-api/data-transfer/output-ports/port-1"
                f"/transactions/{tx}/flow-files",
                "GET",
            )
            if server.abandon_open_transactions() != 1:
                raise ValueError("expected exactly one in-flight transaction")
        drained = nifi_s2s_source(spark, server.url, "port-1", consumers=3)
        back = drained.select(
            F.col("attributes").getItem("n_nationkey").cast("long").alias("n_nationkey"),
            F.col("content").cast("string").alias("n_name"),
            F.col("attributes").getItem("n_regionkey").cast("long").alias("n_regionkey"),
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_packets"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_wikiedits_irc_rollup",
    oracle="""
    WITH e AS (
      SELECT n_regionkey,
             n_nationkey % 4 AS fidx,
             (n_nationkey * 37) % 400 - 200 AS delta,
             CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END AS talk
      FROM nation
    )
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_edits,
           CAST(sum(delta) AS BIGINT) AS byte_sum,
           CAST(sum(CASE WHEN fidx IN (0, 3) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_minor,
           CAST(sum(CASE WHEN fidx = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bot,
           CAST(sum(talk) AS BIGINT) AS n_talk
    FROM e GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_wikiedits_irc_rollup(spark, sf_dir):
    """Wikipedia-edits connector graded over REAL IRC (ref:
    flink-contrib/flink-connector-wikiedits/.../WikipediaEditsSource.java
    + WikipediaEditEvent.java): nation rows are served as raw wikimedia
    edit lines — mIRC-colored, flag-coded (M/N/!B), signed byte diffs,
    Talk: titles — by a live in-process RFC 1459 server (registration,
    JOIN, mid-stream PING the client must PONG); the jar-free IRC source
    drains them, the reference's regex parses each PRIVMSG, and the
    per-region rollup of count / byte-diff sum / minor / bot / talk
    flags must equal the closed-form nation replay.  The seed collect is
    the 25-row nation dim (control-table bounded)."""
    from my_flink_1_10_2_spark.sources.wikiedits_irc import (
        IS_BOT_EDIT,
        IS_MINOR,
        IS_TALK,
        wikipedia_edits_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryIrcServer

    FLAGSETS = ["M", "N", "!", "MB"]  # fidx 0..3: minor / new / unpatrolled / minor+bot
    rows = (
        read(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    lines = []
    for r in sorted(rows, key=lambda r: r.n_nationkey):
        k = int(r.n_nationkey)
        title = f"Talk:{r.n_name}" if k % 5 == 0 else r.n_name
        delta = (k * 37) % 400 - 200
        signed = f"+{delta}" if delta >= 0 else str(delta)
        lines.append(
            f"\x0314[[\x0307{title}\x0314]]\x034 {FLAGSETS[k % 4]}\x0310 "
            f"https://en.wikipedia.org/w/index.php?diff={k}\x03 "
            f"* editor{k % 5} * ({signed}) region {r.n_regionkey} edit"
        )
    server = InMemoryIrcServer("#test.wikipedia", lines)
    try:
        df = wikipedia_edits_source(
            spark, "127.0.0.1", server.port, "#test.wikipedia"
        )
        parsed = df.select(
            F.regexp_extract("summary", r"region (\d+) edit", 1)
            .cast("long")
            .alias("n_regionkey"),
            "byte_diff",
            "flags",
        )
        return (
            parsed.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_edits"),
                F.sum("byte_diff").cast("bigint").alias("byte_sum"),
                F.sum(
                    F.when(F.col("flags").bitwiseAND(IS_MINOR) > 0, 1).otherwise(0)
                ).cast("bigint").alias("n_minor"),
                F.sum(
                    F.when(F.col("flags").bitwiseAND(IS_BOT_EDIT) > 0, 1).otherwise(0)
                ).cast("bigint").alias("n_bot"),
                F.sum(
                    F.when(F.col("flags").bitwiseAND(IS_TALK) > 0, 1).otherwise(0)
                ).cast("bigint").alias("n_talk"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_kinesis_throttle_retry",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_recs,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_kinesis_throttle_retry(spark, sf_dir):
    """Kinesis PARTIAL-FAILURE retry graded over real HTTP (ref:
    FlinkKinesisProducer.java — per-record failure handling in the
    UserRecordResult callback): the in-process PutRecords endpoint
    throttles every PartitionKey ≡ 1 (mod 3) with a per-record
    ProvisionedThroughputExceededException on its FIRST attempt and
    accepts it on retry.  The sink must re-enqueue ONLY the rejected
    subset — a whole-call retry would double-land the accepted records,
    a dropped subset would lose them; the server-side record log must
    therefore equal the parquet source EXACTLY once per row before the
    rollup is even computed."""
    import base64
    import json as _json

    from my_flink_1_10_2_spark.sources.connectors import (
        KinesisPutRecordsSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryKinesisServer

    server = InMemoryKinesisServer(throttle_mod=3, throttle_rem=1)
    try:
        sink = KinesisPutRecordsSink(
            "nation-stream",
            endpoint=server.url,
            partition_key_field="n_nationkey",
            batch_max_records=7,
            retry_delay_s=0.01,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        n_src = src.count()
        if len(server.records) != n_src:
            raise ValueError(
                f"retry must land every record exactly once: "
                f"{len(server.records)} recorded vs {n_src} source rows"
            )
        rows = [
            _json.loads(base64.b64decode(rec["Data"]))
            for rec in server.records
        ]
        back = spark.createDataFrame(
            [(int(d["n_nationkey"]), d["n_name"], int(d["n_regionkey"]))
             for d in rows],
            "n_nationkey long, n_name string, n_regionkey long",
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_recs"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_elasticsearch_rejected_retry",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_nationkey) AS BIGINT) AS id_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_elasticsearch_rejected_retry(spark, sf_dir):
    """Elasticsearch ITEM-LEVEL 429 retry graded over real HTTP (ref:
    flink-connector-elasticsearch-base RetryRejectedExecutionFailure-
    Handler — re-adds only the rejected ActionRequests): the in-process
    _bulk endpoint 429-rejects every _id ≡ 2 (mod 3) with
    es_rejected_execution_exception on its FIRST attempt and 201s it on
    retry.  The sink (failure_handler='retry-rejected') must resubmit
    ONLY the rejected action/source pairs; the server's append-log of
    indexed docs must equal the parquet source exactly once per row — a
    whole-payload retry shows up as duplicate appends even though
    id-addressed indexing would mask it in the final doc store."""
    from my_flink_1_10_2_spark.sources.connectors import (
        ElasticsearchBulkSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryElasticsearchBulkServer

    server = InMemoryElasticsearchBulkServer(reject_mod=3, reject_rem=2)
    try:
        sink = ElasticsearchBulkSink(
            server.url, "nation_idx", key_field="n_nationkey",
            bulk_max_actions=9, failure_handler="retry-rejected",
            retry_delay_s=0.01,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        n_src = src.count()
        if len(server.indexed) != n_src:
            raise ValueError(
                f"rejected-retry must index every doc exactly once: "
                f"{len(server.indexed)} indexed vs {n_src} source rows"
            )
        back = spark.createDataFrame(
            [(int(d["n_nationkey"]), d["n_name"], int(d["n_regionkey"]))
             for _id, d in server.indexed],
            "n_nationkey long, n_name string, n_regionkey long",
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_nationkey").cast("bigint").alias("id_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_webdataset_roundtrip",
    oracle="""
    WITH r AS (
      SELECT doc_id, strlen(text) AS txt_bytes,
             row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    )
    SELECT rk // 100 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key,
           CAST(sum(txt_bytes) AS BIGINT) AS total_txt_bytes
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_webdataset_roundtrip(spark, sf_dir):
    """WebDataset tar-shard export -> distributed re-read -> per-shard
    audit.  documents.text is packed into canonical 100-sample tar shards
    (sources/webdataset.py: contiguous global-rank key ranges, one task
    per shard both ways), read back as binary members, and audited per
    shard: sample count, key range, total payload bytes.  The oracle
    computes the identical audit straight from the source table with the
    same rank -> shard assignment — the roundtrip must preserve every
    sample and every byte for the integer sums to match bitwise."""
    import tempfile

    from my_flink_1_10_2_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="fl_wds_q_")
    try:
        manifest = write_webdataset(
            docs, work, key_col="doc_id", columns={"text": "txt"},
            samples_per_shard=100,
        )
        manifest.collect()  # materialize the export before reading it back
        back = read_webdataset(spark, work, extensions=["txt"])
        result = (
            back.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_samples"),
                F.min("key").alias("first_key"),
                F.max("key").alias("last_key"),
                F.sum(F.length("txt")).alias("total_txt_bytes"),
            )
            .select(
                "shard_id",
                "n_samples",
                "first_key",
                "last_key",
                F.col("total_txt_bytes").cast("bigint").alias("total_txt_bytes"),
            )
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_tfrecord_roundtrip",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars, strlen(text) AS txt_bytes,
             row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    )
    SELECT rk // 100 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key,
           CAST(sum(n_chars) AS BIGINT) AS total_n_chars,
           CAST(sum(txt_bytes) AS BIGINT) AS total_txt_bytes
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_tfrecord_roundtrip(spark, sf_dir):
    """TFRecord export -> distributed re-read -> per-shard audit.
    documents rows become one tf.train.Example each (int64 doc_id /
    n_chars, BytesList text), packed into canonical 100-sample shards
    (sources/tfrecord.py: public TFRecord framing with masked CRC32C,
    hand-encoded Example protos, contiguous global-rank shard ranges).
    Every record's CRCs are verified on read; the per-shard integer sums
    must match the oracle's direct replay bitwise, proving the proto
    encode/decode and framing preserved every value."""
    import tempfile

    from my_flink_1_10_2_spark.sources.tfrecord import (
        read_tfrecords,
        write_tfrecords,
    )

    docs = read(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    work = tempfile.mkdtemp(prefix="fl_tfr_q_")
    try:
        write_tfrecords(
            docs, work, key_col="doc_id", feature_cols=["text", "n_chars"],
            samples_per_shard=100,
        ).collect()
        back = read_tfrecords(
            spark, work,
            {"doc_id": "long", "text": "binary", "n_chars": "long"},
            shard_col="shard_id",
        )
        result = (
            back.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_samples"),
                F.min("doc_id").alias("first_key"),
                F.max("doc_id").alias("last_key"),
                F.sum("n_chars").cast("bigint").alias("total_n_chars"),
                F.sum(F.length("text")).cast("bigint").alias("total_txt_bytes"),
            )
            .select(
                "shard_id", "n_samples", "first_key", "last_key",
                "total_n_chars", "total_txt_bytes",
            )
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_cassandra_write_timeout_retry",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_total,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_cassandra_write_timeout_retry(spark, sf_dir):
    """Cassandra WRITE-TIMEOUT retry graded over a real TCP connection
    (ref: CassandraSinkBase failure handling + the public DataStax
    DefaultRetryPolicy#onWriteTimeout contract for idempotent writes):
    the in-process CQL server fails EVERY batch's first attempt with a
    spec-encoded WriteTimeout error (native_protocol_v4.spec §9,
    0x1100) and accepts the resend.  Because each statement is a
    primary-key upsert, whole-batch retry is idempotent — the server's
    last-writer-wins upsert view must contain the parquet source
    EXACTLY once per key, with every batch having been failed once
    (asserted) and the statement log showing the retries actually
    happened."""
    from my_flink_1_10_2_spark.sources.cassandra_cql import (
        CassandraCqlSink,
    )
    from my_flink_1_10_2_spark.testing import InMemoryCqlServer

    server = InMemoryCqlServer(fail_each_batch_once=True)
    try:
        sink = CassandraCqlSink(
            "127.0.0.1", "ks", "nation_t",
            port=server.port, batch_max_statements=7,
            max_retries=2, retry_delay_s=0.01,
        )
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        sink(src, 0)
        n_src = src.count()
        if server.failed_batches == 0:
            raise ValueError("server injected no WriteTimeouts — retry unproven")
        if len(server.upserts) != n_src:
            raise ValueError(
                f"idempotent retry must land every key exactly once: "
                f"{len(server.upserts)} upserted keys vs {n_src} source rows"
            )
        rows = []
        for (table, _pk), vals in server.upserts.items():
            if table != "ks.nation_t":
                raise ValueError(f"unexpected target table {table!r}")
            rows.append(
                (
                    int(vals["n_nationkey"]),
                    vals["n_name"][1:-1].replace("''", "'"),
                    int(vals["n_regionkey"]),
                )
            )
        back = spark.createDataFrame(
            rows, "n_nationkey long, n_name string, n_regionkey long"
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("key_total"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_hbase_region_busy_retry",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    category="formats",
)
def q_hbase_region_busy_retry(spark, sf_dir):
    """HBase REGION-BUSY retry graded over real HTTP (ref: the public
    HBase client's RegionTooBusy/CallQueueTooBig retry conditions, REST
    analog 503): the in-process Stargate emulator rejects every CellSet
    PUT's FIRST attempt with 503 and accepts the resend.  Rows are
    rowkey upserts, so whole-payload retry is idempotent — after the
    write the store must hold the parquet source exactly once per key
    (read back through range-partitioned scanners), with the injected
    failures asserted so a no-retry regression cannot pass vacuously."""
    from my_flink_1_10_2_spark.sources.hbase_rest import (
        HBaseSchema,
        HBaseTypedRestSink,
        hbase_rest_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryHBaseRestServer

    schema = HBaseSchema(
        "n_nationkey",
        "BIGINT",
        [
            ("n_name", "info", "name", "STRING"),
            ("n_regionkey", "info", "region", "INT"),
        ],
    )
    server = InMemoryHBaseRestServer(page_rows=4, fail_each_put_once=True)
    try:
        src = read(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", F.col("n_regionkey").cast("int")
        )
        HBaseTypedRestSink(
            server.url, "nation_t", schema, batch_max_rows=7,
            max_retries=2, retry_delay_s=0.01,
        )(src)
        if server.failed_puts == 0:
            raise ValueError("server injected no 503s — retry unproven")
        n_src = src.count()
        if len(server.store) != n_src:
            raise ValueError(
                f"idempotent retry must land every rowkey exactly once: "
                f"{len(server.store)} stored vs {n_src} source rows"
            )
        back = hbase_rest_source(
            spark, server.url, "nation_t", schema, split_keys=[9, 17], batch=6
        )
        return (
            back.groupBy(F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
            .agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
            .localCheckpoint()
        )
    finally:
        server.close()


@register(
    "q_arrow_ipc_roundtrip",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars, strlen(text) AS txt_bytes, lang,
             row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    )
    SELECT rk // 120 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_n_chars,
           CAST(sum(txt_bytes) AS BIGINT) AS total_txt_bytes
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_arrow_ipc_roundtrip(spark, sf_dir):
    """Arrow IPC (Feather v2) export -> distributed re-read -> per-shard
    audit.  documents rows are packed into canonical 120-sample Arrow
    file shards (sources/arrow_ipc.py: contiguous global-rank ranges,
    one task per shard both ways, atomic renames); re-read streams
    record batches through Arrow with schema-drift verification per
    shard.  The per-shard sums must match a direct SQL replay bitwise,
    proving the Arrow round trip is lossless for longs/strings — the
    interchange contract modern training loaders (pyarrow memmap,
    Polars, Ray Data) rely on."""
    import tempfile as _tf

    from my_flink_1_10_2_spark.sources.arrow_ipc import (
        read_arrow_shards,
        write_arrow_shards,
    )

    docs = read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    work = _tf.mkdtemp(prefix="fl_arrow_q_")
    try:
        write_arrow_shards(
            docs, work, key_col="doc_id",
            cols=["doc_id", "text", "lang", "n_chars"],
            samples_per_shard=120,
        ).collect()
        back = read_arrow_shards(spark, work, shard_col="shard_id")
        result = (
            back.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_samples"),
                F.min("doc_id").alias("first_key"),
                F.max("doc_id").alias("last_key"),
                F.countDistinct("lang").cast("bigint").alias("n_langs"),
                F.sum("n_chars").cast("bigint").alias("total_n_chars"),
                F.sum(F.length("text")).cast("bigint").alias("total_txt_bytes"),
            )
            .select(
                "shard_id", "n_samples", "first_key", "last_key",
                "n_langs", "total_n_chars", "total_txt_bytes",
            )
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_npy_shard_roundtrip",
    oracle="""
    WITH r AS (
      SELECT vec_id, embedding,
             row_number() OVER (ORDER BY vec_id) - 1 AS rk
      FROM embeddings
    )
    SELECT rk // 50 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS first_key,
           CAST(max(vec_id) AS BIGINT) AS last_key,
           CAST(sum(list_sum(list_transform(embedding,
                x -> round(CAST(x AS DOUBLE) * 1000)))) AS BIGINT) AS q_sum
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_npy_shard_roundtrip(spark, sf_dir):
    """.npy embedding-shard export -> distributed re-read -> per-shard
    integer audit.  embeddings rows become aligned int64-ids / float32-
    matrix .npy pairs in canonical 50-row shards (sources/npy_shards.py:
    hand-rolled v1.0 headers off the public numpy format spec, np.load-
    interoperable); the audit sums each vector's 1e-3-quantized elements
    — exact bigints, so any float32 corruption in header arithmetic,
    row alignment, or buffer slicing mismatches the oracle's direct
    replay.  This is the hand-off layout ANN index builders (FAISS
    ingest) consume."""
    import tempfile as _tf

    from my_flink_1_10_2_spark.sources.npy_shards import (
        read_npy_shards,
        write_npy_shards,
    )

    emb = read(spark, sf_dir, "embeddings")
    work = _tf.mkdtemp(prefix="fl_npy_q_")
    try:
        write_npy_shards(emb, work, samples_per_shard=50).collect()
        back = read_npy_shards(spark, work, shard_col="shard_id")
        qvec = F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        result = (
            back.select("shard_id", "vec_id", qvec.alias("__q"))
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.min("vec_id").alias("first_key"),
                F.max("vec_id").alias("last_key"),
                F.sum("__q").cast("bigint").alias("q_sum"),
            )
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_wet_shard_roundtrip",
    oracle="""
    WITH r AS (
      SELECT doc_id, strlen(text) AS txt_chars,
             octet_length(CAST(text AS BLOB)) AS txt_bytes,
             row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    )
    SELECT rk // 150 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_records,
           min('urn:doc:' || CAST(doc_id AS VARCHAR)) AS first_uri,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key,
           CAST(sum(txt_chars) AS BIGINT) AS total_chars,
           CAST(sum(txt_bytes) AS BIGINT) AS total_bytes
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_wet_shard_roundtrip(spark, sf_dir):
    """WARC/WET export -> distributed re-read -> per-shard audit.  The
    Common Crawl container (ISO 28500 WARC 1.0 framing, WET conversion
    records, one gzip member per record with mtime=0 so shard bytes are
    deterministic — sources/warc.py) written in canonical 150-record
    shards and re-read one task per shard, skipping the warcinfo record
    the way a WET consumer does.  Per-shard counts, URI/key ranges and
    exact char/byte sums must match the SQL replay — the header parse,
    Content-Length framing, and multi-member gunzip are all on the
    graded path."""
    import tempfile as _tf

    from my_flink_1_10_2_spark.sources.warc import (
        read_wet_shards,
        write_wet_shards,
    )

    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    work = _tf.mkdtemp(prefix="fl_wet_q_")
    try:
        write_wet_shards(docs, work, samples_per_shard=150).collect()
        back = read_wet_shards(spark, work, shard_col="shard_id")
        parsed = back.select(
            "shard_id",
            "doc_uri",
            F.regexp_extract("doc_uri", r"urn:doc:(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.length("text").alias("txt_chars"),
            F.octet_length("text").alias("txt_bytes"),
        )
        result = parsed.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("doc_uri").alias("first_uri"),
            F.min("doc_id").alias("first_key"),
            F.max("doc_id").alias("last_key"),
            F.sum("txt_chars").cast("bigint").alias("total_chars"),
            F.sum("txt_bytes").cast("bigint").alias("total_bytes"),
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_jsonl_zst_roundtrip",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars, strlen(text) AS txt_chars,
             row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    )
    SELECT rk // 180 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_n_chars,
           CAST(sum(txt_chars) AS BIGINT) AS total_txt_chars
    FROM r GROUP BY 1
    """,
    category="formats",
)
def q_jsonl_zst_roundtrip(spark, sf_dir):
    """.jsonl.zst export -> distributed re-read -> per-shard audit: the
    Pile/RedPajama/Dolma corpus container (one JSON object per line,
    whole-file zstd framing via pyarrow's bundled codec —
    sources/jsonl_zst.py) in canonical 180-record shards, deterministic
    bytes (sorted keys, fixed separators).  Per-shard counts, key
    ranges, language cardinality, and char sums must match the SQL
    replay — JSON escaping of arbitrary fixture text and the zstd
    stream framing are both on the graded path."""
    import tempfile as _tf

    from my_flink_1_10_2_spark.sources.jsonl_zst import (
        read_jsonl_zst_shards,
        write_jsonl_zst_shards,
    )

    docs = read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    work = _tf.mkdtemp(prefix="fl_jzst_q_")
    try:
        write_jsonl_zst_shards(docs, work, samples_per_shard=180).collect()
        back = read_jsonl_zst_shards(
            spark, work,
            {"doc_id": "long", "text": "string", "lang": "string",
             "n_chars": "long"},
            shard_col="shard_id",
        )
        result = back.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("doc_id").alias("first_key"),
            F.max("doc_id").alias("last_key"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("total_n_chars"),
            F.sum(F.length("text")).cast("bigint").alias("total_txt_chars"),
        )
        return spark.createDataFrame(result.toArrow(), result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_merkle_manifest",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|'
                 || CAST(n_chars AS VARCHAR) || '|' || text) AS rd,
             (row_number() OVER (ORDER BY doc_id) - 1) // 200 AS shard_id
      FROM documents
    ),
    shards AS (
      SELECT shard_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(doc_id) AS BIGINT) AS first_key,
             CAST(max(doc_id) AS BIGINT) AS last_key,
             md5(string_agg(rd, '' ORDER BY doc_id)) AS shard_digest
      FROM r GROUP BY shard_id
    ),
    root AS (
      SELECT md5(string_agg(shard_digest, '' ORDER BY shard_id)) AS root_digest
      FROM shards
    )
    SELECT s.shard_id, s.n_rows, s.first_key, s.last_key,
           s.shard_digest, root.root_digest
    FROM shards s CROSS JOIN root
    """,
    category="formats",
)
def q_merkle_manifest(spark, sf_dir):
    """Merkle shard-integrity manifest (operators/integrity.py): per-
    shard order-sensitive digests of row content hashes plus a corpus
    root digest — the verification artifact a 100 TB corpus hand-off
    ships alongside the data.  Any flipped byte, dropped row, or shard
    reorder changes the root, and both engines fold the identical md5
    chain, so the digests themselves grade bitwise.  JVM expressions
    only (md5 + sorted collect + concat); one shard-keyed shuffle and a
    shard-count-sized root fold."""
    from my_flink_1_10_2_spark.operators.integrity import merkle_manifest

    docs = read(spark, sf_dir, "documents")
    return merkle_manifest(
        docs, "doc_id", ["doc_id", "lang", "n_chars", "text"], rows_per_shard=200
    )

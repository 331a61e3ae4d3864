package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Producer-side JSON line sink — the Spark analog of the reference's
  * Kafka producer (producer/producer.py:22-25: JSON-serialize each event,
  * send to the topic at :60). With no Kafka jar in this sandbox the
  * durable form (`df.writeStream.format("kafka")` with a value column of
  * `to_json(struct(*))`) cannot execute, so the executable twin emits one
  * JSON line per row over TCP — same wire format the [[OhlcvStream
  * .fromResilientSocket]] consumer reads, so producer and consumer round-trip in
  * SocketFeedSpec/JsonFeedSinkSpec.
  *
  * Scale shape: `toJSON.foreachPartition` — EVERY partition opens its own
  * connection and streams its rows; no driver collect, no single-writer
  * funnel. That is the same fan-out a Kafka producer sink has (one
  * producer per task). Delivery is at-least-once under retries, like the
  * reference's fire-and-forget producer; the downstream upsert keys make
  * redelivery idempotent.
  */
object JsonFeedSink {

  /** `foreachBatch`-shaped sink: one TCP connection per partition per
    * micro-batch, one JSON line per row.
    */
  def toSocket(host: String, port: Int): (DataFrame, Long) => Unit = { (df, _) =>
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      if (it.hasNext) {
        val sock = new java.net.Socket(host, port)
        try {
          val out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(
              sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), false)
          it.foreach(out.println)
          out.flush()
        } finally sock.close()
      }
    }
  }

  /** Durable streaming form: every row JSON-serialized into the Kafka
    * `value` column (the reference producer's wire format,
    * producer/producer.py:24) and written with the in-box Kafka sink —
    * one producer per task, checkpointed offsets, at-least-once like the
    * reference. Requires `spark-sql-kafka-0-10` on the classpath; in tests
    * the KafkaEmulatedSpec `.start()`s this exact writer against
    * `graft.kafka.EmulatedKafkaProvider` (the test-classpath contract
    * double registered as `kafka`) and round-trips the published values
    * back through [[OhlcvStream.fromKafka]]'s schema.
    */
  def toKafkaWriter(stream: DataFrame, servers: String, topic: String,
                    checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime("60 seconds")): DataStreamWriter[Row] =
    stream
      .select(to_json(struct(stream.columns.map(stream.col): _*)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
}

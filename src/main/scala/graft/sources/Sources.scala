package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Batch and streaming readers — the engine's Source surface.
  *
  * The reference's sources are Kafka consumers plus JSON serde
  * (reference src/lib.rs:25-37, example/shakespeare_loader.rs). Spark
  * re-expression: `spark.read` / `spark.readStream` over columnar
  * formats; Kafka maps to the `kafka` streaming source when the
  * connector jar is on the classpath (not available in this offline
  * container, so it is surfaced but untested here).
  */
object Sources {

  /** Read one named parquet table from a scale-factor directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def jsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC reader — the columnar interchange format besides parquet that
    * ships native in spark-sql (predicate pushdown + column pruning
    * apply exactly as for parquet).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** True iff the spark-avro connector is on the classpath. Like Kafka
    * it is a separate artifact (absent in this offline container); on a
    * real cluster submit with
    * `--packages org.apache.spark:spark-avro_2.13:<spark-version>`.
    */
  def avroAvailable: Boolean =
    // NOT Class.forName: Spark 4 ships the avro classes inside
    // spark-sql while the "avro" source registration stays in the
    // external artifact — only the registry lookup answers correctly
    org.apache.spark.sql.GraftBridge.dataSourceAvailable("avro")

  private[graft] def requireAvro(): Unit =
    if (!avroAvailable)
      throw new IllegalStateException(
        "the spark-avro connector is not on the classpath; submit with " +
          "--packages org.apache.spark:spark-avro_2.13:<spark-version>")

  /** Avro reader — the row-oriented interchange format of the Kafka /
    * schema-registry world (the reference's JSON serde upgraded to a
    * schema'd wire format). Classpath-gated exactly like Kafka; the
    * round-trip spec runs wherever the jar is present.
    */
  def avro(spark: SparkSession, path: String): DataFrame = {
    requireAvro()
    spark.read.format("avro").load(path)
  }

  // ---- streaming sources -------------------------------------------------

  /** Streaming parquet directory source (file-arrival stream). */
  def parquetStream(spark: SparkSession, path: String, schemaFrom: DataFrame): DataFrame =
    spark.readStream.schema(schemaFrom.schema).parquet(path)

  // ---- kafka -------------------------------------------------------------
  //
  // The reference is Kafka-native: its sources are samsa consumers
  // flattened into a record stream (reference src/lib.rs:43-55
  // `into_flat_stream`) and its data model is ParsedMessage{key, value}
  // with JSON serde (reference src/lib.rs:19-37). Spark re-expression:
  // `format("kafka")` yields the wire frame
  //   key binary, value binary, topic string, partition int,
  //   offset long, timestamp timestamp, timestampType int
  // and the serde layer below decodes that frame into ParsedMessage
  // columns. The decode functions are pure DataFrame→DataFrame — they
  // work on ANY frame with binary key/value columns, so they are fully
  // testable without a broker (KafkaSerdeSpec builds wire frames from
  // memory streams); only `kafkaStream`/`kafkaBatch` need the
  // spark-sql-kafka connector jar on the classpath.

  /** Kafka metadata columns we pass through when the input frame has
    * them (a hand-built test frame may not).
    */
  private val KafkaMeta = Seq("topic", "partition", "offset", "timestamp")

  /** True iff the spark-sql-kafka connector is on the classpath. The
    * offline build container does not ship it, so broker-touching specs
    * gate on this; on a real cluster submit with
    * `--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<version>`.
    */
  def kafkaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  private[graft] def requireKafka(): Unit =
    if (!kafkaAvailable)
      throw new IllegalStateException(
        "the spark-sql-kafka connector is not on the classpath; submit with " +
          "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>")

  /** Streaming Kafka topic source → raw wire frame (reference consumer,
    * example/shakespeare_consumer.rs:28-36). Decode with
    * [[fromKafkaRaw]] / [[fromKafkaJson]].
    */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame = {
    requireKafka()
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
  }

  /** Batch read of a topic's current contents — the bounded replay a
    * backfill job runs over the same wire frame the stream sees.
    */
  def kafkaBatch(spark: SparkSession, bootstrap: String, topic: String): DataFrame = {
    requireKafka()
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .load()
  }

  /** Decode a Kafka wire frame's key/value bytes as UTF-8 strings —
    * the reference's raw-bytes path (shakespeare: key = source file,
    * value = one word; example/shakespeare_loader.rs:43-53). Passes
    * through whichever Kafka metadata columns the frame carries.
    */
  def fromKafkaRaw(frames: DataFrame): DataFrame = {
    val meta = KafkaMeta.filter(frames.columns.contains).map(col)
    frames.select(
      (col("key").cast("string").as("key") +:
        col("value").cast("string").as("value") +: meta): _*)
  }

  /** Decode a Kafka wire frame whose value bytes are a JSON document —
    * the reference's ParsedMessage{key, value: T} JSON serde
    * (reference src/lib.rs:25-37 from_bytes). `value` becomes a struct
    * of `valueSchema`; malformed JSON yields null fields (PERMISSIVE
    * mode — the streaming-safe analogue of the reference's Result).
    */
  def fromKafkaJson(frames: DataFrame, valueSchema: DataType): DataFrame = {
    val meta = KafkaMeta.filter(frames.columns.contains).map(col)
    frames.select(
      (col("key").cast("string").as("key") +:
        from_json(col("value").cast("string"), valueSchema).as("value") +: meta): _*)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-log readers (SURVEY.md A1/A2/A14).
  *
  * The reference's source is the coprocessor hook pair `postPut`/`postDelete`
  * (`observer6/HbaseDataSyncEsObserver.java:83-113,126-136`); ours is any
  * DataFrame/stream conforming to [[Model.mutationSchema]]. For the driver
  * test corpus we reinterpret the `events` table as a change-log
  * (FIXTURES.md §2): `user_id` → row_key, `event_type == "error"` → whole-doc
  * delete, everything else → a put whose cells carry the typed columns as
  * UTF-8 strings (the reference's wire model — every value a string,
  * `observer6/HbaseDataSyncEsObserver.java:98-99`).
  */
object ChangeLog {

  /** events columns → `array<struct<family,qualifier,value>>` for op='U';
    * empty array for op='D'. Kept in one place so the DuckDB oracle SQL in
    * [[SparkEntry.oracleSql]] can mirror it exactly. */
  private def cellsExpr = when(col("op") === "D", array().cast(org.apache.spark.sql.types.ArrayType(Model.cellType)))
    .otherwise(array(
      struct(lit("ev").as("family"), lit("etype").as("qualifier"), col("event_type").as("value")),
      struct(lit("ev").as("family"), lit("val").as("qualifier"), format_string("%.2f", col("value")).as("value")),
      struct(lit("ev").as("family"), lit("k").as("qualifier"), get_json_object(col("props"), "$.k").as("value"))))

  /** Batch change-log from the driver `events` parquet. */
  def fromEvents(events: DataFrame): DataFrame =
    events
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select(
        col("user_id").cast("string").as("row_key"),
        col("op"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").as("seq"),
        cellsExpr.as("cells"))

  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(queries.Tables.events(spark, sfDir))

  /** JSON-lines change-log (one mutation object per line, schema-checked —
    * the permissive mode routes malformed lines to the quarantine filter
    * downstream rather than failing the pipeline, reference A17). */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Model.mutationSchema).option("mode", "PERMISSIVE").json(path)

  /** CSV change-log: flat columns + JSON-encoded cells column. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("row_key string, op string, ts timestamp, seq long, cells_json string")
      .option("header", "true")
      .csv(path)
      .withColumn("cells", coalesce(
        from_json(col("cells_json"), org.apache.spark.sql.types.ArrayType(Model.cellType)),
        array().cast(org.apache.spark.sql.types.ArrayType(Model.cellType))))
      .drop("cells_json")

  /** Typed view of a conforming change-log for the Scala API edge. */
  def typed(df: DataFrame): org.apache.spark.sql.Dataset[Mutation] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[Mutation]
  }

  /** Streaming change-log over a parquet directory (A1/A2). Admission control
    * via maxFilesPerTrigger is the Spark analog of the reference's 10k-op
    * size trigger (`observer6/ElasticSearchBulkOperator.java:26`). */
  def readStreamMutations(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Model.mutationSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  // ---- Kafka (SURVEY §1.3's third source kind) --------------------------
  // The reference's observer publishes its postPut/postDelete batches to a
  // transport; a Kafka topic carrying one mutation JSON per record value is
  // the streaming-platform shape of that same change-log. The format is
  // resolved by NAME ("kafka"), so this library compiles and links without
  // the connector jar; at runtime Spark resolves the standard
  // spark-sql-kafka-0-10 artifact from the session's classpath (it is part
  // of the Spark distribution, not an extra dependency of this library).

  /** Kafka wire frame (key/value/...) → [[Model.mutationSchema]].
    * PERMISSIVE like [[readJson]]: a malformed record becomes a
    * null-field row for the downstream quarantine filter (reference A17)
    * instead of failing the pipeline. Factored out of the readers so the
    * decode plumbing is testable without a broker. */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), Model.mutationSchema).as("m"))
      .select(col("m.row_key"), col("m.op"), col("m.ts"), col("m.seq"), col("m.cells"))

  /** Streaming Kafka change-log. `startingOffsets=earliest` replays the
    * topic into the index exactly like the file sources replay a
    * directory; `maxOffsetsPerTrigger` is the admission-control knob (the
    * reference's 10k-op size trigger, A9, in offset units). Partition
    * parallelism comes from the topic's partitioning — each Kafka
    * partition maps to Spark tasks without a shuffle, and the merge's
    * own key repartitioning downstream is unchanged. */
  def readStreamKafka(spark: SparkSession, bootstrapServers: String, topic: String,
                      maxOffsetsPerTrigger: Long = 10000L): DataFrame =
    decodeKafka(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load())

  /** Batch replay of a Kafka topic (bounded backfill of the same log). */
  def readKafka(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    decodeKafka(spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .load())
}

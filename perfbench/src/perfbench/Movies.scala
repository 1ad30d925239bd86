package perfbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{InMemorySchemaRegistry, KafkaWire}
import graft.streaming.ReplicationPipeline

/** The movies table of the reference's source database as Debezium
  * change records: a `{id}` key and a before/after/op/ts_ms envelope,
  * both Confluent-framed through an in-memory schema registry. */
object Movies {
  val Topic = "mssql.MoviesDB.cso.movies"

  val keySchema: StructType = StructType(Seq(StructField("id", IntegerType, nullable = false)))
  val payload: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("director", StringType),
    StructField("genre", StringType),
    StructField("release_year", IntegerType),
    StructField("duration_minutes", IntegerType),
    StructField("rating", DecimalType(3, 1)),
    StructField("budget", LongType),
    StructField("box_office", LongType),
    StructField("description", StringType),
    StructField("updated_at", LongType)))
  val envelope: StructType = StructType(Seq(
    StructField("before", payload),
    StructField("after", payload),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Target columns in table order, as the pipeline's uppercase
    * projection names them. */
  val targetColumns: Seq[String] =
    "ID" +: payload.fieldNames.toSeq.map(_.toUpperCase) :+ "__DELETED"

  final case class Wire(registry: InMemorySchemaRegistry, keyId: Int, valueId: Int,
      config: ReplicationPipeline.WireConfig)

  def wire(): Wire = {
    val registry = new InMemorySchemaRegistry
    val keyId = registry.register(s"$Topic-key", keySchema)
    val valueId = registry.register(s"$Topic-value", envelope)
    Wire(registry, keyId, valueId, ReplicationPipeline.WireConfig(
      kafka = KafkaWire.Config(brokers = "unused:9092", topic = Topic),
      registry = registry,
      keySchema = keySchema))
  }

  /** Pipeline config with the program's defaults: 2 s trigger, RocksDB
    * state and the JDBC sink's defaults, with the Derby dialect. */
  def pipeline(table: String, checkpointDir: String): ReplicationPipeline.Config =
    ReplicationPipeline.Config(
      keyField = "id",
      sink = JdbcMerge.Config(table, keyCols = Nil, dialect = JdbcMerge.Derby),
      checkpointDir = checkpointDir)

  private val Genres = Seq("drama", "comedy", "scifi", "horror", "action", "documentary")

  /** The after-image of movie `id` at `version`, as a Spark expression:
    * every field is a pure function of (seed, id, version). */
  def image(seed: Long, id: Column, version: Column): Column = {
    def pick(salt: Int, n: Long) = pmod(xxhash64(lit(seed), id, version, lit(salt)), lit(n))
    struct(
      concat(lit("movie "), id.cast("string"), lit(" v"), version.cast("string")).as("title"),
      concat(lit("director "), pick(1, 500).cast("string")).as("director"),
      element_at(array(Genres.map(lit): _*), (pick(2, Genres.size) + 1).cast("int")).as("genre"),
      (pick(3, 75) + 1950).cast("int").as("release_year"),
      (pick(4, 120) + 70).cast("int").as("duration_minutes"),
      ((pick(5, 90) + 10) / 10).cast(DecimalType(3, 1)).as("rating"),
      (pick(6, 300000000L) + 1000000L).as("budget"),
      pick(7, 900000000L).as("box_office"),
      concat_ws(" ", (8 to 15).map(salt => hex(xxhash64(lit(seed), id, version, lit(salt)))): _*)
        .as("description"),
      (version.cast("long") * 1000L + 1700000000000L).as("updated_at"))
  }

  /** Encode a change table (id, version, op, offset) into Confluent-framed
    * frames (key, value, offset). A change's `offset` is that of its last
    * frame: a delete is a rewrite record at `offset - 1` plus a tombstone
    * (NULL value) at `offset`. An update's before-image is the previous
    * version; a delete's is the deleted version. */
  def frames(changes: DataFrame, seed: Long, w: Wire): DataFrame = {
    val op = col("op")
    val none = lit(null).cast(payload)
    val env = struct(
      when(op === "c", none).when(op === "u", image(seed, col("id"), col("version") - 1))
        .otherwise(image(seed, col("id"), col("version"))).as("before"),
      when(op === "d", none).otherwise(image(seed, col("id"), col("version"))).as("after"),
      op.as("op"),
      (col("offset") + 1700000000000L).as("ts_ms"))
    changes
      .withColumn("tomb", explode(when(op === "d", array(lit(false), lit(true)))
        .otherwise(array(lit(false)))))
      .select(
        KafkaWire.avroEncodeWithId(struct(col("id").as("id")), keySchema, w.keyId).as("key"),
        when(col("tomb"), lit(null).cast(BinaryType))
          .otherwise(KafkaWire.avroEncodeWithId(env, envelope, w.valueId)).as("value"),
        when(op === "d" && !col("tomb"), col("offset") - 1).otherwise(col("offset")).as("offset"))
  }

  /** Derby in-memory database URL for `db`. */
  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db;create=true"

  /** The benchmark's JDBC connect closure: a plain connection when
    * untraced, a counting proxy when traced. */
  def connect(db: String, traced: Boolean): () => Connection = {
    val url = derbyUrl(db)
    if (traced) () => SinkCounters.proxy(DriverManager.getConnection(url))
    else () => DriverManager.getConnection(url)
  }

  def dropDerby(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception

  /** The target table as a DataFrame, read with Spark's own JDBC source. */
  def readTarget(spark: SparkSession, db: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", derbyUrl(db))
      .option("dbtable", "\"" + table + "\"")
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      .load()

  /** Rows present in one side only, both ways; 0 when the target equals
    * the model. `model` holds the latest non-deleted image per key. */
  def mismatches(target: DataFrame, model: DataFrame): Long = {
    val cols = targetColumns.map(col)
    val t = target.select(cols: _*)
    val m = model.select(cols: _*)
    t.exceptAll(m).count() + m.exceptAll(t).count()
  }

  /** The latest-non-deleted model over a change table (id, version, op,
    * offset), in plain Spark SQL: the highest-offset change of each key,
    * dropped when it is a delete, expanded to the target's column shape. */
  def model(seed: Long, changes: DataFrame): DataFrame =
    changes
      .groupBy("id")
      .agg(max_by(struct(col("version"), col("op")), col("offset")).as("last"))
      .filter(col("last.op") =!= "d")
      .select(col("id").as("ID"), image(seed, col("id"), col("last.version")).as("img"))
      .select(col("ID") +: payload.fieldNames.toSeq.map(f => col(s"img.$f").as(f.toUpperCase)) :+
        lit("false").as("__DELETED"): _*)
}

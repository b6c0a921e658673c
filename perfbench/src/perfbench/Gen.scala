package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Bronze
import graft.streaming.Pipeline

/** Seeded input generator. Every table the program sees is made here, in
  * the harness layout `graft.Tables` reads (`<dir>/<name>.parquet`).
  *
  * Event timestamps are whole milliseconds, so the wire's ms-epoch
  * serialisation is lossless: bars computed from the wire equal bars
  * computed from the events table, and the DuckDB oracles written
  * against `events` also describe results over the silver and gold tables.
  */
object Gen {

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val EventTypes = Array("click", "view", "signup", "purchase", "error")
  /** 2024-01-01T00:00:00Z, the harness tables' epoch. */
  val StartMs = 1704067200000L

  /** `n` events of `users` users (ids from `userBase`) spread uniformly
    * over `spanMs` from `startMs`, in event-time order. Timestamps are
    * distinct, so no bar has two trades tied for open or close.
    */
  def eventRows(seed: Long, n: Int, users: Int, userBase: Long = 0L, idBase: Long = 0L,
                startMs: Long = StartMs, spanMs: Long = 30L * 86400000L): IndexedSeq[Row] = {
    val rnd = new SplittableRandom(seed)
    val offsets = Array.fill(n)(rnd.nextLong(spanMs))
    java.util.Arrays.sort(offsets)
    (1 until n).foreach(i => offsets(i) = math.max(offsets(i), offsets(i - 1) + 1))
    (0 until n).map { i =>
      Row(idBase + i, new Timestamp(startMs + offsets(i)),
        userBase + rnd.nextInt(users), EventTypes(rnd.nextInt(5)),
        rnd.nextInt(50000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  def events(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, EventsSchema)

  /** A replay of event row `r` under a new Kafka offset. The offset moves
    * by a multiple of every modulus the wire derives from it, so the
    * payload is byte-identical to the original's.
    */
  def replay(r: Row): Row = Row.fromSeq((r.getLong(0) + 3000000000L) +: r.toSeq.tail)

  /** The wire's parquet schema, as Spark writes `graft.Schemas.kafka`. */
  private val WireParquet = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |  optional int32 timestampType;
      |  optional binary key;
      |  optional binary value;
      |}""".stripMargin)

  /** Writes `files(i)` (event rows with distinct ids) as wire file
    * `paths(i)`, and the watermark-flush sentinel after `maxMs` as
    * `paths(files.size)`. The wire is encoded by the program
    * (`Bronze.kafkaWireFromEvents`) in one Spark job and collected; the
    * files are written here with the plain parquet writer, as a broker
    * connector would land them, so many small files cost no Spark task each.
    */
  def wireFiles(spark: SparkSession, files: Seq[Seq[Row]], maxMs: Long, paths: Seq[Path]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.io.api.Binary
    require(paths.size == files.size + 1, "one path per file plus one for the sentinel")
    // wire offset = event id → (file, position in it)
    val at = files.indices.flatMap(i => files(i).zipWithIndex.map { case (r, j) =>
      r.getLong(0) -> (i, j) }).toMap
    val wire = Bronze.kafkaWireFromEvents(events(spark, files.flatten))
      .union(sentinel(spark, maxMs)).collect()
      .groupBy(r => at.get(r.getLong(2)).map(_._1).getOrElse(files.size))
    val groups = new SimpleGroupFactory(WireParquet)
    val conf = spark.sparkContext.hadoopConfiguration
    paths.indices.foreach { i =>
      val w = ExampleParquetWriter.builder(new LocalOutputFile(paths(i)))
        .withType(WireParquet).withConf(conf).build()
      try wire.getOrElse(i, Array.empty[Row]).sortBy(r => at.get(r.getLong(2)).map(_._2)).foreach { r =>
        val ts = r.getTimestamp(3)
        w.write(groups.newGroup()
          .append("topic", r.getString(0)).append("partition", r.getInt(1))
          .append("offset", r.getLong(2))
          .append("timestamp", ts.getTime * 1000 + ts.getNanos / 1000 % 1000)
          .append("timestampType", r.getInt(4))
          .append("key", Binary.fromConstantByteArray(r.getAs[Array[Byte]](5)))
          .append("value", Binary.fromConstantByteArray(r.getAs[Array[Byte]](6))))
      } finally w.close()
    }
  }

  private val Vocab = ("key agg row scan slow fast table value part hash merge " +
    "batch spark a the line sort window column order data join small " +
    "customer query big stream group filter vector").split(' ')
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** `n` token documents over a small vocabulary; about one in eight is a
    * lightly edited copy of an earlier one, so the dedup and similarity
    * jobs find real clusters.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new SplittableRandom(seed)
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { i =>
      val toks =
        if (i > 8 && rnd.nextInt(8) == 0) {
          val t = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ =>
            t(rnd.nextInt(t.length)) = Vocab(rnd.nextInt(Vocab.length)))
          t
        } else Array.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.length)))
      texts(i) = toks
      val text = toks.mkString(" ")
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
    spark.createDataFrame(rows.asJava, DocumentsSchema)
  }

  def writeTable(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The watermark-flush row `graft.streaming.Pipeline` uses: ten minutes
    * past `afterMs`, it drags every real bar out of the window state.
    */
  private def sentinel(spark: SparkSession, afterMs: Long): DataFrame = {
    val ts = new Timestamp(afterMs + 10 * 60 * 1000)
    spark.range(0, 1, 1, 1).select(
      lit("crypto.trades").as("topic"), lit(0).as("partition"),
      lit(-1L).as("offset"), lit(ts).as("timestamp"), lit(0).as("timestampType"),
      lit(Pipeline.SentinelSymbol).cast("binary").as("key"),
      to_json(struct(
        lit("kraken").as("exchange"), lit(Pipeline.SentinelSymbol).as("symbol"),
        lit(1.0).as("price"), lit(1.0).as("size"), lit("buy").as("side"),
        lit("limit").as("order_type"), lit(ts.getTime).as("ts_event"),
        lit(ts.getTime).as("ts_ingest"))).cast("binary").as("value"))
  }

}

object Io {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(rm)
      Files.delete(p)
    }

  /** Data files under `dir` (recursively), skipping Spark's metadata. */
  def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(s =>
          s.toString.startsWith("_") || s.toString.startsWith("."))
    }.toList
  }
}

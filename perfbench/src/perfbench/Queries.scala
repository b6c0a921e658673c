package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, AsOf, Gold}

/** Result digests: a SHA-256 over the rows in result order, each field
  * rendered the same way on every JVM (timestamps in UTC).
  */
object Digest {
  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def of(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    df.collect().foreach(r => md.update((render(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The stored digests of one workload, from the benchmark's JSON file. */
  def stored(path: String, workload: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val block = s""""$workload"\\s*:\\s*\\{([^}]*)\\}""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"no digests for $workload in $path")).group(1)
    """"([^"]+)"\s*:\s*"([0-9a-f]+)"""".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** One batch query of the closed loop: its name, the layer it exercises,
  * and how to build its DataFrame.
  */
final case class Query(name: String, layer: String, df: () => DataFrame)

/** The reference analysis queries of `graft.SparkEntry.queries`,
  * re-pointed at materialised silver and gold tables: the same operator
  * calls, reading the tables instead of recomputing bars from events.
  */
object GoldQueries {
  def all(spark: SparkSession, silverDir: String, goldDir: String): Seq[Query] = {
    // the trade columns graft.operators.Trades.fromEvents produces, from silver
    def t = spark.read.parquet(silverDir).select(col("offset").as("event_id"),
      col("exchange"), col("symbol"), col("event_time"), col("price"), col("size"),
      col("side"), col("order_type"), col("event_date"))
    def g = spark.read.parquet(goldDir)
    val byBar = Seq(col("symbol"), col("bar_start"))
    Seq[(String, () => DataFrame)](
      "bar_analytics" -> (() => Analytics.enrich(g).orderBy(byBar: _*)),
      "bars_gapfilled" -> (() =>
        Analytics.fillGaps(g.filter(col("symbol") === "SYM_7")).orderBy(col("bar_start"))),
      "trades_asof_bars" -> (() => AsOf.join(
        t.select("event_id", "symbol", "event_time", "price"),
        g.select("symbol", "bar_end", "close", "vwap"),
        "symbol", "event_time", "bar_end", Seq("close", "vwap")).orderBy(col("event_id"))),
      "symbol_correlation" -> (() =>
        Analytics.symbolCorrelation(Gold.bars(t, "1 hour"), (1 to 8).map(i => s"SYM_$i"))),
      "gold_bars_5m_sliding" -> (() => Gold.slidingBars(t).orderBy(byBar: _*)))
      .map { case (n, q) => Query(n, "analytics", q) }
  }
}

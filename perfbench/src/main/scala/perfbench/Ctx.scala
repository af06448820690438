package perfbench

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min, to_date}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a workload shares: the session, the input tables, the work
  * directory inside the checkout, the tracer, the ledger and the checks.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seed: Long) {
  val tracer = new Tracer
  val ledger = new Ledger
  val checks = new Checks(spark, s"$work/check")
  val rng = new scala.util.Random(seed)
  def tables: Tables = Tables(spark, data)

  /** First and last day an ad was created: seeded dates stay inside them. */
  lazy val dates: (LocalDate, LocalDate) = {
    val r = tables.orders.agg(to_date(min(col("o_orderdate"))),
      to_date(max(col("o_orderdate")))).head()
    (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
  }
}

/** Outputs kept for checking after the timed region.
  *
  * Oracle checks are written the way `graft.Verify` writes them — one
  * parquet directory per check plus `oracle_sql.json` — so the DuckDB
  * comparison of `tools/check.py` replays them unchanged. Property checks
  * run here, on rows already collected, and count their violations.
  */
final class Checks(spark: SparkSession, dir: String) {
  private val oracles = mutable.LinkedHashMap.empty[String, String]
  var properties = 0
  val violations = mutable.ArrayBuffer.empty[String]

  def oracle(name: String, df: DataFrame, sql: String): Unit = {
    require(!oracles.contains(name), s"duplicate check $name")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    oracles(name) = sql
  }

  def rows(name: String, rows: Array[Row], schema: StructType,
      sql: String): Unit =
    oracle(name, spark.createDataFrame(rows.toSeq.asJava, schema), sql)

  /** One property over an output; `bad` lists the offending items. */
  def property(name: String, bad: Iterable[String]): Unit = {
    properties += 1
    if (bad.nonEmpty)
      violations += s"$name: ${bad.size} violations, first ${bad.take(3).mkString("; ")}"
  }

  def count: Int = oracles.size

  def write(): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), oracles
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

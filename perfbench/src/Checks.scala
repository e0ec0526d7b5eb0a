package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Order-insensitive fingerprint of a frame: its row count and the decimal
  * sum of each row's xxhash64 over its columns in name order. Doubles are
  * rounded to 6 decimals, as the DuckDB oracle compares them, and -0.0 is
  * folded into 0.0, so summation order cannot change a fingerprint.
  */
object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => canon(x, et))
    case _: MapType => to_json(c)
    case _ => c
  }

  private def aggs(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    (count(lit(1)).as("n"), sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("h"))
  }

  private def part(n: Long, h: java.math.BigDecimal): (Long, BigDecimal) =
    (n, Option(h).map(BigDecimal(_)).getOrElse(BigDecimal(0)))

  /** Fingerprints are additive: the one of a union is built from its parts. */
  def combine(parts: Iterable[(Long, BigDecimal)]): String =
    s"${parts.map(_._1).sum}:${parts.map(_._2).sum}"

  def of(df: DataFrame): String = {
    val (n, h) = aggs(df)
    val r = df.agg(n, h).head()
    combine(Seq(part(r.getLong(0), r.getDecimal(1))))
  }

  /** Partial fingerprints per simulation_id; one part keyed -1 when the
    * frame has no such column.
    */
  def bySimulation(df: DataFrame): Map[Int, (Long, BigDecimal)] = {
    val (n, h) = aggs(df)
    val key = if (df.columns.contains("simulation_id")) col("simulation_id") else lit(-1)
    df.groupBy(key.as("sid")).agg(n, h).collect()
      .map(r => r.getInt(0) -> part(r.getLong(1), r.getDecimal(2))).toMap
  }

  /** `f` over `xs`, one Spark job each, four at a time. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    } finally pool.shutdown()
  }
}

/** Checks on program outputs, written as pure functions over frames so the
  * self-test can hand them perturbed outputs. Each returns why it failed.
  */
object Checks {
  private def diff[K](actual: Map[K, Long], expected: Map[K, Long]): Option[String] = {
    val bad = (actual.keySet ++ expected.keySet).toSeq
      .filter(k => actual.getOrElse(k, 0L) != expected.getOrElse(k, 0L))
    if (bad.isEmpty) None
    else Some(s"${bad.size} group(s) differ, e.g. " + bad.take(3).map(k =>
      s"$k: got ${actual.getOrElse(k, 0L)}, expected ${expected.getOrElse(k, 0L)}").mkString("; "))
  }

  private val groupCols = Seq("simulation_id", "window", "trial", "neuron_class")

  /** Report rows per (simulation, window, trial, class) against the count
    * made from the generated inputs.
    */
  def reportCounts(report: DataFrame, simIndex: Map[Int, Int],
      expected: Map[(Int, String, Int, String), Long]): Option[String] = {
    val actual = report.groupBy(groupCols.map(col): _*).count().collect().map { r =>
      (simIndex(r.getInt(0)), r.getString(1), r.getAs[Number](2).intValue, r.getString(3)) -> r.getLong(4)
    }.toMap
    diff(actual, expected)
  }

  /** Summed `by_gid_and_trial.count` per group against the report's rows,
    * over the windows the feature is computed for.
    */
  def gidTrialSums(byGidTrial: DataFrame, report: DataFrame, windows: Seq[String]): Option[String] = {
    def counts(df: DataFrame, agg: Column) =
      df.filter(col("window").isin(windows: _*)).groupBy(groupCols.map(col): _*).agg(agg).collect()
        .map(r => groupCols.indices.map(r.get) -> r.getAs[Number](4).longValue).toMap
    diff(counts(byGidTrial, sum("count")), counts(report, count(lit(1))))
  }

  def classSizes(neuronClasses: DataFrame, expected: Map[String, Long]): Option[String] =
    diff(neuronClasses.select("neuron_class", "count").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap, expected)

  def hashes(actual: Map[String, String], expected: Map[String, String]): Option[String] = {
    val bad = (actual.keySet ++ expected.keySet).toSeq.sorted.filter(k => actual.get(k) != expected.get(k))
    if (bad.isEmpty) None else Some(s"frames differ: ${bad.mkString(", ")}")
  }

  def hitRatio(hits: Int, misses: Int): Option[String] =
    if (hits > 0 && misses == 0) None else Some(s"hits=$hits misses=$misses, expected every frame a hit")
}

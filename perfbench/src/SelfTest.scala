package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Shows that every benchmark check passes on the program's real output and
  * fails on a deliberately perturbed copy of it: one dropped row, one
  * altered value, or one corrupted cache file.
  */
object SelfTest {
  private val Tiny = CampaignSize(sims = 2, spikesPerSim = 4000, neurons = 600, trials = 2)

  final case class Case(check: String, perturbation: String, passesClean: Boolean, trips: Boolean)

  private def dropOneRow(df: DataFrame): DataFrame =
    df.exceptAll(df.sparkSession.createDataFrame(df.head(1).toList.asJava, df.schema))

  /** Add one to `column` in the rows equal to the first row. */
  private def alterOne(df: DataFrame, column: String): DataFrame = {
    val r = df.head()
    val same = df.schema.fields.filterNot(_.dataType.isInstanceOf[ArrayType])
      .map(f => col(s"`${f.name}`") <=> lit(r.getAs[Any](f.name))).reduce(_ && _)
    df.withColumn(column, when(same, col(column) + 1).otherwise(col(column)))
  }

  def run(spark: SparkSession, work: Path, sfDir: String): (String, String) = {
    val cases = Seq.newBuilder[Case]
    def add(check: String, perturbation: String, clean: Option[String], bad: Option[String]): Unit =
      cases += Case(check, perturbation, clean.isEmpty, bad.nonEmpty)

    // campaign checks: a build, then a reuse iteration over its cache
    val root = work.resolve("selftest-campaign")
    Workload.deleteTree(root)
    val camp = new Campaign(Tiny, seed = 1)
    val w = new CampaignWorkload(spark, camp, root)
    def iteration(build: Boolean): Unit = {
      w.prepare(build); w.iterate(NoSpans, build); w.inspect(build)
      if (build) w.afterBuild()
    }
    iteration(build = true)
    iteration(build = false)
    val clean = w.checks().map(c => c.name -> c.failure).toMap
    val (report, bgt, classes, simIndex) = w.outputs()
    add("report_counts", "one report row dropped", clean("report_counts"),
      Checks.reportCounts(dropOneRow(report), simIndex, camp.expectedReportCounts))
    add("by_gid_and_trial_sums", "one by_gid_and_trial count altered", clean("by_gid_and_trial_sums"),
      Checks.gidTrialSums(alterOne(bgt, "count"), report, Campaign.RateWindows))
    add("neuron_class_sizes", "one class size altered", clean("neuron_class_sizes"),
      Checks.classSizes(alterOne(classes, "count"),
        camp.members.map { case (k, v) => k -> v.size.toLong }))
    val fp = w.fingerprints(simIndex)
    val halfReport = report.filter(col("simulation_id").isin(
      simIndex.collect { case (id, s) if s < camp.halfSims => id }.toSeq: _*))
    add("reuse_full_equals_cold", "one report value altered", clean("reuse_full_equals_cold"),
      Checks.hashes(fp("read") + ("repo/report" -> Fingerprint.of(alterOne(report, "gid"))), fp("written")))
    add("reuse_half_equals_cold", "one report row dropped", clean("reuse_half_equals_cold"),
      Checks.hashes(fp("read_half") + ("repo/report" -> Fingerprint.of(dropOneRow(halfReport))),
        fp("written_half")))
    // corrupt one cached data file: the program must rebuild that frame, so
    // the next reuse iteration is no longer all hits
    val victim = Files.walk(w.cacheDir.resolve("repo").resolve("windows.parquet")).iterator.asScala
      .find(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p)).get
    Files.write(victim, Array[Byte](0), java.nio.file.StandardOpenOption.APPEND)
    iteration(build = false)
    add("reuse_hit_ratio", "one cached file corrupted", clean("reuse_hit_ratio"),
      w.checks().find(_.name == "reuse_hit_ratio").get.failure)

    // operator_suite: pass-to-pass equality, and the oracle's input
    val q = "q1_pricing_summary"
    val df = graft.SparkEntry.queries(q)(spark, sfDir)
    val h = Map(q -> Fingerprint.of(df))
    add("pass_equals_written", "one result row dropped", Checks.hashes(Map(q -> Fingerprint.of(df)), h),
      Checks.hashes(Map(q -> Fingerprint.of(dropOneRow(df))), h))
    add("pass_equals_written", "one result value altered", Checks.hashes(Map(q -> Fingerprint.of(df)), h),
      Checks.hashes(Map(q -> Fingerprint.of(alterOne(df, "count_order"))), h))
    // run.py hands both directories to the DuckDB oracle: the clean one must
    // pass and the perturbed one must fail
    val verifyOk = work.resolve("selftest-verify-ok")
    val verifyBad = work.resolve("selftest-verify-bad")
    Seq(verifyOk, verifyBad).foreach(Workload.deleteTree)
    graft.Verify.run(spark, sfDir, verifyOk.toString, Some(Set(q)))
    Files.createDirectories(verifyBad)
    Files.copy(verifyOk.resolve("oracle_sql.json"), verifyBad.resolve("oracle_sql.json"))
    dropOneRow(spark.read.parquet(verifyOk.resolve(q).toString)).coalesce(1)
      .write.mode("overwrite").parquet(verifyBad.resolve(q).toString)

    val all = cases.result()
    val rows = all.map(c => Json.Raw(Json.obj(Seq("check" -> c.check, "perturbation" -> c.perturbation,
      "passes_clean" -> c.passesClean, "trips" -> c.trips))))
    val ok = all.forall(c => c.passesClean && c.trips)
    val out = Json.obj(Seq("self_test" -> rows, "ok" -> ok,
      "oracle_dirs" -> Seq(verifyOk.toString, verifyBad.toString), "oracle_query" -> q))
    (out, out)
  }
}

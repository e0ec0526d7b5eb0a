package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Training-data operators from `SparkEntry.queries`, run over the fixed
  * sf tables. A pass runs every query once; its action is the fingerprint
  * of the whole result, so every column is materialized and comparing
  * passes costs nothing more. After the build pass `Verify.run`, the
  * program's own oracle dump, writes every result for the DuckDB oracle.
  */
final class OperatorSuite(spark: SparkSession, sfDir: String, names: Seq[String], verifyDir: String)
    extends Workload {
  import Workload._

  require(new java.io.File(sfDir, "lineitem.parquet").exists, s"no sf tables under $sfDir")
  private val queries = graft.SparkEntry.queries
  names.foreach(n => require(queries.contains(n), s"unknown query $n"))

  /** Module of every registered query, from `<Module>.all` membership. */
  private val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.all, "Spikes" -> graft.queries.Spikes.all,
    "Text" -> graft.queries.Text.all, "Vectors" -> graft.queries.Vectors.all,
    "Engine" -> graft.queries.Engine.all, "Media" -> graft.queries.Media.all,
    "Tokenize" -> graft.queries.Tokenize.all).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private var lastPass: Map[String, String] = Map.empty
  private val passes = mutable.Map.empty[Boolean, Map[String, String]]
  private var lastBuild: Map[String, Double] = Map.empty
  private var failedQueries = Set.empty[String]
  // fingerprints of the results Verify.run wrote
  private var verified: Map[String, String] = Map.empty

  /** Fingerprints of the results `Verify.run` wrote. */
  private def written: Map[String, String] =
    Fingerprint.parallel(names.filterNot(failedQueries))(n =>
      n -> Fingerprint.of(spark.read.parquet(s"$verifyDir/$n"))).toMap

  /** A build pass starts with every memo cleared. */
  def prepare(build: Boolean): Unit = if (build) clearProgramState(spark)

  def iterate(sp: Spans, build: Boolean): Int = {
    lastPass = pass(sp)
    passes(build) = lastPass
    if (build) lastBuild = graft.queries.Text.buildTimings(spark)
    names.size
  }

  override def inspect(build: Boolean): Int = names.count(n => !lastPass.contains(n))

  private def pass(sp: Spans): Map[String, String] =
    names.flatMap { n =>
      try Some(n -> sp.span(s"query:$n")(Fingerprint.of(queries(n)(spark, sfDir))))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          failedQueries += n
          None
      }
    }.toMap

  /** Memory plus disk of the persisted frames the memos hold. */
  def stateMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Runs `Verify.run` over the suite, which writes each result where the
    * DuckDB oracle reads it. It runs every query once more on the memos the
    * build pass left, as a reuse pass does.
    */
  override def afterBuild(): Unit = {
    failedQueries ++= graft.Verify.run(spark, sfDir, verifyDir, Some(names.toSet)).keys
    verified = written
  }

  /** Compares the timed passes with what `Verify.run` wrote. */
  def checks(): Seq[Check] =
    Seq(
      Check("queries_succeed",
        if (failedQueries.isEmpty) None else Some(s"failed: ${failedQueries.toSeq.sorted.mkString(", ")}")),
      Check("build_pass_equals_written", Checks.hashes(passes.getOrElse(true, Map.empty), verified)),
      Check("reuse_pass_equals_written", Checks.hashes(passes.getOrElse(false, Map.empty), verified)))

  /** Query times come from the reuse passes; memo builds from the build pass. */
  def layerMetrics(tr: Tracer, builds: Seq[Span], reuses: Seq[Span]): Map[String, Double] = {
    val perIter = reuses.map(descendants(tr, _))
    def secs(iter: Seq[Span], pred: String => Boolean): Double =
      iter.filter(s => pred(s.name.stripPrefix("query:"))).map(_.seconds).sum
    val modules = OperatorSuite.Modules.map { m =>
      s"queries.$m.s" -> median(perIter.map(secs(_, n => moduleOf.get(n).contains(m))))
    }
    val heads = OperatorSuite.Heads.map { h =>
      s"queries.$h.s" -> median(perIter.map(secs(_, n => n.takeWhile(_ != '_') == h)))
    }
    val build = OperatorSuite.BuildStages.map(k => s"memo.build.$k.s" -> lastBuild.getOrElse(k, 0.0))
    (modules ++ heads ++ build).toMap ++ Map(
      "memo.build.s" -> lastBuild.values.sum,
      "memo.storage_mb" -> stateMb)
  }

  def sizes: Seq[(String, Any)] = Seq(
    "sf_dir" -> sfDir, "queries" -> names) ++ OperatorSuite.Tables.flatMap { t =>
      val p = new java.io.File(sfDir, s"$t.parquet")
      if (p.exists) Some(s"rows.$t" -> spark.read.parquet(p.getPath).count()) else None
    }
}

object OperatorSuite {
  val Modules = Seq("Relational", "Text", "Tokenize", "Vectors")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Query name prefixes with their own per-layer time. */
  val Heads = Seq("t19", "t20", "v5")

  /** The `Text.buildTimings` stages the suite builds: t19's posting lists
    * and t20's simhash frame.
    */
  val BuildStages = Seq("posts8", "simhash")
}

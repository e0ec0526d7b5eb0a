package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Shape of a generated campaign. Every seed gets exactly these sizes, so
  * runs with different seeds do the same amount of work.
  */
final case class CampaignSize(sims: Int, spikesPerSim: Int, neurons: Int, trials: Int) {
  def spikes: Long = sims.toLong * spikesPerSim
}

/** A neuron class with its predicate written out over the node columns. */
final case class ClassDef(name: String, yaml: String, member: (Int, Boolean) => Boolean,
    limit: Option[Int] = None)

/** A seeded campaign in the `ParquetAdapter` layout: one `(time, gid)`
  * parquet directory per simulation and one circuit node table with
  * `layer`, `synapse_class` and `mtype`. Inputs are written with Spark's own
  * parquet writer, never with the program's writers, and the expected
  * report counts are computed here from the generated arrays.
  */
final class Campaign(val size: CampaignSize, val seed: Long) {
  import Campaign._

  private val rng = new java.util.SplittableRandom(seed)

  /** Node properties, indexed by gid. */
  val layer: Array[Int] = Array.fill(size.neurons) {
    val u = rng.nextDouble()
    LayerCdf.indexWhere(u < _) + 1
  }
  val exc: Array[Boolean] = Array.fill(size.neurons)(rng.nextDouble() < 0.8)
  val mtype: Array[String] = Array.tabulate(size.neurons) { g =>
    s"L${layer(g)}_" + (if (exc(g)) "PC" else Seq("BC", "MC", "NGC")(g % 3))
  }

  /** Spike trains, one pair of arrays per simulation, sorted by time. A
    * third of the spikes fall inside a stimulus window; the rest are spread
    * over the whole simulation. Times sit on the 0.025 ms simulation grid.
    */
  val (times, gids): (Array[Array[Double]], Array[Array[Long]]) = {
    val simDuration = size.trials * TrialStep
    val perSim = (0 until size.sims).map { _ =>
      val t = Array.fill(size.spikesPerSim) {
        if (rng.nextInt(3) == 0)
          rng.nextInt(size.trials) * TrialStep + rng.nextInt((StimLength / Dt).toInt) * Dt
        else rng.nextInt((simDuration / Dt).toInt) * Dt
      }
      // skewed firing: low gids fire more often
      val g = Array.fill(size.spikesPerSim) {
        val u = rng.nextDouble()
        math.min(size.neurons - 1, (u * u * size.neurons).toLong)
      }
      val order = t.indices.sortBy(i => (t(i), g(i)))
      (order.map(t).toArray, order.map(g).toArray)
    }
    (perSim.map(_._1).toArray, perSim.map(_._2).toArray)
  }

  val classes: Seq[ClassDef] = Seq(
    ClassDef("L23_EXC", "{query: {layer: [2, 3], synapse_class: EXC}}",
      (l, e) => (l == 2 || l == 3) && e),
    ClassDef("L5_INH", "{query: {layer: 5, synapse_class: INH}}", (l, e) => l == 5 && !e),
    ClassDef("EXC", "{query: {synapse_class: EXC}}", (_, e) => e),
    ClassDef("L4_sample", s"{query: {layer: 4}, limit: $SampleLimit}", (l, _) => l == 4,
      limit = Some(SampleLimit)))

  /** Member gids of each class. A `limit` keeps the first gids by md5 of
    * `"<gid>:<config seed>"`, the documented deterministic sample.
    */
  lazy val members: Map[String, Set[Long]] = classes.map { c =>
    val all = (0 until size.neurons).filter(g => c.member(layer(g), exc(g))).map(_.toLong)
    val kept = c.limit match {
      case Some(n) => all.sortBy(g => (md5Hex(s"$g:$ConfigSeed"), g)).take(n)
      case None => all
    }
    c.name -> kept.toSet
  }.toMap

  /** (window, trial, start, stop) of every window trial. */
  lazy val windowTrials: Seq[(String, Int, Double, Double)] =
    (0 until size.trials).map { k =>
      val off = 0.0 + k * TrialStep
      ("stimulus", k, off + 0.0, off + StimLength)
    } :+ (("full", 0, 0.0, size.trials * TrialStep))

  /** Expected report rows per (simulation index, window, trial, class). */
  lazy val expectedReportCounts: Map[(Int, String, Int, String), Long] = {
    val out = mutable.Map.empty[(Int, String, Int, String), Long].withDefaultValue(0L)
    val memberOf = Array.tabulate(size.neurons)(g =>
      classes.map(_.name).filter(c => members(c).contains(g.toLong)))
    for (s <- 0 until size.sims; i <- times(s).indices; (w, k, lo, hi) <- windowTrials) {
      val t = times(s)(i)
      if (t >= lo && t < hi)
        for (c <- memberOf(gids(s)(i).toInt)) out((s, w, k, c)) += 1
    }
    out.toMap
  }

  /** Write the inputs, the campaign and the two analysis configs under
    * `root`; returns the paths of the full and the half-campaign configs.
    */
  def write(spark: SparkSession, root: Path): (Path, Path) = {
    val camp = root.resolve("campaign")
    val spikeSchema = StructType(Seq(
      StructField("time", DoubleType, nullable = false),
      StructField("gid", LongType, nullable = false)))
    for (s <- 0 until size.sims) {
      val rows = new java.util.ArrayList[Row](size.spikesPerSim)
      var i = 0
      while (i < size.spikesPerSim) { rows.add(Row(times(s)(i), gids(s)(i))); i += 1 }
      spark.createDataFrame(rows, spikeSchema).coalesce(1)
        .write.parquet(camp.resolve(simDir(s)).toString)
    }
    val nodeSchema = StructType(Seq(
      StructField("gid", LongType, nullable = false),
      StructField("layer", LongType, nullable = false),
      StructField("synapse_class", StringType, nullable = false),
      StructField("mtype", StringType, nullable = false)))
    val nodeRows = new java.util.ArrayList[Row](size.neurons)
    for (g <- 0 until size.neurons)
      nodeRows.add(Row(g.toLong, layer(g).toLong, if (exc(g)) "EXC" else "INH", mtype(g)))
    val nodes = camp.resolve("circuit").resolve("nodes.parquet")
    spark.createDataFrame(nodeRows, nodeSchema).coalesce(1).write.parquet(nodes.toString)

    val campaignYaml = root.resolve("campaign.yaml")
    Files.writeString(campaignYaml,
      s"""name: perfbench-campaign
         |attrs:
         |  path_prefix: $camp
         |data:
         |""".stripMargin +
        (0 until size.sims).map(s =>
          s"  - {simulation_path: ${simDir(s)}, circuit_path: $nodes, stim_id: $s, " +
            s"depol: ${80 + 5 * (s % 4)}}\n").mkString)
    val full = root.resolve("analysis.yaml")
    val half = root.resolve("analysis_half.yaml")
    Files.writeString(full, analysisYaml(campaignYaml, root.resolve("cache"), None))
    Files.writeString(half,
      analysisYaml(campaignYaml, root.resolve("cache"), Some(s"{stim_id: {lt: $halfSims}}")))
    (full, half)
  }

  /** Simulations kept by the half-campaign filter. */
  def halfSims: Int = size.sims / 2

  def inputBytes(root: Path): Long = Workload.dirBytes(root.resolve("campaign"))

  private def analysisYaml(campaign: Path, cache: Path, filter: Option[String]): String =
    s"""simulation_campaign: $campaign
       |cache: {path: $cache}
       |seed: $ConfigSeed
       |""".stripMargin +
      filter.map(f => s"simulations_filter: $f\n").getOrElse("") +
      s"""analysis:
         |  spikes:
         |    extraction:
         |      report: {type: spikes}
         |      neuron_classes:
         |""".stripMargin +
      classes.map(c => s"        ${c.name}: ${c.yaml}\n").mkString +
      s"""      windows:
         |        stimulus: {bounds: [0, $StimLength], n_trials: ${size.trials}, trial_steps_value: $TrialStep}
         |        full: {bounds: [0, ${size.trials * TrialStep}]}
         |    features:
         |      - groupby: [simulation_id, circuit_id, neuron_class, window]
         |        function: mean_firing_rates
         |        windows: [${RateWindows.mkString(", ")}]
         |      # mean_firing_rates already emits `by_gid` and `histograms`; a
         |      # one-value params_product gives the next two a distinct suffix
         |      - groupby: [simulation_id, circuit_id, neuron_class, window]
         |        function: spike_stats
         |        windows: [full]
         |        params_product: {variant: [isi]}
         |      - groupby: [simulation_id, circuit_id, neuron_class, window]
         |        function: histograms
         |        windows: [stimulus]
         |        params_product: {bin_size: [10.0]}
         |""".stripMargin
}

object Campaign {
  val Dt = 0.025
  val TrialStep = 1000.0
  val StimLength = 200.0
  val SampleLimit = 200
  val ConfigSeed = 7
  /** Windows mean_firing_rates is computed for. */
  val RateWindows = Seq("stimulus")
  private val LayerCdf = Array(0.05, 0.30, 0.50, 0.70, 0.90, 1.0001)

  /** Feature outputs by the function that makes them, as the config names them. */
  val FeatureOutputs: Seq[(String, Seq[String])] = Seq(
    "mean_firing_rates" -> Seq(
      "by_gid", "by_gid_and_trial", "by_neuron_class", "by_neuron_class_and_trial", "histograms"),
    "spike_stats" -> Seq("by_gid_0"),
    "histograms" -> Seq("histograms_0"))

  def simDir(s: Int): String = f"sim_$s%03d"

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

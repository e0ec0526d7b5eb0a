package perfbench

import graft.engine.{MultiAnalyzer, ParquetAdapter, Repository}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Span recording, or nothing when the run is untraced. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** A check run outside the timed window: `None` passes, `Some` says why not. */
final case class Check(name: String, failure: Option[String])

/** One benchmark workload. A build iteration first throws away the state
  * the program reuses; a reuse iteration keeps it. The runner times
  * [[iterate]]; [[prepare]] and [[inspect]] run outside the timed window.
  */
trait Workload {
  def prepare(build: Boolean): Unit
  /** One iteration; returns the number of operations attempted. */
  def iterate(sp: Spans, build: Boolean): Int
  /** Failed operations of the iteration that just ended. */
  def inspect(build: Boolean): Int = 0
  /** Runs once after the build iteration, outside the timed window: the
    * checks on what the build left.
    */
  def afterBuild(): Unit = ()
  /** Megabytes of reusable state the program keeps after an iteration. */
  def stateMb: Double
  def checks(): Seq[Check]
  /** Per-layer metrics from the traced iterations' root spans. */
  def layerMetrics(tr: Tracer, builds: Seq[Span], reuses: Seq[Span]): Map[String, Double]
  def sizes: Seq[(String, Any)]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def walk[T](p: Path)(f: Iterator[Path] => T): T = {
    val st = Files.walk(p)
    try f(st.iterator.asScala) finally st.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L else walk(p)(_.filter(Files.isRegularFile(_)).map(Files.size).sum)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p)(_.toSeq.reverse.foreach(Files.delete))

  /** Regular files under `dir`: relative path -> (bytes, modified ms). */
  def listFiles(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else walk(dir)(_.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap)

  /** The program's in-process memo state: the four clear hooks, plus
    * Spark's own cache of persisted frames.
    */
  def clearProgramState(spark: SparkSession): Unit = {
    graft.queries.Text.clearCaches(spark)
    graft.queries.Tokenize.clearCaches(spark)
    graft.queries.Vectors.clearIndexCache(spark)
    graft.queries.Relational.clearBucketedCache(spark)
    spark.catalog.clearCache()
  }

  /** Spans below `root`, depth first. */
  def descendants(tr: Tracer, root: Span): Seq[Span] = {
    val byParent = tr.all.groupBy(_.parent)
    def under(s: Span): Seq[Span] = byParent.getOrElse(s.id, Nil).flatMap(c => c +: under(c))
    under(root)
  }

  /** Spark counters summed over the traced iterations under `roots`. */
  def sparkMetrics(tr: Tracer, roots: Seq[Span], cores: Int): Map[String, Double] = {
    val c = new Counters
    roots.foreach(r => c += tr.inclusive(r))
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task.s" -> c.taskMs / 1e3,
      "spark.plan.s" -> c.planMs / 1e3,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> c.spillBytes / 1e6,
      "spark.busy_ratio" -> c.taskMs / 1e3 / (roots.map(_.seconds).sum * cores))
  }
}

/** State of one cached frame: manifest checksum and its data files. */
final case class CachedFrame(checksum: String, files: Seq[(String, Long, Long)])

/** A blueetl campaign analysed through `MultiAnalyzer`. A build iteration
  * is a user's first analysis of the campaign: from an empty cache
  * directory it extracts the five frames and computes and writes every
  * feature frame. A reuse iteration is the daily re-open of the analysed
  * campaign: a fresh `MultiAnalyzer` loads and reads every frame from the
  * cache, then again under a filter that keeps half the simulations.
  */
final class CampaignWorkload(spark: SparkSession, c: Campaign, root: Path) extends Workload {
  import Workload._

  private val (fullCfg, halfCfg) = c.write(spark, root)
  private val cacheRoot = root.resolve("cache")
  private val cache = cacheRoot.resolve("spikes")
  private val frameKeys: Seq[String] =
    Repository.Names.map("repo/" + _) ++ Campaign.FeatureOutputs.flatMap(_._2).map("features/" + _)

  // cache state before the current iteration, and the frames it reached
  private var before: Map[String, CachedFrame] = Map.empty
  private var beforeFiles: Map[String, (Long, Long)] = Map.empty
  private var accessed: Seq[String] = Nil
  // over reuse iterations: how many, frames loaded unchanged, frames rebuilt
  private var reuseCount = 0
  private var reuseHits = 0
  private var reuseMisses = 0
  private var lastWrittenBytes = 0L
  // the frames the last reuse iteration read: full, half
  private var reused: (Map[String, DataFrame], Map[String, DataFrame]) = (Map.empty, Map.empty)

  def prepare(build: Boolean): Unit = {
    if (build) {
      clearProgramState(spark)
      deleteTree(cacheRoot)
    }
    before = snapshot()
    beforeFiles = listFiles(cache)
    accessed = Nil
  }

  def iterate(sp: Spans, build: Boolean): Int =
    if (build) openAndPull(sp, fullCfg, None)
    else {
      val full, half = mutable.Map.empty[String, DataFrame]
      val n = openAndPull(sp, fullCfg, Some(full)) + openAndPull(sp, halfCfg, Some(half))
      reused = (full.toMap, half.toMap)
      n
    }

  /** Open the analysis and pull every frame through it. With `read`, each
    * frame the cache hands back lazily is read in full and kept for the
    * checks.
    */
  private def openAndPull(sp: Spans, cfg: Path, read: Option[mutable.Map[String, DataFrame]]): Int = {
    val ma = sp.span("engine.open")(MultiAnalyzer.fromFile(spark, cfg.toString))
    try {
      val a = ma("spikes")
      def pull(key: String)(df: => DataFrame): Unit = sp.span("frame:" + key) {
        val d = df
        read.foreach { kept =>
          noop(d)
          kept(key) = d
        }
        accessed :+= key
      }
      sp.span("engine.extract") {
        Repository.Names.foreach(n => pull("repo/" + n)(a.df(n)))
      }
      val feats = sp.span("engine.features.plan")(a.calculateFeatures())
      for ((fn, outs) <- Campaign.FeatureOutputs)
        sp.span("engine.features." + fn) {
          outs.foreach(o => pull("features/" + o)(feats(o)))
        }
      frameKeys.size
    } finally ma.close()
  }

  /** A reused frame is a hit when its manifest entry and data files are
    * the same after the iteration as before it.
    */
  override def inspect(build: Boolean): Int = {
    val after = snapshot()
    val hits = accessed.count(k => before.get(k).exists(after.get(k).contains))
    if (build) lastWrittenBytes = listFiles(cache).collect {
      case (f, st) if !beforeFiles.get(f).contains(st) => st._1
    }.sum
    else {
      reuseCount += 1
      reuseHits += hits
      reuseMisses += accessed.size - hits
    }
    0
  }

  private def snapshot(): Map[String, CachedFrame] = {
    val mf = cache.resolve("manifest.json")
    if (!Files.exists(mf)) return Map.empty
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(mf.toFile, classOf[java.util.Map[String, String]]).asScala.toMap
    val files = listFiles(cache).toSeq
    frameKeys.flatMap { k =>
      manifest.get(k).map { sum =>
        val prefix = k + ".parquet/"
        k -> CachedFrame(sum, files.collect { case (f, (n, t)) if f.startsWith(prefix) => (f, n, t) }.sorted)
      }
    }.toMap
  }

  def stateMb: Double = dirBytes(cache) / 1e6

  def cacheDir: Path = cache

  /** The last build's output as written: every cached frame read straight
    * from its parquet files, past the program's cache manager.
    */
  private def written: Seq[(String, DataFrame)] =
    frameKeys.map(k => k -> spark.read.parquet(cache.resolve(k + ".parquet").toString))

  /** The cached report, by_gid_and_trial and neuron_classes frames as
    * written, and the generated simulation index of each simulation_id.
    */
  def outputs(): (DataFrame, DataFrame, DataFrame, Map[Int, Int]) = {
    val f = written.toMap
    val sims = f("repo/simulations").select("simulation_id", "simulation_path").collect().map { r =>
      r.getInt(0) -> (0 until c.size.sims).find(s =>
        r.getString(1).stripSuffix("/").endsWith("/" + Campaign.simDir(s))).get
    }.toMap
    (f("repo/report"), f("features/by_gid_and_trial"), f("repo/neuron_classes"), sims)
  }

  // checks on the frames the build wrote, and their fingerprints: in full
  // and narrowed by the benchmark to the half-campaign simulations
  private var writtenChecks: Seq[Check] = Nil
  private var writtenFp: Map[String, Map[String, String]] = Map.empty

  /** Checks the frames the build wrote, then re-opens the campaign once,
    * in full and half, untimed: the first re-opens in a process compile
    * the cache's read path, which no timed reuse iteration should pay.
    */
  override def afterBuild(): Unit = {
    val (report, bgt, classes, sims) = outputs()
    writtenFp = writtenFingerprints(sims)
    writtenChecks = Seq(
      Check("report_counts", Checks.reportCounts(report, sims, c.expectedReportCounts)),
      Check("by_gid_and_trial_sums", Checks.gidTrialSums(bgt, report, Campaign.RateWindows)),
      Check("neuron_class_sizes",
        Checks.classSizes(classes, c.members.map { case (k, v) => k -> v.size.toLong })))
    Seq(fullCfg, halfCfg).foreach(openAndPull(NoSpans, _, Some(mutable.Map.empty)))
  }

  private def writtenFingerprints(sims: Map[Int, Int]): Map[String, Map[String, String]] = {
    val half = sims.collect { case (id, s) if s < c.halfSims => id }.toSet + -1
    val parts = Fingerprint.parallel(written) { case (k, df) => k -> Fingerprint.bySimulation(df) }.toMap
    Map(
      "written" -> parts.map { case (k, p) => k -> Fingerprint.combine(p.values) },
      "written_half" -> parts.map { case (k, p) => k -> Fingerprint.combine(p.filter(e => half(e._1)).values) })
  }

  private def readFingerprints: Map[String, Map[String, String]] = {
    def read(frames: Map[String, DataFrame]) =
      Fingerprint.parallel(frames.toSeq) { case (k, df) => k -> Fingerprint.of(df) }.toMap
    Map("read" -> read(reused._1), "read_half" -> read(reused._2))
  }

  /** Fingerprints of the frames as written, in full and narrowed to the
    * half-campaign simulations, and of the frames the last reuse iteration
    * read from its full and its half re-open.
    */
  def fingerprints(sims: Map[Int, Int]): Map[String, Map[String, String]] =
    writtenFingerprints(sims) ++ readFingerprints

  def checks(): Seq[Check] = {
    val fp = writtenFp ++ readFingerprints
    writtenChecks ++ Seq(
      Check("reuse_full_equals_cold", Checks.hashes(fp("read"), fp("written"))),
      Check("reuse_half_equals_cold", Checks.hashes(fp("read_half"), fp("written_half"))),
      Check("reuse_hit_ratio", Checks.hitRatio(reuseHits, reuseMisses)))
  }

  def layerMetrics(tr: Tracer, builds: Seq[Span], reuses: Seq[Span]): Map[String, Double] = {
    val buildSpans = builds.map(descendants(tr, _))
    val reuseSpans = reuses.map(descendants(tr, _))
    def frameSecs(iter: Seq[Span], pred: String => Boolean): Double =
      iter.filter(s => s.name.startsWith("frame:") && pred(s.name.stripPrefix("frame:")))
        .map(_.seconds).sum
    def medBuild(f: Seq[Span] => Double) = median(buildSpans.map(f))
    val extract = Repository.Names.map { n =>
      s"engine.extract.$n.s" -> medBuild(frameSecs(_, _ == "repo/" + n))
    }
    val features = Campaign.FeatureOutputs.map { case (fn, outs) =>
      s"engine.features.$fn.s" -> medBuild(frameSecs(_, k => outs.exists("features/" + _ == k)))
    }
    // bytes the feature computations read, against the bytes of the
    // cached report they start from
    val featureInput = medBuild(_.filter(s => s.name.startsWith("engine.features.") &&
      s.name != "engine.features.plan").map(s => tr.inclusive(s).inputBytes.toDouble).sum)
    val reportBytes = dirBytes(cache.resolve("repo").resolve("report.parquet")).toDouble
    val rows = (dir: String) => spark.read.parquet(cache.resolve(dir).toString).count().toDouble
    val hits = reuseHits.toDouble
    val perReuse = math.max(1, reuseCount).toDouble
    Map(
      "engine.extract.report.rows" -> rows("repo/report.parquet"),
      "engine.features.rows" -> Campaign.FeatureOutputs.flatMap(_._2).map(o => rows(s"features/$o.parquet")).sum,
      "engine.features.read_amplification" -> (if (reportBytes > 0) featureInput / reportBytes else 0.0),
      "engine.cache.hits" -> hits / perReuse,
      "engine.cache.misses" -> reuseMisses / perReuse,
      "engine.cache.hit_ratio" -> (if (hits + reuseMisses > 0) hits / (hits + reuseMisses) else 0.0),
      "engine.cache.load.s" -> median(reuseSpans.map(frameSecs(_, _ => true))),
      "engine.cache.files" -> listFiles(cache).size.toDouble,
      "engine.cache.written_mb" -> lastWrittenBytes / 1e6) ++ extract ++ features ++ sourcesMetrics
  }

  /** The bulk spike scan the report extraction starts from, timed on its
    * own: the sources layer does no work in a reuse iteration.
    */
  private def sourcesMetrics: Map[String, Double] = {
    val sims = (0 until c.size.sims).map(s =>
      (s, 0, root.resolve("campaign").resolve(Campaign.simDir(s)).toString))
    def scan() = new ParquetAdapter().spikesBulk(spark, sims).get
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      noop(scan())
      (System.nanoTime() - t0) / 1e9
    }
    Map("sources.spikes_bulk.s" -> median(secs), "sources.spikes_bulk.rows" -> scan().count().toDouble,
      "sources.input_mb" -> c.inputBytes(root) / 1e6)
  }

  def sizes: Seq[(String, Any)] = Seq(
    "seed" -> c.seed, "sims" -> c.size.sims, "spikes" -> c.size.spikes,
    "spikes_per_sim" -> c.size.spikesPerSim, "neurons" -> c.size.neurons, "trials" -> c.size.trials,
    "neuron_classes" -> c.classes.size, "frames" -> frameKeys.size,
    "input_mb" -> c.inputBytes(root) / 1e6)
}

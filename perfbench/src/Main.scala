package perfbench

import graft.engine.Repository
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed iteration. `root` is its span in a traced loop. */
final case class Iter(build: Boolean, seconds: Double, cpuS: Double, attempted: Int, failed: Int,
    heapMb: Double, gcS: Double, root: Option[Span])

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * A run is a closed loop: one client, one analysis or query at a time, in
  * one fresh process at `local[<cores>]`. The set-up starts the Spark
  * session and makes the inputs. Then one build iteration, which starts
  * from nothing the program could reuse and pays the process's first
  * code generation and compilation, as a user's first analysis in a new
  * process does (`wall_with_build_s`); then reuse iterations, which keep
  * what the build left (`wall_s`, their median). Between the two, outside
  * the timed window, the workload checks what the build wrote and runs the
  * reuse path once (the campaign re-opens its cache, the operator suite's
  * `Verify.run` runs every query again), so the timed reuse iterations do
  * not pay its first compilation. The other checks run after the loop.
  * With `--trace 1` the loop runs traced, then two reuse iterations run
  * once more untraced; the traced iterations give the per-layer metrics,
  * and the difference in `wall_s` the tracing overhead.
  */
object Main {
  /** Campaign size; every seed generates exactly this. */
  val Size = CampaignSize(sims = 2, spikesPerSim = 50000, neurons = 1200, trials = 3)

  /** Reuse iterations a run measures at least; `wall_s` is their median. */
  val MinReuse = 3

  /** The operator suite: queries whose memoized Text, Tokenize and Vectors
    * state a build pass clears and a reuse pass keeps, plus a relational
    * baseline. Sized so the set-up pass, a build pass and a reuse pass fit
    * one run.
    */
  val Suite = Seq(
    "q1_pricing_summary", "t16b_token_pack", "t19_substring_overlap", "t20_simhash_hamming",
    "v5_ivf_search")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * workload that bypasses a layer reports it as 0.
    */
  val PerLayer: Seq[String] =
    Repository.Names.map(n => s"engine.extract.$n.s") ++ Seq("engine.extract.report.rows") ++
      Campaign.FeatureOutputs.map(f => s"engine.features.${f._1}.s") ++
      Seq("engine.features.rows", "engine.features.read_amplification",
        "engine.cache.hits", "engine.cache.misses", "engine.cache.hit_ratio", "engine.cache.load.s",
        "engine.cache.files", "engine.cache.written_mb",
        "sources.spikes_bulk.s", "sources.spikes_bulk.rows", "sources.input_mb") ++
      OperatorSuite.Modules.map(m => s"queries.$m.s") ++ OperatorSuite.Heads.map(h => s"queries.$h.s") ++
      Seq("memo.build.s") ++ OperatorSuite.BuildStages.map(k => s"memo.build.$k.s") ++ Seq("memo.storage_mb") ++
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task.s", "spark.plan.s",
        "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.busy_ratio",
        "jvm.gc.s", "host.load1", "trace.overhead_s")

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process: every thread, the JIT and GC included. */
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  private def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Collect, wait until the process is idle, and collect what that freed:
    * Spark's cleaner removing the shuffles and broadcasts a collection
    * released, and the JIT compiling what the last iteration made hot, must
    * not run into the next timed iteration. Returns the heap MB in use
    * after the last collection.
    */
  private def settle(): Double = {
    System.gc()
    idle()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Wait until the process uses under 5% of a core, at most five seconds. */
  private def idle(): Unit = {
    val os = osBean
    val deadline = System.nanoTime() + 5000000000L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
      Thread.sleep(100)
      val cores = (os.getProcessCpuTime - c0).toDouble / (System.nanoTime() - t0)
      quiet = if (cores < 0.05) quiet + 1 else 0
    }
  }

  def unit(metric: String): String =
    if (metric.endsWith("_per_s")) "1/s"
    else if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("ratio") || metric.endsWith("amplification")) "ratio"
    else if (metric == "host.load1") "load"
    else "count"

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val record = Paths.get(opts("record")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (result, full) =
      try {
        if (opts.get("self-test").contains("1")) SelfTest.run(spark, work, opts("sf-dir"))
        else run(spark, opts, work, cores, record, started)
      } finally spark.stop()
    Files.writeString(record, full + "\n")
    println(result)
  }

  private def run(spark: SparkSession, opts: Map[String, String], work: Path, cores: Int,
      record: Path, started: Long): (String, String) = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = work.resolve("data")
    Workload.deleteTree(data)
    val w: Workload = name match {
      case "campaign" => new CampaignWorkload(spark, new Campaign(Size, seed), data)
      case "operator_suite" =>
        new OperatorSuite(spark, opts("sf-dir"), Suite, work.resolve("verify").toString)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    settle(): Unit
    val gc0 = gcSeconds
    val setupS = (System.nanoTime() - started) / 1e9

    // time spent in `afterBuild`, outside the timed window
    var afterBuildS = 0.0

    /** One build iteration (unless `withBuild` is off) and the workload's
      * `afterBuild`, then reuse iterations until `window` seconds have
      * passed since the first of them and at least `least` ran.
      */
    def loop(window: Double, tr: Option[Tracer], withBuild: Boolean, least: Int): Seq[Iter] = {
      val out = ArrayBuffer.empty[Iter]
      def iteration(build: Boolean): Unit = {
        w.prepare(build)
        val g0 = gcSeconds
        val first = tr.map(_.all.size).getOrElse(0)
        val c0 = cpuSeconds
        val t0 = System.nanoTime()
        val (attempted, opFailed) =
          try (tr.fold(w.iterate(NoSpans, build))(t => t.span("iteration")(w.iterate(t, build))), 0)
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] iteration failed: $e")
              e.printStackTrace()
              (1, 1)
          }
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = cpuSeconds - c0
        val gc = gcSeconds - g0
        val failed = opFailed + w.inspect(build)
        out += Iter(build, secs, cpu, attempted, failed, settle(), gc, tr.map(_.all(first)))
      }
      if (withBuild) {
        iteration(build = true)
        val t0 = System.nanoTime()
        w.afterBuild()
        settle(): Unit
        afterBuildS = (System.nanoTime() - t0) / 1e9
      }
      val end = System.nanoTime() + (window * 1e9).toLong
      var reuses = 0
      while (reuses < least || System.nanoTime() < end) {
        iteration(build = false)
        reuses += 1
      }
      out.toSeq
    }

    val t1 = System.nanoTime()
    val tracer = if (traced) Some(new Tracer(spark, s"$name-$seed")) else None
    val measured = loop(seconds, tracer, withBuild = true, least = MinReuse)
    tracer.foreach(_.finish())
    // a traced run repeats its reuse iterations untraced, for the overhead
    val untraced = if (traced) loop(0, None, withBuild = false, least = 2) else Nil
    val t2 = System.nanoTime()
    val checks = w.checks()
    val checksS = (System.nanoTime() - t2) / 1e9
    checks.filter(_.failure.nonEmpty).foreach(c => System.err.println(s"[perfbench] check ${c.name} FAILED: ${c.failure.get}"))

    import Workload.median
    def wall(it: Seq[Iter], build: Boolean) = median(it.filter(_.build == build).map(_.seconds))
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wall(measured, build = false),
      "wall_with_build_s" -> wall(measured, build = true),
      "cache_mb" -> w.stateMb,
      "retained_heap_mb" -> median(measured.filter(!_.build).map(_.heapMb)))
    val perLayer: Seq[(String, Double)] = tracer.map { t =>
      def roots(build: Boolean) = measured.filter(_.build == build).flatMap(_.root)
      val m = w.layerMetrics(t, roots(true), roots(false)) ++
        Workload.sparkMetrics(t, measured.flatMap(_.root), cores) ++ Map(
          "jvm.gc.s" -> median(measured.map(_.gcS)),
          "host.load1" -> load1,
          "trace.overhead_s" -> (wall(measured, build = false) - wall(untraced, build = false)))
      val unknown = m.keySet -- PerLayer
      require(unknown.isEmpty, s"per-layer metrics missing from PerLayer: $unknown")
      PerLayer.map(k => k -> m.getOrElse(k, 0.0))
    }.getOrElse(Nil)

    val iters = measured ++ untraced
    val attempted = iters.map(_.attempted).sum + checks.size
    val failed = iters.map(_.failed).sum + checks.count(_.failure.nonEmpty)
    val metrics = if (traced) perLayer else e2e
    def metricJson(ms: Seq[(String, Double)]) = Json.Raw(Json.obj(ms.map { case (k, v) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> unit(k))))
    }))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricJson(metrics)))
    tracer.foreach(t => Files.writeString(Paths.get(record.toString.stripSuffix(".json") + ".spans.json"), t.json))
    val full = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "sizes" -> Json.Raw(Json.obj(w.sizes)),
      "fingerprint" -> Json.Raw(Json.obj(Seq(
        "nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "host.load1" -> load1, "jvm.gc.s" -> (gcSeconds - gc0),
        "commit" -> opts.getOrElse("commit", "unknown"),
        "src_main_lines" -> opts.get("src-lines").map(_.toLong).getOrElse(-1L)))),
      "phases_s" -> Json.Raw(Json.obj(Seq("setup" -> setupS,
        "loops" -> ((t2 - t1) / 1e9 - afterBuildS), "after_build" -> afterBuildS, "checks" -> checksS))),
      "iterations" -> iters.map(i => Json.Raw(Json.obj(Seq(
        "build" -> i.build, "traced" -> i.root.nonEmpty, "seconds" -> i.seconds,
        "attempted" -> i.attempted, "failed" -> i.failed, "heap_mb" -> i.heapMb, "gc_s" -> i.gcS, "cpu_s" -> i.cpuS)))),
      "checks" -> checks.map(c => Json.Raw(Json.obj(Seq("name" -> c.name, "failure" -> c.failure)))),
      "end_to_end" -> metricJson(e2e),
      "per_layer" -> metricJson(perLayer),
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed))
    (result, full)
  }
}

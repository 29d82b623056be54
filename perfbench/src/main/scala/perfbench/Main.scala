package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.Tables
import graft.sources.TimeTravel

/** One timed operation: a request, a query or a lake op. Times are epoch
  * milliseconds from [[Trace.nowMs]]. */
final case class Op(kind: String, name: String, id: String, start: Double,
                    end: Double, ok: Boolean, traced: Boolean,
                    info: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "id" -> id, "start" -> start, "end" -> end, "ok" -> ok,
    "traced" -> traced) ++ info
}

/** A workload: `setup` builds its tables, index or server from the
  * generated inputs (it runs several times; the last one's state is what
  * `run` measures), `warmup` runs every kind of op once on it, `run` is
  * the timed closed loop, `finish` runs the correctness checks outside the
  * timed region. */
trait Workload {
  def setup(rep: Int): Unit
  def warmup(): Unit
  def run(seconds: Double): Seq[Op]
  /** Checks and extra figures; `failures` lists every wrong output. */
  def finish(ops: Seq[Op]): Map[String, Any]
}

/** Entry point of the JVM half of the benchmark. `perfbench/run.py` builds
  * the classpath, generates the inputs and calls
  * `perfbench.Main --workload W --data DIR --out DIR --seconds S
  *  --trace 0|1 --seed N [--fault 1]`; the result is `<out>/result.json`.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val runSeconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val fault = opt.get("fault").contains("1")
    Files.createDirectories(Paths.get(out))

    // Spark's task threads take half the cores (of at most four), the
    // load's two threads and the driver the other half: with all four to
    // Spark, the dashboard ran slower and spread about twice as widely
    // from run to run on a 4-core host shared with other jobs
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) / 2)
    val t0 = System.nanoTime()
    val spark = Tables.session(s"local[$cores]", shufflePartitions = cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace
    try {
      val wl: Workload = workload match {
        case "dashboard" => new Dashboard(spark, opt("data"), out, trace)
        case "lake" => new Lake(spark, out, seed, trace, fault)
        case w => sys.error(s"unknown workload $w")
      }
      def seconds(f: => Unit): Double = {
        val s = System.nanoTime()
        f
        (System.nanoTime() - s) / 1e9
      }
      val setupS = (0 until SetupReps).map(rep => seconds(wl.setup(rep)))
      val warmupS = seconds(wl.warmup())
      val canaryBefore = canary(spark, s"$out/canary-0")
      // A traced run alternates untraced and traced quarters, so the
      // trace's own cost shows as the difference between the two halves
      // without the run's warm-up drift favouring either.
      val switcher = if (!traced) None else Some(new Thread(() => {
        for (quarter <- 1 to 3) {
          Thread.sleep((runSeconds * 250).toLong)
          if (quarter % 2 == 1) spark.sparkContext.addSparkListener(trace.counters)
          else spark.sparkContext.removeSparkListener(trace.counters)
          trace.on = quarter % 2 == 1
        }
      }))
      switcher.foreach(_.start())
      val ops = wl.run(runSeconds)
      switcher.foreach(_.join())
      val checks = wl.finish(ops)
      val canaryAfter = canary(spark, s"$out/canary-1")
      // listener events arrive asynchronously; let the bus drain
      if (traced) Thread.sleep(1500)
      val rt = Runtime.getRuntime
      // live heap: the least in use after each of a few full collections,
      // with a pause after each so Spark's cleaner can drop the broadcasts
      // and shuffles the collection freed
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(500)
        (rt.totalMemory - rt.freeMemory) / 1048576.0
      }.min
      val result = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> runSeconds,
        "session_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
        "ops" -> ops.map(_.json),
        "heap_mb" -> heapMb,
        "weather" -> Map(
          "canary_ms" -> Seq(canaryBefore, canaryAfter),
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "spark_cores" -> cores,
          "heap_max_mb" -> rt.maxMemory / 1048576.0,
          "spark_version" -> spark.version,
          "java_version" -> System.getProperty("java.version")),
        "trace" -> (if (traced) trace.json else Map.empty)) ++ checks
      Files.write(Paths.get(out, "result.json"), org.json4s.jackson.Serialization
        .write(result)(org.json4s.DefaultFormats).getBytes(UTF_8))
    } finally spark.stop()
  }

  /** A fixed CPU loop plus a fixed tiny commit: the machine's weather, to
    * read against a run's timings. */
  def canary(spark: SparkSession, dir: String): Double = {
    val t = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    TimeTravel.commitAppend(spark.range(10).toDF("id").selectExpr("id", s"$x AS x"),
      dir, Seq("id"), files = 1)
    (System.nanoTime() - t) / 1e6
  }
}

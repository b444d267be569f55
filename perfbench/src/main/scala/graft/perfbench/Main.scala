package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark JVM: runs one workload over generated inputs and
  * writes a result file that `run.py` turns into the benchmark's
  * metrics.
  *
  * Flow: calibrate, start the session (timed once, as a diagnostic),
  * set the workload up once (cold),
  * run one untimed warm-up round, set it up twice more (`setup_s` is the
  * median of the three), then run the timed rounds that fill
  * `--seconds`, with untimed correctness checks between rounds, then a
  * close-out check, retained heap and a second calibration. Under `--trace 1` odd
  * rounds are traced and even rounds are not, so one run gives both the
  * per-layer counters and the tracing overhead.
  */
object Main {
  /** Executor threads of the local session. */
  val Cores = 4

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
                  val seed: Long, val trace: Trace) {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def span[T](name: String)(body: => T): T = trace.span(name)(body)
  }

  /** One timed round: named operations, each timed on its own. */
  final class Round(val index: Int, val traced: Boolean) {
    val ops = mutable.ArrayBuffer.empty[(String, Double, Double)]
    var wallS = 0.0
    var cpuS = 0.0
    var failed = 0
  }

  final case class Check(name: String, ok: Boolean, detail: String)

  trait Workload {
    /** Wall seconds of one warm round on local[4]: a run measures
      * `--seconds` / this many rounds, a count fixed per workload so
      * that every run medians over the same rounds.
      */
    def nominalRoundS: Double
    /** Build the workload's starting state in fresh paths; the state of
      * the last repetition is the one the rounds use.
      */
    def setup(rep: Int): Unit
    /** Run round `r` (0 is the warm-up), timing each operation with `op`. */
    def round(r: Int, op: Op): Unit
    /** Untimed checks of what round `r` produced. */
    def check(r: Int): Seq[Check]
    /** Untimed checks at the end of the run, plus gate outputs to dump
      * for the DuckDB oracle: (gate name, frame).
      */
    def closeOut(): (Seq[Check], Seq[(String, DataFrame)])
    /** Workload-level counters at the end of the run; workloads without
      * persisted artifacts have none live.
      */
    def gauges(): Map[String, Double] = Map("files_live" -> 0.0, "space_amp" -> 0.0)
  }

  trait Op { def apply(name: String)(body: => Unit): Unit }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val seed = a("seed").toLong

    val calib0 = calibrate()
    val sessionT0 = System.nanoTime()
    val spark = Session.start(work, Cores)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val trace = new Trace
    if (traceOn) spark.sparkContext.addSparkListener(trace)
    val ctx = new Ctx(spark, data, work, seed, trace)
    val wl: Workload = workload match {
      case "event_graph" => new EventGraphWl(ctx)
      case "analytics" => new AnalyticsWl(ctx)
      case "lifecycle" => new LifecycleWl(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupCpu = mutable.ArrayBuffer.empty[Double]
    def timedSetup(rep: Int): Double = {
      val t0 = System.nanoTime(); val c0 = cpuNow()
      wl.setup(rep)
      setupCpu += cpuNow() - c0
      (System.nanoTime() - t0) / 1e9
    }
    val checks = mutable.ArrayBuffer.empty[Check]
    val rounds = mutable.ArrayBuffer.empty[Round]
    val errors = mutable.ArrayBuffer.empty[String]
    def runRound(r: Int, traced: Boolean): Round = {
      val rd = new Round(r, traced)
      val op = new Op {
        def apply(name: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime(); val c0 = cpuNow()
          try ctx.span(s"verb.$name")(body)
          catch {
            case e: Throwable =>
              rd.failed += 1
              errors += s"round $r $name: ${e.toString.take(400)}"
          }
          rd.ops += ((name, (System.nanoTime() - t0) / 1e9, cpuNow() - c0))
        }
      }
      trace.enabled = traced
      val t0 = System.nanoTime(); val c0 = cpuNow()
      ctx.span("round")(wl.round(r, op))
      rd.wallS = (System.nanoTime() - t0) / 1e9
      rd.cpuS = cpuNow() - c0
      trace.enabled = false
      rd
    }
    // the first set-up runs cold; the warm-up round follows it, so the
    // other two set-ups and every timed round run on a warm JVM
    val setup0 = timedSetup(0)
    val warm = runRound(0, traced = false)
    if (warm.failed > 0) checks += Check("warmup", ok = false, errors.mkString("; "))
    val setups = setup0 +: (1 until 3).map(timedSetup)
    // a traced run needs a traced and an untraced round
    val nRounds = math.max(if (traceOn) 2 else 1, math.round(seconds / wl.nominalRoundS).toInt)
    (1 to nRounds).foreach { r =>
      rounds += runRound(r, traced = traceOn && (r % 2 == 1))
      checks ++= wl.check(r)
    }
    val (closing, dumps) = wl.closeOut()
    checks ++= closing
    val dumped = dumps.map { case (name, df) =>
      val path = s"$work/check/$name"
      df.write.mode("overwrite").parquet(path)
      name -> path
    }
    val gauges = wl.gauges()
    val layers =
      if (traceOn) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        Layers.summarise(trace, rounds.toSeq, gauges, s"$work/spans.json")
      } else Map.empty[String, Double]
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    val calib1 = calibrate()

    val out = Json.obj(
      "workload" -> workload,
      "session_start_s" -> sessionS,
      "setup_s" -> setups,
      "warmup_s" -> warm.wallS,
      "rounds" -> rounds.map(rd => Json.obj(
        "index" -> rd.index, "traced" -> rd.traced, "wall_s" -> rd.wallS,
        "failed" -> rd.failed,
        "cpu_s" -> rd.cpuS,
        "ops" -> rd.ops.map { case (n, s, c) => Json.obj("name" -> n, "s" -> s, "cpu_s" -> c) }
          .toSeq)).toSeq,
      "setup_cpu_s" -> setupCpu.toSeq,
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).toSeq,
      "errors" -> errors.toSeq,
      "dumps" -> Json.obj(dumped.map { case (n, p) => n -> (p: Any) }: _*),
      "oracle_sql" -> Json.obj(dumped.map { case (n, _) =>
        n -> (graft.SparkEntry.oracleSql(n): Any) }: _*),
      "heap_retained_mb" -> heapMb,
      "calibration_s" -> Seq(calib0, calib1),
      "gauges" -> Json.obj(gauges.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
      "per_layer" -> Json.obj(layers.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "result.json"),
      out.text.getBytes("UTF-8"))
    spark.stop()
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** CPU seconds used so far by this JVM, less what its JIT compiler
    * threads used: compilation is warm-up work of the JVM, not of the
    * measured operations, and how much of it lands inside a timed round
    * varies from run to run. Compiler threads are kept alive for the
    * whole run (-XX:-UseDynamicNumberOfCompilerThreads), so their
    * counters cover all of it.
    */
  def cpuNow(): Double = {
    val proc = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    proc - jitCpu()
  }

  private val ClockTicks = 100.0

  /** CPU seconds of the JIT compiler threads, from the kernel's
    * per-thread accounting (utime + stime, in clock ticks).
    */
  def jitCpu(): Double = {
    def read(f: java.io.File): String =
      try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      catch { case _: java.io.IOException => "" }
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      val comm = read(new java.io.File(t, "comm")).trim
      if (!comm.matches("C[12] CompilerThre.*")) 0.0
      else {
        val stat = read(new java.io.File(t, "stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (f.length > 12) (f(11).toLong + f(12).toLong) / ClockTicks else 0.0
      }
    }.sum
  }

  /** A fixed CPU-only task (hashing 32 MB), timed; compared between the
    * start and the end of a run it shows host drift during the run.
    */
  def calibrate(): Double = { hashLoop(); hashLoop() }

  private def hashLoop(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 32) { buf(i) = i.toByte; md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }
}

object Session {
  def start(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // bounded status-store history, so retained heap does not grow
      // with the number of rounds a run happens to complete
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark", org.apache.logging.log4j.Level.ERROR)
    s
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure for `--seconds`, check,
  * and write the raw samples (plus spans when traced) as JSON for
  * `run.py` to reduce to metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> [--data <dir>] */
object Main {
  val MaxCores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** What one run records. `op` times a unit of the workload's work and
    * counts an exception as a failed op; `check` counts a wrong answer. */
  final class Run(val seed: Long, val seconds: Double, val work: String) {
    val setup = mutable.ArrayBuffer[Double]()
    val values = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    val attempted = new AtomicLong(0L)
    val failed = new AtomicLong(0L)
    val errors = new ConcurrentLinkedQueue[String]()
    private var measureStartNs = 0L
    private var untimedNs = 0L
    var measureS = 0.0
    private var gc0 = 0L

    def sample(kind: String, v: Double): Unit =
      samples.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(v)

    def samplesOf(kind: String): Seq[Double] =
      Option(samples.get(kind)).map(_.asScala.toSeq).getOrElse(Nil)

    /** Time `body` as one op of `kind` (also pooled as "op", the sample
      * set of the end-to-end latency metrics). */
    def op[T](kind: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val r = Trace.span(kind)(body)
        val ms = (System.nanoTime() - t0) / 1e6
        sample(kind, ms); sample("op", ms)
        Some(r)
      } catch { case e: Throwable => fail(s"$kind: $e"); None }
    }

    def fail(msg: String): Unit = {
      failed.incrementAndGet()
      if (errors.size < 20) errors.add(msg.take(300))
    }

    /** A correctness check outside the timed ops: counts as attempted,
      * and as failed when it does not hold. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted.incrementAndGet()
      if (!ok) fail(s"check: $what")
    }

    def timeSetup[T](body: => T): T = {
      val t0 = System.nanoTime()
      val r = Trace.span("setup")(body)
      setup += (System.nanoTime() - t0) / 1e9
      r
    }

    /** Harness work inside the measuring window (checks, bookkeeping):
      * its time is taken out of the window, so that `measure_s` covers
      * only the ops. */
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }

    def startMeasure(): Unit = {
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
      gc0 = gcMs
      untimedNs = 0L
      measureStartNs = System.nanoTime()
    }

    /** The ops a run measures: two per second of `--seconds`, which the
      * workloads round up to whole passes or rounds. A fixed count, not a
      * deadline, so that every run of a workload does the same mix of work
      * and yields the same number of samples on a fast or a slow machine. */
    val ops: Int = math.ceil(2 * seconds).toInt

    def endMeasure(): Unit = {
      measureS = (System.nanoTime() - measureStartNs - untimedNs) / 1e9
      values.put("jvm.gc_s", (gcMs - gc0) / 1e3)
      values.put("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }

    private def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    def toMap: Map[String, Any] = Map(
      "setup_s" -> setup.toSeq,
      "measure_s" -> measureS,
      "samples" -> samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap,
      "values" -> values.asScala.toMap,
      "attempted" -> attempted.get,
      "failed" -> failed.get,
      "errors" -> errors.asScala.toSeq)
  }

  def main(args: Array[String]): Unit = {
    // The JVM is halted, not left to exit: RestServer.stop() leaves the
    // non-daemon threads of its fixed thread pool running.
    try { runOnce(args); Runtime.getRuntime.halt(0) }
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }
  }

  private def runOnce(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    // capped, so that a run's length (and the benchmark's time budget)
    // does not grow with the per-stage overhead of a wide machine
    val cores = math.min(nproc, MaxCores)
    val run = new Run(opts("seed").toLong, opts("seconds").toDouble, opts("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${run.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${run.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (opts("trace") == "1") Trace.install(spark)
    val extra: Map[String, Any] = opts("workload") match {
      case "registry" => Registry.run(spark, run, opts("data"))
      case "serve-mixed" => Serve.run(spark, run)
      case w => sys.error(s"unknown workload $w")
    }
    val stamp = Map(
      "nproc" -> nproc,
      "cores_used" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "simd" -> graft.functions.VectorKernels.simdAvailable,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    run.values.put("jvm.rss_peak_mb", Json.vmHwmMb)
    val trace = if (Trace.on) Map("trace" -> Trace.dump(spark)) else Map.empty
    val out = run.toMap ++ extra ++ trace ++ Map(
      "stamp" -> stamp)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json.write(out))
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb: Double = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    .asScala.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pins

/** Executor loss against a real multi-executor master. The suite's
  * shared local[8] context forbids a second SparkContext in this JVM,
  * so [[ExecutorLossChild]] runs in a child JVM on the test classpath
  * with master `local-cluster[3,1,1024]` (three one-core executor
  * processes). It pins one 100k-row, 6-partition frame with
  * [[Pins.pin]] and the same frame with a bare `localCheckpoint(true)`,
  * kills one executor, and reads both back. A cluster-master pin keeps
  * two block copies, so it survives; the bare one-copy checkpoint loses
  * the killed executor's blocks and its read fails. */
class ExecutorLossSpec extends AnyFunSuite {

  /** The child's `RESULT <frame> <outcome>` lines, e.g.
    * `pinned -> sum=4999950000`; one child run serves both tests, a
    * failed one included. */
  private lazy val results: scala.util.Try[Map[String, String]] =
    scala.util.Try(runChild())

  private def runChild(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("executor-loss")
    val (out, err) = (tmp.resolve("stdout").toFile, tmp.resolve("stderr").toFile)
    // the forked test JVM's module flags (the JVM reports them as
    // --add-opens=X / --add-modules=Y)
    val moduleFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens=") || a.startsWith("--add-modules="))
    val cmd = Seq(
      java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
        .toString, "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++
      moduleFlags ++ Seq(ExecutorLossChild.getClass.getName.stripSuffix("$"))
    val pb = new ProcessBuilder(cmd: _*).redirectOutput(out).redirectError(err)
    // local-cluster workers write their executor dirs to
    // $SPARK_HOME/work (they ignore SPARK_WORKER_DIR), so SPARK_HOME
    // points into the temp dir. The executor launcher only needs a
    // `jars` dir there and the Scala version; the executors take their
    // classpath from spark.executor.extraClassPath.
    val sparkHome = java.nio.file.Files.createDirectories(
      tmp.resolve("spark-home").resolve("jars")).getParent
    pb.environment().put("SPARK_HOME", sparkHome.toString)
    pb.environment().put("SPARK_SCALA_VERSION",
      scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
    val proc = pb.start()
    try {
      val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      val lines = java.nio.file.Files.readAllLines(out.toPath).asScala
      def stderrTail = java.nio.file.Files.readAllLines(err.toPath).asScala
        .takeRight(40).mkString("\n")
      assert(done && proc.exitValue() == 0,
        s"child JVM failed (finished=$done):\n${lines.mkString("\n")}\n$stderrTail")
      lines.filter(_.startsWith("RESULT ")).map { l =>
        val Array(_, frame, outcome) = l.split(" ", 3)
        frame -> outcome
      }.toMap
    } finally {
      proc.descendants().forEach(p => { p.destroyForcibly(); () })
      proc.destroyForcibly()
      val walk = java.nio.file.Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("a Pins.pin frame survives the loss of one executor (local-cluster)") {
    val got = results.get
    assert(got.get("pinned").contains(s"sum=${ExecutorLossChild.Sum}"),
      s"pinned frame after the executor kill: $got")
  }

  test("control: a bare localCheckpoint(true) dies with its executor") {
    val got = results.get
    val outcome = got.getOrElse("bare", "")
    assert(outcome.startsWith("error=") &&
      outcome.stripPrefix("error=").split(",")
        .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      s"bare checkpoint after the executor kill: $got")
  }
}

/** The child-JVM body of [[ExecutorLossSpec]]; prints one
  * `RESULT <frame> sum=<n>` or `RESULT <frame> error=<conditions>` line
  * per frame. */
object ExecutorLossChild {
  val Rows = 100000L
  val Sum: Long = Rows * (Rows - 1) / 2

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local-cluster[3,1,1024]")
      .appName("graft-executor-loss")
      .config("spark.executor.memory", "512m")
      // the executors deserialize this file's closures
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    def awaitExecutors(n: Int): Unit = {
      // block managers, the driver's included
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (sc.getExecutorMemoryStatus.size != n + 1) {
        require(System.nanoTime() < deadline,
          s"want $n executors, have ${sc.getExecutorMemoryStatus.keys}")
        Thread.sleep(200)
      }
    }
    try {
      // all three executors up before the pin jobs, so the first wave
      // of each 6-task job stores a block on every executor
      awaitExecutors(3)
      val frame = spark.range(0, Rows, 1, 6).toDF("x")
      val pinned = Pins.pin(frame)
      val bare = frame.localCheckpoint(true)
      val ids = sc.parallelize(1 to 30, 30)
        .map(_ => SparkEnv.get.executorId).distinct().collect().sorted
      require(ids.length == 3, s"executors: ${ids.mkString(",")}")
      require(sc.killExecutors(Seq(ids.head)), s"kill ${ids.head} refused")
      awaitExecutors(2)
      report("pinned", pinned)
      report("bare", bare)
    } finally spark.stop()
  }

  private def report(frame: String, df: DataFrame): Unit = {
    val outcome =
      try s"sum=${df.agg(sum("x")).head().getLong(0)}"
      catch {
        case e: Exception =>
          // matched by error condition along the cause chain, never by
          // message text
          "error=" + Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }
            .filter(_ != null).mkString(",")
      }
    println(s"RESULT $frame $outcome")
  }
}

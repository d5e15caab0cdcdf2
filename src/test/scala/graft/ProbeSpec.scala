package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.Probe` command runs to completion on the smallest
  * fixture, on the suite's session, and `jobs` counts what a listener
  * counts. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val dir = SparkSuite.sf0001
  private val query = "q04_join_agg"

  private def stdoutOf(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Probe.run(spark, args.toArray)
    }
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("qtime times a named query") {
    val out = stdoutOf("qtime", dir, query)
    assert(out.exists(_.startsWith(s"[qtime] $query min=")), out)
  }

  test("jobs prints a ledger and a summary whose job count matches a listener") {
    val out = stdoutOf("jobs", dir, query)
    val summary = out.filter(l => l.startsWith(s"[jobs] $query jobs="))
    assert(summary.size == 1, out)
    val fields = summary.head.split(' ').drop(2)
      .map(_.split('=')).map(kv => kv(0) -> kv(1)).toMap
    assert(fields.keySet == Set("jobs", "shuffles", "broadcasts", "wall"), summary)
    val reported = fields("jobs").toInt
    assert(out.count(_.startsWith(s"[jobs] $query job=")) == reported, out)
    // q04 joins and aggregates: the final plan holds exchanges
    assert(fields("shuffles").toInt + fields("broadcasts").toInt > 0, summary)

    val sc = spark.sparkContext
    val seen = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.incrementAndGet()
    }
    org.apache.spark.graftsync.ListenerSync.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(query)(spark, dir).count()
      org.apache.spark.graftsync.ListenerSync.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(reported > 0 && reported == seen.get(),
      s"jobs reported $reported, the listener saw ${seen.get()}")
  }

  test("plan writes the final adaptive plan of a query and of the shingle seam") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-probe-plan")
    try {
      stdoutOf("plan", dir, outDir.toString, "spec", query, "seamcapped")
      stdoutOf("plan", dir, outDir.toString, "again", query, "seamcapped")
      Seq("q04", "seamcapped").foreach { key =>
        val Seq(first, second) = Seq("spec", "again").map { suffix =>
          val p = outDir.resolve(s"${key}_$suffix.txt")
          assert(java.nio.file.Files.exists(p), p)
          java.nio.file.Files.readString(p)
        }
        assert(first.contains("isFinalPlan=true"), key)
        // a second run assigns new expression and exchange ids; the file
        // blanks them, so the two runs diff clean
        assert(first == second, s"$key:\n$first\n---\n$second")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(outDir.toFile)
  }

  test("serve prints its phase line and restores the session's AQE setting") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val out = stdoutOf("serve", dir, "2")
    assert(out.exists(l => l.startsWith("""{"probe":"serve"""") &&
      l.contains("\"e2e_aqe_on_ms\":")), out)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    // the write phase: a ledger line per "<route>/<step>" that ran a job,
    // and a summary; with a held corpus the index's writes run none
    val steps = out.filter(_.startsWith("[serve] write ")).map(_.split("\\s+")(2)).toSet
    assert(steps == Set("upload/assign", "upload/doc-store", "delete/doc-store"), out)
    assert(out.exists(l => l.startsWith("""{"probe":"serve-write","reps":2,""") &&
      l.contains("\"delete_jobs\":")), out)
    // the read half: the writes keep the held corpus current, so the
    // first search after them answers on the driver, as a warm one does
    val searches = out.filter(_.startsWith("[serve] search ")).map(_.split("\\s+"))
      .map(f => f(2) -> f(3)).toMap
    assert(searches == Map("after-write" -> "jobs=0.0", "warm" -> "jobs=0.0"), out)
  }

  test("ivf-scale runs the index lifecycle on a small synthesized corpus") {
    val out = stdoutOf("ivf-scale", "3000", "16")
    val line = out.find(_.startsWith("""{"probe":"scale""""))
    assert(line.exists(l => l.contains("\"n\":3000") && l.contains("\"dim\":16") &&
      l.contains("\"bin_count_rows_ms\":")), out)
  }

  test("an unknown command names the five commands") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Array("nope")))
    Seq("qtime", "jobs", "plan", "serve", "ivf-scale").foreach { c =>
      assert(e.getMessage.contains(c), e.getMessage)
    }
  }
}

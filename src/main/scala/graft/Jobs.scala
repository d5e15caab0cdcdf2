package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs a block submits on this thread `"<route>/<step>"`
  * (the job description a listener or the UI shows), then restores the
  * caller's description. AQE's stage jobs inherit it, so they stop
  * showing up only as their `CompletableFuture` call site. */
object Jobs {
  private val DescriptionKey = "spark.job.description"

  def step[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(prev)
  }
}

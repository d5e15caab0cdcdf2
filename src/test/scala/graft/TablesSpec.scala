package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]' footer shortcuts must fail safe: a stat they cannot
  * trust is None, never a wrong number a gate would act on. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("a partitionBy table directory reports no row count or size; flat tables keep theirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    try {
      spark.range(100).withColumn("k", col("id") % 2)
        .write.partitionBy("k").parquet(s"$dir/documents.parquet")
      // top-level files are only _SUCCESS: a footer sum would say 0 rows
      assert(Tables.rowCount(spark, dir, "documents") == None)
      assert(Tables.byteSize(spark, dir, "documents") == None)
      assert(Tables.load(spark, dir, "documents").count() == 100)

      spark.range(100).repartition(3).write.parquet(s"$dir/embeddings.parquet")
      assert(Tables.rowCount(spark, dir, "embeddings") == Some(100L))
      assert(Tables.byteSize(spark, dir, "embeddings").exists(_ > 0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

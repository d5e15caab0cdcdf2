package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ownership-tree semantics vs the reference's get-or-create contract
  * (server/upload.go:154-237): names are unique per scope, ids are
  * assigned once and never change, replays write nothing, and the fetch
  * surface returns exactly one owner's categories. */
class OwnershipSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def fresh() = OwnershipStore(
    java.nio.file.Files.createTempDirectory("own").toString)

  private def pairs(rows: (String, String)*) =
    rows.toSeq.toDF("owner_name", "category_name")

  test("fresh batch assigns dense deterministic ids") {
    val store = fresh()
    val got = store.getOrCreate(pairs(
      ("acme", "en"), ("acme", "de"), ("zeta", "en"), ("acme", "en")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == Seq(
      (1L, "acme", 1L, "de"), (1L, "acme", 2L, "en"), (2L, "zeta", 3L, "en")))
    // same category NAME under two owners stays two rows (unique composite)
    assert(store.tree(spark).filter(col("category_name") === "en").count() == 2)
  }

  test("replay writes nothing; ids are stable") {
    val store = fresh()
    val batch = pairs(("acme", "en"), ("zeta", "fr"))
    val first = store.getOrCreate(batch).collect().toSet
    val ownerFiles = store.owners.bucketDirs
    val catFiles = store.categories.bucketDirs
    val again = store.getOrCreate(batch).collect().toSet
    assert(again == first, "replay must resolve to identical ids")
    assert(store.owners.bucketDirs == ownerFiles &&
      store.categories.bucketDirs == catFiles,
      "replay of known names must not touch the stores")
  }

  test("incremental batch keeps existing ids and extends from the max") {
    val store = fresh()
    store.getOrCreate(pairs(("acme", "en"), ("zeta", "fr")))
    val before = store.tree(spark).collect()
      .map(r => (r.getString(1), r.getString(3)) -> (r.getLong(0), r.getLong(2))).toMap
    // new owner, plus a new category under an existing owner
    val got = store.getOrCreate(pairs(
      ("acme", "de"), ("muon", "en"), ("acme", "en")))
      .collect().map(r => (r.getString(1), r.getString(3)) -> (r.getLong(0), r.getLong(2))).toMap
    // existing pair resolves to its old ids
    assert(got(("acme", "en")) == before(("acme", "en")))
    // new ids continue past the existing max, never recycle
    val oldCatIds = before.values.map(_._2).toSet
    val newCatIds = Seq(got(("acme", "de"))._2, got(("muon", "en"))._2)
    assert(newCatIds.forall(id => !oldCatIds.contains(id)))
    assert(newCatIds.forall(_ > oldCatIds.max))
    assert(got(("muon", "en"))._1 > before.values.map(_._1).max)
    assert(store.tree(spark).count() == 4)
  }

  test("fetchCategories scopes to one owner; unknown owner is empty") {
    val store = fresh()
    store.getOrCreate(pairs(("acme", "en"), ("acme", "de"), ("zeta", "en")))
    val acme = store.fetchCategories(spark, "acme")
      .collect().map(_.getString(1)).sorted.toSeq
    assert(acme == Seq("de", "en"))
    assert(store.fetchCategories(spark, "nobody").count() == 0)
    // uninitialized store: empty frame with the right schema, no error
    val cold = fresh()
    assert(cold.fetchCategories(spark, "acme").count() == 0)
    assert(cold.tree(spark).columns.toSeq ==
      Seq("owner_id", "owner_name", "category_id", "category_name"))
  }

  test("null names are dropped like the reference's NOT NULL constraint") {
    val store = fresh()
    val withNulls = Seq(
      (Some("acme"), Some("en")), (None, Some("en")), (Some("acme"), None))
      .toDF("owner_name", "category_name")
    assert(store.getOrCreate(withNulls).count() == 1)
    assert(store.tree(spark).count() == 1)
  }

  test("the declared store schemas are the columns getOrCreate writes") {
    val store = fresh()
    // the first batch creates both stores, the second upserts into them
    store.getOrCreate(pairs(("acme", "en"), ("zeta", "fr")))
    store.getOrCreate(pairs(("acme", "de"), ("muon", "en")))
    Seq(store.owners -> OwnershipStore.OwnerSchema,
        store.categories -> OwnershipStore.CategorySchema).foreach { case (st, declared) =>
      val written = spark.read.option("mergeSchema", "true").parquet(st.path)
        .drop("_bucket").schema
      assert(written.map(f => f.name -> f.dataType) == declared.map(f => f.name -> f.dataType),
        s"${st.path} wrote $written, declared $declared")
    }
  }

  test("a warm q74 runs at most 12 jobs: its store reads merge no footers") {
    val dir = SparkSuite.sf0001
    OwnershipQueries.q74FetchCategories(spark, dir).collect() // builds the stores
    val jobs = SparkSuite.jobsOf(OwnershipQueries.q74FetchCategories(spark, dir).collect())
    assert(jobs.size <= 12, s"a warm q74 ran ${jobs.size} jobs: $jobs")
  }
}

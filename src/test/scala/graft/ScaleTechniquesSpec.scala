package graft

import graft.fixtures.TestFixtures
import graft.operators.SkewUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB techniques that can't show up in small-SF timings but
  * must be correct and produce the right plan shapes: salting and
  * bucketed co-located joins.
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dynamic partition pruning reaches the pre-listed scan") {
    // At 100 TB the common shape is fact-partition-col = dim-col with
    // a selective dim filter: the partition filter only exists at
    // RUNTIME (after the dim broadcast), so planner-time pruning can't
    // help. Spark's DPP inserts a dynamicpruning#N expression into the
    // scan's PartitionFilters; FileSourceScanExec then evaluates it
    // against the PartitionDirectory values our PreListedFileIndex
    // returns — no re-listing, partitions dropped before any file read.
    val engine = TestFixtures.engineFor(spark, TestSpark.sfDir)
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    val fact = engine.tableDF("default", "lineitem_part")
    // the dim must be a SOURCE with a live selective Filter above it —
    // a pre-filtered LocalRelation constant-folds the filter away and
    // the PartitionPruning rule sees nothing selective to exploit
    val dimPath = TestSpark.scratch("dpp_dim")
    Seq(("A", "accepted"), ("N", "unused"), ("R", "unused")).toDF("flag", "note")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("note") === "accepted")
    val joined = fact.join(dim, col("l_returnflag") === col("flag"))
      .groupBy("flag").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
    assert(plan.contains("PreListedFileIndex"))
    val n = joined.collect().head.getLong(1)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .filter(col("l_returnflag") === "A").count()
    assert(n == want)
  }

  test("salted join returns exactly the plain join's rows") {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_linenumber")
    // rename o_orderkey to create the shared join key
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(orders, Seq("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect()
    val salted = SkewUtils.saltedJoin(li, orders, "l_orderkey", saltFactor = 7)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("targeted salted join: plain-join rows, only hot dim rows replicated") {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_linenumber")
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(orders, Seq("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect()
    val targeted = SkewUtils
      .saltedJoinTargeted(li, orders, "l_orderkey", saltFactor = 7, minCount = 4L)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderpriority").collect()
    assert(targeted.toSeq == plain.toSeq)

    // plan shape: the salt explode must sit ABOVE a semi-join-filtered
    // dim (only hot dim rows replicate), never the raw dim scan
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = SkewUtils
      .saltedJoinTargeted(li, orders, "l_orderkey", saltFactor = 7, minCount = 4L)
      .queryExecution.sparkPlan
    val explodes = plan.collect { case g: GenerateExec => g }
    assert(explodes.nonEmpty, "salt replication explode missing from the plan")
    explodes.foreach { g =>
      assert(g.child.exists {
        case j: BroadcastHashJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"salt explode fed by an unfiltered dim:\n$g")
    }
    // and the hot-key filter is real: with minCount=4 some orders
    // qualify (TPC-H orders have up to 7 line items) but not all
    val hot = SkewUtils.heavyHitters(li, "l_orderkey", 4L).count()
    assert(hot > 0 && hot < orders.count())
  }

  test("heavy-hitter detection finds the dominant keys") {
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val hh = SkewUtils.heavyHitters(docs, "lang", minCount = 100)
      .collect().map(_.getString(0)).toSet
    assert(hh.contains("en")) // en dominates the corpus
  }

  test("bucketed tables join without a shuffle on the join key") {
    // uses the session's warehouse dir (static conf, can't be set
    // post-session: spark-warehouse under the working directory)
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    // the in-memory catalog forgets tables across JVMs but their
    // managed locations persist; clear them or CTAS refuses
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      val d = new java.io.File(warehouse, t)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: no hash-partition exchange feeding the join
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n${plan.take(2000)}")
    assert(joined.count() == li.count()) // every lineitem matches one order
  }
}

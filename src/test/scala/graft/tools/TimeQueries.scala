package graft.tools
import org.apache.spark.sql.SparkSession
/** Time a comma-separated list of registered queries, N reps each, in
  * a fresh JVM (same session conf as Bench), to separate a query's
  * own cost from suite-level effects. The glue catalog is registered
  * first, so g-queries resolve.
  *
  * Usage: Test/runMain graft.tools.TimeQueries <q1,q2,...> [reps] [sfDir]
  * (sfDir defaults to SPARK_GRAFT_SF_DIR, else sf0.1)
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.fixtures.TestFixtures.engineFor(spark, sfDir)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val cnt = fn(spark, sfDir).count()
        println(f"TIMING $n rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt rows)")
      }
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for a comma-separated list of
  * registered queries into files — the r16 optimization round's
  * before/after plan evidence (`plans/r16/<query>_<tag>.txt`).
  *
  * Usage: Test/runMain graft.tools.PlanDump <q1,q2,...> <tag> [outDir]
  *
  * Iterative operators (graph loops, BPE training) return a
  * collected-result DataFrame whose plan is a LocalRelation — their
  * per-round internals do not show here; the file records only that
  * the result is a local relation.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val tag = args(1)
    val outDir = if (args.length > 2) args(2) else "plans/r16"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val body =
        s"# $n — explain(formatted), tag=$tag, sf=$sfDir\n" + formatted + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$tag.txt (${formatted.length} chars)")
    }
    spark.stop()
  }
}

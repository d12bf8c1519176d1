package graft.tools
import org.apache.spark.sql.SparkSession
/** Run a comma-separated list of registered queries at a given sf dir
  * in one JVM, write each result parquet plus one merged
  * oracle_sql.json for one tools/check.py invocation.
  *
  * Usage: Test/runMain graft.tools.CheckOne <q1,q2,...> [sfDir] [out]
  */
object CheckOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val out = if (args.length > 2) args(2) else "/tmp/checkone"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val entries = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.mode("overwrite").parquet(s"$out/$name")
      // AFTER the run, so dynamic oracles (fitted-literal embeds) exist
      val sql = graft.SparkEntry.oracleSql.get(name)
      val esc = sql.map(_.replace("\\", "\\\\").replace("\"", "\\\"")
        .flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString))
      s""""$name": "${esc.getOrElse("")}""""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      entries.mkString("{", ",\n ", "}").getBytes("UTF-8"))
    spark.stop()
  }
}

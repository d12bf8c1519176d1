package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** One shared local session for every suite (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Root of the specs' scratch tables: the working checkout's
    * `target/spec-scratch`, emptied on first use in each test JVM, so
    * a run leaves only its own tables and never writes into another
    * checkout. */
  private lazy val scratchRoot: java.io.File = {
    val root = new java.io.File("target/spec-scratch").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    root.mkdirs()
    root
  }

  /** A fresh, not yet existing path under the scratch root. */
  def scratch(name: String): String = s"${scratchRoot.getPath}/${name}_${System.nanoTime()}"

  /** Shuffle exchanges in `df`'s initial AQE plan, not counting those
    * inside cached relations (their plans run once, when filled). */
  def initialShuffles(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan.collect { case s: ShuffleExchangeExec => s }.size
    case p => p.collect { case s: ShuffleExchangeExec => s }.size
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.sys.process._

/** The bench's one stdout line (`Bench.compactLine`) and the trend gate
  * that reads it: the line fits the driver's ~2 KB output window with
  * sbt's `[info] ` prefix and `[success]` epilogue, round-trips every
  * query's centiseconds, and carries the -1 failure path.
  */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** The 198 per-query timings of the largest committed sf1 artifact. */
  private lazy val sf1: Seq[(String, Double)] = {
    val qs = mapper.readTree(new java.io.File("bench_history/sf1_r15.json")).get("queries")
    qs.fieldNames().asScala.toSeq.sorted.map(k => k -> qs.get(k).asDouble())
  }

  private def line(results: Seq[(String, Double)]) =
    Bench.compactLine(results, "/root/testdata/sf1", 6400L, 6500L)

  test("the compact line over 198 sf1 timings fits 1,900 bytes") {
    assert(sf1.size == 198)
    val bytes = line(sf1).getBytes("UTF-8").length
    assert(bytes <= 1900, s"compact line is $bytes bytes")
  }

  test("the cs map parses back to every query's centiseconds") {
    val node = mapper.readTree(line(sf1))
    assert(node.get("keys").asText() == "prefix")
    assert(node.get("n_queries").asInt() == sf1.size)
    assert(node.get("failed").asInt() == 0)
    assert(math.abs(node.get("value").asDouble() - sf1.map(_._2).sum) < 1e-3)
    val cs = node.get("cs").asText().split(",").map { kv =>
      val Array(k, v) = kv.split(":"); k -> v.toLong
    }.toMap
    assert(cs == sf1.map { case (k, v) => Bench.shortKey(k) -> math.round(v * 100) }.toMap)
  }

  test("every benched query has a unique short key") {
    val names = SparkEntry.queries.keys.filterNot(Bench.writeOps).toSeq
    val clashes = names.groupBy(Bench.shortKey).filter(_._2.size > 1)
    assert(clashes.isEmpty, s"short keys shared by several queries: $clashes")
  }

  test("a failed query gives value -1 and a -1 entry") {
    val l = line(Seq("q1_scan" -> 1.234, "q2_join" -> -1.0))
    assert(l.contains("\"value\":-1,"))
    val node = mapper.readTree(l)
    assert(node.get("failed").asInt() == 1)
    assert(node.get("cs").asText() == "q1:123,q2:-1")
  }

  test("the trend gate's self-test passes") {
    val out = new StringBuilder
    val rc = Seq("python3", "tools/test_trend_gate.py")
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc == 0, out.toString)
  }

  test("the between-query sweep empties the cached-plan registry and the persisted RDDs") {
    val spark = TestSpark.spark
    val cached = spark.range(10).toDF("x").persist()
    cached.count()
    spark.range(5).toDF("y").localCheckpoint()
    assert(org.apache.spark.sql.graft.Shim.cachedPlans(spark) > 0)
    Bench.releaseCached(spark)
    assert(org.apache.spark.sql.graft.Shim.cachedPlans(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}

package graft

import graft.operators.{EventAnalytics, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventAnalyticsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int, hour: Int = 0) =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("funnel ordering is strict and the window is inclusive") {
    val ev = Seq(
      // user 1: signup day 2, purchase day 5 -> converts
      (1L, "signup", ts(2)), (1L, "purchase", ts(5)),
      // user 2: purchase BEFORE its only signup -> no conversion
      (2L, "purchase", ts(1)), (2L, "signup", ts(3)),
      // user 3: purchase exactly 7 days after signup -> converts (inclusive)
      (3L, "signup", ts(4)), (3L, "purchase", ts(11)),
      // user 4: purchase 8 days after signup -> outside the window
      (4L, "signup", ts(4)), (4L, "purchase", ts(12)),
      // user 5: signup only
      (5L, "signup", ts(6)),
      // user 6: purchase only (never in the funnel base)
      (6L, "purchase", ts(6))
    ).toDF("user_id", "event_type", "ts")
    val r = EventAnalytics.orderedFunnel(ev).head()
    assert(r.getLong(0) == 5, "funnel base = users with a signup")
    assert(r.getLong(1) == 2, "users 1 and 3 convert; 2 is out of order, 4 too late")
  }

  test("cohort retention pins users to their first-event week") {
    val ev = Seq(
      // user 1: first event Mon Jan 1 week; active weeks 0 and 1
      (1L, "click", ts(2)), (1L, "view", ts(9)),
      // user 2: first event in week offset.. Jan 10 (week of Jan 8); active week 0 only
      (2L, "click", ts(10)), (2L, "view", ts(11))
    ).toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.cohortRetention(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L)))
  }

  test("pageRank matches a pure-Scala integer power iteration on a hand graph") {
    // star: users 1..4 all view item 7 (node -8); user 1 also views
    // item 2 (node -3) — the hub item must rank highest
    val ev = Seq(
      (1L, "view", ts(1), """{"k": 7}"""), (2L, "view", ts(1), """{"k": 7}"""),
      (3L, "view", ts(1), """{"k": 7}"""), (4L, "view", ts(1), """{"k": 7}"""),
      (1L, "view", ts(2), """{"k": 2}"""),
      (9L, "purchase", ts(1), """{"k": 7}""") // non-view: excluded
    ).toDF("user_id", "event_type", "ts", "props")
    val got = EventAnalytics.pageRank(ev, iters = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    // reference: same fixed-point ops in plain Scala
    val edges = Seq((1L, -8L), (2L, -8L), (3L, -8L), (4L, -8L), (1L, -3L))
      .flatMap { case (u, i) => Seq((u, i), (i, u)) }
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val r0 = 1000000000000L / nodes.size
    var rank = nodes.map(_ -> r0).toMap
    (1 to 5).foreach { _ =>
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = nodes.map(n => n -> (3L * r0 + 17L * s.getOrElse(n, 0L)) / 20L).toMap
    }
    val want = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
    assert(got == want)
    assert(got.head._1 == -8L, "hub item should rank first")
  }

  test("sequenceMatch: ordered funnels with and without intervening errors") {
    val ev = Seq(
      // user 1: s v p -> both funnels
      (1L, 1L, "signup", ts(1)), (1L, 2L, "view", ts(2)), (1L, 3L, "purchase", ts(3)),
      // user 2: s e v p -> funnel yes, clean (s[^e]*p) NO
      (2L, 4L, "signup", ts(1)), (2L, 5L, "error", ts(2)),
      (2L, 6L, "view", ts(3)), (2L, 7L, "purchase", ts(4)),
      // user 3: v s p -> clean funnel (s then p, no error) but NOT s..v..p
      (3L, 8L, "view", ts(1)), (3L, 9L, "signup", ts(2)), (3L, 10L, "purchase", ts(3)),
      // user 4: p s v -> neither (purchase precedes signup)
      (4L, 11L, "purchase", ts(1)), (4L, 12L, "signup", ts(2)), (4L, 13L, "view", ts(3)),
      // user 5: same-ts ties broken by event_id: s(14) v(15) p(16) -> both
      (5L, 14L, "signup", ts(1)), (5L, 15L, "view", ts(1)), (5L, 16L, "purchase", ts(1))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val r = EventAnalytics.sequenceMatch(ev).head()
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) == 3L, "users 1, 2, 5 complete s..v..p")
    assert(r.getLong(2) == 3L, "users 1, 3, 5 complete s->p without an error between")
  }

  test("hits matches a pure-Scala integer mutual recursion on a hand graph") {
    // users 1..4 view item 7 (hub magnet), user 1 also views item 2
    val ev = Seq(
      (1L, "view", ts(1), """{"k": 7}"""), (2L, "view", ts(1), """{"k": 7}"""),
      (3L, "view", ts(1), """{"k": 7}"""), (4L, "view", ts(1), """{"k": 7}"""),
      (1L, "view", ts(2), """{"k": 2}"""),
      (9L, "purchase", ts(1), """{"k": 7}""") // non-view: excluded
    ).toDF("user_id", "event_type", "ts", "props")
    val got = EventAnalytics.hits(ev, iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    // reference: identical integer ops in plain Scala
    val edges = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (1L, 2L))
    val unit = 1000000L
    var hub = edges.map(_._1).distinct.map(_ -> unit).toMap
    var auth = Map.empty[Long, Long]
    (1 to 5).foreach { _ =>
      val aRaw = edges.groupBy(_._2).map { case (i, es) =>
        i -> es.map(e => hub(e._1)).sum }
      val sa = aRaw.values.sum
      auth = aRaw.map { case (i, r) => i -> (r * unit) / sa }
      val hRaw = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auth(e._2)).sum }
      val sh = hRaw.values.sum
      hub = hRaw.map { case (u, r) => u -> (r * unit) / sh }
    }
    val want = (auth.toSeq.sortBy { case (n, a) => (-a, n) }.take(10)
      .map { case (n, a) => ("auth", n, a) } ++
      hub.toSeq.sortBy { case (n, h) => (-h, n) }.take(10)
        .map { case (n, h) => ("hub", n, h) })
      .sortBy { case (k, n, _) => (k, n) }
    assert(got == want)
    // item 7 must dominate authority; its viewers share hub mass
    assert(got.filter(_._1 == "auth").maxBy(_._3)._2 == 7L)
  }

  test("transitionMatrix counts consecutive pairs and exact-ppm normalizes per prev") {
    val ev = Seq(
      (1L, 10L, "A", ts(1)), (1L, 11L, "B", ts(2)), (1L, 12L, "A", ts(3)),
      (1L, 13L, "C", ts(4)),
      (2L, 20L, "A", ts(1)), (2L, 21L, "B", ts(2)),
      (3L, 30L, "A", ts(5)) // single event: no transition
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = EventAnalytics.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // A->B twice, A->C once (A total 3), B->A once (B total 1)
    assert(got == Seq(
      ("A", "B", 2L, 666666L), ("A", "C", 1L, 333333L), ("B", "A", 1L, 1000000L)))
  }

  test("transitionMatrix breaks timestamp ties by event_id") {
    val ev = Seq(
      // same ts: event_id order decides A -> B -> C
      (1L, 2L, "B", ts(1)), (1L, 1L, "A", ts(1)), (1L, 3L, "C", ts(1))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = EventAnalytics.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("A", "B"), ("B", "C")))
  }

  test("triangleStats matches brute-force enumeration on a hand graph") {
    // u1 walks items 1,2,3,1 -> edges {1,2},{2,3},{1,3}: one triangle;
    // u2 walks 1,4 -> edge {1,4}; u3 repeats 2,3 (dup edge) and a
    // self-transition 4,4 (ignored)
    val ev = Seq(
      (1L, 1L, ts(1), """{"k": 1}"""), (1L, 2L, ts(2), """{"k": 2}"""),
      (1L, 3L, ts(3), """{"k": 3}"""), (1L, 4L, ts(4), """{"k": 1}"""),
      (2L, 5L, ts(1), """{"k": 1}"""), (2L, 6L, ts(2), """{"k": 4}"""),
      (3L, 7L, ts(1), """{"k": 2}"""), (3L, 8L, ts(2), """{"k": 3}"""),
      (4L, 9L, ts(1), """{"k": 4}"""), (4L, 10L, ts(2), """{"k": 4}""")
    ).toDF("user_id", "event_id", "ts", "props")
      .withColumn("event_type", lit("view"))
    val r = EventAnalytics.triangleStats(ev).head()
    assert(r.getLong(0) == 1L, "exactly one triangle {1,2,3}")
    // degrees: 1->3, 2->2, 3->2, 4->1 ; wedges = 3+1+1+0
    assert(r.getLong(1) == 5L)
  }

  test("triangleStats matches a quadratic reference on a random graph") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(1 + i % 25, i % 24),
        s"""{"k": ${rnd.nextInt(15)}}""")
    }
    val ev = rows.toDF("user_id", "event_id", "ts", "props")
      .withColumn("event_type", lit("view"))
    val r = EventAnalytics.triangleStats(ev).head()

    // reference: derive the same edge set in Scala, count triangles brute-force
    val byUser = rows.groupBy(_._1).values.flatMap { es =>
      val seq = es.sortBy(e => (e._3.getTime, e._2))
        .map(e => e._4.replaceAll("[^0-9]", "").toLong)
      seq.zip(seq.tail).filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }.toSet
    val nodes = byUser.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val tri = (for {
      i <- nodes; j <- nodes if j > i; l <- nodes if l > j
      if byUser((i, j)) && byUser((j, l)) && byUser((i, l))
    } yield 1).size
    val deg = nodes.map(n => byUser.count { case (a, b) => a == n || b == n })
    assert(r.getLong(0) == tri.toLong)
    assert(r.getLong(1) == deg.map(d => d.toLong * (d - 1) / 2).sum)
  }

  test("labelProp matches a pure-Scala synchronous LPA on a hand graph") {
    // two view cliques bridged by one shared user: users 1-3 x item 7,
    // users 3-5 x item 2 — LPA must pull each side toward one label
    val ev = Seq(
      (1L, "view", ts(1), """{"k": 7}"""), (2L, "view", ts(1), """{"k": 7}"""),
      (3L, "view", ts(1), """{"k": 7}"""), (3L, "view", ts(2), """{"k": 2}"""),
      (4L, "view", ts(2), """{"k": 2}"""), (5L, "view", ts(2), """{"k": 2}"""),
      (9L, "purchase", ts(1), """{"k": 7}""") // non-view: excluded
    ).toDF("user_id", "event_type", "ts", "props")
    val got = EventAnalytics.labelProp(ev, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    // reference: synchronous min-tie-break LPA in plain Scala
    val edges = Seq((1L, -8L), (2L, -8L), (3L, -8L), (3L, -3L), (4L, -3L), (5L, -3L))
      .flatMap { case (u, i) => Seq((u, i), (i, u)) }
    val nodes = edges.map(_._1).distinct
    var lbl = nodes.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = edges.groupBy(_._1).map { case (n, es) =>
        val freq = es.map { case (_, nb) => lbl(nb) }.groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> freq.toSeq.maxBy { case (l, c) => (c.toLong, -l) }._1
      }
    }
    val want = lbl.values.groupBy(identity)
      .map { case (l, xs) => (l, xs.size.toLong) }
      .toSeq.sortBy { case (l, n) => (-n, l) }.take(20)
    assert(got == want)
  }

  test("kCoreTrace matches a pure-Scala peel on a hand graph") {
    // users 1-3 all view items 7 and 2 (a 2-connected block);
    // user 4 views only item 7, user 5 only item 9 (a pendant pair)
    val ev = Seq(
      (1L, "view", ts(1), """{"k": 7}"""), (1L, "view", ts(2), """{"k": 2}"""),
      (2L, "view", ts(1), """{"k": 7}"""), (2L, "view", ts(2), """{"k": 2}"""),
      (3L, "view", ts(1), """{"k": 7}"""), (3L, "view", ts(2), """{"k": 2}"""),
      (4L, "view", ts(3), """{"k": 7}"""),
      (5L, "view", ts(3), """{"k": 9}""")
    ).toDF("user_id", "event_type", "ts", "props")
    val got = EventAnalytics.kCoreTrace(ev, k = 2, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq

    // reference peel in plain Scala
    val edges = Seq((1L, -8L), (1L, -3L), (2L, -8L), (2L, -3L),
      (3L, -8L), (3L, -3L), (4L, -8L), (5L, -10L))
      .flatMap { case (u, i) => Seq((u, i), (i, u)) }
    var alive = edges.map(_._1).toSet
    val want = (1 to 4).map { r =>
      val deg = edges.filter { case (a, b) => alive(a) && alive(b) }
        .groupBy(_._1).map { case (n, es) => n -> es.size }
      alive = alive.filter(n => deg.getOrElse(n, 0) >= 2)
      (r, alive.size.toLong)
    }
    assert(got == want)
    // the 2-core is exactly the 2-connected block {1,2,3,-8,-3}
    assert(want.last._2 == 5L)
  }

  test("bfsHops and shortestPaths return empty frames on view-less events") {
    // no 'view' rows with a numeric k -> empty view graph; the DuckDB
    // oracles return zero rows on the same input (k-core: every
    // round's count is 0), so no operator may divide by the zero node
    // count (pageRank), read a NULL total (hits) or NPE on the null
    // min-source cell (bfsHops, shortestPaths). A non-numeric k is
    // dropped like a missing one, not a cast error.
    val ev = Seq((1L, "click", ts(2), """{"k":1}"""),
        (2L, "purchase", ts(3), """{"k":2}"""),
        (3L, "view", ts(4), """{"j":3}"""),
        (4L, "view", ts(5), """{"k":"x"}"""))
      .toDF("user_id", "event_type", "ts", "props")
    val hops = EventAnalytics.bfsHops(ev)
    assert(hops.columns.toSeq == Seq("hop", "n_nodes"))
    assert(hops.count() == 0)
    val sp = EventAnalytics.shortestPaths(ev)
    assert(sp.columns.toSeq == Seq("d", "n_nodes", "min_node", "max_node"))
    assert(sp.count() == 0)
    val pr = EventAnalytics.pageRank(ev)
    assert(pr.columns.toSeq == Seq("node", "rank") && pr.count() == 0)
    val h = EventAnalytics.hits(ev)
    assert(h.columns.toSeq == Seq("kind", "node", "score") && h.count() == 0)
    val lp = EventAnalytics.labelProp(ev)
    assert(lp.columns.toSeq == Seq("community", "n_nodes") && lp.count() == 0)
    val kc = EventAnalytics.kCoreTrace(ev, k = 2, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(kc == Seq((1, 0L), (2, 0L), (3, 0L)))
    val tri = EventAnalytics.triangleStats(ev.withColumn("event_id", col("user_id"))).collect()
    assert(tri.length == 1 && tri.head.getLong(0) == 0L)
  }

  /** Views as `(user, k)` rows, the input of the view-graph operators. */
  private def views(uk: (Long, Long)*) =
    uk.map { case (u, k) => (u, "view", ts(1), s"""{"k": $k}""") }
      .toDF("user_id", "event_type", "ts", "props")

  /** The symmetric view graph of `uk` as (src, dst, weight) in plain
    * Scala: user u <-> item -(k+1), weight (u + k) % 5 + 1. */
  private def refEdges(uk: Seq[(Long, Long)]) = uk.distinct.flatMap { case (u, k) =>
    val w = (u + k) % 5 + 1
    Seq((u, -(k + 1), w), (-(k + 1), u, w))
  }

  test("bfsHops matches a pure-Scala BFS, including a frontier that empties early") {
    def reference(uk: Seq[(Long, Long)], maxHops: Int): Seq[(Int, Long)] = {
      val edges = refEdges(uk)
      val source = edges.map(_._1).filter(_ > 0).min
      var hop = Map(source -> 0)
      var frontier = Set(source)
      (1 to maxHops).foreach { h =>
        frontier = edges.collect { case (s, d, _) if frontier(s) && !hop.contains(d) => d }.toSet
        hop ++= frontier.map(_ -> h)
      }
      hop.values.groupBy(identity).map { case (h, ns) => (h, ns.size.toLong) }.toSeq.sorted
    }
    def got(uk: Seq[(Long, Long)], maxHops: Int) =
      EventAnalytics.bfsHops(views(uk: _*), maxHops).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // users 1, 2 share item 7; user 3 and item 2 sit apart: the
    // frontier from user 1 is empty after hop 2, before maxHops = 4
    val island = Seq((1L, 7L), (2L, 7L), (3L, 2L))
    assert(got(island, 4) == reference(island, 4))
    assert(got(island, 4) == Seq((0, 1L), (1, 1L), (2, 1L)))
    // a chain 1 - i7 - 2 - i8 - 3 - i9 - 4 is cut at maxHops
    val chain = Seq((1L, 7L), (2L, 7L), (2L, 8L), (3L, 8L), (3L, 9L), (4L, 9L))
    assert(got(chain, 3) == reference(chain, 3))
    assert(got(chain, 3).map(_._1) == Seq(0, 1, 2, 3))
  }

  test("shortestPaths matches a pure-Scala bounded Bellman-Ford, incl. a cheaper longer path") {
    def reference(uk: Seq[(Long, Long)], maxHops: Int): Seq[(Long, Long, Long, Long)] = {
      val edges = refEdges(uk)
      var dist = Map(edges.map(_._1).filter(_ > 0).min -> 0L)
      (1 to maxHops).foreach { _ =>
        val ext = for ((s, t, w) <- edges; ds <- dist.get(s)) yield t -> (ds + w)
        dist = (dist.toSeq ++ ext).groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
      }
      dist.toSeq.groupBy(_._2).map { case (d, ns) =>
        (d, ns.size.toLong, ns.map(_._1).min, ns.map(_._1).max)
      }.toSeq.sortBy(_._1)
    }
    def got(uk: Seq[(Long, Long)], maxHops: Int) =
      EventAnalytics.shortestPaths(views(uk: _*), maxHops).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // user 1 reaches user 2 directly through item 2 (weights 4 + 5 = 9,
    // two hops) or through item 4, user 3 and item 8 (1 + 3 + 2 + 1 =
    // 7, four hops): the cheaper path lowers an already-reached node
    // in round 4, which only delta relaxation of improved nodes finds
    val g = Seq((1L, 2L), (2L, 2L), (1L, 4L), (3L, 4L), (3L, 8L), (2L, 8L))
    def distOf2(rows: Seq[(Long, Long, Long, Long)]) =
      rows.filter(r => r._3 <= 2L && r._4 >= 2L).map(_._1)
    assert(got(g, 3) == reference(g, 3))
    assert(distOf2(got(g, 3)).contains(9L))
    assert(got(g, 4) == reference(g, 4))
    assert(distOf2(got(g, 4)).contains(7L))
    // a budget far past convergence: the loop exits early, same table
    assert(got(g, 12) == reference(g, 12))
  }

  test("the view-graph operators and triangleStats leave no cached state behind") {
    val sc = spark.sparkContext
    val ev = views((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (1L, 2L), (2L, 2L))
      .withColumn("event_id", lit(0L))
    val ops = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => EventAnalytics.pageRank(ev)),
      "bfsHops" -> (() => EventAnalytics.bfsHops(ev)),
      "hits" -> (() => EventAnalytics.hits(ev)),
      "labelProp" -> (() => EventAnalytics.labelProp(ev)),
      "kCoreTrace" -> (() => EventAnalytics.kCoreTrace(ev, k = 2)),
      "shortestPaths" -> (() => EventAnalytics.shortestPaths(ev)),
      "triangleStats" -> (() => EventAnalytics.triangleStats(ev)))
    ops.foreach { case (name, op) =>
      val rdds = sc.getPersistentRDDs.keySet
      val entries = org.apache.spark.sql.graft.Shim.cachedPlans(spark)
      assert(op().collect().nonEmpty, name)
      val left = sc.getPersistentRDDs.keySet -- rdds
      assert(left.isEmpty, s"$name left persisted RDDs $left")
      assert(org.apache.spark.sql.graft.Shim.cachedPlans(spark) == entries, s"$name left cached plans")
    }
  }

  test("each view-graph round, built by its shipped step, keeps its exchange count") {
    import EventAnalytics._
    val ev = views((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (1L, 2L))
    def nodes(edges: DataFrame) = edges.select(col("src").as("node")).distinct()
    Rounds.scope { rs =>
      val pairs = viewPairs(ev, rs).get
      val edges = viewEdges(pairs, None)
      val deg = rs.cache(edges.groupBy("src").agg(count(lit(1)).as("deg")))
      val adj = rs.cache(edges.join(deg, "src"))
      val ranks = rs.checkpoint(deg.select(col("src").as("node"), lit(100L).as("rank")))
      assert(TestSpark.initialShuffles(pageRankStep(adj, ranks, 100L)) == 1)
      val f0 = rs.checkpoint(spark.range(1).select(lit(1L).as("node"), lit(0).as("hop")))
      assert(TestSpark.initialShuffles(bfsStep(edges, List(f0), 1)) == 1)
      val hev = pairs.select(col("u"), col("k").as("it"))
      val hubs = rs.checkpoint(hev.select("u").distinct().select(col("u"), lit(1L).as("raw")))
      assert(TestSpark.initialShuffles(hitsStep(hev, Rounds.Round(hubs, 1L), "u", "it")) == 1)
      val labels = rs.checkpoint(nodes(edges).select(col("node"), col("node").as("lbl")))
      assert(TestSpark.initialShuffles(labelPropStep(edges, labels)) == 2)
      assert(TestSpark.initialShuffles(kCoreStep(edges, rs.checkpoint(nodes(edges)), 11)) == 1)
      val wEdges = viewEdges(pairs, Some((col("u") + col("k")) % 5 + lit(1L)))
      val d0 = rs.checkpoint(spark.range(1)
        .select(lit(1L).as("node"), lit(0L).as("nd"), lit(true).as("imp")))
      assert(TestSpark.initialShuffles(shortestPathStep(wEdges, d0)) == 2)
    }
  }
}

package graft.operators

import graft.operators.Rounds.{Round, collected}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Behavioral analytics over the event stream — the product-side
  * queries an events table exists for: ordered conversion funnels
  * and cohort retention.
  *
  * Scale shape: everything here is keyed by `user_id` — per-step
  * aggregates are map-side-combined before one user-keyed shuffle,
  * and the step join is co-partitioned on the same key (Spark reuses
  * the exchange). Nothing is windowed globally and nothing depends
  * on event order within a partition.
  */
object EventAnalytics {

  /** Ordered two-step conversion funnel: users whose first `stepA`
    * event is followed by a `stepB` event within `withinDays`.
    * Ordering is STRICT — a purchase before the first signup does
    * not convert — which a bare per-type count cannot express.
    * Output: one row `(n_step_a, n_converted)`.
    */
  def orderedFunnel(events: DataFrame, stepA: String = "signup",
      stepB: String = "purchase", withinDays: Int = 7): DataFrame = {
    val a = events.filter(col("event_type") === stepA)
      .groupBy("user_id").agg(min("ts").as("a_ts"))
    val b = events.filter(col("event_type") === stepB)
      .select(col("user_id"), col("ts").as("b_ts"))
    val conv = a.join(b, Seq("user_id"))
      .filter(col("b_ts") >= col("a_ts") &&
        unix_micros(col("b_ts")) - unix_micros(col("a_ts")) <= withinDays.toLong * 86400L * 1000000L)
      .select("user_id").distinct()
    a.agg(count(lit(1)).as("n_step_a"))
      .crossJoin(conv.agg(count(lit(1)).as("n_converted")))
  }

  /** DuckDB oracle for [[orderedFunnel]]. */
  def sqlOrderedFunnel(stepA: String = "signup", stepB: String = "purchase",
      withinDays: Int = 7): String =
    s"""WITH a AS (SELECT user_id, min(ts) AS a_ts FROM events
       |  WHERE event_type = '$stepA' GROUP BY user_id),
       |conv AS (SELECT DISTINCT a.user_id FROM a JOIN events b USING (user_id)
       |  WHERE b.event_type = '$stepB' AND b.ts >= a.a_ts
       |    AND epoch_us(b.ts) - epoch_us(a.a_ts) <= ${withinDays.toLong * 86400L * 1000000L})
       |SELECT (SELECT count(*) FROM a) AS n_step_a,
       |       (SELECT count(*) FROM conv) AS n_converted""".stripMargin

  /** Cohort retention matrix: users grouped by the week of their
    * FIRST event (the cohort), counted as retained in each weekly
    * offset they have any activity in. Output: `(cohort, week_offset,
    * n_users)`, offsets 0..`maxOffset`.
    */
  def cohortRetention(events: DataFrame, maxOffset: Int = 3): DataFrame = {
    val first = events.groupBy("user_id").agg(min("ts").as("first_ts"))
    events.select("user_id", "ts")
      .join(first, Seq("user_id"))
      .select(
        col("user_id"),
        date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd").as("cohort"),
        floor((unix_micros(col("ts")) - unix_micros(date_trunc("week", col("first_ts"))))
          / lit(7L * 86400L * 1000000L)).as("week_offset"))
      .filter(col("week_offset") <= maxOffset)
      .groupBy("cohort", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** DuckDB oracle for [[cohortRetention]]. */
  def sqlCohortRetention(maxOffset: Int = 3): String =
    s"""WITH first AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
       |x AS (
       |  SELECT e.user_id,
       |    strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort,
       |    (epoch_us(e.ts) - epoch_us(date_trunc('week', first_ts)))
       |      // ${7L * 86400L * 1000000L} AS week_offset
       |  FROM events e JOIN first USING (user_id))
       |SELECT cohort, week_offset, count(DISTINCT user_id) AS n_users
       |FROM x WHERE week_offset <= $maxOffset
       |GROUP BY cohort, week_offset ORDER BY cohort, week_offset""".stripMargin

  /** The distinct `(u, k)` pairs of the view events whose props carry
    * a numeric `k`, cached in `rs`: the base of every view-graph
    * operator below. `None` when there are none; each operator then
    * returns its oracle's shape for an empty graph. Rows without a
    * numeric `k` are dropped, not mapped to a shared NULL item node: a
    * NULL node would receive rank, and Spark and DuckDB order NULLs
    * differently in a final top-k.
    */
  private[graft] def viewPairs(events: DataFrame, rs: Rounds): Option[DataFrame] = {
    val k = get_json_object(col("props"), "$.k").try_cast("long")
    val pairs = rs.cache(events.filter(col("event_type") === "view" && k.isNotNull)
      .select(col("user_id").as("u"), k.as("k")).distinct())
    if (rs.count(pairs) == 0L) None else Some(pairs)
  }

  /** The symmetric view graph over [[viewPairs]]: every pair as the
    * edges user `u` -> item `-(k+1)` and back (items live in the
    * negative id space, so the two namespaces never collide), with
    * `weight` as column `w` when one is given.
    */
  private[graft] def viewEdges(pairs: DataFrame, weight: Option[Column]): DataFrame = {
    val w = weight.map(_.as("w")).toSeq
    val b = pairs.select(Seq(col("u"), (-(col("k") + lit(1L))).as("it")) ++ w: _*)
    val wc = w.map(_ => col("w"))
    b.select(Seq(col("u").as("src"), col("it").as("dst")) ++ wc: _*)
      .union(b.select(Seq(col("it").as("src"), col("u").as("dst")) ++ wc: _*))
  }

  /** The smallest positive node of `edges`, the source of [[bfsHops]]
    * and [[shortestPaths]]; `None` when no node id is positive (the
    * oracles then return zero rows). */
  private def sourceNode(edges: DataFrame): Option[Long] = {
    val r = edges.filter(col("src") > 0).agg(min(col("src"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** An empty result with the columns of `ddl`. */
  private def noRows(events: DataFrame, ddl: String): DataFrame =
    Rounds.local(events.sparkSession, StructType.fromDDL(ddl), Nil)

  /** Fixed-point unit for [[pageRank]]: ranks are BIGINTs in units of
    * 1e-12, so every operation is integer arithmetic.
    */
  private val PrUnit = 1000000000000L

  /** PageRank over the bipartite view graph (users <-> viewed items)
    * — the attention-centrality ranking an event pipeline feeds back
    * into curation and recommendation. Damping 0.85, `iters` fixed
    * power iterations, top 20 nodes by rank.
    *
    * EXACT fixed-point arithmetic: ranks are BIGINT multiples of
    * 1e-12; each neighbor contribution is `rank div deg` (integer
    * division), the per-node sum is an exact BIGINT aggregate
    * (order-insensitive, so shuffle/combine order can never perturb
    * the result), and damping is `(3*r0 + 17*sum) div 20` — 0.15 and
    * 0.85 as exact rationals. The oracle replays the identical
    * integer ops, so the compare is bit-exact with no float epsilon.
    *
    * Scale shape: each round ([[pageRankStep]]) is ONE edge-rank
    * equi-join plus one dst-keyed aggregate (map-side combined) — the
    * GraphX/Pregel plan re-expressed relationally. Degrees are joined
    * onto the cached adjacency once, outside the loop. The graph is
    * symmetric by construction, so every node has in-degree >= 1 and
    * the dst aggregate covers the whole node set without a
    * `nodes LEFT JOIN contrib`. Nothing is collected to the driver but
    * the final top-k.
    */
  def pageRank(events: DataFrame, iters: Int = 5): DataFrame = Rounds.scope { rs =>
    viewPairs(events, rs).fold(noRows(events, "node BIGINT, rank BIGINT")) { pairs =>
      val edges = viewEdges(pairs, None)
      // one row per distinct src, which is the node set
      val deg = rs.cache(edges.groupBy("src").agg(count(lit(1)).as("deg")))
      val r0 = PrUnit / rs.count(deg)
      val adj = rs.cache(edges.join(deg, "src"))
      val seed = rs.checkpoint(deg.select(col("src").as("node"), lit(r0).as("rank")))
      val run = rs.loop(Round(seed, 0L), iters)((h, _) => pageRankStep(adj, h.head.frame, r0))(
        rs.count)((_, _) => false)
      collected(run.last.frame.orderBy(desc("rank"), col("node")).limit(20))
    }
  }

  /** One [[pageRank]] round: `(node, rank)` from the previous round's. */
  private[graft] def pageRankStep(adj: DataFrame, ranks: DataFrame, r0: Long): DataFrame =
    adj.join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"), expr("rank div deg").as("c"))
      .groupBy("node")
      .agg(expr(s"(3L * ${r0}L + 17L * sum(c)) div 20L").as("rank"))

  /** BFS hop counts from the smallest user node over the same
    * bipartite view graph [[pageRank]] walks — single-source shortest
    * paths at unit edge weight, the reachability/radius diagnostic a
    * graph-dedup or recommendation pipeline reads next to its
    * components. Returns the hop DISTRIBUTION `(hop, n_nodes)` for
    * hops 0..`maxHops` (unreached nodes are absent; all-integer, so
    * the compare is exact).
    *
    * Scale shape: per round ([[bfsStep]]) ONE frontier-edges
    * equi-join, a distinct and an anti-join against the settled set,
    * all keyed — the Pregel BFS re-expressed relationally. Only the
    * frontier (newly-settled nodes) joins the edges, so a round's cost
    * tracks the frontier, not the graph, and the loop exits once a
    * round settles nothing: every later frontier would join an empty
    * one. The output is a maxHops-row aggregate; nothing bigger
    * reaches the driver.
    */
  def bfsHops(events: DataFrame, maxHops: Int = 4): DataFrame = Rounds.scope { rs =>
    val graph = for {
      pairs <- viewPairs(events, rs)
      edges = viewEdges(pairs, None)
      source <- sourceNode(edges)
    } yield (edges, source)
    graph.fold(noRows(events, "hop INT, n_nodes BIGINT")) { case (edges, source) =>
      val seed = rs.checkpoint(events.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0).as("hop")))
      val run = rs.loop(Round(seed, 1L), maxHops)((h, hop) => bfsStep(edges, h.map(_.frame), hop))(
        rs.count)((_, latest) => latest.value == 0L)
      collected(run.history.map(_.frame).reduce(_.union(_))
        .groupBy("hop").agg(count(lit(1)).as("n_nodes")).orderBy("hop"))
    }
  }

  /** One [[bfsHops]] round: the nodes first reached at `hop`, from the
    * earlier frontiers (newest first); the settled set is their union,
    * so no cumulative table is re-materialized. */
  private[graft] def bfsStep(edges: DataFrame, frontiers: List[DataFrame], hop: Int): DataFrame = {
    val settled = frontiers.map(_.select(col("node"))).reduce(_.union(_))
    frontiers.head.withColumnRenamed("node", "src")
      .join(edges, "src")
      .select(col("dst").as("node")).distinct()
      .join(settled, Seq("node"), "left_anti")
      .select(col("node"), lit(hop).as("hop"))
  }

  /** DuckDB oracle for [[bfsHops]] — the frontier expansion unrolled
    * to `maxHops` CTE stages (settled-set anti-join per stage).
    */
  def sqlBfsHops(maxHops: Int = 4): String = {
    val base =
      s"""WITH ev AS (
         |  SELECT DISTINCT user_id AS u,
         |    -(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) + 1) AS it
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |e AS (SELECT u AS src, it AS dst FROM ev
         |      UNION ALL SELECT it AS src, u AS dst FROM ev),
         |d0 AS (SELECT MIN(src) AS node, 0 AS hop FROM e WHERE src > 0
       |      HAVING MIN(src) IS NOT NULL)""".stripMargin
    val stages = (1 to maxHops).map { h =>
      val prev = s"d${h - 1}"
      s"""d$h AS (
         |  SELECT node, hop FROM $prev
         |  UNION ALL
         |  SELECT f.node, $h AS hop FROM (
         |    SELECT DISTINCT e.dst AS node FROM e
         |    JOIN $prev p ON e.src = p.node AND p.hop = ${h - 1}) f
         |  WHERE f.node NOT IN (SELECT node FROM $prev))""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT CAST(hop AS INTEGER) AS hop, COUNT(*)::BIGINT AS n_nodes " +
      s"FROM d$maxHops GROUP BY hop ORDER BY hop"
  }

  /** Markov transition matrix over the event-type sequence: for each
    * user the events are totally ordered by `(ts, event_id)`, every
    * consecutive `(prev_type, next_type)` pair is counted, and the
    * per-prev transition probability is reported in exact integer
    * parts-per-million (`1e6 * n div total` — no float division sits
    * on the cross-engine compare). The user-journey model a
    * recommendation or anomaly pipeline reads before fitting
    * anything heavier.
    *
    * Scale shape: ONE user-keyed shuffle for the lag window (the
    * same partitioning sessionization uses), then a
    * map-side-combined count over a (|types|²)-sized key space and a
    * window over that tiny aggregate — the output is bounded by the
    * type vocabulary, never the event count.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    pairs.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("ppm",
        expr("(1000000L * n_transitions) div sum(n_transitions) over (partition by prev_type)"))
      .orderBy("prev_type", "next_type")
  }

  /** DuckDB oracle for [[transitionMatrix]]. */
  def sqlTransitionMatrix: String =
    """WITH p AS (
      |  SELECT event_type AS prev_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT prev_type, next_type, COUNT(*)::BIGINT AS n_transitions
      |      FROM p WHERE next_type IS NOT NULL GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n_transitions,
      |  ((1000000 * n_transitions) // SUM(n_transitions) OVER (PARTITION BY prev_type))::BIGINT AS ppm
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Triangle and wedge counts over the ITEM TRANSITION graph (the
    * undirected graph whose edges connect items viewed consecutively
    * by the same user) — `n_triangles / n_wedges` is the global
    * clustering coefficient, the graph-health signal that separates
    * a genuinely clustered catalog from a random browse pattern.
    *
    * Exact integers end-to-end. Triangle enumeration uses DEGREE
    * ORIENTATION (Schank's algorithm, the standard distributed
    * shape): every undirected edge is directed from its
    * lower-(degree, id) endpoint to its higher one, so each triangle
    * {p,q,r} with p<q<r in that total order is generated exactly
    * once — as the wedge (q,r) out of p, closed by the oriented edge
    * q→r. The payoff at scale: a node's OUT-degree in the
    * orientation is O(√m) no matter how big a hub it is (all of a
    * hub's edges point INTO it once its degree dominates), so the
    * wedge join's per-key fan-out — the quadratic term that kills
    * naive triangle counting on skewed graphs — is bounded and the
    * total wedge volume is O(m^1.5), not O(m·maxdeg). Three keyed
    * equi-joins, no broadcast of anything unbounded, one scalar row
    * to the driver.
    */
  def triangleStats(events: DataFrame): DataFrame = Rounds.scope { rs =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events.filter(col("event_type") === "view")
      .filter(get_json_object(col("props"), "$.k").try_cast("long").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").try_cast("long").as("it"))
    // edges/deg/oriented each feed SEVERAL consumers below (edges:
    // deg's two union branches + oriented; deg: two orient joins + the
    // wedge total; oriented: e1, e2, and the closing join) — uncached,
    // the measured plan re-ran the scan→window→distinct subtree 17
    // times (differing projections defeat exchange reuse). Lazy caches
    // make each tier compute once; the scope drops them after the
    // one-row result is collected.
    val edges = rs.cache(ev.withColumn("nx", lead(col("it"), 1).over(w))
      .filter(col("nx").isNotNull && col("nx") =!= col("it"))
      .select(least(col("it"), col("nx")).as("x"),
        greatest(col("it"), col("nx")).as("y"))
      .distinct())
    val deg = rs.cache(edges.select(col("x").as("n")).union(edges.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")))
    // orient x→y iff (d(x), x) < (d(y), y); x<y already, so ties keep x
    val flip = col("dy") < col("dx")
    val oriented = rs.cache(edges
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(flip, col("y")).otherwise(col("x")).as("src"),
        when(flip, col("x")).otherwise(col("y")).as("dst"),
        when(flip, col("dx")).otherwise(col("dy")).as("dd")))
    val e1 = oriented.select(col("src"), col("dst").as("u"), col("dd").as("du"))
    val e2 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select("u", "v")
    val tri = wedges.join(
      oriented.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedgeTotal = deg.agg(
      sum(expr("d * (d - 1L) div 2L")).as("n_wedges"))
    collected(tri.crossJoin(wedgeTotal))
  }

  /** DuckDB oracle for [[triangleStats]] — the same degree-oriented
    * enumeration replayed relationally.
    */
  def sqlTriangleStats: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS it
      |  FROM events WHERE event_type = 'view'
      |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
      |nx AS (SELECT it AS a,
      |         LEAD(it) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
      |       FROM ev),
      |ed AS (SELECT DISTINCT LEAST(a, b) AS x, GREATEST(a, b) AS y
      |       FROM nx WHERE b IS NOT NULL AND a <> b),
      |dg AS (SELECT n, COUNT(*)::BIGINT AS d FROM (
      |         SELECT x AS n FROM ed UNION ALL SELECT y AS n FROM ed)
      |       GROUP BY n),
      |o AS (SELECT CASE WHEN d2.d < d1.d THEN ed.y ELSE ed.x END AS src,
      |             CASE WHEN d2.d < d1.d THEN ed.x ELSE ed.y END AS dst,
      |             CASE WHEN d2.d < d1.d THEN d1.d ELSE d2.d END AS dd
      |      FROM ed JOIN dg d1 ON d1.n = ed.x JOIN dg d2 ON d2.n = ed.y),
      |tri AS (SELECT COUNT(*)::BIGINT AS t
      |        FROM o e1 JOIN o e2 ON e1.src = e2.src
      |          AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      |        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |wg AS (SELECT SUM(d * (d - 1) // 2)::BIGINT AS w FROM dg)
      |SELECT (SELECT t FROM tri) AS n_triangles,
      |       (SELECT w FROM wg) AS n_wedges""".stripMargin

  /** Sequential-pattern match over per-user event journeys (the
    * ClickHouse `sequenceMatch` / funnel-regex analysis): each
    * user's events are totally ordered by `(ts, event_id)` and
    * collapsed to a compact string of event-type initials (the five
    * fixture types have distinct initials; a real deployment maps
    * types to a symbol alphabet the same way), then each pattern is
    * one regex over that string. Reported patterns: the ordered
    * signup→view→purchase funnel, and the STRICT variant with no
    * intervening error — the negative-condition ("without event X
    * in between") form that per-step joins can't express without a
    * blow-up.
    *
    * Scale shape: ONE user-keyed shuffle; the per-user sequence is
    * assembled by `array_sort(collect_list(struct(ts, event_id,
    * ch)))` — order-insensitive to shuffle arrival, bounded by
    * events-per-user (the sessionization contract), and the regex
    * runs over that compact string in the same narrow stage. Output
    * is a 1-row aggregate; only counts leave the executors.
    */
  def sequenceMatch(events: DataFrame): DataFrame = {
    val seqs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ch"))
      .groupBy("user_id")
      .agg(concat_ws("",
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
          s => s.getField("ch"))).as("s"))
    seqs.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("s").rlike("s.*v.*p"), 1L).otherwise(0L)).as("n_funnel"),
      sum(when(col("s").rlike("s[^e]*p"), 1L).otherwise(0L)).as("n_clean_funnel"))
  }

  /** DuckDB oracle for [[sequenceMatch]]. */
  def sqlSequenceMatch: String =
    """WITH sq AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      |  FROM events GROUP BY user_id)
      |SELECT COUNT(*) AS n_users,
      |  SUM(CASE WHEN regexp_matches(s, 's.*v.*p') THEN 1 ELSE 0 END)::BIGINT AS n_funnel,
      |  SUM(CASE WHEN regexp_matches(s, 's[^e]*p') THEN 1 ELSE 0 END)::BIGINT AS n_clean_funnel
      |FROM sq""".stripMargin

  /** Fixed-point unit for [[hits]]: scores are BIGINTs in units of
    * 1e-6. Smaller than [[PrUnit]] on purpose: the normalization
    * step multiplies a raw score (≤ maxdeg × Unit after one
    * propagation) by Unit before the integer division, so Unit²
    * × maxdeg must stay inside BIGINT — 1e6 leaves ~9e6× headroom
    * on the hub degree at 1e12 total mass, enough for any real
    * catalog; raise to DECIMAL if a graph ever exceeds it.
    */
  private val HitsUnit = 1000000L

  /** HITS hubs-and-authorities over the bipartite view graph (users
    * are the hubs that CONFER authority, items the authorities that
    * accumulate it — the asymmetric centrality PageRank's symmetric
    * random walk can't express on a two-sided graph). `iters` rounds
    * of the mutual recursion, L1-normalized each round in exact
    * integer fixed point: every score is a BIGINT count of 1e-6
    * units, each propagation is an exact integer aggregate, and the
    * normalization is `score * Unit div sum` — so the result is
    * bit-identical at any parallelism and the oracle replays it
    * exactly. Output: top 10 items by authority and top 10 users by
    * hub score, tagged by `kind`.
    *
    * Scale shape: a round of the recursion is two half-rounds
    * ([[hitsStep]]), each ONE edge-score equi-join + a keyed sum
    * (map-side combined). Each raw score table's 1-ROW L1 total is the
    * half-round's action, read driver-side, so the normalizer enters
    * the next plan as a literal over the checkpointed raw scores. Plan
    * truncation here is load-bearing, not hygiene: a persist chain
    * keeps every prior round's AQE tree nested inside the cached plan,
    * and AQE renders a full explain string on every plan update
    * (`onUpdatePlan`), so un-truncated rounds spend MINUTES formatting
    * plan strings for a 6-row graph (measured; main thread pinned in
    * `generateTreeString`). Only the final 20 rows reach the driver
    * beyond the per-round scalars.
    */
  def hits(events: DataFrame, iters: Int = 5): DataFrame = Rounds.scope { rs =>
    viewPairs(events, rs).fold(noRows(events, "kind STRING, node BIGINT, score BIGINT")) { pairs =>
      // the positive-id bipartite form: item ids stay the raw `k`
      val ev = pairs.select(col("u"), col("k").as("it"))
      // every user starts at one unit of hub score: raw 1 of a total 1
      val seed = rs.checkpoint(ev.select("u").distinct().select(col("u"), lit(1L).as("raw")))
      // odd half-rounds spread hub scores to items, even ones back
      val run = rs.loop(Round(seed, 1L), 2 * iters) { (h, r) =>
        if (r % 2 == 1) hitsStep(ev, h.head, "u", "it") else hitsStep(ev, h.head, "it", "u")
      }(_.agg(sum("raw")).head().getLong(0))((_, _) => false)
      val Seq(hubs, auths) = run.history.take(2)
      def top(kind: String, r: Round[Long], key: String) = hitsScores(r, key)
        .select(lit(kind).as("kind"), col(key).as("node"), col("s").as("score"))
        .orderBy(desc("score"), col("node")).limit(10)
      collected(top("auth", auths, "it").union(top("hub", hubs, "u"))).orderBy("kind", "node")
    }
  }

  /** A raw HITS score table, L1-normalized to `Unit` by its total. */
  private def hitsScores(raw: Round[Long], key: String): DataFrame =
    raw.frame.select(col(key), expr(s"(raw * ${HitsUnit}L) div ${raw.value}L").as("s"))

  /** One [[hits]] half-round: raw `to`-side scores, the sum of the
    * normalized `from`-side scores of each node's neighbors. */
  private[graft] def hitsStep(ev: DataFrame, prev: Round[Long], from: String, to: String): DataFrame =
    ev.join(hitsScores(prev, from), from).groupBy(to).agg(sum("s").as("raw"))

  /** DuckDB oracle for [[hits]] — the mutual recursion unrolled to
    * `iters` CTE stages over the same integer fixed-point ops. Every
    * stage CTE is MATERIALIZED: each references its predecessor
    * twice (the scores and their 1-row total), so inlined CTEs would
    * double the expression tree per stage — the SQL analog of the
    * plan blow-up the Spark side truncates with localCheckpoint.
    */
  def sqlHits(iters: Int = 5): String = {
    val base =
      s"""WITH ev AS MATERIALIZED (
         |  SELECT DISTINCT user_id AS u,
         |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS it
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |h0 AS MATERIALIZED (SELECT DISTINCT u, $HitsUnit AS h FROM ev)""".stripMargin
    val stages = (1 to iters).map { i =>
      val ph = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT ev.it, SUM(h.h) AS raw FROM ev JOIN $ph h ON ev.u = h.u GROUP BY ev.it),
         |a$i AS MATERIALIZED (SELECT it, CAST((raw * $HitsUnit) // (SELECT SUM(raw) FROM ar$i) AS BIGINT) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT ev.u, SUM(a.a) AS raw FROM ev JOIN a$i a ON ev.it = a.it GROUP BY ev.u),
         |h$i AS MATERIALIZED (SELECT u, CAST((raw * $HitsUnit) // (SELECT SUM(raw) FROM hr$i) AS BIGINT) AS h FROM hr$i)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"""
         |SELECT kind, node, score FROM (
         |  SELECT 'auth' AS kind, it AS node, a AS score FROM a$iters
         |  ORDER BY a DESC, it LIMIT 10)
         |UNION ALL
         |SELECT kind, node, score FROM (
         |  SELECT 'hub' AS kind, u AS node, h AS score FROM h$iters
         |  ORDER BY h DESC, u LIMIT 10)
         |ORDER BY kind, node""".stripMargin
  }

  /** DuckDB oracle for [[pageRank]] — the power iteration unrolled to
    * `iters` CTE stages over the same integer fixed-point ops (`//`
    * is BIGINT division in DuckDB, `div` in Spark; inputs are always
    * non-negative so truncation == floor in both).
    */
  def sqlPageRank(iters: Int = 5): String = {
    val base =
      s"""WITH ev AS (
         |  SELECT DISTINCT user_id AS u,
         |    -(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) + 1) AS it
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |e AS (SELECT u AS src, it AS dst FROM ev
         |      UNION ALL SELECT it AS src, u AS dst FROM ev),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, $PrUnit // (SELECT COUNT(*) FROM n) AS rank FROM n)""".stripMargin
    val stages = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST((3 * ($PrUnit // (SELECT COUNT(*) FROM n)) + 17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
         |    FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iters ORDER BY rank DESC, node LIMIT 20"
  }

  /** Argmax packing base/offset for [[labelProp]]: `cnt * 2^40 +
    * (2^39 - label)` turns (max count, then min label) into ONE plain
    * BIGINT `max` — exact while per-neighbor-label counts stay under
    * 2^23 and |label| under 2^38; event-graph degrees and node ids
    * are orders of magnitude inside both bounds.
    */
  private val LpBase = 1L << 40
  private val LpHalf = 1L << 39

  /** Community detection by SYNCHRONOUS label propagation over the
    * bipartite view graph [[pageRank]] walks (Raghavan et al. 2007's
    * near-linear community baseline): every node starts in its own
    * community (label = node id) and each round adopts the label most
    * frequent among its neighbors, ties broken toward the SMALLEST
    * label so the result is deterministic (async LPA's raciness is
    * exactly what a reproducible pipeline can't ship). Returns the
    * top-20 communities by size after `iters` rounds — the
    * cluster-structure signal a dedup or domain-mixing pipeline reads
    * next to connected components.
    *
    * Scale shape: per round ([[labelPropStep]]) ONE edge-label
    * equi-join plus two keyed, map-side-combined aggregates — count
    * per (node, label), then the packed-integer argmax per node
    * ([[LpBase]]). Only the final 20-row top-k reaches the driver. At
    * 100 TB the join shuffles edges on src and AQE handles hub skew,
    * same as the PageRank rounds.
    */
  def labelProp(events: DataFrame, iters: Int = 3): DataFrame = Rounds.scope { rs =>
    viewPairs(events, rs).fold(noRows(events, "community BIGINT, n_nodes BIGINT")) { pairs =>
      val edges = viewEdges(pairs, None)
      val seed = rs.checkpoint(edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
      val run = rs.loop(Round(seed, 0L), iters)((h, _) => labelPropStep(edges, h.head.frame))(
        rs.count)((_, _) => false)
      collected(run.last.frame.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(desc("n_nodes"), col("community")).limit(20))
    }
  }

  /** One [[labelProp]] round: each node adopts its neighbors' most
    * frequent label, ties to the smallest. */
  private[graft] def labelPropStep(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(max(col("cnt") * lit(LpBase) + (lit(LpHalf) - col("lbl"))).as("s"))
      .select(col("node"), (lit(LpHalf) - col("s") % lit(LpBase)).as("lbl"))

  /** DuckDB oracle for [[labelProp]] — the propagation unrolled to
    * `iters` CTE stages over the same packed-integer argmax (`%` on
    * the packed score is safe in both engines: scores are strictly
    * positive by construction). Stages are MATERIALIZED for the same
    * reason as [[sqlHits]]'s.
    */
  def sqlLabelProp(iters: Int = 3): String = {
    val base =
      s"""WITH ev AS (
         |  SELECT DISTINCT user_id AS u,
         |    -(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) + 1) AS it
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |e AS MATERIALIZED (SELECT u AS src, it AS dst FROM ev
         |      UNION ALL SELECT it AS src, u AS dst FROM ev),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e)""".stripMargin
    val stages = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node,
         |    $LpHalf - (MAX(cnt * $LpBase + ($LpHalf - lbl)) % $LpBase) AS lbl
         |  FROM (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
         |        FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY e.dst, l.lbl)
         |  GROUP BY node)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"""
         |SELECT lbl AS community, COUNT(*) AS n_nodes FROM l$iters
         |GROUP BY lbl ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin
  }

  /** K-CORE PEELING TRACE over the bipartite view graph: round `r`
    * keeps the nodes with at least `k` neighbors among round
    * `r-1`'s survivors, and the query reports `(round, n_alive)`
    * for every round — the whole decomposition trajectory, not just
    * the fixpoint (the trace IS the cohesion profile: a fast
    * collapse means the apparent density was shell, a stable
    * plateau is a real core — the spam/bot-ring and
    * community-quality signal next to q50's triangles). Runs a
    * FIXED `rounds` budget; at fixpoint the tail rows repeat, which
    * the hash also certifies.
    *
    * Scale shape: per round ([[kCoreStep]]) two alive-set equi-joins
    * plus one map-side-combined degree aggregate over the induced
    * subgraph — Pregel peeling re-expressed relationally; the round's
    * row count IS the output row. Alive sets only shrink, so two equal
    * consecutive counts prove the fixpoint (and an empty set is
    * terminal): the loop stops there and the remaining trace rows
    * repeat the last count without running their rounds.
    */
  def kCoreTrace(events: DataFrame, k: Int = 11, rounds: Int = 10): DataFrame = Rounds.scope { rs =>
    val counts = viewPairs(events, rs).fold(Seq(0L)) { pairs =>
      val edges = viewEdges(pairs, None)
      val seed = rs.checkpoint(edges.select(col("src").as("node")).distinct())
      rs.loop(Round(seed, -1L), rounds)((h, _) => kCoreStep(edges, h.head.frame, k))(rs.count)(
        (prev, latest) => latest.value == prev.value || latest.value == 0L)
        .history.reverse.tail.map(_.value)
    }
    Rounds.local(events.sparkSession, StructType.fromDDL("round INT, n_alive BIGINT"),
      (1 to rounds).map(r => Row(r, counts(math.min(r, counts.size) - 1))))
  }

  /** One [[kCoreTrace]] round: the nodes with at least `k` neighbors
    * among the previous round's survivors. */
  private[graft] def kCoreStep(edges: DataFrame, alive: DataFrame, k: Int): DataFrame =
    edges
      .join(alive.withColumnRenamed("node", "src"), "src")
      .join(alive.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select("node")

  /** DuckDB oracle for [[kCoreTrace]] — the peel unrolled to `rounds`
    * MATERIALIZED stages (each references its predecessor twice, so
    * inlined CTEs would re-evaluate the whole peel tree per stage).
    */
  def sqlKCoreTrace(k: Int = 11, rounds: Int = 10): String = {
    val base =
      s"""WITH ev AS MATERIALIZED (
         |  SELECT DISTINCT user_id AS u,
         |    -(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) + 1) AS it
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |e AS MATERIALIZED (SELECT u AS src, it AS dst FROM ev
         |      UNION ALL SELECT it AS src, u AS dst FROM ev),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT e.src AS node FROM e
         |  JOIN a${r - 1} p1 ON e.src = p1.node
         |  JOIN a${r - 1} p2 ON e.dst = p2.node
         |  GROUP BY e.src HAVING COUNT(*) >= $k)""".stripMargin
    }
    val out = (1 to rounds)
      .map(r => s"SELECT $r AS round, (SELECT COUNT(*) FROM a$r) AS n_alive")
      .mkString("\nUNION ALL\n")
    (base +: stages).mkString(",\n") + s"\n$out\nORDER BY round"
  }

  /** Weighted single-source shortest paths, bounded at `maxHops`
    * relaxation rounds — Bellman-Ford over the bipartite view graph,
    * the weighted completion of [[bfsHops]]. The edge weight is a
    * deterministic INTEGER function of the edge's endpoints
    * (`(u + k) % 5 + 1`), so both engines derive identical weights
    * with no float arithmetic anywhere on the comparison path.
    *
    * DELTA relaxation ([[shortestPathStep]]): only nodes whose
    * tentative distance IMPROVED in round h−1 join the edges in round
    * h, so a round's cost tracks the improving frontier (a vanishing
    * fraction of the settled set once distances stabilize), never the
    * whole graph. The round's action counts the improved nodes; the
    * loop exits when none improved, since every later round would
    * join an empty frontier. Only the ≤ (maxHops·maxW+1)-row distance
    * histogram reaches the driver.
    */
  def shortestPaths(events: DataFrame, maxHops: Int = 4): DataFrame = Rounds.scope { rs =>
    val graph = for {
      pairs <- viewPairs(events, rs)
      edges = viewEdges(pairs, Some((col("u") + col("k")) % 5 + lit(1L)))
      source <- sourceNode(edges)
    } yield (edges, source)
    graph.fold(noRows(events, "d BIGINT, n_nodes BIGINT, min_node BIGINT, max_node BIGINT")) {
      case (edges, source) =>
        val seed = rs.checkpoint(events.sparkSession.range(1)
          .select(lit(source).as("node"), lit(0L).as("nd"), lit(true).as("imp")))
        val run = rs.loop(Round(seed, 1L), maxHops)((h, _) => shortestPathStep(edges, h.head.frame))(
          _.agg(count(when(col("imp"), lit(1)))).head().getLong(0))(
          (_, latest) => latest.value == 0L)
        collected(run.last.frame.groupBy(col("nd").as("d"))
          .agg(count(lit(1)).as("n_nodes"),
            min("node").as("min_node"), max("node").as("max_node"))
          .orderBy("d"))
    }
  }

  /** One [[shortestPaths]] round: `(node, nd, imp)` — every node's
    * tentative distance after relaxing the edges out of the nodes that
    * improved (`imp`) in the previous round. */
  private[graft] def shortestPathStep(edges: DataFrame, prev: DataFrame): DataFrame = {
    val cand = prev.filter(col("imp"))
      .select(col("node").as("src"), col("nd").as("df"))
      .join(edges, "src")
      .select(col("dst").as("node"), (col("df") + col("w")).as("dc0"))
      .groupBy("node").agg(min("dc0").as("dc"))
    prev.select(col("node"), col("nd").as("d"))
      .join(cand, Seq("node"), "full_outer")
      .select(col("node"),
        least(coalesce(col("d"), lit(Long.MaxValue)),
          coalesce(col("dc"), lit(Long.MaxValue))).as("nd"),
        (col("d").isNull || (col("dc").isNotNull && col("dc") < col("d"))).as("imp"))
  }

  /** DuckDB oracle for [[shortestPaths]] — Bellman-Ford unrolled to
    * `maxHops` CTE stages (full relaxation per stage: min over the
    * prior table unioned with every one-edge extension — equivalent
    * to the engine's delta relaxation, which merely skips provably
    * non-improving joins).
    */
  def sqlShortestPaths(maxHops: Int = 4): String = {
    val base =
      s"""WITH ev AS (
         |  SELECT DISTINCT user_id AS u,
         |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events WHERE event_type = 'view'
         |    AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |b AS (SELECT u, -(k + 1) AS it, (u + k) % 5 + 1 AS w FROM ev),
         |e AS MATERIALIZED (SELECT u AS src, it AS dst, w FROM b
         |      UNION ALL SELECT it AS src, u AS dst, w FROM b),
         |d0 AS (SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS d FROM e WHERE src > 0
         |      HAVING MIN(src) IS NOT NULL)""".stripMargin
    val stages = (1 to maxHops).map { h =>
      val prev = s"d${h - 1}"
      s"""d$h AS MATERIALIZED (
         |  SELECT node, MIN(d) AS d FROM (
         |    SELECT node, d FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.d + e.w AS d
         |    FROM $prev p JOIN e ON p.node = e.src) relax
         |  GROUP BY node)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT d, COUNT(*)::BIGINT AS n_nodes, MIN(node) AS min_node, " +
      s"MAX(node) AS max_node FROM d$maxHops GROUP BY d ORDER BY d"
  }
}

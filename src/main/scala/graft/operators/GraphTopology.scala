package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Structural graph analytics over the co-activity graph — the
  * topology family next to [[GraphRank]]'s spectral one (ranks) and
  * [[DupClusters]]' connectivity one (components): triangle counting
  * with local clustering coefficients, and bounded multi-source BFS
  * reach from a seed set. Both reuse [[GraphRank.edgesFromCells]] (one
  * definition of the graph across the whole family) and keep every
  * number an exact integer so the DuckDB oracle hash-checks
  * bit-for-bit.
  */
object GraphTopology {

  /** Triangle census: per node its degree, triangle count, and local
    * clustering coefficient 2T/(d(d-1)) as an e6 integer rational —
    * the community-density signal (bot rings and bought followers have
    * degree without closure; organic neighborhoods close).
    *
    * Scale shape: DEGREE-ORIENTED wedge counting (the MPC-standard
    * trick, Suri & Vassilvitskii 2011 "Counting Triangles and the
    * Curse of the Last Reducer"): each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, wedges are
    * enumerated only between a node's OUT-neighbors, and a wedge
    * closes iff its (a, b) pair is an edge. Out-degree under this
    * orientation is O(√|E|) even at a power-law hub — the skew-killer;
    * naive neighbor-pair enumeration at a degree-10⁶ hub would emit
    * 10¹² wedges from one key. Every triangle is counted exactly once,
    * at its orientation-minimal apex (the oracle counts them the naive
    * ordered way, a < b < c — same census, spelled for SQL). The
    * closing-edge join keys on the id-ordered pair, which is exactly
    * the form the undirected edge list already has. */
  def triangleQuery(spark: SparkSession, dir: String): DataFrame =
    triangles(GraphRank.coActivityEdges(Tables.events(spark, dir)))

  /** [[triangleQuery]]'s core over any undirected distinct (u, v)
    * edge frame with u < v. */
  def triangles(edges: DataFrame): DataFrame = {
    // edges feed degrees, orientation, and the closing join — three
    // plan branches over the capped self-join subtree: materialize
    // once (the measured pattern from the rank family).
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val dirE = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = dirE.groupBy("u").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val keyed = e
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
    val o = keyed.select(
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst")))
        .as("oe"))
      .select(col("oe.src").as("src"), col("oe.dst").as("dst"))
    // wedges between out-neighbors, pair id-ordered so the closing
    // edge lookup hits e's u < v form directly
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("s"), col("e1.dst").as("a"),
        col("e2.dst").as("b"))
    val tri = wedges.join(e,
      wedges("a") === e("u") && wedges("b") === e("v"))
    val corners = tri
      .select(explode(array(col("s"), col("a"), col("b"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("u"), "left")
      .select(col("u").as("user_id"),
        col("deg").cast("long").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("coalesce(n_tri, 0) * 2 * 1000000 div (deg * (deg - 1))"))
          .otherwise(lit(0L)).cast("long").as("clustering_e6"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[triangleQuery]] — same graph CTE, triangles
    * enumerated the naive ordered way (a < b < c: each once). */
  def triangleOracleSql: String =
    s"""${GraphRank.edgesOracleCte},
       t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM e e1 JOIN e e2 ON e2.u = e1.v
             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       corners AS (SELECT a AS u FROM t UNION ALL
                   SELECT b FROM t UNION ALL SELECT c FROM t),
       tc AS (SELECT u, count(*) AS n_tri FROM corners GROUP BY 1)
     SELECT deg.u AS user_id, CAST(deg.deg AS BIGINT) AS degree,
       CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.deg >= 2 THEN coalesce(tc.n_tri, 0) * 2
              * 1000000 // (deg.deg * (deg.deg - 1))
            ELSE 0 END AS BIGINT) AS clustering_e6
     FROM deg LEFT JOIN tc ON tc.u = deg.u
     ORDER BY user_id"""

  /** How many BFS rounds q177 unrolls (and its oracle replays). */
  val Hops = 3

  /** Multi-source BFS depth: hop distance from the heaviest-purchaser
    * seed set, bounded at [[Hops]] — "how far does the graph sit from
    * its commercial core", the reach/influence-radius primitive
    * (seeded curation asks the same question of known-good documents).
    * Unreached nodes are reported with depth -1 rather than dropped,
    * so the output is a total function over the graph's nodes.
    *
    * Scale shape: per round ONE keyed join of the frontier against
    * the directed edge list + a distinct + an anti-join against the
    * settled set — O(|E|) per round like a Pregel superstep, frontier
    * and settled tables are node-sized (≪ corpus), and each round's
    * output is localCheckpointed (the next round reads it twice:
    * expansion and anti-join). Seeds derive from the SAME cells frame
    * as the edges — the fact table is scanned once. */
  def bfsQuery(spark: SparkSession, dir: String): DataFrame = {
    val cells = GraphRank.activityCells(Tables.events(spark, dir))
      .localCheckpoint()
    // seeds: top-3 users by distinct purchase cells (ties to low id)
    val seeds = cells.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("nc"))
      .orderBy(col("nc").desc, col("user_id").asc).limit(3)
      .select(col("user_id").as("u"))
    bfsDepth(GraphRank.edgesFromCells(cells), seeds, Hops)
  }

  /** [[bfsQuery]]'s core: hop distance (0 = seed) from `seeds` over
    * undirected (u, v) edges, -1 where unreached within `hops`. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    // only dirE is materialized: e has a single consumer (the union),
    // so checkpointing it would buy nothing and cost a write
    val e = edges.select(col("u"), col("v"))
    val dirE = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    val nodes = dirE.select(col("u")).distinct()
    // seeds outside the graph still report depth 0 (they ARE at
    // distance zero from themselves; the oracle agrees)
    var settled = seeds.select(col("u"), lit(0).as("depth"))
      .localCheckpoint()
    var frontier = settled
    for (k <- 1 to hops) {
      val next = dirE
        .join(frontier.select(col("u")), Seq("u"))
        .select(col("v").as("u")).distinct()
        .join(settled.select(col("u")), Seq("u"), "left_anti")
        .select(col("u"), lit(k).as("depth"))
        .localCheckpoint()
      settled = settled.unionAll(next)
      frontier = next
    }
    nodes.unionAll(seeds.select(col("u"))).distinct()
      .join(settled, Seq("u"), "left")
      .select(col("u").as("user_id"),
        coalesce(col("depth"), lit(-1)).cast("long").as("depth"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[bfsQuery]] — same graph CTE, seeds from
    * purchase-cell counts, [[Hops]] unrolled expansion rounds. */
  def bfsOracleSql: String = {
    val rounds = (1 to Hops).map { k =>
      s"""d$k AS (SELECT DISTINCT dir.v AS u FROM dir
             JOIN d${k - 1} ON dir.u = d${k - 1}.u
           WHERE dir.v NOT IN (SELECT u FROM s${k - 1})),
         s$k AS (SELECT u FROM s${k - 1} UNION SELECT u FROM d$k)"""
    }.mkString(",\n       ")
    val depthCase = (1 to Hops).map(k =>
      s"WHEN n.u IN (SELECT u FROM d$k) THEN $k").mkString("\n         ")
    s"""${GraphRank.edgesOracleCte},
       seeds AS (SELECT user_id AS u FROM cells
                 WHERE event_type = 'purchase'
                 GROUP BY 1 ORDER BY count(*) DESC, user_id LIMIT 3),
       d0 AS (SELECT u FROM seeds),
       s0 AS (SELECT u FROM seeds),
       $rounds,
       n AS (SELECT u FROM deg UNION SELECT u FROM seeds)
     SELECT n.u AS user_id,
       CAST(CASE WHEN n.u IN (SELECT u FROM d0) THEN 0
         $depthCase
         ELSE -1 END AS BIGINT) AS depth
     FROM n ORDER BY user_id"""
  }

  /** k threshold and peel rounds q194 unrolls (oracle replays both). */
  val CoreK = 3
  val PeelRounds = 12

  /** q194: k-core decomposition — iterative peeling: drop every node
    * with degree < k, recompute degrees, repeat; the fixpoint is the
    * maximal subgraph where every member keeps ≥ k neighbors. The
    * densest-community filter a graph-quality pipeline runs (spam and
    * bot rings survive degree cuts but not coreness cuts; Seidman
    * 1983 defines the measure). Output: every k-core member with its
    * within-core degree.
    *
    * Scale shape: the edge table halves-or-holds each round; each
    * round is ONE keyed degree aggregation plus two semi-joins
    * against the alive set — no windows over data, nothing driver-
    * side but the single-row convergence probe. Rounds are bounded by
    * [[PeelRounds]] and the oracle unrolls exactly the same count, so
    * an unconverged cap still hash-matches (the q177 bounded-
    * unrolling discipline); in practice co-activity graphs peel in a
    * few rounds and the probe exits early at the fixpoint. */
  def kcoreQuery(spark: SparkSession, dir: String): DataFrame =
    kcore(GraphRank.coActivityEdges(Tables.events(spark, dir)),
      CoreK, PeelRounds)

  /** [[kcoreQuery]]'s core over undirected distinct (u, v) edges. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Convergence probe (edge count) rides each checkpoint's own job
    // (Checkpoints.probed), the initial count included. The edge
    // table is nonincreasing under peeling, so an unchanged count
    // proves the round dropped nothing — the fixpoint.
    def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
      val (ck, m) = Checkpoints.probed(df,
        org.apache.spark.sql.Observation(), count(lit(1)).as("n"))
      (ck, m("n").asInstanceOf[Long])
    }
    val e0 = edges.select(col("u"), col("v"))
    var (dirE, prev) = checkpointCounted(
      e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"))))
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val alive = dirE.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")
      val (next, c) = checkpointCounted(
        dirE.join(alive, Seq("u"))
          .join(alive.select(col("u").as("v")), Seq("v"))
          .select(col("u"), col("v")))
      converged = c == prev
      prev = c
      dirE = next
      i += 1
    }
    dirE.groupBy("u").agg(count(lit(1)).cast("long").as("core_deg"))
      .select(col("u").cast("long").as("user_id"), col("core_deg"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[kcoreQuery]] — the same peeling unrolled
    * [[PeelRounds]] times (both endpoint degrees via one window pass
    * per round). */
  def kcoreOracleSql: String = {
    val rounds = (1 to PeelRounds).map { r =>
      s"""p$r AS (SELECT u, v FROM (
             SELECT u, v,
               count(*) OVER (PARTITION BY u) AS du,
               count(*) OVER (PARTITION BY v) AS dv
             FROM p${r - 1})
           WHERE du >= $CoreK AND dv >= $CoreK)"""
    }.mkString(",\n       ")
    s"""${GraphRank.edgesOracleCte},
       p0 AS (SELECT u, v FROM dir),
       $rounds
     SELECT u AS user_id, CAST(count(*) AS BIGINT) AS core_deg
     FROM p$PeelRounds GROUP BY 1 ORDER BY 1"""
  }

  /** Wedge centers above this degree are excluded from q221's
    * link-prediction score. Principled, not just a perf cap: a
    * center's resource-allocation contribution is 1e6/deg ≤
    * 1e6/[[LinkCenterCap]] per pair, so high-degree hubs add at most
    * noise-level weight while emitting deg² wedges — the same
    * hub-pruning argument as [[GraphRank.MaxGroup]], applied at the
    * node tier. The cap is part of the score's DEFINITION (the oracle
    * applies it identically), so the result stays hash-exact. */
  val LinkCenterCap = 128L

  /** Rows q221 returns (top predicted links). */
  val LinkTopN = 100

  /** q221: link prediction by the resource-allocation index (Zhou,
    * Lü & Zhang 2009) — for each NON-adjacent pair (a, b), RA =
    * Σ_{w ∈ Γ(a)∩Γ(b)} 1/deg(w), kept as the exact integer rational
    * Σ 1e6 div deg(w) so the oracle hash-checks bit-for-bit (the
    * integer-arithmetic discipline of the whole graph family; RA is
    * the member of the common-neighbors family that needs no
    * logarithm, unlike Adamic-Adar). The "who should be connected
    * but isn't" primitive: recommendation candidates, missing-edge
    * repair, collusion-ring discovery.
    *
    * Scale shape: wedges are enumerated per CENTER from the directed
    * edge list — one self-join keyed on the center node, fan-out
    * deg(w)² bounded by [[LinkCenterCap]]² per key (the skew guard;
    * an uncapped degree-10⁶ hub would emit 10¹² wedges from one key).
    * One hash aggregation on the candidate pair, one anti-join
    * against the edge list to keep non-adjacent pairs only — all
    * shuffle-keyed, nothing driver-side. */
  def linkPredictionQuery(spark: SparkSession, dir: String): DataFrame =
    linkPrediction(
      GraphRank.coActivityEdges(Tables.events(spark, dir)), LinkTopN)

  /** [[linkPredictionQuery]]'s core over undirected distinct (u, v)
    * edges with u < v. */
  def linkPrediction(edges: DataFrame, topN: Int,
      centerCap: Long = LinkCenterCap): DataFrame = {
    // e feeds degrees, wedge enumeration, and the non-adjacency
    // anti-join — materialize the capped self-join subtree once
    // (the family's measured pattern).
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val dirE = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = dirE.groupBy("u").agg(count(lit(1)).as("deg"))
    val centers = dirE
      .join(deg.filter(col("deg") <= centerCap), Seq("u"))
      .select(col("u").as("w"), col("v").as("n"), col("deg"))
    val wedges = centers.as("c1").join(centers.as("c2"),
        col("c1.w") === col("c2.w") && col("c1.n") < col("c2.n"))
      .select(col("c1.n").as("a"), col("c2.n").as("b"),
        col("c1.deg").as("wdeg"))
    val scored = wedges.groupBy("a", "b").agg(
      count(lit(1)).as("cn"),
      sum(expr("1000000 div wdeg")).as("ra"))
    scored.join(e, scored("a") === e("u") && scored("b") === e("v"),
        "left_anti")
      .select(col("a").cast("long").as("user_a"),
        col("b").cast("long").as("user_b"),
        col("cn").cast("long").as("common_neighbors"),
        col("ra").cast("long").as("ra_e6"))
      .orderBy(col("ra_e6").desc, col("common_neighbors").desc,
        col("user_a"), col("user_b"))
      .limit(topN)
  }

  /** DuckDB oracle for [[linkPredictionQuery]] — same graph CTE,
    * same capped wedge enumeration and integer RA weights. */
  def linkPredictionOracleSql: String =
    s"""${GraphRank.edgesOracleCte},
       c AS (SELECT dir.u AS w, dir.v AS n, deg.deg
             FROM dir JOIN deg ON deg.u = dir.u
             WHERE deg.deg <= $LinkCenterCap),
       wg AS (SELECT c1.n AS a, c2.n AS b, c1.deg AS wdeg
              FROM c c1 JOIN c c2 ON c1.w = c2.w AND c1.n < c2.n),
       sc AS (SELECT a, b, count(*) AS cn,
                sum(1000000 // wdeg) AS ra
              FROM wg GROUP BY 1, 2),
       nonadj AS (SELECT sc.* FROM sc
                  LEFT JOIN e ON e.u = sc.a AND e.v = sc.b
                  WHERE e.u IS NULL)
     SELECT a AS user_a, b AS user_b,
       CAST(cn AS BIGINT) AS common_neighbors,
       CAST(ra AS BIGINT) AS ra_e6
     FROM nonadj
     ORDER BY ra_e6 DESC, common_neighbors DESC, user_a, user_b
     LIMIT $LinkTopN"""

  /** Expansion rounds q226 unrolls (oracle replays the same count). */
  val TemporalHops = 3

  /** q226: TIME-RESPECTING reachability — earliest-arrival BFS over
    * the co-activity graph with each edge stamped by its cell's epoch
    * hour: a node is reached at time t only through an edge whose
    * timestamp is ≥ the arrival time at its source (information /
    * influence cannot travel backwards in time). The temporal member
    * of the graph family: q177's static BFS answers "is there a
    * path", this answers "is there a CAUSALLY VALID path and how
    * early does it land" (Holme & Saramäki 2012's temporal-path
    * semantics) — the shape of contagion tracing, rumor-source
    * analysis, and leak propagation audits. Same seeds as q177 (the
    * heaviest purchasers), arrivals as integer epoch hours, -1 where
    * unreached within [[TemporalHops]] rounds.
    *
    * Scale shape: per round ONE keyed join of the temporal edge list
    * against the current arrival table with the t ≥ arr predicate
    * evaluated at the join row (never a time-unrolled blowup), one
    * min-aggregation on the destination — a Pregel superstep with a
    * monotone min combiner, the bounded-unrolling discipline of
    * q177/q194 so the oracle replays the exact round count. */
  def temporalReachQuery(spark: SparkSession, dir: String): DataFrame = {
    val cells = GraphRank.activityCells(Tables.events(spark, dir))
      .localCheckpoint()
    val seeds = cells.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("nc"))
      .orderBy(col("nc").desc, col("user_id").asc).limit(3)
      .select(col("user_id").as("u"))
    temporalReach(temporalEdges(cells), seeds, TemporalHops)
  }

  /** Timestamped undirected co-activity edges (u, v, t) — the q100
    * graph with each edge carrying its cell's epoch hour. A pair
    * co-active in several cells keeps one edge per distinct hour. */
  def temporalEdges(cells: DataFrame): DataFrame =
    // Deliberately the JOIN spelling, not the grouped-array build the
    // unweighted/weighted builders moved to (round 18): the temporal
    // multigraph keeps one edge per (pair, hour), so the pair fan-out
    // into the distinct is several times larger and the measured
    // bench preferred the self-join here (array build: q226
    // 4.4 → 5.0 s in round 18, re-measured in round 19 — see
    // OPTIMIZATION_r19.md) while q100's family preferred the array
    // build — per-operator measurement, not one rule.
    // GraphEdgeParitySpec pins the array spelling to this one.
    GraphRank.cellPairsReference(cells.withColumn("t",
        datediff(col("d"), lit("1970-01-01")).cast("long") * 24
          + col("h")))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"),
        col("a.t").as("t"))
      .distinct()

  /** [[temporalReachQuery]]'s core over (u, v, t) undirected edges:
    * earliest arrival (hours since epoch) from `seeds` (arrival 0),
    * -1 where unreached within `hops` rounds. */
  def temporalReach(edges: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    val dirE = edges.select(col("u"), col("v"), col("t"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v"),
        col("t")))
      .localCheckpoint()
    val nodes = dirE.select(col("u")).distinct()
    var arr = seeds.select(col("u"), lit(0L).as("arr"))
      .localCheckpoint()
    for (_ <- 1 to hops) {
      val cand = dirE.join(arr, Seq("u"))
        .filter(col("t") >= col("arr"))
        .select(col("v").as("u"), col("t").as("arr"))
      arr = arr.unionAll(cand)
        .groupBy("u").agg(min(col("arr")).as("arr"))
        .localCheckpoint()
    }
    nodes.unionAll(seeds.select(col("u"))).distinct()
      .join(arr, Seq("u"), "left")
      .select(col("u").as("user_id"),
        coalesce(col("arr"), lit(-1L)).cast("long").as("arrival_hour"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[temporalReachQuery]] — same timestamped
    * graph, same seeds, [[TemporalHops]] unrolled min-arrival
    * rounds. */
  def temporalReachOracleSql: String = {
    val rounds = (1 to TemporalHops).map { k =>
      s"""a$k AS (SELECT u, min(arr) AS arr FROM (
             SELECT u, arr FROM a${k - 1}
             UNION ALL
             SELECT dir.v AS u, dir.t AS arr
             FROM dir JOIN a${k - 1} p ON p.u = dir.u
             WHERE dir.t >= p.arr
           ) GROUP BY 1)"""
    }.mkString(",\n       ")
    s"""WITH cells AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
           CAST(date_part('hour', ts) AS INT) AS h, event_type, user_id
         FROM events),
       kept AS (SELECT d, h, event_type FROM cells
                GROUP BY 1, 2, 3 HAVING count(*) <= ${GraphRank.MaxGroup}),
       m AS (SELECT cells.*,
               CAST(d - DATE '1970-01-01' AS BIGINT) * 24 + h AS t
             FROM cells JOIN kept USING (d, h, event_type)),
       te AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v, a.t
              FROM m a JOIN m b
                ON a.d = b.d AND a.h = b.h
                  AND a.event_type = b.event_type
                  AND a.user_id < b.user_id),
       dir AS (SELECT u, v, t FROM te UNION ALL SELECT v, u, t FROM te),
       nodes AS (SELECT DISTINCT u FROM dir),
       seeds AS (SELECT user_id AS u FROM cells
                 WHERE event_type = 'purchase'
                 GROUP BY 1 ORDER BY count(*) DESC, user_id LIMIT 3),
       a0 AS (SELECT u, CAST(0 AS BIGINT) AS arr FROM seeds),
       $rounds,
       n AS (SELECT u FROM nodes UNION SELECT u FROM seeds)
     SELECT n.u AS user_id,
       CAST(coalesce(a$TemporalHops.arr, -1) AS BIGINT) AS arrival_hour
     FROM n LEFT JOIN a$TemporalHops ON a$TemporalHops.u = n.u
     ORDER BY user_id"""
  }

  /** Synchronous label-propagation rounds q227 runs (oracle replays
    * the same count). */
  val LpaRounds = 4

  /** q227: COMMUNITY DETECTION by synchronous label propagation
    * (Raghavan, Albert & Kumara 2007), made fully deterministic:
    * labels start as node ids; each round every node adopts the label
    * most frequent among its NEIGHBORS, ties broken by the smallest
    * label; [[LpaRounds]] bounded rounds (classic LPA's random order
    * and random tie-breaks are replaced by the synchronous schedule +
    * min-label rule, so both engines replay the identical fixpoint
    * prefix). Communities are denser-than-cut groups — the modularity
    * cousin of [[DupClusters]]' pure connectivity: components answer
    * "connected at all", LPA answers "which side of the dense cores".
    *
    * Scale shape: per round ONE neighbor-label join keyed on the
    * endpoint + one (node, label) count + one per-node argmax window
    * over the node's OWN candidate labels (group sizes bounded by
    * degree — never a global window); labels localCheckpoint between
    * rounds exactly like the rank family's supersteps. */
  def labelPropagationQuery(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(
      GraphRank.coActivityEdges(Tables.events(spark, dir)), LpaRounds)

  /** [[labelPropagationQuery]]'s core over undirected distinct
    * (u, v) edges with u < v.
    *
    * Unlike the BFS/temporal loops — whose per-round output feeds TWO
    * consumers (frontier expansion and the settled/arrival
    * accumulation), so an uncheckpointed round would double the plan
    * per hop — each LPA round's label table has exactly ONE consumer:
    * the next round (and the final projection). Nothing is ever
    * recomputed, so the rounds stay LAZY and the whole fixed unroll
    * executes as one action over the checkpointed edge table, instead
    * of `rounds` driver-blocking materializations (each a block-
    * manager write + read-back of a node-sized table). The plan depth
    * grows linearly in [[LpaRounds]] (bounded, 4) — never the
    * exponential blowup that forces the checkpoint elsewhere. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("u"), col("v"))
    val dirE = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var lab = dirE.select(col("u")).distinct()
      .select(col("u"), col("u").as("label"))
    val byNode = Window.partitionBy("u")
      .orderBy(col("c").desc, col("label").asc)
    for (_ <- 1 to rounds) {
      lab = dirE
        .join(lab.select(col("u").as("v"), col("label")), Seq("v"))
        .groupBy("u", "label").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(byNode))
        .filter(col("rk") === 1)
        .select(col("u"), col("label"))
    }
    lab.select(col("u").cast("long").as("user_id"),
        col("label").cast("long").as("community"))
      .orderBy("user_id")
  }

  /** Neighbor-mean smoothing rounds q230 applies (oracle replays the
    * same count). */
  val SmoothRounds = 2

  /** q230: graph FEATURE PROPAGATION — each user's activity features
    * (event count, decimal-cents value) smoothed by [[SmoothRounds]]
    * rounds of neighbor averaging over the co-activity graph: h_k(u)
    * = floor-mean of h_{k-1} over Γ(u). The simplified-GCN /
    * GraphSAGE-mean primitive (Wu et al. 2019 SGC; Hamilton et al.
    * 2017) stripped of learned weights — exactly the feature-
    * enrichment pass a training-data pipeline runs to give each
    * entity its neighborhood context before a downstream model ever
    * sees it. Floor division keeps every number an exact integer.
    *
    * Scale shape: per round ONE neighbor equi-join + one sum
    * aggregation + one degree division — a Pregel superstep with a
    * sum combiner over a constant-width feature vector; rounds
    * bounded and unrolled identically by the oracle. */
  def featurePropagationQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val feats = events.groupBy("user_id").agg(
      count(lit(1)).cast("long").as("f_cnt"),
      graft.operators.OlapOps.decSumCents(col("value")).as("f_val"))
    featurePropagation(GraphRank.coActivityEdges(events), feats,
      SmoothRounds)
  }

  /** [[featurePropagationQuery]]'s core: smooth (f_cnt, f_val) per
    * node over undirected distinct (u, v) edges. Output covers the
    * GRAPH's nodes (every node has ≥ 1 neighbor by construction). */
  def featurePropagation(edges: DataFrame, feats: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val dirE = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    val deg = dirE.groupBy("u").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // h0 keeps its checkpoint — it has TWO consumers (round 1 and the
    // final join); the per-round h tables have ONE consumer each (the
    // next round), so the rounds stay lazy and the whole bounded
    // unroll executes as one action — the labelPropagation rationale.
    val h0 = deg
      .join(feats.withColumnRenamed("user_id", "u"), Seq("u"), "left")
      .select(col("u"), coalesce(col("f_cnt"), lit(0L)).as("c"),
        coalesce(col("f_val"), lit(0L)).as("v"))
      .localCheckpoint()
    var h = h0
    for (_ <- 1 to rounds) {
      h = dirE
        .join(h.select(col("u").as("v"), col("c"), col("v").as("vv")),
          Seq("v"))
        .groupBy("u").agg(sum(col("c")).as("sc"), sum(col("vv")).as("sv"))
        .join(deg, Seq("u"))
        .select(col("u"), expr("sc div deg").as("c"),
          expr("sv div deg").as("v"))
    }
    h0.select(col("u"), col("c").as("n_events"),
        col("v").as("value_cents"))
      .join(h.select(col("u"), col("c").as("smooth_events"),
        col("v").as("smooth_value_cents")), Seq("u"))
      .select(col("u").cast("long").as("user_id"),
        col("n_events").cast("long").as("n_events"),
        col("value_cents").cast("long").as("value_cents"),
        col("smooth_events").cast("long").as("smooth_events"),
        col("smooth_value_cents").cast("long").as("smooth_value_cents"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[featurePropagationQuery]] — same graph CTE,
    * same features, [[SmoothRounds]] unrolled floor-mean rounds. */
  def featurePropagationOracleSql: String = {
    val rounds = (1 to SmoothRounds).map { k =>
      s"""s$k AS (SELECT dir.u, CAST(sum(p.c) AS BIGINT) AS sc,
             CAST(sum(p.v) AS BIGINT) AS sv
           FROM dir JOIN h${k - 1} p ON p.u = dir.v GROUP BY dir.u),
         h$k AS (SELECT s$k.u, sc // deg.deg AS c, sv // deg.deg AS v
           FROM s$k JOIN deg ON deg.u = s$k.u)"""
    }.mkString(",\n       ")
    s"""${GraphRank.edgesOracleCte},
       f AS (SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c,
               CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) * 100
                 AS BIGINT) AS v
             FROM events GROUP BY 1),
       h0 AS (SELECT deg.u, coalesce(f.c, 0) AS c, coalesce(f.v, 0) AS v
              FROM deg LEFT JOIN f ON f.u = deg.u),
       $rounds
     SELECT h0.u AS user_id, h0.c AS n_events, h0.v AS value_cents,
       h$SmoothRounds.c AS smooth_events,
       h$SmoothRounds.v AS smooth_value_cents
     FROM h0 JOIN h$SmoothRounds ON h$SmoothRounds.u = h0.u
     ORDER BY user_id"""
  }

  /** DuckDB oracle for [[labelPropagationQuery]] — same graph CTE,
    * [[LpaRounds]] unrolled synchronous rounds with the min-label
    * tie-break. */
  def labelPropagationOracleSql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""l$k AS (SELECT u, label FROM (
             SELECT dir.u, p.label, count(*) AS c,
               row_number() OVER (PARTITION BY dir.u
                 ORDER BY count(*) DESC, p.label ASC) AS rk
             FROM dir JOIN l${k - 1} p ON p.u = dir.v
             GROUP BY dir.u, p.label)
           WHERE rk = 1)"""
    }.mkString(",\n       ")
    s"""${GraphRank.edgesOracleCte},
       l0 AS (SELECT u, u AS label FROM deg),
       $rounds
     SELECT u AS user_id, CAST(label AS BIGINT) AS community
     FROM l$LpaRounds ORDER BY user_id"""
  }
}

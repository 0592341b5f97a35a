package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a duplicate-pair graph — the step every
  * production dedup pipeline needs BETWEEN candidate-pair generation
  * (exact hash / MinHash / SimHash / n-gram Jaccard) and document
  * selection: near-duplication is not transitive, so pairs (A,B) and
  * (B,C) must collapse into one cluster {A,B,C} with a single
  * canonical survivor, or the pipeline keeps one doc per PAIR instead
  * of one per FAMILY.
  *
  * Algorithm: the alternating LARGE-STAR / SMALL-STAR edge rewriting
  * of Kiveris et al., "Connected Components in MapReduce and Beyond"
  * (SoCC'14). Each operator rewrites the edge set in one keyed
  * shuffle pass:
  *   - large-star: every node u links each STRICTLY LARGER neighbor
  *     to min(Γ(u) ∪ {u});
  *   - small-star: every node u links its smaller-or-equal
  *     neighborhood (and itself) to its minimum.
  * Alternating the two provably converges to disjoint stars rooted
  * at each component's minimum id in O(log² n) rounds — ~10 in
  * practice for ANY topology, including long paths whose ids are
  * uncorrelated with adjacency. That worst case is not hypothetical
  * here: sorted-neighborhood dup chains (q202, and q232's union
  * graph) produce exactly such paths, and the previous min-label
  * propagation scheme — whose per-round "pointer jump" is provably a
  * no-op because min-propagation keeps every label pointing at a
  * root — crawled them at one hop per round, O(diameter) rounds.
  *
  * Every rewrite ends in `localCheckpoint` — iterative DataFrame
  * loops otherwise grow the lineage linearly and re-execute the
  * whole history each action (round-18 A/B re-confirmed BOTH
  * checkpoints are load-bearing — see largeStar). The probe is the
  * (row count, endpoint sum) pair: both star operators are
  * individually nonincreasing in count and sum, so ONE probe per full
  * alternation suffices — an unchanged pair across large∘small proves
  * both passes were identities. Since round 19 the probe is an
  * OBSERVED METRIC riding the small-star checkpoint's materialization
  * (Dataset.observe), so an alternation costs two actions, not three.
  * The iteration cap is a safety rail; non-convergence inside it
  * fails loudly rather than returning a silently wrong clustering.
  *
  * At 100 TB the edge table is one row per duplicate pair — orders
  * of magnitude smaller than the corpus — and each pass is two
  * key-partitioned shuffles of that table; nothing is ever collected
  * to the driver except the single-row convergence probe. Skewed
  * hubs (one doc duplicated millions of times) are exactly what the
  * star operators handle: a hub's neighborhood collapses onto its
  * minimum in one pass instead of funneling through per-node label
  * lookups.
  */
object DupClusters {

  /** Name of the observation riding every convergence-probe
    * checkpoint of [[connectedComponents]]: one initial probe plus one
    * per star alternation, so a QueryExecutionListener that counts it
    * recovers a call's round count (ScalingCurve's CC-rounds column)
    * without any global state. */
  val ProbeName = "cc_probe"

  /** Cluster assignment for every node of the pair graph: returns
    * (node, cluster_id) where cluster_id is the MIN node id of the
    * component — deterministic canonical labels. `pairs` needs
    * columns `d1`/`d2`; direction does not matter. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // Convergence probe: both operators rewrite each edge (u,w) to
    // (w,m) with m = a neighborhood MINIMUM ≤ u, so the per-row delta
    // u−m is ≥ 0 whatever the sign of the ids, and `distinct` only
    // removes rows. Hence (row count, endpoint sum) UNCHANGED across
    // a pass proves every delta was zero and nothing collapsed — the
    // pass was an identity. Decimal accumulation cannot overflow at
    // any node-id scale.
    // The probe rides the checkpoint's own job (Checkpoints.probed):
    // one action per pass, not checkpoint + probe.
    def checkpointProbed(df: DataFrame)
        : (DataFrame, (Long, java.math.BigDecimal)) = {
      val (ck, m) = Checkpoints.probed(df, Observation(ProbeName),
        count(lit(1)).as("n"),
        coalesce(sum((col("a") + col("b")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("s")) // coalesce: empty set
      val s = m("s") match {
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => sys.error(s"unexpected probe sum type: $other")
      }
      (ck, (m("n").asInstanceOf[Long], s))
    }
    // Canonicalize each pair to (child=max, parent=min) BEFORE the
    // dedup shuffle: distinct then moves half the volume of the
    // doubled form, and collapses pairs present in both directions.
    // The (a > b) orientation is the invariant BOTH star operators
    // preserve, so it is established exactly once. The initial probe
    // rides this first checkpoint too.
    var (edges, prev) = checkpointProbed(pairs
      .select(greatest(col("d1"), col("d2")).as("a"),
        least(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b")) // self-pairs carry no information
      .distinct())
    // LARGE-STAR: each node u links every strictly larger neighbor to
    // the minimum of its full neighborhood (u included). One groupBy
    // over the doubled edge set + one keyed join back. Emits EXACTLY
    // one edge per input edge (each undirected edge is handled at its
    // smaller endpoint), so no dedup shuffle here — the small-star
    // pass that always follows ends in the distinct.
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = dir.groupBy("u").agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      // Checkpoint kept deliberately (round-18 A/B): dropping it and
      // letting smallStar's three references recompute the large-star
      // subtree measured 9.1 s → 14.2 s on q232 — ReuseExchange does
      // NOT deduplicate the recomputed branches here, so the eager
      // materialization is load-bearing, not overhead.
      dir.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .localCheckpoint()
    }
    // SMALL-STAR: each node u links its smaller neighbors AND itself
    // to the minimum of that set. Canonical edges already point
    // child→smaller-parent, so the smaller neighborhood of u is
    // exactly the rows with a = u — no doubling needed. Input
    // duplicates (large-star runs without a distinct) are absorbed by
    // the min aggregate and collapsed by the closing distinct. The
    // caller checkpoints (checkpointProbed), so this returns the PLAN.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
      val moved = e.select(col("a").as("u"), col("b").as("v"))
        .join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
      val self = mins.select(col("u").as("a"), col("m").as("b"))
      moved.union(self)
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // One probe per FULL alternation, not per pass: both operators are
    // individually nonincreasing in (count, sum) — large-star maps
    // each edge to one edge of equal-or-smaller sum, small-star maps a
    // k-edge owner to k edges of equal-or-smaller total, distinct only
    // removes — so an unchanged pair across large∘small proves BOTH
    // passes were identities. With the probe fused into the small-star
    // checkpoint, each alternation is TWO actions (large-star
    // checkpoint + probed small-star checkpoint) where round 18 ran
    // three.
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIters) {
      val (next, cur) = checkpointProbed(smallStar(largeStar(edges)))
      edges = next
      converged = cur._1 == prev._1 && cur._2.compareTo(prev._2) == 0
      prev = cur
      rounds += 1
    }
    // a silent non-converged exit returns a WRONG clustering — fail
    // loudly instead (raise maxIters at the call site if a graph
    // legitimately needs more rounds)
    require(converged,
      s"connectedComponents did not converge in $maxIters alternations")
    // Fixpoint edges are disjoint stars (child, component-min root):
    // every non-root node appears exactly once on the child side.
    // Roots label themselves.
    val roots = edges.select(col("b")).distinct()
      .join(edges.select(col("a").as("b")), Seq("b"), "left_anti")
      .select(col("b").as("node"), col("b").as("lbl"))
    edges.select(col("a").as("node"), col("b").as("lbl"))
      .union(roots)
      .select(col("node"), col("lbl").as("cluster_id"))
  }

  /** Full clustering report over a document table: every doc labeled
    * with its dup-cluster id (its own id when unpaired), the cluster
    * size, and the canonical flag (the min-id doc of each cluster is
    * the survivor a dedup pipeline keeps). */
  def clusterReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val labeled = docs.select(col("doc_id"))
      .join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0)
          .cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q161: cluster survivor by QUALITY — the production keep-rule a
    * dedup pipeline actually applies: within each near-dup cluster,
    * keep the doc with the most content (longest text; ties to the
    * lowest id), not the arbitrary min-id representative
    * [[clusterReport]] uses. The difference is material: min-id keeps
    * whatever crawled first, best-of-cluster keeps the fullest copy
    * (the Lee et al. 2022 recommendation for near-dup groups).
    *
    * Scale shape: same star-alternation clustering as q45, then one PARTITIONED
    * window per cluster (clusters are bounded by the capped pair
    * generation — a keyed shuffle, never a global sort) to rank
    * members by (len DESC, id ASC), and one join back to flag every
    * doc with its cluster's survivor. */
  def clusterBestReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs)
    val labeled = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("len"))
      .join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("len"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val ranked = labeled.withColumn("rn",
      row_number().over(Window.partitionBy(col("cluster_id"))
        .orderBy(col("len").desc, col("doc_id").asc)))
    val survivors = ranked.filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"))
    labeled.join(survivors, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
        when(col("doc_id") === col("survivor_id"), 1).otherwise(0)
          .cast("int").as("is_kept"))
      .orderBy("doc_id")
  }
}

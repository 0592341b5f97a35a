package graft

import org.apache.spark.sql.functions._
import graft.operators.DupClusters

class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chains collapse, components stay apart") {
    // {1,2,3} via a chain (1-2, 2-3: near-dup is not transitive, so 1-3
    // is absent), {10,11}, and 20-20 nothing (absent from pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val cc = DupClusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: long path converges inside the pass cap") {
    // a 33-node path: plain min-propagation needs 32 rounds; the
    // star alternation must finish in O(log n) passes
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    val cc = DupClusters.connectedComponents(pairs).collect()
    assert(cc.length == 33)
    assert(cc.forall(_.getLong(1) == 0L))
  }

  test("connected components: long path with SHUFFLED ids (adjacency " +
    "uncorrelated with id order) still converges exactly") {
    // the q232 regression: a sequential-id path lets min-propagation
    // look sufficient because labels happen to encode position;
    // permuting the ids breaks that crutch — the union graph's
    // sorted-neighborhood chains are exactly this shape, and only the
    // large-star/small-star alternation converges inside the cap
    val n = 400
    val perm = new scala.util.Random(12345).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1)
      .map(i => (perm(i).toLong, perm(i + 1).toLong)).toDF("d1", "d2")
    val cc = DupClusters.connectedComponents(pairs).collect()
    assert(cc.length == n)
    assert(cc.forall(_.getLong(1) == 0L), "every node labels to min 0")
  }

  test("cc_probe observations pin the alternation count on a 64-node " +
    "path") {
    // one probe rides the initial checkpoint and one each alternation
    def alternations(id: Int => Long): Int = {
      val pairs = (0 until 63).map(i => (id(i), id(i + 1))).toDF("d1", "d2")
      val (cc, probes) = ScalingCurve.countCcProbes(spark)(
        DupClusters.connectedComponents(pairs).collect())
      assert(cc.length == 64 && cc.forall(_.getLong(1) == 0L))
      probes - 1
    }
    assert(alternations(_.toLong) == 7)
    // ids permuted along the path: adjacency uncorrelated with id order
    assert(alternations(i => ((37 * i + 11) % 64).toLong) == 6)
  }

  test("connected components: edge direction and duplicates don't matter") {
    val pairs = Seq((5L, 4L), (4L, 5L), (5L, 4L), (6L, 5L)).toDF("d1", "d2")
    val cc = DupClusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("empty pair set: every doc is its own singleton cluster") {
    val docs = Seq(1L, 2L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val rep = DupClusters.clusterReport(docs, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rep.toSeq == Seq((1L, 1L, 1L, 1), (2L, 2L, 1L, 1)))
  }

  test("cluster report labels singletons, sizes, and canonical docs") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((2L, 4L), (4L, 5L)).toDF("d1", "d2")
    val rep = DupClusters.clusterReport(docs, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rep.toSeq == Seq(
      (1L, 1L, 1L, 1),
      (2L, 2L, 3L, 1),
      (3L, 3L, 1L, 1),
      (4L, 2L, 3L, 0),
      (5L, 2L, 3L, 0)))
  }

  test("best-of-cluster keeps the longest doc, not the min id") {
    // cluster {2,4,5}: doc 4 is the longest -> survivor, though 2 is
    // the min id; ties (docs 1 and 3 are singletons) keep themselves
    val docs = Seq(
      (1L, "aa"), (2L, "bb"), (3L, "cc"),
      (4L, "the longest document"), (5L, "mid length"))
      .toDF("doc_id", "text")
    val pairs = Seq((2L, 4L), (4L, 5L)).toDF("d1", "d2")
    val rep = DupClusters.clusterBestReport(docs, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rep.toSeq == Seq(
      (1L, 1L, 1L, 1),
      (2L, 2L, 4L, 0),
      (3L, 3L, 3L, 1),
      (4L, 2L, 4L, 1),
      (5L, 2L, 4L, 0)))
    // exactly one kept doc per cluster
    val perCluster = rep.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    assert(perCluster.values.forall(_ == 1))
    // a length tie falls back to the lowest id
    val tied = Seq((7L, "same"), (8L, "same")).toDF("doc_id", "text")
    val tp = Seq((7L, 8L)).toDF("d1", "d2")
    val ts = DupClusters.clusterBestReport(tied, tp).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(ts == Map(7L -> 7L, 8L -> 7L))
  }

  test("q208 incremental assignment: total batch coverage, singletons " +
    "keep their id, matched docs land on stored old labels") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val out = graft.operators.Extensions
      .q208IncrementalClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val newCount = docs.filter(col("doc_id") % 5 === 4).count()
    assert(out.length.toLong == newCount, "every batch doc must report")
    val oldLabels = DupClusters.connectedComponents(
        graft.operators.Extensions.dupPairs(
          docs.filter(col("doc_id") % 5 =!= 4)))
      .collect().map(_.getLong(1)).toSet ++
      docs.filter(col("doc_id") % 5 =!= 4)
        .collect().map(_.getLong(0)).toSet
    out.foreach { case (id, cid, n) =>
      if (n == 0) assert(cid == id, s"unmatched $id must be singleton")
      else assert(oldLabels.contains(cid),
        s"matched $id must join a stored old cluster, got $cid")
    }
    assert(out.exists(_._3 > 0), "fixture should produce some matches")
  }
}

package graft

import graft.scale.Clusters
import org.apache.spark.sql.functions._

/** scale/Clusters — connected components over dedup pair graphs. */
class ClustersSpec extends SparkSpec {

  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = Clusters.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.release()
    out
  }

  test("a chain merges transitively to the component minimum") {
    // 1-2, 2-3, 3-4: pairwise keep-lowest would keep 1 and 3; CC keeps only 1
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components stay disjoint") {
    val labels = cc(Seq((1L, 2L), (10L, 11L), (11L, 12L), (20L, 21L)))
    assert(labels(1L) == 1L && labels(2L) == 1L)
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
  }

  test("edge direction and duplicates don't matter") {
    val labels = cc(Seq((5L, 2L), (2L, 5L), (5L, 2L), (9L, 5L)))
    assert(labels == Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("a long path converges within the iteration cap (pointer jumping)") {
    // path 0-1-...-40: diameter 40 >> maxIter 16, needs the label jump
    val path = (0L until 40L).map(i => (i, i + 1))
    val labels = cc(path)
    assert(labels.values.toSet == Set(0L))
  }

  test("dedupClusters sizes and canonical flags") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val rows = Clusters.dedupClusters(pairs, "doc_a", "doc_b")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    Caches.release()
    assert(rows.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (7L, 7L, 2L, true), (8L, 7L, 2L, false)))
  }

  test("matches brute-force components on a hashed pseudo-random graph") {
    // deterministic graph: 30 nodes, edge (i, (i*i*31+7) % 30) for i % 3 != 0
    val edges = (0L until 30L).filter(_ % 3 != 0)
      .map(i => (i, (i * i * 31 + 7) % 30)).filter { case (a, b) => a != b }
    // brute force union-find on the driver
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(cc(edges) == want)
  }

  test("pageRank: mass conservation and the star hub ranks first") {
    import spark.implicits._
    // star: 1 is the hub of {2,3,4,5}; {10,11} an isolated pair
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val pr = graft.scale.Clusters.pageRank(pairs, "doc_a", "doc_b",
        iterations = 10, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the (1-d) + d*sum form preserves total mass exactly: sum == |nodes|
    assert(math.abs(pr.values.sum - pr.size) < 1e-9,
      s"rank mass ${pr.values.sum} must equal node count ${pr.size}")
    assert(pr(1L) > pr(2L) && pr(1L) > pr(5L), "the star hub ranks highest")
    assert(math.abs(pr(10L) - pr(11L)) < 1e-12, "symmetric pair ranks equal")
    assert(Seq(2L, 3L, 4L, 5L).map(pr).distinct.size == 1,
      "symmetric leaves rank equal")
  }
}

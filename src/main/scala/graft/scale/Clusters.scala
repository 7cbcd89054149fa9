package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected-component resolution over near-dup candidate pairs — the stage
  * that turns pairwise similarity hits (NearDup/Similarity output) into
  * keep/drop decisions. Pairs alone under-delete: if A~B and B~C, keeping
  * "the lower id of each pair" keeps A and C even though all three are one
  * duplicate group. Production dedup (the reference pipelines' published
  * shape — MapReduce CC, Kiveris et al. 2014; see PAPERS.md) resolves the
  * pair graph into components and keeps one canonical doc per component.
  *
  * 100 TB posture: iterative min-label propagation with pointer DOUBLING —
  * each round is one edge-join + groupBy-min (shuffle on node id) followed
  * by `Doublings` label-to-label jumps inside the same round's plan, so a
  * round contracts resolved path lengths ~2·2^Doublings× and rounds needed
  * grow with log(component diameter), not diameter. (The original single
  * jump per round was measured NOT converging inside maxIter=16 on the
  * sf0.1 banded vector pair graph — a long-chain component; labels were
  * still moving at round 16, which would have shipped silently wrong
  * cluster ids at bench scale. With 3 doublings the same graph converges
  * in a handful of rounds, and the loop now fails loudly instead of
  * returning unconverged labels.) The driver-side loop only ever reads
  * one boolean per round (the edge-stability probe), never collects data.
  */
object Clusters {

  /** Resolves the undirected pair graph into components.
    * Returns one row per node appearing in `pairs`:
    * (node, cluster_id) with cluster_id = the component's minimum node id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 16): DataFrame = {
    // lazy local checkpoint, not eager: the cut still replaces the plan
    // with a LogicalRDD leaf immediately (the lineage/analysis truncation
    // this loop needs), but the final stage's materialization folds into
    // the next action that touches the frame — the per-round convergence
    // sum — instead of costing a separate job per cut. (Under AQE the
    // upstream query stages still materialize at cut creation, so the
    // interleaved A/B on the pair capstones showed parity-to-better, not
    // the 2× the job count suggests; lazy is kept as the never-worse form.)
    // cut + distinct here, on the PAIR list: the input is typically an
    // expensive similarity join that everything below (nodes, edges,
    // labels) re-references — materialize it once; distinct at this level
    // (LSH candidates repeat a pair once per colliding band) makes the
    // 3-way edge union distinct by construction — reversal can't collide
    // with a<b pairs, self-loops come from the distinct node set
    val half = graft.Caches.lazyBarrier(pairs.select(
      col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")).distinct())
    // Checkpoints (not persists) throughout: the loop self-joins its own
    // output, so a nested plan doubles per round — lineage must be cut to
    // the materialized rows each iteration, or analysis alone blows up
    // around round 6.
    // Undirected edges plus a self-loop per node: with self-loops,
    // min-over-neighbor-labels subsumes "keep own label", so the loop body
    // is one join + groupBy with no per-round union (unions whose branches
    // descend from the same checkpointed relation trip Union's constraint
    // rewrite in analysis).
    val nodes = half.select(col("src"))
      .union(half.select(col("dst").as("src"))).distinct()
    // no distinct() over the edge union: min() is idempotent under
    // duplicate edges, and deduping the corpus-sized edge list would be
    // the loop's single largest shuffle bought for nothing (an input pair
    // listed twice at worst doubles that edge's join rows)
    val edges = graft.Caches.lazyBarrier(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .union(nodes.select(col("src"), col("src").as("dst"))))
    // nodes is already the distinct node set — labels reuse it instead of
    // re-distincting the 3-way edge union
    var labels = graft.Caches.lazyBarrier(
      nodes.select(col("src").as("node")).withColumn("label", col("node")))
    // Termination (r13): labels are converged IFF no remaining edge joins
    // two different labels. Labels start as node ids and only take mins of
    // labels within their component, so each component's min node m always
    // keeps label(m) = m; edge-stability therefore means every component's
    // labels are constant and equal to that min — exactly the result.
    // This replaces the r12 label-sum witness, which needed one ENTIRE
    // EXTRA star round (7 joins/aggs) purely to observe an unchanged sum:
    // the stability probe is one small join over the distinct pair list
    // per round, and the loop now stops at the round that converged
    // (measured: dedup_clusters 2 star rounds -> 1, the planted pair
    // capstones 4 -> 3 — one full star round saved per CC invocation,
    // which at 100 TB is a full pass over the pair graph).
    def stable(l: DataFrame): Boolean =
      half.join(l.withColumnRenamed("node", "src")
            .withColumnRenamed("label", "la"), "src")
        .join(l.withColumnRenamed("node", "dst")
            .withColumnRenamed("label", "lb"), "dst")
        .filter(col("la") =!= col("lb"))
        .isEmpty
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // Three fused phases per round (the star operations of Kiveris et
      // al. expressed over the label table; measured necessary — plain
      // min-over-neighbors + pointer jumps did NOT converge in 16 rounds
      // on the sf0.1 banded vector pair graph, because a discovered min
      // only crawled the original edges one hop per round):
      //  1. edge propagation: x learns the min label of its neighborhood
      //     (self-loop covers the own label);
      //  2. small-star: every x forwards its phase-1 value to the node m
      //     it LABELED last round; m takes the min over its whole label
      //     tree — the hub aggregates its stars in one round;
      //  3. large-star: x re-reads m's phase-2 value, so the hub's newly
      //     aggregated min fans back out in the same round.
      val p1 = edges.as("e")
        .join(labels.as("l"), col("e.dst") === col("l.node"))
        .groupBy(col("e.src").as("node"))
        .agg(min(col("l.label")).as("label"))
      val toHub = labels.as("lb")
        .join(p1.as("p"), col("lb.node") === col("p.node"))
        .select(col("lb.label").as("node"), col("p.label").as("label"))
      val p2 = p1.union(toHub)
        .groupBy("node").agg(min(col("label")).as("label"))
      // phase 3 uses the PREVIOUS round's pointer (labels), which both
      // joins below reference; p2 has exactly one row per node (p1 covers
      // every node via self-loops, toHub only re-keys existing rows)
      val p3 = labels.as("lb")
        .join(p2.as("own"), col("lb.node") === col("own.node"))
        .join(p2.select(col("node").as("hn"), col("label").as("hl")).as("hub"),
          col("lb.label") === col("hub.hn"), "left")
        .select(col("lb.node").as("node"),
          least(col("own.label"), coalesce(col("hub.hl"), col("own.label"))).as("label"))
      // pointer doubling on top: follow label chains Doublings times
      // within the same plan — resolved chain lengths contract
      // 2^Doublings further, no extra jobs (identical subtrees reuse one
      // shuffle). Every label is itself a node (labels start as node ids
      // and min() keeps them in-set), so the join always matches.
      var cur = p3
      var d = 0
      while (d < Doublings) {
        cur = cur.as("p")
          .join(cur.select(col("node").as("jn"), col("label").as("jl")).as("j"),
            col("p.label") === col("j.jn"), "left")
          .select(col("p.node").as("node"),
            coalesce(col("j.jl"), col("p.label")).as("label"))
        d += 1
      }
      val jumped = graft.Caches.lazyBarrier(cur)
      // the stability probe is also the action that materializes this
      // round's label checkpoint — one driver action per round, as before
      done = stable(jumped)
      labels = jumped
      iter += 1
    }
    // an unconverged label table is silently WRONG dedup output — fail
    // loudly; with 3 doublings, 16 rounds resolve diameters far beyond
    // any real pair graph (~(2·2^3)^16)
    require(done, s"connected components did not converge in $maxIter rounds")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Pointer-doubling jumps per round (see the loop comment). One is the
    * measured sweet spot with the star phases in place: 3 jumps saved no
    * rounds on the measured graphs but paid two extra self-joins per
    * round.
    */
  private val Doublings = 1

  /** [[connectedComponents]] plus the dedup verdict: cluster size and the
    * canonical flag (lowest id in the component survives). One row per doc
    * that participated in at least one pair.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("node").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("node") === col("cluster_id")).as("is_canonical"))
  }

  /** PageRank over the undirected pair graph (`rank = (1-d) + d·Σ
    * rank(nbr)/deg(nbr)`, fixed iteration count): the centrality
    * companion to [[connectedComponents]] — inside a dup cluster the
    * highest-rank node is the hub the others orbit, a better canonical-
    * representative choice than min-id when clusters are star-shaped.
    *
    * Each iteration is one co-partitioned join + one aggregate on the
    * node key; a lazy lineage barrier per iteration keeps the analyzed
    * tree linear in rounds (the [[connectedComponents]] lesson). State
    * per round is one double per node.
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
               iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val deg = graft.Caches.lazyBarrier(
      sym.groupBy("src").agg(count(lit(1)).as("deg")))
    val withDeg = graft.Caches.lazyBarrier(sym.join(deg, "src"))
    val nodes = deg.select(col("src").as("node"))
    var ranks = nodes.withColumn("rank", lit(1.0d))
    for (i <- 1 to iterations) {
      val contrib = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      // The symmetrized graph gives every ranked node at least one
      // incoming edge (it appears as some dst), so `contrib` already
      // covers the full node set — the textbook `nodes LEFT JOIN contrib`
      // re-attachment is a guaranteed full match and is elided: one join
      // per round instead of two. (Dangling-node redistribution doesn't
      // arise either: every node has out-degree by construction.)
      val next = contrib.select(col("dst").as("node"),
        (lit(1.0d - damping) + lit(damping) * col("s")).as("rank"))
      // barrier every SECOND round: each barrier costs a serialized
      // stage-job materialization (the corpus_prepare_v4 scheduling-floor
      // lesson), while two rounds of join lineage stay well under the
      // analyzed-tree blowup threshold — halving the floor halves the
      // query's wall-clock at small SF without touching semantics.
      ranks = if (i % 2 == 0 || i == iterations) graft.Caches.lazyBarrier(next)
              else next
    }
    ranks
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round it adopts the most frequent
    * label among its NEIGHBORS, ties to the smaller label — a total
    * deterministic order, so the rounds are exactly replayable (and
    * integer-exact: counts, argmax, nothing else). The community
    * complement of [[connectedComponents]] (which finds reachability,
    * not density) and [[pageRank]] (centrality): on a near-dup graph LPA
    * splits a weakly-bridged component into its dense template clusters.
    *
    * Scale shape: per round one edge–label join (shuffle on src) and one
    * (node, label) count aggregate with map-side combine; label state is
    * one long per node. Same barrier cadence as pageRank (every second
    * round) — the cost is serial round depth, not per-round work.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iterations: Int = 4): DataFrame = {
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val edges = graft.Caches.lazyBarrier(sym)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy("node").orderBy(col("c").desc, col("label"))
    for (i <- 1 to iterations) {
      val next = edges
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("label"))
      labels = if (i % 2 == 0 || i == iterations) graft.Caches.lazyBarrier(next)
               else next
    }
    labels
  }
}

package graft

import graft.scale.{NearDup, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Sanity properties for the scale/ operators (the oracle queries check
  * exact values; these check invariants that must survive refactors).
  */
class ScaleOpsSpec extends SparkSpec {

  test("jaccard: identical docs 1.0, disjoint docs 0.0") {
    import spark.implicits._
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "x y z w v"))
      .toDF("t1", "t2")
      .select(TextOps.jaccard(TextOps.shingles(col("t1")), TextOps.shingles(col("t2"))).as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0))
  }

  test("native PolyHashExpr matches the HOF form over the real corpus") {
    import spark.implicits._
    val d = graft.sources.Tables.documents(spark, sf())
      .select(TextOps.polyHash(col("text")).as("native"),
              TextOps.polyHashHof(col("text")).as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("polyHash is order-sensitive and stable") {
    import spark.implicits._
    val h = Seq("abc", "acb", "abc").toDF("t")
      .select(TextOps.polyHash(col("t")).as("h")).collect().map(_.getLong(0))
    assert(h(0) == h(2) && h(0) != h(1))
  }

  test("native shingle-hash / minhash-sig / simhash kernels match the HOF compositions") {
    val d = graft.sources.Tables.documents(spark, sf())
    // shingle hashes: fused kernel vs transform(shingles, polyHash)
    val sh = d.select(
      TextOps.shingleHashes(col("text")).as("native"),
      transform(TextOps.shingles(col("text")), s => TextOps.polyHash(s)).as("hof"))
    assert(sh.filter(col("native") =!= col("hof")).count() == 0)
    // shingle strings: fused kernel vs the builtin composition
    val ss = d.select(TextOps.shinglesNative(col("text")).as("native"),
      TextOps.shingles(col("text")).as("hof"))
    assert(ss.filter(col("native") =!= col("hof")).count() == 0)
    // minhash signature: one-pass kernel vs K array_min(transform(...))
    val sig = d.select(TextOps.shingleHashes(col("text")).as("shh"))
      .select(NearDup.minhashSignature(col("shh")).as("native"),
              NearDup.minhashSignatureHof(col("shh")).as("hof"))
    assert(sig.filter(col("native") =!= col("hof")).count() == 0)
    // simhash: per-doc kernel vs explode + bit-vote aggregation
    val nat = NearDup.simhash32(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expl = NearDup.simhash32Exploded(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat == expl)
    // ngram repetition: one-pass kernel vs explode + two aggregations
    val natRep = d.select(col("doc_id"), TextOps.ngramRep(col("text")).as("r"))
      .select(col("doc_id"), col("r").getItem(0), col("r").getItem(1))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val explRep = d.select(col("doc_id"),
        explode(TextOps.ngramsAll(col("text"), 3)).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(sum("count").as("t"), max("count").as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(natRep == explRep)
    // winnowing: fused kernel vs positional-transform + windowed-min HOF
    val win = d.select(
      TextOps.winnowFingerprints(col("text")).as("native"),
      TextOps.winnowFingerprintsHof(col("text")).as("hof"))
    assert(win.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("minhash signatures: near-identical docs collide on most components") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today", "s"),
      (3L, "completely different content with no overlap whatsoever at all", "s"))
      .toDF("doc_id", "text", "source")
    val sigs = NearDup.withSignatures(docs)
      .select("doc_id", "minhash_sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val match12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val match13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(match12 > match13)
    assert(match13 == 0)
  }

  test("hash sampling: deterministic under repartition, nested across rates") {
    import graft.scale.Sampling
    val d = graft.sources.Tables.documents(spark, sf())
    val s10 = Sampling.hashSample(d, "doc_id", 0.1, "s").select("doc_id")
    val s20 = Sampling.hashSample(d, "doc_id", 0.2, "s").select("doc_id")
    // partition layout must not change the draw (rand(seed) fails this)
    val repart = Sampling.hashSample(d.repartition(13), "doc_id", 0.1, "s")
      .select("doc_id")
    assert(s10.exceptAll(repart).isEmpty && repart.exceptAll(s10).isEmpty)
    // fixed salt -> nested samples: the 10% draw is a subset of the 20%
    assert(s10.exceptAll(s20).isEmpty)
    assert(s10.count() < s20.count())
    // different salt -> a different draw
    val other = Sampling.hashSample(d, "doc_id", 0.1, "t").select("doc_id")
    assert(other.exceptAll(s10).count() > 0)
    // realized rate lands near the nominal one
    val rate = s10.count().toDouble / d.count()
    assert(rate > 0.05 && rate < 0.15, s"realized rate $rate")
  }

  test("incremental admission: dup rejected via the index alone, fresh doc admitted") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content with no overlap whatsoever at all"))
      .toDF("doc_id", "text")
    val index = NearDup.signatureIndex(corpus, "doc_id")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and again today"), // near dup of 1
      (12L, "entirely novel sentence about glaciers carving fjords in ancient valleys"))
      .toDF("doc_id", "text")
    // admission never touches corpus text — only the index rows
    val got = NearDup.admitAgainst(index, batch, "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got(10L)._1 && got(10L)._2.contains(1L)) // exact dup: 8/8 agreement
    assert(got(11L)._2.contains(1L))                 // near dup collides with doc 1
    assert(!got(12L)._1 && got(12L)._2.isEmpty)      // fresh doc admitted
    // the index is append-composable: admitted docs' own index rows union in
    val grown = index.unionByName(
      NearDup.signatureIndex(batch.filter($"doc_id" === 12L), "doc_id"))
    val second = NearDup.admitAgainst(grown, batch.filter($"doc_id" === 12L), "doc_id")
      .collect()(0)
    assert(second.getBoolean(1) && second.getLong(2) == 12L) // re-sent shard now dups itself
  }

  test("LSH candidates find the injected near-dup and skip the unrelated doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today", "s"),
      (3L, "completely different content with no overlap whatsoever at all", "s"))
      .toDF("doc_id", "text", "source")
    val cands = NearDup.lshCandidates(NearDup.withSignatures(docs), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("fused lshDuplicates equals the candidates + signature-verify composition") {
    import org.apache.spark.sql.functions.{aggregate, zip_with, when, lit}
    // real corpus slice with injected near-dups: same fixture recipe the
    // capstones use
    val d = graft.sources.Tables.documents(spark, sf()).select("doc_id", "text", "source")
    val withDups = d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat_ws(" ", col("text"), lit("trailing mutant token"))))
    val sigs = NearDup.withSignatures(withDups)
    val sigOf = sigs.select(col("doc_id"), col("minhash_sig"))
    val legacy = NearDup.lshCandidates(sigs, "doc_id")
      .join(sigOf.select(col("doc_id").as("doc_a"), col("minhash_sig").as("sig_a")), "doc_a")
      .join(sigOf.select(col("doc_id").as("doc_b"), col("minhash_sig").as("sig_b")), "doc_b")
      .withColumn("m", aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("m") >= 6)
      .select(col("doc_b").as("doc_id")).distinct()
    val fused = NearDup.lshDuplicates(sigs, "doc_id", minSigMatches = 6)
    assert(legacy.exceptAll(fused).isEmpty && fused.exceptAll(legacy).isEmpty)
    assert(fused.count() > 0, "fixture must actually produce near-dups")
  }

  test("cluster-aware splits: no near-dup pair straddles a split; per-doc splits do leak") {
    import graft.scale.{Clusters, Sampling}
    val d = graft.sources.Tables.documents(spark, sf())
    val corpus = d.select("doc_id", "text", "source")
      .unionByName(d.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" near duplicate suffix marker")).as("text"),
        col("source")))
    val pairs = NearDup.jaccardPairs(corpus, "doc_id", "source",
      shingleN = 3, threshold = 0.2)
    val clusters = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc"), col("cluster_id").as("rep"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

    val clustered = Sampling.assignSplitsByCluster(
      corpus.select("doc_id"), "doc_id", clusters, splits, "csplit-spec")
    // every pair must land in ONE split under the clustered assignment
    val straddling = pairs
      .join(clustered.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(clustered.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling == 0L, s"$straddling near-dup pairs straddle splits")
    // all docs assigned, none duplicated
    assert(clustered.count() == corpus.count())
    // control: the per-doc split DOES leak on this fixture — the defect
    // this operator exists to close
    val perDoc = Sampling.assignSplits(
      corpus.select("doc_id"), "doc_id", splits, "csplit-spec")
    val leaked = pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(leaked > 0L, "fixture must demonstrate the per-doc leakage")
  }

  test("approx percentile gate agrees with the exact gate within the sketch band") {
    import graft.scale.TextOps
    val scored = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    val exact = TextOps.keepAbovePercentile(scored, "quality", dropFrac = 0.3)
      .select("doc_id")
    val approx = TextOps.keepAbovePercentileApprox(scored, "quality", dropFrac = 0.3)
      .select("doc_id")
    val n = scored.count().toDouble
    val disagree = exact.exceptAll(approx).count() + approx.exceptAll(exact).count()
    // accuracy=10000 -> rank error <= 1e-4; allow score-tie slack on top
    assert(disagree / n <= 0.02, s"gates disagree on $disagree of $n docs")
    // partition layout must not change the approx draw materially either
    val repart = TextOps.keepAbovePercentileApprox(
      scored.repartition(13), "quality", dropFrac = 0.3).select("doc_id")
    val drift = approx.exceptAll(repart).count() + repart.exceptAll(approx).count()
    assert(drift / n <= 0.02, s"approx gate drifted $drift of $n under repartition")
  }

  test("native graft_dot_f matches the HOF dot over the real embeddings") {
    graft.functions.Hashing.register(spark)
    val e = graft.sources.Tables.embeddings(spark, sf()).limit(100)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b")).limit(500)
      .select(Similarity.dot(col("va"), col("vb")).as("native"),
              Similarity.dotHof(col("va"), col("vb")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native graft_dot_range matches the HOF prefix dot over the real embeddings") {
    graft.functions.Hashing.register(spark)
    val e = graft.sources.Tables.embeddings(spark, sf()).limit(100)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b")).limit(500)
    for (d <- Seq(1, 8, 16, 64)) {
      val hof = s"aggregate(zip_with(slice(va, 1, $d), slice(vb, 1, $d), " +
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
      val n = pairs
        .select(expr(s"graft_dot_range(va, vb, 1, $d)").as("native"),
          expr(hof).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(n == 0, s"graft_dot_range d=$d diverges from the HOF fold on $n pairs")
    }
  }

  test("int8 quantized top-k tracks the exact ranking (recall@10 and score error)") {
    import graft.scale.Quant
    val e = graft.sources.Tables.embeddings(spark, sf())
    val q = e.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame, score: String) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "score"), "score")
    val quant = pairs(Quant.quantizedTopK(q, e, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "qscore"), "qscore")
    val recall = exact.keySet.intersect(quant.keySet).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@10 $recall")
    val maxErr = exact.keySet.intersect(quant.keySet)
      .map(k => math.abs(exact(k) - quant(k))).max
    assert(maxErr <= 0.02, s"max |cos - cos_q| = $maxErr")
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f, 2f), Array(1f, 0f, 2f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
      .toDF("a", "b")
      .select(Similarity.score(col("a"), col("b")).as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0))
  }

  test("bucketed topk only pairs vectors in the same sign bucket") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 1f, 1f, 1f, 0.5f)),
      (2L, Array(1f, 1f, 1f, 1f, 0.9f)),   // same bucket as 1
      (3L, Array(-1f, 1f, 1f, 1f, 0.5f)))  // different bucket
      .toDF("vec_id", "embedding")
    val got = Similarity.bucketedTopK(vecs, vecs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("doc-frequency cap kills hot-shingle fan-out but keeps true near-dups") {
    import spark.implicits._
    // d1/d2: a genuine near-dup pair. d3..d8: unrelated docs sharing ONE
    // boilerplate shingle ("x y z", df=6) that the uncapped index pairs up.
    val boiler = (3 to 8).map(i => (i.toLong, s"x y z p$i q$i", "s"))
    val docs = (Seq((1L, "a b c d e f", "s"), (2L, "a b c d e g", "s")) ++ boiler)
      .toDF("doc_id", "text", "source")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(NearDup.jaccardPairs(docs, "doc_id", "source"))
    val capped = pairs(NearDup.jaccardPairsCapped(docs, "doc_id", "source",
      maxDf = 4))
    assert(uncapped.contains((3L, 4L))) // boilerplate-only pair, jaccard 0.2
    assert(!capped.exists(p => p._1 >= 3L), s"boilerplate pairs survived: $capped")
    assert(capped == Set((1L, 2L)))     // the real near-dup is kept
    graft.Caches.release()
  }

  test("ivfSeededTopK: one list per vector; an injected exact dup ranks first") {
    val e = graft.sources.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val withDup = e.unionByName(
      e.filter(col("vec_id") === 3).withColumn("vec_id", col("vec_id") + 900000))
    val topk = Similarity.ivfSeededTopK(withDup, "vec_id", "embedding",
      k = 2, nLists = 8).cache()
    try {
      // every query is assigned exactly one inverted list
      assert(topk.groupBy("query_id")
        .agg(countDistinct("list_id").as("n"))
        .filter(col("n") =!= 1).count() == 0)
      // the duplicate pair find each other at rank 1 with cosine 1
      val best = topk.filter(col("rank") === 1)
        .select("query_id", "neighbor_id", "score").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(best(900003L) == (3L, 1.0))
      assert(best(3L) == (900003L, 1.0))
    } finally topk.unpersist()
  }

  test("multi-probe IVF: k-th best score never degrades, recall vs exact never drops") {
    val e = graft.sources.Tables.embeddings(spark, sf())
    def kth(df: org.apache.spark.sql.DataFrame) = df.filter(col("rank") === 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val p1 = Similarity.ivfSeededTopK(e, "vec_id", "embedding", 3, 8)
    val p2 = Similarity.ivfSeededTopK(e, "vec_id", "embedding", 3, 8, nProbe = 2)
    val (k1, k2) = (kth(p1), kth(p2))
    // with a superset candidate pool the 3rd-best score can only improve
    k1.keySet.intersect(k2.keySet).foreach { q =>
      assert(k2(q) >= k1(q), s"query $q: nProbe=2 kth ${k2(q)} < nProbe=1 ${k1(q)}")
    }
    val exact = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (r1, r2) = (pairs(p1.select(col("query_id"), col("list_id"), col("neighbor_id"))),
      pairs(p2.select(col("query_id"), col("list_id"), col("neighbor_id"))))
    assert(exact.intersect(r2).size >= exact.intersect(r1).size)
  }

  test("banded SRP: extra bands extend the plane prefix (pair superset); dups always recalled") {
    val e = graft.sources.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val withDups = e.unionByName(
      e.filter(col("vec_id") % 25 === 0)
        .withColumn("vec_id", col("vec_id") + 100000))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // at equal bit width, bands 0..1 of the (4,4) plan ARE the (2,4)
    // plan's planes (plane index = j*r+d), so any (2,4) collision is a
    // (4,4) collision -> strict candidate (hence pair) superset
    val two = pairSet(Similarity.srpBandedNearDupPairs(
      withDups, "vec_id", "embedding", threshold = 0.35,
      Similarity.VectorBandPlan(2, 4)))
    val four = pairSet(Similarity.srpBandedNearDupPairs(
      withDups, "vec_id", "embedding", threshold = 0.35,
      Similarity.VectorBandPlan(4, 4)))
    assert(two.subsetOf(four), s"missing: ${two.diff(four).take(5)}")
    // exact duplicates have identical plane sums -> collide in every band
    // under ANY plan, including the corpus-scaled auto geometry
    val dupPairs = e.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000)).toSet
    assert(dupPairs.subsetOf(four), s"missing dups: ${dupPairs.diff(four).take(5)}")
    val auto = pairSet(Similarity.srpBandedNearDupPairsAuto(
      withDups, "vec_id", "embedding", threshold = 0.35))
    assert(dupPairs.subsetOf(auto), s"auto plan missing dups: ${dupPairs.diff(auto).take(5)}")
  }

  test("recallAtK: exact self-recall is 1.0; a dropped query counts as zero") {
    val e = graft.sources.Tables.embeddings(spark, sf())
    val q = e.filter(col("vec_id") < 10)
    val exact = graft.Caches.persist(
      Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val self = Similarity.recallAtK(exact, exact, 5).head()
    assert(self.getAs[Double](s"recall_at_5") == 1.0)
    assert(self.getAs[Int]("n_queries") == 10)
    // drop one query from the ANN arm entirely: mean must fall by 1/10
    val dropped = Similarity.recallAtK(
      exact.filter(col("query_id") =!= 0L), exact, 5).head()
    assert(math.abs(dropped.getAs[Double]("recall_at_5") - 0.9) < 1e-9)
    graft.Caches.release()
  }

  test("ANN recall@10 lower bounds: IVF and banded SRP (the driver-visible knobs)") {
    val e = graft.sources.Tables.embeddings(spark, sf())
    val q = e.filter(col("vec_id") % 10 === 0)
    val exact = graft.Caches.persist(
      Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10))
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(ann, exact, 10).head().getAs[Double]("recall_at_10")
    val ivf1 = recall(Similarity.ivfSeededTopK(e, "vec_id", "embedding",
      10, nLists = 8, nProbe = 1).filter(col("query_id") % 10 === 0))
    val ivf2 = recall(Similarity.ivfSeededTopK(e, "vec_id", "embedding",
      10, nLists = 8, nProbe = 2).filter(col("query_id") % 10 === 0))
    assert(ivf2 >= ivf1, s"nProbe=2 recall $ivf2 below nProbe=1 $ivf1")
    assert(ivf2 >= 0.3, s"IVF nProbe=2 recall@10 $ivf2 under floor")
    val b2 = recall(Similarity.bandedTopK(q, e, "vec_id", "embedding",
      10, bands = 2, bitsPerBand = 4))
    val b4 = recall(Similarity.bandedTopK(q, e, "vec_id", "embedding",
      10, bands = 4, bitsPerBand = 4))
    assert(b4 >= b2, s"4-band recall $b4 below 2-band $b2")
    assert(b4 >= 0.3, s"banded(4x4) recall@10 $b4 under floor")
    graft.Caches.release()
  }

  test("IVF x int8: quantized within-list ranking tracks the float IVF ranking") {
    val e = graft.sources.Tables.embeddings(spark, sf())
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flt = pairs(Similarity.ivfSeededTopK(e, "vec_id", "embedding", 3, 8, nProbe = 2))
    val qnt = pairs(graft.scale.Quant.ivfQuantizedTopK(e, "vec_id", "embedding", 3, 8, nProbe = 2))
    // same lists, int8 vs float scoring: ~1% cosine error at 64 dims must
    // keep the vast majority of top-3 memberships identical
    val overlap = flt.intersect(qnt).size.toDouble / flt.size
    assert(overlap >= 0.8, s"quantized IVF overlap with float IVF: $overlap")
    graft.Caches.release()
  }

  test("bitsFor scales bucket width with corpus size and caps at the dimension") {
    assert(Similarity.bitsFor(1000L, dim = 64) == Similarity.DefaultBits)
    assert(Similarity.bitsFor(1L << 30, dim = 64) == 20) // 2^30/1024 lists
    assert(Similarity.bitsFor(1L << 40, dim = 16) == 16) // capped at dim
    assert(Similarity.bitsFor(0L, dim = 64) == Similarity.DefaultBits)
  }

  test("token chunking: short docs, exact boundaries, tail always covered") {
    import spark.implicits._
    import graft.scale.Packing
    def chunksOf(text: String, maxT: Int, stride: Int): Seq[(Int, Int, String)] =
      Packing.chunkByTokens(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", maxT, stride)
        .orderBy("chunk_idx")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    // shorter than the window: one chunk, verbatim
    assert(chunksOf("a b c", 5, 2) == Seq((0, 3, "a b c")))
    // exactly the window: still one chunk
    assert(chunksOf("a b c d e", 5, 2) == Seq((0, 5, "a b c d e")))
    // one token over: second chunk starts at the stride and covers the tail
    assert(chunksOf("a b c d e f", 5, 2) ==
      Seq((0, 5, "a b c d e"), (1, 4, "c d e f")))
    // long doc: every chunk but the last is full-width; windows overlap by
    // maxT - stride; the final token appears in the last chunk
    val toks = (1 to 11).map("t" + _)
    val cs = chunksOf(toks.mkString(" "), 4, 3)
    assert(cs.map(_._1) == (0 to 3))
    assert(cs.dropRight(1).forall(_._2 == 4))
    assert(cs.last._3.endsWith("t11"))
    // stride == maxTokens: disjoint tiling, total tokens preserved
    val tiled = chunksOf(toks.mkString(" "), 4, 4)
    assert(tiled.map(_._2).sum == 11)
  }

  test("band plan: S-curve math and budget factorization pick sane (b, r)") {
    import graft.scale.NearDup
    // the S-curve at the repo's default plan (4 bands x 2 rows): threshold
    // (1/4)^(1/2) = 0.5 exactly
    assert(NearDup.BandPlan(NearDup.Bands, NearDup.BandRows).threshold == 0.5)
    // recall is monotone in similarity and brackets the threshold
    val p = NearDup.BandPlan(4, 2)
    val probs = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(p.recallAt)
    assert(probs == probs.sorted)
    assert(p.recallAt(0.9) > 0.95 && p.recallAt(0.1) < 0.2)
    // factorization: k=8, target 0.5 -> the (4, 2) plan itself
    assert(NearDup.bandPlan(8, 0.5) == NearDup.BandPlan(4, 2))
    // a high-precision target picks more rows per band, fewer bands
    val strict = NearDup.bandPlan(16, 0.9)
    assert(strict.rows > NearDup.bandPlan(16, 0.3).rows)
    assert(strict.threshold > 0.7)
    // degenerate budgets still produce a legal plan
    val one = NearDup.bandPlan(1, 0.5)
    assert(one.bands * one.rows == 1)
  }

  test("bandPlanAuto: smallest budget meeting both error-rate targets") {
    import graft.scale.NearDup
    val n = 1000000L
    val plan = NearDup.bandPlanAuto(corpusSize = n, dupSimilarity = 0.9,
      backgroundSimilarity = 0.2, minRecall = 0.95,
      maxFalseCandidatesPerDoc = 1.0)
    val k = plan.bands * plan.rows
    // the chosen plan satisfies both targets
    assert(plan.recallAt(0.9) >= 0.95)
    assert(n * NearDup.candidateProbability(0.2, plan.bands, plan.rows) <= 1.0)
    // ...and no smaller budget has ANY feasible factorization (k minimal)
    for (k2 <- 1 until k; r <- 1 to k2 if k2 % r == 0) {
      val p2 = NearDup.BandPlan(k2 / r, r)
      assert(!(p2.recallAt(0.9) >= 0.95 &&
        n * NearDup.candidateProbability(0.2, p2.bands, p2.rows) <= 1.0),
        s"smaller feasible plan exists: $p2")
    }
    // a 100x larger corpus needs at least as large a budget (FP target is
    // per-doc, so per-pair probability must shrink with n)
    val big = NearDup.bandPlanAuto(100000000L, 0.9, 0.2)
    assert(big.bands * big.rows >= k)
    // recall floor dominates: demanding 0.999 recall raises the budget
    val strict = NearDup.bandPlanAuto(n, 0.9, 0.2, minRecall = 0.999)
    assert(strict.recallAt(0.9) >= 0.999)
    assert(strict.bands * strict.rows >= k)
    // infeasible targets throw instead of overshooting the budget
    intercept[IllegalArgumentException] {
      NearDup.bandPlanAuto(n, dupSimilarity = 0.21,
        backgroundSimilarity = 0.2, minRecall = 0.999, maxK = 16)
    }
    intercept[IllegalArgumentException] {
      NearDup.bandPlanAuto(n, 0.2, 0.2) // dup must exceed background
    }
  }

  test("temperature sampling: alpha=1 keeps everything, alpha<1 flattens toward uniform") {
    import graft.scale.Sampling
    val d = graft.sources.Tables.documents(spark, sf())
    val natural = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = natural.minBy(_._2)._1
    val largest = natural.maxBy(_._2)._1
    // alpha = 1: share_g = N_g/N -> every rate is exactly 1, nothing drops
    assert(Sampling.temperatureSample(d, "doc_id", "lang", 1.0, "t1").count()
      == d.count())
    // alpha = 0.5: the smallest stratum survives in full; the head thins
    val flat = Sampling.temperatureSample(d, "doc_id", "lang", 0.5, "t1")
    val kept = flat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept(smallest) == natural(smallest))
    assert(kept(largest) < natural(largest))
    // and the kept mixture is flatter: head/tail ratio strictly shrinks
    val before = natural(largest).toDouble / natural(smallest)
    val after = kept(largest).toDouble / kept(smallest)
    assert(after < before, s"head/tail $before -> $after")
  }

  test("semantic near-dup pairs: planted dup found in-cluster at cosine 1") {
    val e = graft.sources.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val withDup = e.unionByName(
      e.filter(col("vec_id") === 3).withColumn("vec_id", col("vec_id") + 900000))
    val pairs = Similarity.semanticNearDupPairs(withDup, "vec_id", "embedding",
      threshold = 0.35, nLists = 8).cache()
    try {
      val planted = pairs.filter(col("vec_a") === 3 && col("vec_b") === 900003L)
        .select("score").collect()
      assert(planted.length == 1 && planted(0).getDouble(0) == 1.0)
      // every reported pair clears the threshold (exact verify, no
      // bucket-collision false positives leak through)
      assert(pairs.filter(col("score") < 0.35).count() == 0)
      // blocking really is the cluster: both members of the planted pair
      // share a list with their own centroid assignment
      assert(pairs.select(countDistinct("list_id")).head.getLong(0) >= 1)
    } finally pairs.unpersist()
  }
}

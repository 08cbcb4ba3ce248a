package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level checks of the PageRank kernel on hand-computed graphs —
  * the oracle (q107) checks the fixture-scale result; these pin the
  * update rule itself.
  */
class GraphQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) = {
    val e = pairs.toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("one iteration on the 1-2-3 path graph matches the hand result") {
    // degrees: 1->1, 2->2, 3->1; n=3; r0 = 1/3 each
    // r1(1) = r1(3) = 0.15/3 + 0.85*(1/3)/2 = 0.05 + 0.85/6
    // r1(2) = 0.15/3 + 0.85*(1/3 + 1/3)     = 0.05 + 1.7/3
    val r = GraphQueries.pagerank(undirected((1L, 2L), (2L, 3L)), 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(r(3L) - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(r(2L) - (0.05 + 1.7 / 3)) < 1e-12)
  }

  test("rank mass is conserved (sums to 1 on a regular graph)") {
    // 4-cycle: every node degree 2 — PageRank stays uniform and total
    // mass is exactly preserved at every iteration
    val r = GraphQueries.pagerank(
      undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), 3)
      .collect().map(_.getDouble(1))
    assert(r.length == 4)
    r.foreach(x => assert(math.abs(x - 0.25) < 1e-12))
  }

  test("q246 HITS on an empty edge set returns no rows") {
    // orders/lineitem with the fixture's schema and no rows: the L1
    // totals are null, which must not reach the driver-side division
    val dir = s"/tmp/graft-test-noedges-${System.nanoTime()}"
    Seq("orders", "lineitem").foreach { t =>
      spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    val out = graft.SparkEntry.queries("q246_hits")(spark, dir)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("kind", "node", "score"))
  }

  test("higher-degree hubs outrank leaves on a star graph") {
    val r = GraphQueries.pagerank(
      undirected((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)), 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(10L) > r(1L))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  private def canonical(pairs: (Long, Long)*) =
    pairs.toDF("a_id", "b_id").select(lit(0).as("label"),
      least(col("a_id"), col("b_id")).as("a_id"),
      greatest(col("a_id"), col("b_id")).as("b_id"))

  /** Sequential reference peel: repeatedly drop nodes with degree < k. */
  private def peel(pairs: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var es = pairs
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size).toMap
  }

  test("kCore equals the sequential peel on hand graphs") {
    // K4 (a 3-core) with a pendant path hanging off it: the path AND the
    // bridge peel away in cascading rounds, the clique survives intact
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val got = GraphQueries.kCore(canonical(pairs: _*), 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val want = peel(pairs, 3).map { case (n, d) => n -> d.toLong }
    assert(got == want)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got.values.forall(_ >= 3), "core degree >= k by definition")
  }

  test("kCore peels a chain to empty and returns the fixture core") {
    // a pure path has no 2-core: endpoints peel round by round
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(GraphQueries.kCore(canonical(chain: _*), 2).count() == 0)
    // fixture-scale: q170 equals the sequential peel of the mutual-kNN
    // edges, independently of the oracle's unrolled-CTE spelling
    val edges = graft.llm.SimilarityQueries.mutualKnnEdges(
      graft.Tables.t(spark, TestSpark.Sf, "embeddings"), 5)
      .select(col("label"), col("a_id"), col("b_id"))
    val byLabel = edges.collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1)
    val want = byLabel.toSeq.flatMap { case (lbl, es) =>
      peel(es.map(_._2).toSeq, 3).map { case (n, d) => (lbl, n) -> d.toLong }
    }.toMap
    val got = graft.SparkEntry.queries("q170_kcore")(spark, TestSpark.Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  /** The scaled-k edge list at fixture scale, collected once for the
    * production-path consumer checks (q271/q272 mirror q170/q214 on
    * exactly this frame).
    */
  private lazy val scaledKEdges: Map[Int, Seq[(Long, Long)]] = {
    val emb = graft.Tables.t(spark, TestSpark.Sf, "embeddings")
    val cells = math.ceil(math.sqrt(emb.count().toDouble)).toInt
    graft.llm.SimilarityQueries.mutualKnnEdgesScaledK(emb, 5, cells, 2)
      .select(col("label"), col("a_id"), col("b_id"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  test("q271 equals the sequential peel of the scaled-k edges") {
    // core order 2 — the probed graph's 3-core is empty at small SFs
    // (a vacuous contract); the 2-core is non-empty at every scale
    val want = scaledKEdges.toSeq.flatMap { case (lbl, es) =>
      peel(es, 2).map { case (n, d) => (lbl, n) -> d.toLong }
    }.toMap
    val got = graft.SparkEntry.queries("q271_kcore_scaledk")(
        spark, TestSpark.Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("q272 equals sequential common-neighbor/Adamic-Adar scoring") {
    // sequential reference: per label, adjacency sets, open wedges
    // x-b-y with x<y and (x,y) not an edge, CN = |N(x) ∩ N(y)|,
    // AA = Σ 1/ln(deg b); keep CN >= 2 (the kernel's floor)
    val want = scaledKEdges.toSeq.flatMap { case (lbl, es) =>
      val adj = es.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val edgeSet = es.map(e =>
        (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val cands = for {
        (b, ns) <- adj.toSeq
        x <- ns; y <- ns
        if x < y && !edgeSet((x, y))
      } yield ((x, y), b)
      cands.groupBy(_._1).collect {
        case ((x, y), bs) if bs.size >= 2 =>
          val aa = bs.map(c => 1.0 / math.log(adj(c._2).size)).sum
          (lbl, x, y) -> (bs.size.toLong, aa)
      }
    }.toMap
    val got = graft.SparkEntry.queries("q272_linkpred_scaledk")(
        spark, TestSpark.Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (cn, aa)) =>
      assert(cn == want(k)._1, s"common_neighbors at $k")
      assert(math.abs(aa - want(k)._2) < 1e-6, s"adamic_adar at $k")
    }
  }
}

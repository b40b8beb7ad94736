package graft.operators

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Graphs.pageRank]] against an independent plain-Scala reference
  * that replays the exact arithmetic contract (round-9 terms, 12-dp
  * decimal sums), plus the invariants: mass conservation, symmetry,
  * multi-edge folding, and layout determinism.
  */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def decSum(xs: Iterable[Double]): Double =
    xs.map(JBD.valueOf(_).setScale(12, RoundingMode.HALF_UP))
      .foldLeft(JBD.ZERO)(_.add(_)).doubleValue

  /** Reference PageRank over folded edges: the operator's integer-nanos
    * formula, replayed with plain Long arithmetic.
    */
  private def ref(edges: Seq[(Long, Long, Double)], iters: Int,
                  num: Long = 17, den: Long = 20): Map[Long, Double] = {
    val S = Graphs.Scale
    val folded = edges.groupBy(e => (e._1, e._2))
      .map { case ((s, t), es) => (s, t, decSum(es.map(_._3))) }.toSeq
    val outW = folded.groupBy(_._1).map { case (s, es) => s -> decSum(es.map(_._3)) }
    val ratioN = folded.map { case (s, t, w) =>
      (s, t) -> math.round(S.toDouble * w / outW(s)) }.toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val base = (2 * (den - num) * S + den * n) / (2 * den * n)
    var rank = nodes.map(v => v -> (2 * S + n) / (2 * n)).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(outW.contains)
      val dang = if (dangling.isEmpty) 0L
        else (2 * dangling.map(rank).sum + n) / (2 * n)
      rank = nodes.map { v =>
        val s = ratioN.collect { case ((u, t), rt) if t == v =>
          (rank(u) * rt + S / 2) / S }.sum
        v -> (base + (2 * num * (s + dang) + den) / (2 * den))
      }.toMap
    }
    rank.map { case (v, rn) => v -> rn.toDouble / S.toDouble }
  }

  private val edges = Seq(
    (1L, 2L, 1.0), (1L, 2L, 0.5), // parallel edge: folds to w=1.5
    (1L, 3L, 2.0), (2L, 3L, 1.0), (2L, 5L, 1.0),
    (3L, 1L, 1.0), (4L, 1L, 1.0)) // node 5: dangling (no out-edges)

  /** q102's shape: a near-dup cluster is a clique whose edges run both
    * ways, weighted by an asymmetric similarity — no dangling node and
    * no node without in-edges.
    */
  private val clique = {
    val jac = Seq((10L, 11L, 0.5), (10L, 12L, 0.45), (10L, 13L, 0.8),
      (11L, 12L, 0.6), (11L, 13L, 0.4), (12L, 13L, 0.714286))
    jac ++ jac.map { case (a, b, w) => (b, a, w) }
  }

  for ((shape, es, iters) <- Seq(
      ("a dangling multi-edge graph", edges, 5),
      ("a symmetric weighted clique", clique, 3)))
    test(s"matches the plain-Scala reference on $shape") {
      val got = Graphs.pageRank(es.toDF("src", "dst", "w"), "src", "dst", "w",
          iters = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = ref(es, iters)
      assert(got.keySet === want.keySet)
      for ((v, r) <- want) assert(got(v) === r, s"node $v")
    }

  test("an empty edge list yields an empty (node, rank) frame") {
    val got = Graphs.pageRank(Seq.empty[(Long, Long, Double)]
      .toDF("src", "dst", "w"), "src", "dst", "w", iters = 3)
    assert(got.columns.toSeq === Seq("node", "rank"))
    assert(got.collect().isEmpty)
  }

  test("no iteration plan joins by nested loop or cartesian product") {
    // the scalars (n, dangling mass) must enter as literals; a one-row
    // broadcast aggregate attached by crossJoin plans as a nested loop
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (es <- Seq(edges, clique))
        Graphs.pageRank(es.toDF("src", "dst", "w"), "src", "dst", "w",
          iters = 3).collect()
      org.apache.spark.GraftListenerTestHook.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val seen = plans.asScala.toSeq
    // per run: the edge pin, the node pin, three round pins, the collect
    assert(seen.size >= 2 * 6, s"expected every pin's plan, saw ${seen.size}")
    for (p <- seen) {
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop join:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    }
  }

  test("rank mass stays ~1 despite per-term rounding") {
    val got = Graphs.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w",
      iters = 5).agg(sum($"rank")).head.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-6, s"mass drifted to $got")
  }

  test("uniform ring stays exactly uniform") {
    val ring = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 0L, 1.0))
    val got = Graphs.pageRank(ring.toDF("src", "dst", "w"), "src", "dst", "w",
      iters = 3).collect().map(_.getDouble(1)).distinct
    assert(got === Seq(0.25))
  }

  test("result is identical across input partition layouts") {
    def run(parts: Int) =
      Graphs.pageRank(edges.toDF("src", "dst", "w").repartition(parts),
        "src", "dst", "w", iters = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(1) === run(7))
  }
}

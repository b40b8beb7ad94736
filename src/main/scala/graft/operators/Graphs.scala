package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative rank propagation over distributed edge lists — the graph
  * family beyond [[Dedup.connectedComponents]]' reachability: weighted
  * damped PageRank (Page et al., "The PageRank Citation Ranking",
  * Stanford InfoLab 1999), the centrality signal behind host-level
  * quality weighting in web-scale corpus curation (Common Crawl host
  * ranks) and canonical-source selection in duplication graphs.
  *
  * Reference anchor: the reference pipeline ranks sources by simple
  * per-source hit counts (`app/report/weekly.py`-style counts); rank
  * propagation is the north-star generalization — authority flows
  * along edges instead of stopping at degree.
  */
object Graphs {

  /** Rank unit: ranks are carried as integer NANO-units (1e-9). */
  final val Scale = 1000000000L

  /** Weighted, damped PageRank for a FIXED iteration count with exact
    * dangling-mass redistribution. Input: a directed edge list with a
    * non-negative weight column (multi-edges allowed — weights of
    * parallel edges add). Damping is the rational `dampNum/dampDen`
    * (default 17/20 = 0.85). Output: `(node, rank)`, one row per
    * distinct endpoint, `rank` the nano-unit count divided once into a
    * double.
    *
    * Determinism contract — the q60 centi-nat discipline, scaled up:
    * ranks live as integer nanos and every iteration step is EXACT
    * integer arithmetic with half-up integer division
    * (`(2a + b) DIV 2b`), so no per-iteration result ever sits near a
    * float rounding boundary:
    * {{{
    *   ratio_n  = round(Scale * w / W)                   // once, scale-0
    *   rank0_n  = (2*Scale + n) DIV (2*n)
    *   c(u→v)   = (rank_n(u) * ratio_n + Scale/2) DIV Scale
    *   dang_n   = (2*Σ_{W(u)=0} rank_n(u) + n) DIV (2*n)
    *   rank'_n  = base_n + (2*num*(Σc + dang_n) + den) DIV (2*den)
    *   base_n   = (2*(den-num)*Scale + den*n) DIV (2*den*n)
    * }}}
    * The one scale-0 float round (`ratio_n`) is safe cross-engine:
    * both engines evaluate the same IEEE division and round the SAME
    * double to an integer, and integer rounding of a double never
    * disagrees between binary-value and shortest-repr semantics (a
    * half-boundary is itself a representable double). round-9 of
    * products of quantized values — the naive float formulation —
    * disagrees constantly, because `num/den × k·1e-9` lands exactly on
    * half-boundaries.
    *
    * Scale shape: the edge set is normalized once (one groupBy to fold
    * parallel edges, one `sum over (partition by src)` window for the
    * out-weight shares) and pinned with each edge's `dst` dangling flag;
    * the node table is ONE groupBy over the edge endpoints' src/dst
    * flags. Each iteration is then only edge-sized work: ONE equi-join
    * of ranks to edges on `src` and ONE hash aggregation on `dst` — the
    * same shuffle key every round, so a cluster deployment that
    * pre-partitions `ew` by `src` pays no edge shuffle after round one
    * (round one joins nothing: every rank is `rank0`). The scalars `n`
    * and each round's dangling-rank sum are observed on the pins' own
    * actions ([[org.apache.spark.sql.Observation]] metrics, no extra
    * job) and enter the next round as literals, computed on the driver
    * with exact (`Math.*Exact`) long arithmetic. A node without
    * in-edges receives no contribution, so its rank is the round's
    * constant `base_n + (2*num*dang_n + den) DIV (2*den)`: the rank
    * frame holds only nodes with in-edges, and those constant nodes
    * join the output once, at the end. Every round is pinned via
    * [[Checkpoints.pin]] (lineage truncation + reliable-checkpoint
    * durability on clusters) with the previous pin released — bounded
    * storage across iterations, the [[Similarity.kmeansGrouped]]
    * contract. Overflow headroom: `rank_n ≤ Scale`, `ratio_n ≤ Scale`,
    * so the contribution product is ≤ 1e18 < 2^63.
    *
    * An empty edge list yields an empty `(node, rank)` frame.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int,
               dampNum: Int = 17, dampDen: Int = 20): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum > 0 && dampDen > dampNum,
      "damping num/den must satisfy 0 < num < den")
    import Math.{addExact, multiplyExact}
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("w"))
      .groupBy(col("src"), col("dst"))
      .agg(decSum(col("w")).as("w"))
    // out-weight shares in nanos (_W: decSum's exact sum, per src) and
    // the dst's dangling flag, both fixed for the whole run: pin once.
    // The flag needs no second pass over `edges`: every folded edge
    // becomes its src's out-row and its dst's in-row, a window over the
    // row's node tells whether that node has out-edges, and the in-rows
    // are kept
    val ew = Checkpoints.pin(e0
      .withColumn("_W", sum(col("w").cast("decimal(27,12)"))
        .over(Window.partitionBy("src")).cast("double"))
      .select(col("src"), col("dst"),
        round(lit(Scale.toDouble) * col("w") / col("_W"), 0)
          .cast("long").as("ratio_n"),
        explode(array(lit(true), lit(false))).as("_out_row"))
      .withColumn("_has_out", max(col("_out_row")).over(Window.partitionBy(
        when(col("_out_row"), col("src")).otherwise(col("dst")))))
      .filter(!col("_out_row"))
      .select(col("src"), col("dst"), col("ratio_n"),
        (!col("_has_out")).as("_dang")))
    // node table: one groupBy over endpoint flags. Only the nodes
    // without in-edges are kept (they carry the per-round constant);
    // the counts over ALL nodes ride the pin's own action
    val nodeObs = Observation()
    val noIn = Checkpoints.pin(ew
      .select(explode(array(
        struct(col("src").as("node"), lit(true).as("out"),
          lit(false).as("in")),
        struct(col("dst").as("node"), lit(false).as("out"),
          lit(true).as("in")))).as("_e"))
      .groupBy(col("_e.node").as("node"))
      .agg(max(col("_e.out")).as("_has_out"), max(col("_e.in")).as("_has_in"))
      .observe(nodeObs, count(lit(1)).as("n"),
        count(when(!col("_has_out"), 1)).as("nd"))
      .filter(!col("_has_in"))
      .select(col("node")))
    val n = nodeObs.get("n").asInstanceOf[Long]
    if (n == 0L) {
      Checkpoints.release(ew)
      return noIn.select(col("node"), lit(0.0).as("rank"))
    }
    val nDang = nodeObs.get("nd").asInstanceOf[Long]
    val num = dampNum.toLong
    val den = dampDen.toLong
    val rank0 = addExact(2 * Scale, n) / multiplyExact(2L, n)
    val base = addExact(multiplyExact(2 * (den - num), Scale),
      multiplyExact(den, n)) / multiplyExact(2 * den, n)
    // dangling nodes = no out-edges; their whole mass teleports
    def dangMass(dangSum: Long): Long =
      if (nDang == 0L) 0L
      else addExact(multiplyExact(2L, dangSum), n) / multiplyExact(2L, n)
    // rank of a node without in-edges, given the round's dangling mass
    def constRank(dm: Long): Long =
      addExact(base, addExact(multiplyExact(2 * num, dm), den) / (2 * den))
    def share(rank: String): Column =
      expr(s"($rank * ratio_n + ${Scale / 2}L) DIV ${Scale}L").as("_c")
    // one round: sum the shares per dst into the ranks of the nodes WITH
    // in-edges, pin, and observe the new dangling-rank sum
    def step(contrib: DataFrame, dm: Long): (DataFrame, Long) = {
      val obs = Observation()
      val next = Checkpoints.pin(contrib
        .groupBy(col("dst").as("node"))
        .agg(sum(col("_c")).as("_s"), max(col("_dang")).as("_dang"))
        .select(col("node"),
          expr(s"${base}L + (2 * $num * (_s + ${dm}L) + $den) DIV (2 * $den)")
            .as("rank_n"),
          col("_dang"))
        .observe(obs, coalesce(sum(when(col("_dang"), col("rank_n"))), lit(0L))
          .as("dang")))
      (next, obs.get("dang").asInstanceOf[Long])
    }

    // round one joins nothing: every rank is rank0
    var dm = dangMass(multiplyExact(nDang, rank0))
    var (ranks, dangSum) =
      step(ew.select(col("dst"), col("_dang"), share(s"${rank0}L")), dm)
    for (_ <- 1 until iters) {
      val prevConst = constRank(dm)
      dm = dangMass(dangSum)
      val (next, nextDangSum) = step(ew
        .join(ranks.select(col("node").as("src"), col("rank_n")),
          Seq("src"), "left")
        .select(col("dst"), col("_dang"),
          share(s"coalesce(rank_n, ${prevConst}L)")), dm)
      Checkpoints.release(ranks)
      ranks = next
      dangSum = nextDangSum
    }
    Checkpoints.release(ew)
    ranks.select(col("node"), col("rank_n"))
      .unionByName(noIn.select(col("node"), lit(constRank(dm)).as("rank_n")))
      .select(col("node"),
        (col("rank_n").cast("double") / lit(Scale.toDouble)).as("rank"))
  }

  /** Exact, order-free sum: DECIMAL(27,12) accumulate, DOUBLE out. */
  private def decSum(c: Column): Column =
    sum(c.cast("decimal(27,12)")).cast("double")
}

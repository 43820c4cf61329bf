package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.FrameCache

/** Link-graph centrality for crawl curation — the quality-weighting
  * step web-scale training pipelines run between crawl ingest and
  * mixing: a page (or host) linked by many well-linked pages is
  * upweighted; link-farm islands and orphan spam decay toward the
  * teleport floor. (The reference engine has no graph wing — this is a
  * capability extension in the same spirit as the dedup/ANN families;
  * the companion to [[Cluster]]'s connected components, which handle
  * the UNDIRECTED duplicate graph.)
  */
object Graph {

  /** The row count of `nodes`, counted once per node set while its
    * [[FrameCache]] entry lives: a caller that sizes its edge synthesis
    * by it and [[pageRank]]'s uniform teleport mass share one job.
    */
  def nodeCount(nodes: DataFrame): Long =
    FrameCache.memo("Graph.nodeCount", nodes)()(nodes.count())

  /** Fixed-iteration PageRank over a directed multigraph.
    *
    * Semantics (the SIMPLIFIED variant, deliberately): starting from
    * r_0 = 1/N uniform,
    *   r_{t+1}(v) = (1−d)/N + d · Σ_{(u→v) ∈ E} r_t(u) / outdeg(u)
    * with NO dangling-mass redistribution — a node without out-edges
    * leaks its mass, so total rank sums below 1. That keeps every
    * iteration a pure local join+aggregate (no global dangling-sum
    * barrier per iteration) and the recursion exactly reproducible in
    * plain SQL, which is what makes the operator oracle-checkable;
    * rankings are unaffected for curation purposes (the leaked mass is
    * a uniform rescale plus teleport floor). Parallel edges count
    * once each in BOTH outdeg and contributions (multigraph).
    *
    * Scale shape (the 100 TB contract): `edges` pre-joins its
    * out-degree ONCE and registry-persists, found by (edges, src column,
    * weight column) before its plan is built, so no iteration re-scans
    * or re-aggregates the edge set; each of the `iters` rounds joins
    * that persisted frame with the NODE-sized rank frame and sums the
    * contributions per dst. (Spark picks each round's join strategy: at
    * small scale it broadcasts the persisted edges in most rounds.)
    * Iterations are a fixed small constant (curation wants a stable
    * score, not convergence guarantees), so the lineage stays shallow
    * and no checkpoint is needed.
    *
    * The output frame is registry-persisted too, found by its inputs
    * (nodes, edges, seeds) and every parameter before the `iters`-deep
    * plan is built: a repeat call over the same graph runs no driver job
    * and returns the persisted ranks. A first call's driver actions are
    * scalars: the node count ([[nodeCount]], shared with the caller
    * that synthesized the edges) for the uniform teleport mass, or the
    * seed count for the personalized one.
    *
    * Variants (r16, both standard in crawl curation):
    *  - WEIGHTED edges (`weightCol`): contribution is
    *    r(u)·w(u→v) / W(u) with W(u) the sum of u's out-weights —
    *    link multiplicity / anchor quality as edge strength. The
    *    unweighted form is the weightCol = 1 special case (same code
    *    path, `sum(1)` = count).
    *  - PERSONALIZED teleport (`teleport`): a seed-set frame (one
    *    `idCol` column); the teleport vector becomes uniform over the
    *    SEEDS (p(v) = 1/|S| on members, 0 elsewhere) and r_0 = p —
    *    the focused-crawl / topic-targeted weighting ("rank pages by
    *    proximity to this trusted set"). Non-seed islands decay to 0
    *    instead of the global floor.
    *
    * @param nodes one row per node, column `idCol` (the rank universe —
    *              isolated nodes get the teleport floor)
    * @param edges directed edges, columns `srcCol`, `dstCol`; endpoints
    *              must be drawn from `nodes`
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 5, damping: Double = 0.85,
               idCol: String = "id", srcCol: String = "src",
               dstCol: String = "dst", out: String = "rank",
               weightCol: Option[String] = None,
               teleport: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(damping > 0.0 && damping < 1.0, s"bad damping: $damping")
    FrameCache.persist("Graph.pageRank", nodes +: edges +: teleport.toSeq: _*)(
        iters, damping, idCol, srcCol, dstCol, out, weightCol) {
      val w = weightCol.map(col).getOrElse(lit(1L))
      val withDeg = FrameCache.persist("Graph.pageRank.edges", edges)(
          srcCol, weightCol)(
        edges.join(
          edges.groupBy(col(srcCol)).agg(sum(w).as("__od")),
          Seq(srcCol)))
      // the per-node teleport mass: node-sized, reused by every
      // iteration's base term — registry-persisted like the edges
      val pFrame = teleport match {
        case Some(seeds) =>
          val s = seeds.select(col(idCol)).distinct()
          val ns = s.count().toDouble
          require(ns > 0, "teleport seed set is empty")
          FrameCache.persist(nodes.select(col(idCol))
            .join(s.withColumn("__p", lit(1.0) / lit(ns)), Seq(idCol), "left")
            .select(col(idCol), coalesce(col("__p"), lit(0.0)).as("__p")))
        case None =>
          val n = nodeCount(nodes).toDouble
          nodes.select(col(idCol), (lit(1.0) / lit(n)).as("__p"))
      }
      var ranks = pFrame.select(col(idCol), col("__p").as(out))
      for (_ <- 1 to iters) {
        val contrib = withDeg
          .join(ranks.withColumnRenamed(idCol, srcCol), Seq(srcCol))
          .groupBy(col(dstCol))
          .agg(sum(col(out) * w / col("__od")).as("__m"))
          .withColumnRenamed(dstCol, idCol)
        ranks = pFrame
          .join(contrib, Seq(idCol), "left")
          .select(col(idCol),
            (lit(1.0 - damping) * col("__p") +
              lit(damping) * coalesce(col("__m"), lit(0.0))).as(out))
      }
      ranks
    }
  }
}

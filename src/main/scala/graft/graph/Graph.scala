package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.PinSyntax

/** Graph analytics over knowledge-base edge tables (the (src_id, dst_id)
  * frames [[graft.json.MtlParser.knowledgeBase]] / [[graft.json.TreeWalk.relations]]
  * emit, and `Sinks.graphExport` writes) — the "what do I do with the graph
  * I just extracted" layer the reference hands off to Neo4j
  * (`node_classes/cypher_neo4j.py:8`). Here the analytics run in-engine,
  * distributed.
  *
  * Determinism contract (SURVEY §6): ranks are scaled BIGINTs and every
  * operation is integer arithmetic (`div`), so results are bit-identical
  * across partitionings, runs, and engines — a DuckDB oracle replays the
  * same iterations exactly. Floating-point PageRank would be none of those
  * (double sums are partition-order dependent).
  */
object Graph {

  /** Deterministic integer PageRank.
    *
    * Ranks carry a fixed-point scale of 1e6: every node starts at
    * 1,000,000; each iteration a node keeps `base` = 150,000 (the 0.15
    * teleport mass) plus 85% of the summed contributions `rank div outdeg`
    * of its in-neighbors — `(85 * sum) div 100`, all BIGINT.
    *
    * DANGLING NODES (no out-edges — extracted KBs always have them: every
    * leaf entity is one): with `danglingRedistribute = false` (default)
    * their mass is dropped, the common link-analysis simplification —
    * total rank mass DECAYS on sink-bearing graphs, a stated DIVERGENCE
    * from standard PageRank (ranks still order sensibly; the kmeans
    * length-mismatch rule: divergence documented, not hidden). With
    * `danglingRedistribute = true` each iteration adds the dangling
    * nodes' summed rank, split evenly, to every node's contribution
    * before damping — `(85 · (cs + D div N)) div 100`, still exact
    * BIGINT (the per-node share `D div N` floors; the ≤ N−1 unit
    * remainder is dropped deterministically, identically in any engine).
    * Cost: one node-sized semi-join aggregate (a 1-row frame) per
    * iteration, cross-joined back as a broadcast literal.
    *
    * Scale shape: `iters` is a CONSTANT (PageRank converges geometrically;
    * 5-20 iterations is production practice), so the loop is a fixed-depth
    * pipeline, not a fixpoint search. Per iteration: one join of the rank
    * table with the edge list on `src_id` (rank table is node-sized — AQE
    * broadcasts it when small; at web scale both sides hash-partition on
    * the SAME key every round, so a pre-`repartition` on src_id makes all
    * iterations reuse one exchange) + one groupBy(dst_id) sum with map-side
    * partials. Rank frames localCheckpoint each round — constant-size
    * plans, no lineage blowup (same rationale as MtlParser.closureSpark).
    *
    * Output: (id, rank) for every node appearing as src or dst; `rank` is
    * the scaled BIGINT (divide by 1e6 for the conventional value).
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               srcCol: String = "src_id", dstCol: String = "dst_id",
               danglingRedistribute: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // edge list with out-degree attached, materialized ONCE — every
    // iteration re-reads this, not the upstream pipeline
    val eo = e.join(outDeg, "src").pinned()
    // nodes derive from the CHECKPOINTED edges and checkpoint themselves:
    // every iteration's rank rebuild references `nodes`, and an
    // unmaterialized plan would re-run the caller's whole edge pipeline
    // (join/traversal/...) twice per round
    val nodes = eo.select(col("src").as("id"))
      .union(eo.select(col("dst").as("id"))).distinct().pinned()
    // dangling node set + node count, derived once (node-sized; the
    // count is a 1-row frame so N stays a plan-side literal, never a
    // driver value baked into closures)
    val dang =
      if (!danglingRedistribute) null
      else nodes.join(eo.select(col("src").as("id")).distinct(),
        Seq("id"), "left_anti").pinned()
    val nCount =
      if (!danglingRedistribute) null
      else nodes.agg(count(lit(1)).as("nn")).pinned()
    var ranks = nodes.withColumn("rank", lit(1000000L)).pinned()
    for (_ <- 1 to iters) {
      // `div` (not `/`): BIGINT floor division keeps every step in exact
      // integer arithmetic — `/` is double division in both engines
      val contrib = eo.join(ranks.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst"), expr("rank div od").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      val joined = nodes
        .join(contrib.select(col("dst").as("id"), col("cs")), Seq("id"), "left")
      ranks = (if (!danglingRedistribute)
        joined.select(col("id"),
          (lit(150000L) + expr("(85 * coalesce(cs, 0L)) div 100")).as("rank"))
      else {
        // this round's dangling mass as a 1-row frame, broadcast back:
        // every node's contribution gains the even share D div N before
        // damping — exact BIGINT end to end
        val dmass = ranks.join(dang, Seq("id"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
        joined.crossJoin(broadcast(dmass)).crossJoin(broadcast(nCount))
          .select(col("id"), (lit(150000L) +
            expr("(85 * (coalesce(cs, 0L) + dm div nn)) div 100")).as("rank"))
      }).pinned()
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Per-node degree table: out-degree, in-degree, total — the first
    * sanity scan over any extracted graph. One shuffle per direction,
    * full-outer merged.
    */
  def degrees(edges: DataFrame, srcCol: String = "src_id",
              dstCol: String = "dst_id"): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dstCol).as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
  }
}

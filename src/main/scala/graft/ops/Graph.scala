package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for crawl curation: PageRank-family centrality is
  * the classic page-quality signal a web-scale training-data pipeline
  * joins back onto its documents (Common Crawl publishes exactly these
  * ranks for host selection).
  */
object Graph {

  /** Power-iteration PageRank with a fixed iteration count (the batch
    * formulation every large-scale ranking system runs; a fixed count
    * keeps the operator deterministic and exactly SQL-mirrorable).
    *
    * r_{t+1}(v) = (1−d)/N + d·( Σ_{u→v} r_t(u)/outdeg(u) + dangling_t/N )
    *
    * where `dangling_t` is the rank mass sitting on nodes with no
    * out-edges (redistributed uniformly, the standard correction). Nodes
    * are the distinct union of both edge endpoints; duplicate edges are
    * kept (a u→v pair counted twice carries twice the weight — matching
    * the multigraph semantics of raw crawl link tables).
    *
    * Scale shape (100 TB link table): per iteration, one equi-join of
    * the narrow (node, rank) table onto the edge list keyed by source
    * and one hash aggregation keyed by destination — both shuffles carry
    * only (long, double) rows, never page content. The node list,
    * out-degrees, and contribution edges are pinned ONCE (otherwise every
    * iteration re-executes the caller's edge derivation), and the rank
    * table is pinned each round ([[Iterate.pin]], on the
    * [[Iterate.fixpoint]] driver). Dangling mass is one 1-row aggregate
    * collected per iteration: the round's one control action.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters >= 1 (got $iters)")
    require(damping > 0.0 && damping < 1.0,
      s"pageRank: damping in (0,1) (got $damping)")
    // pin the caller's edge plan ONCE (a synthesized edge list is
    // expensive to re-derive), then derive everything from the pinned
    // table: nodes/outDeg/contrib each read the cheap checkpoint instead
    // of re-running the upstream plan, and contrib is pinned again
    // because every iteration joins against it
    val e = Iterate.pin(
      edges.select(col(srcCol).cast("long").as("_src"),
        col(dstCol).cast("long").as("_dst")), eager = true)
    val nodes = Iterate.pin(
      e.select(col("_src").as("_id"))
        .union(e.select(col("_dst").as("_id"))).distinct())
    val outDeg = Iterate.pin(
      e.groupBy(col("_src")).agg(count(lit(1)).as("_deg")))
    // contribution edges: src, dst, 1/outdeg(src)
    val contrib = Iterate.pin(
      e.join(outDeg, "_src")
        .select(col("_src"), col("_dst"),
          (lit(1.0) / col("_deg").cast("double")).as("_w")))
    // r18: n is one bounded scalar fixed for the whole run — collect it
    // once and ride it as a literal instead of re-broadcasting a 1-row
    // relation into every iteration's plan (one BroadcastExchange build
    // job per use removed; same value bit-for-bit). The per-iteration
    // dangling MASS is likewise a 1-row aggregate — collected to a
    // literal (it must be evaluated once per iteration either way; the
    // broadcast form paid an extra exchange around the same job).
    val n: Double = nodes.count().toDouble
    val init = Iterate.pin(nodes.select(col("_id"), (lit(1.0) / lit(n)).as("_r")))
    val (ranks, _) = Iterate.fixpoint(init, iters)(_ =>
      s"pageRank: $iters iterations did not finish") { (ranks, i) =>
      val dm: Double = ranks.join(outDeg,
          ranks("_id") === outDeg("_src"), "left_anti")
        .agg(coalesce(sum(col("_r")), lit(0.0)).as("_dm"))
        .head.getDouble(0)
      val inflow = contrib
        .join(ranks, contrib("_src") === ranks("_id"))
        .groupBy(col("_dst"))
        .agg(sum(col("_r") * col("_w")).as("_in"))
      (Iterate.pin(
        nodes.join(inflow, nodes("_id") === inflow("_dst"), "left")
          .select(col("_id"),
            (lit(1.0 - damping) / lit(n)
              + lit(damping) * coalesce(col("_in"), lit(0.0))
              + lit(damping) * lit(dm) / lit(n)).as("_r"))), i == iters - 1)
    }
    ranks.select(col("_id").as(srcCol + "_node"), col("_r").as("pagerank"))
  }

  /** Synchronous label propagation (community detection over the link /
    * near-dup graph — the dedup-family and host-community signal): every
    * node starts labeled with its own id; each round, every node takes
    * the MOST FREQUENT label among its neighbors' current labels
    * (undirected view of the edge list, duplicate edges count as
    * multiplicity — multigraph semantics like [[pageRank]]), ties to the
    * SMALLEST label so the algorithm is deterministic and exactly
    * SQL-mirrorable (classic async LPA is run-order-dependent; the
    * synchronous min-tie variant is the reproducible form). A fixed
    * iteration count keeps the operator a pure function of the input.
    *
    * Scale shape: per iteration one equi-join of the (node,label) longs
    * onto the pinned undirected edge list and two hash aggs — all rows
    * are (long,long[,long]); content never shuffles; the label table is
    * pinned per round ([[Iterate.pin]], on the [[Iterate.fixpoint]]
    * driver).
    *
    * Returns (node, label). Nodes = distinct edge endpoints (an edge
    * list has no isolated nodes; left-join the result onto your node
    * table and coalesce to the node id for self-labeled isolates).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"labelPropagation: iters >= 1 (got $iters)")
    // ONE upfront checkpoint: pin the caller's (possibly expensive) edge
    // derivation once, and derive the filtered/undirected/node views
    // LAZILY from that pinned table — each is a narrow map/union over an
    // in-memory RDD, so re-reading it per iteration is cheaper than the
    // per-view checkpoint jobs were (r18: three upfront checkpoint jobs
    // dominated the wall of small-iteration runs).
    val raw = Iterate.pin(
      edges.select(col(srcCol).cast("long").as("_a"),
        col(dstCol).cast("long").as("_b")), eager = true)
    // self-loops contribute no propagation but their endpoints ARE nodes
    // (the contract: nodes = distinct edge endpoints) — derive the node
    // set BEFORE dropping them, or a node appearing only in self-loops
    // vanishes from the output
    val e = raw.filter(col("_a") =!= col("_b"))
    val und = e.unionByName(e.select(col("_b").as("_a"), col("_a").as("_b")))
    val nodes = raw.select(col("_a").as("_id"))
      .unionByName(raw.select(col("_b").as("_id"))).distinct()
    val init = nodes.select(col("_id"), col("_id").as("_lbl"))
    val (lab, _) = Iterate.fixpoint(init, iters)(_ =>
      s"labelPropagation: $iters iterations did not finish") { (lab, i) =>
      val counted = und
        .join(lab.select(col("_id").as("_b"), col("_lbl").as("_nl")), Seq("_b"))
        .groupBy(col("_a"), col("_nl"))
        .agg(count(lit(1)).as("_c"))
      // argmax by (count desc, label asc) as a min over struct(-count, label)
      (Iterate.pin(
        counted.groupBy(col("_a"))
          .agg(min(struct((-col("_c")).as("nc"), col("_nl").as("l"))).as("_m"))
          .select(col("_a").as("_id"), col("_m.l").as("_lbl"))), i == iters - 1)
    }
    lab.select(col("_id").as("node"), col("_lbl").as("label"))
  }
}

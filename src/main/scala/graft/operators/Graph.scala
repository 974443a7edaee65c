package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lineage cap for iterative operators: how per-round state is pinned so
  * the plan does not grow (and recompute) across rounds.
  *
  *  - [[LocalCheckpoint]] (default): `localCheckpoint` — executor-memory
  *    blocks, zero I/O, the right sandbox/interactive choice. NOT durable:
  *    an executor loss at 100 TB drops its partitions and fails the job.
  *  - [[DurableCheckpoint]]: each round round-trips through parquet via
  *    [[Sinks.handoff]] under `dir/round_<i>` — survives executor loss
  *    (any executor can re-read any partition), the cluster-scale choice.
  */
sealed trait IterCheckpoint extends Serializable {
  def apply(df: DataFrame, round: Int): DataFrame
}

case object LocalCheckpoint extends IterCheckpoint {
  def apply(df: DataFrame, round: Int): DataFrame = df.localCheckpoint()
}

final case class DurableCheckpoint(dir: String) extends IterCheckpoint {
  def apply(df: DataFrame, round: Int): DataFrame =
    Sinks.handoff(df.sparkSession, df, s"$dir/round_$round")
}

/** Distributed iterative graph analytics over edge lists — PageRank as the
  * canonical representative (the same join-agg-iterate shape serves label
  * propagation, which [[MinHashDedup.duplicateGroupsDistributed]] already uses
  * for dup groups). No reference analog; belongs to the analytics mandate
  * (link-quality scoring of a crawled corpus is a standard LLM-pipeline
  * curation signal).
  *
  * Scale design: one iteration = one equi-join (edges ⋈ ranks on src — the
  * edge table's partitioning is reusable across every iteration) + one
  * partial-aggregatable sum by dst. Ranks are node-sized, edges
  * edge-sized; nothing driver-side except the node COUNT (one long). A
  * fixed iteration budget keeps the whole computation ONE lazy plan —
  * Catalyst sees all iterations at once; at a 100 TB edge scale you'd
  * checkpoint ranks every few iterations to cap lineage, which is the
  * [[Sinks.handoff]] seam.
  */
object Graph {

  /** PageRank with a fixed iteration count (simplified formulation, no
    * dangling-mass redistribution: rank = (1-d)/n + d * Σ in-contribs —
    * the textbook per-node update, deterministic given the edge list).
    * `edges` must be (src, dst) pairs, self-loop-free and distinct —
    * multi-edges would double-count contributions. Output: node,
    * rank (rounded to 6 dp: summation order differs across engines).
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85,
      checkpointEvery: Int = 0,
      checkpointer: IterCheckpoint = LocalCheckpoint): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1, 20] (lineage grows per iteration)")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0 (0 = one lazy plan)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // the one driver-side scalar: |V| for the teleport term
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val eDeg = e.join(deg, Seq("src"))
    var r = nodes.withColumn("r", lit(1.0 / n))
    for (i <- 1 to iters) {
      val contribs = eDeg.join(r, eDeg("src") === r("node"))
        .select(col("dst").as("node"), (col("r") / col("__d")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      r = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("__s"), lit(0.0))).as("r"))
      // checkpointEvery = 0 keeps the whole computation ONE lazy plan
      // (Catalyst sees all iterations); a positive cadence pins the rank
      // state every k rounds through the chosen checkpointer so deep runs
      // cap lineage — durably, if the caller passed DurableCheckpoint.
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = checkpointer(r, i)
    }
    r.select(col("node"), round(col("r"), 6).as("rank"))
  }

  /** Forest flattening via POINTER DOUBLING: every node's root ancestor
    * and depth in O(log height) join rounds — each round a node's
    * ancestor pointer jumps to its ancestor's ancestor and depths add, so
    * the horizon doubles (1, 2, 4, …). The naive recursive walk is
    * O(height) sequential joins: on a 100 TB hierarchy (bill-of-materials,
    * org trees, reply chains) with depth in the thousands, doubling is
    * the difference between ~12 rounds and ~4000.
    *
    * `parentOf`: one row per node, `parentCol` NULL for roots. Each round
    * is one self-equi-join on the ancestor pointer; the state is
    * checkpointed per round to keep the plan linear (the join reuses the
    * state twice — without the checkpoint the lazy plan doubles per
    * round). The checkpoint is the `checkpointer` seam: the default
    * [[LocalCheckpoint]] is zero-I/O but dies with an executor; pass
    * [[DurableCheckpoint]] for cluster runs so a lost executor re-reads
    * its partitions instead of failing the job. Rounds must satisfy
    * 2^rounds >= max depth; a converged node's pointer self-loops at the
    * root (depth contribution 0), so extra rounds are harmless.
    */
  def flattenForest(
      parentOf: DataFrame, nodeCol: String, parentCol: String,
      rounds: Int, checkpointer: IterCheckpoint = LocalCheckpoint): DataFrame = {
    require(rounds >= 1 && rounds <= 30, "rounds must be in [1, 30]")
    var s = checkpointer(parentOf.select(
      col(nodeCol).as("node"),
      coalesce(col(parentCol), col(nodeCol)).as("anc"),
      when(col(parentCol).isNull, 0L).otherwise(1L).as("depth")), 0)
    for (i <- 1 to rounds) {
      val b = s.select(col("node").as("__bn"), col("anc").as("__ba"),
        col("depth").as("__bd"))
      s = checkpointer(s.join(b, col("anc") === col("__bn"))
        .select(col("node"), col("__ba").as("anc"),
          (col("depth") + col("__bd")).as("depth")), i)
    }
    s.select(col("node"), col("anc").as("root"), col("depth"))
  }

  /** EXACT triangle enumeration by DEGREE ORDERING (Schank 2007; the
    * node-iterator++ / MapReduce formulation of Suri & Vassilvitskii
    * 2011): impose the total order π = (degree, id) over vertices,
    * orient every undirected edge π-ascending, form wedges only at each
    * edge's π-LOWER endpoint, and close a wedge (u→v, u→w), π(v)<π(w),
    * iff the oriented edge (v→w) exists. Triangle/clustering metrics are
    * the standard link-graph quality signals (spam farms are
    * triangle-dense, crawl frontiers triangle-sparse).
    *
    * Why the ordering is the scale story: a naive wedge join explodes at
    * a hub vertex (a 10⁶-degree node yields 10¹² wedges). Orienting by
    * degree caps every vertex's OUT-degree at O(√m), so total wedge
    * count is O(m^1.5) — the hub's wedges are charged to its (low-degree)
    * neighbors. All three stages are equi-joins on vertex keys (the
    * π-comparison rides the wedge join as a post-filter, never a
    * cartesian); degrees are one partial-agg pass.
    *
    * Input edges may be duplicated, reversed, or self-looped — they
    * canonicalize first. Output: one row per triangle as the id-sorted
    * triple (va < vb < vc).
    */
  /** Canonical undirected simple edges: (a < b), self-loops dropped,
    * duplicates and reversals collapsed.
    */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()

  /** Vertex degrees of a canonical edge set: one partial-agg pass. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))

  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(e)
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val asc = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(asc, col("a")).otherwise(col("b")).as("lo"),
      when(asc, col("b")).otherwise(col("a")).as("hi"),
      when(asc, col("db")).otherwise(col("da")).as("dhi"))
    val wedges = oriented.as("x").join(oriented.as("y"),
      col("x.lo") === col("y.lo") &&
        struct(col("x.dhi"), col("x.hi")) < struct(col("y.dhi"), col("y.hi")))
    val closing = oriented.select(col("lo").as("cv"), col("hi").as("cw"))
    wedges.join(closing,
        col("x.hi") === col("cv") && col("y.hi") === col("cw"))
      .select(col("x.lo").as("u"), col("x.hi").as("v"), col("y.hi").as("w"))
      .select(least(col("u"), col("v"), col("w")).as("va"),
        (col("u") + col("v") + col("w") -
          least(col("u"), col("v"), col("w")) -
          greatest(col("u"), col("v"), col("w"))).as("vb"),
        greatest(col("u"), col("v"), col("w")).as("vc"))
  }

  /** k-CORE MEMBERSHIP by iterative peeling (Seidman 1983; the
    * degeneracy-ordering building block): repeatedly delete every
    * vertex whose degree in the SURVIVING subgraph is below `k` until
    * none remains — what survives is the k-core, the densely-embedded
    * backbone. The link-graph curation gate one step past triangles:
    * spam rings and real communities both have triangles; only
    * structures with sustained mutual embedding survive a k-core.
    *
    * Each round is one degree partial-agg + two semi-joins on vertex
    * keys (edges drop when EITHER endpoint peels), with a
    * [[IterCheckpoint]] per round to keep the plan linear — the
    * [[flattenForest]] discipline. Peeling converges in at most
    * |V| rounds but in practice a handful; `rounds` is the fixed
    * budget (spec-asserted convergent for its fixtures), and the
    * result after convergence is round-count-invariant — which is what
    * makes it oracle-replayable as chained CTEs.
    *
    * Returns `(v, core_deg)` — surviving vertices with their degree
    * inside the core subgraph (≥ k by construction on convergence).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 8,
      checkpointer: IterCheckpoint = LocalCheckpoint): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 30, "rounds must be in [1, 30]")
    var e = checkpointer(canonicalEdges(edges, srcCol, dstCol), 0)
    for (i <- 1 to rounds) {
      val keep = degreesOf(e).where(col("d") >= k).select(col("v"))
      e = checkpointer(
        e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b")), i)
    }
    degreesOf(e).where(col("d") >= k)
      .select(col("v"), col("d").as("core_deg"))
  }

  /** SYNCHRONOUS LABEL PROPAGATION community detection (Raghavan,
    * Albert & Kumara 2007, made DETERMINISTIC): every vertex starts as
    * its own label; each round, every vertex adopts the most frequent
    * label among its neighbors, ties broken by SMALLEST label, and a
    * vertex keeps its current label only by winning that vote like any
    * other candidate (its own label is included with its neighbor
    * count). Synchronous update + total tie order removes the
    * randomness of the published algorithm — same input, same
    * communities, any partitioning — which is what makes it
    * oracle-replayable as chained CTEs (the kCore discipline).
    *
    * Scale shape per round: one explode of the edge list + a
    * (vertex, label)-keyed partial agg + one `min_by` argmax per
    * vertex — label state is vertex-table-sized, edges are never
    * re-shuffled beyond the join on the endpoint key; rounds are
    * checkpointed ([[IterCheckpoint]]) so the plan cannot stack.
    * Returns `(v, label)`; communities are the label's final fixpoint
    * groups (budget `rounds`, convergent on the spec fixtures).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 5,
      checkpointer: IterCheckpoint = LocalCheckpoint): DataFrame = Pins.scoped { s =>
    require(rounds >= 1 && rounds <= 30, "rounds must be in [1, 30]")
    val e = s.pin(canonicalEdges(edges, srcCol, dstCol))
    val both = e.select(col("a").as("v"), col("b").as("u"))
      .unionByName(e.select(col("b").as("v"), col("a").as("u")))
    var labels = checkpointer(
      both.select(col("v")).distinct().withColumn("label", col("v")), 0)
    for (i <- 1 to rounds) {
      // neighbor votes + the vertex's own current label as one more vote
      val votes = both
        .join(labels.select(col("v").as("u"), col("label")), Seq("u"))
        .select(col("v"), col("label"))
        .unionByName(labels.select(col("v"), col("label")))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("n"))
      // argmax by (count DESC, label ASC) — min_by on the packed order
      // key keeps it a partial agg, never a window sort
      labels = checkpointer(votes
        .groupBy(col("v"))
        .agg(min_by(col("label"),
          struct((-col("n")).as("negn"), col("label").as("l"))).as("label")), i)
    }
    labels
  }

  /** LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998):
    * `cc(v) = 2·T(v) / (d(v)·(d(v)−1))` — the fraction of a vertex's
    * neighbor pairs that are themselves connected. The per-node
    * community-density signal on a link graph (spam farms cluster
    * tight; organic link neighborhoods don't); degree-1/0 vertices
    * score 0 by convention. Costs [[triangles]] plus one explode +
    * vertex-keyed partial agg + a degree join — the O(m^1.5) wedge
    * bound carries over. Returns `(v, d, t, cc)` for every vertex,
    * cc rounded 6 dp.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val tCounts = triangles(edges, srcCol, dstCol)
      .select(explode(array(col("va"), col("vb"), col("vc"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    degreesOf(e).join(tCounts, Seq("v"), "left_outer")
      .select(col("v"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .withColumn("cc",
        when(col("d") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * col("t") /
            (col("d") * (col("d") - 1L)), 6)))
  }
}

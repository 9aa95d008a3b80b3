package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/**
 * Connected components over an edge DataFrame — the Spark-native
 * replacement for the reference's O(N²)-greedy `scaffold` clustering
 * (`/root/reference/src/index/sbt.rs:344-455`). We match cluster
 * assignments, not tree shape (SURVEY.md §2.4 Q7).
 *
 * A hybrid, picked by the canonical edge count the first job observes
 * (see [[finishOnDriver]]):
 *  - at or below [[DriverEdgeGate]] edges, one collect and a union-find
 *    on the driver label the graph ([[driverLabels]]): a few hundred
 *    edges cost one job instead of several multi-stage rounds;
 *  - above it, alternating large-star / small-star (Kiveris et al.,
 *    "Connected Components in MapReduce and Beyond", [[loopLabels]]):
 *    provably convergent in O(log n) rounds on any graph (vs min-label
 *    propagation's O(diameter) — adversarial dup chains are real at web
 *    scale); every round is two shuffles (groupBy min + join),
 *    partitioned by node id; `localCheckpoint` per round cuts the
 *    lineage chain (on a cluster this becomes a checkpoint-table write,
 *    giving partition-exact resume).
 * Both paths label every node with the minimum id (signed `Long` order)
 * reachable from it, so their labels are identical.
 */
object ConnectedComponents extends org.apache.spark.internal.Logging {

  /**
   * In-loop shuffle width. The loop runs with AQE off (see below), so the
   * width must be picked explicitly — data-adaptively, not clamped:
   *
   *  - scale with the edge count (`ceil(edges/edgesPerPartition)`) so a
   *    100-TB edge set runs as wide as the session allows, bounded by
   *    the session's `spark.sql.shuffle.partitions` as the ceiling (a
   *    caller that raised it gets the raise honored);
   *  - floor of `min(8, ceiling)`: tiny edge sets keep the small fixed
   *    width that makes each round one pipelined job locally (the round-2
   *    serial-term fix) without ever exceeding the session value.
   *
   * Pure function — unit-tested in PipelineSpec.
   */
  def chooseLoopWidth(edgeCount: Long, sessionParts: Int,
      edgesPerPartition: Long): Int = {
    val ceilingParts = math.max(1, sessionParts)
    val byData = math.ceil(edgeCount.toDouble / math.max(1L, edgesPerPartition)).toLong
    val floorParts = math.min(8, ceilingParts)
    math.max(floorParts.toLong, math.min(ceilingParts.toLong, byData)).toInt
  }

  /**
   * Canonical edge sets at or below this count finish on the driver.
   * The collect moves 16 B per edge (two longs), ≤ 16 MB at the gate;
   * the labels are at most 2 × gate = 2M rows, 32 MB at the local
   * relation's 16 B/row (≈ 48 MB as the 24-byte rows the broadcast
   * ships). Rows on the driver cost ~100 B each while the relation is
   * built and scanned: 1M disjoint edges (2M labels) through
   * [[DedupPipeline.clustersFromEdges]] finish in a 1 GB driver heap,
   * ~570 MB live at its full collections. Near the gate the driver path
   * still beats the loop (900k chain edges, local[4]: 7.7 s vs 20.5 s).
   */
  private[operators] val DriverEdgeGate: Long = 1000000L

  /** The path choice of [[run]]: union-find on the driver at or below
    * [[DriverEdgeGate]] canonical edges, the distributed loop above it.
    * Pure function — unit-tested in ConnectedComponentsSpec. */
  private[operators] def finishOnDriver(edgeCount: Long): Boolean =
    edgeCount <= DriverEdgeGate

  /**
   * @param edges two Long columns `src`, `dst` (undirected, dups ok).
   * @return DataFrame (id: Long, component: Long) — component = min node
   *         id reachable; covers only nodes appearing in `edges` (other
   *         than through self-loops). Below the gate it is a broadcast
   *         local relation, above it a lazy aggregate.
   */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val (start, edgeCount) = canonical(edges)
    if (finishOnDriver(edgeCount)) driverLabels(start)
    else loopLabels(start, edgeCount, maxIter, edgesPerPartition = 2000000L)
  }

  /** The canonical edge set (`src < dst`, distinct, self-loops dropped),
    * checkpointed, and its size. */
  private[operators] def canonical(edges: DataFrame): (DataFrame, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._

    // The initial checkpoint drags the caller's WHOLE upstream plan with
    // it (sketching, banding, confirm at corpus scale) — it must run
    // under the session's own parallelism and AQE settings. The edge
    // count rides on the SAME job as an observed metric (no separate
    // count action).
    val obs0 = org.apache.spark.sql.Observation()
    val start = edges.select($"src", $"dst").where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
      .distinct()
      .observe(obs0, count(lit(1)).as("edges"))
      .localCheckpoint(true)
    (start, obs0.get("edges").asInstanceOf[Long])
  }

  /**
   * Driver path: one job collects the canonical edges `start` (one packed
   * `src, dst, src, dst, …` array per partition), then union-find with
   * path halving labels them. Nodes are indexed in sorted signed `Long`
   * order and every link points the larger root at the smaller, so each
   * root is its component's minimum id — the loop's `least`/`min` order
   * (xxhash64 vids are negative about half the time). The labels come
   * back as a local relation on `start`'s session, hinted for broadcast:
   * its size is exact on the driver, so the label joins downstream
   * ([[labelAll]], [[DedupPipeline.clustersFromEdges]]) never shuffle it.
   */
  private[operators] def driverLabels(start: DataFrame): DataFrame = {
    val parts = start.queryExecution.toRdd.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()
    val ends = Array.concat(parts.toSeq: _*)
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var k = 0
    for (v <- ids) if (k == 0 || ids(k - 1) != v) { ids(k) = v; k += 1 }
    val parent = Array.range(0, k)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i)))
      val b = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    logWarning(s"[cc] ${ends.length / 2} edges on the driver: $k labels")
    broadcast(Bridge.localLongs(start.sparkSession, Seq("id", "component"),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate[InternalRow](k)(j => InternalRow(ids(j), ids(find(j)))))))
  }

  /** Distributed path: large-star / small-star rounds over the canonical
    * edges `start` (`edgeCount` of them) until the edge set repeats.
    * `edgesPerPartition` is the target edges per reducer when sizing the
    * in-loop shuffle width via [[chooseLoopWidth]]: [[run]] passes 2M,
    * specs pass a small value to force a wide loop. */
  private[operators] def loopLabels(start: DataFrame, edgeCount: Long, maxIter: Int,
      edgesPerPartition: Long): DataFrame = {
    val spark = start.sparkSession
    import spark.implicits._

    // From here on, per-round data (the edge set) is orders of magnitude
    // smaller than the corpus, but each round is a chain of tiny shuffles:
    // under AQE every query stage materializes as its own job, so a round
    // costs 4-6 driver scheduling barriers — a pure serial term that
    // dominates the pipeline's scaling efficiency. The loop therefore runs
    // in a child session (Bridge.scoped) with AQE off and an explicit
    // width from chooseLoopWidth (one pipelined job per round locally;
    // edge-count-proportional on a big graph); the caller's session conf
    // is never touched. A non-numeric session width (e.g. a managed
    // platform's "auto") falls back to the 200 default.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    val loopWidth = chooseLoopWidth(edgeCount,
      scala.util.Try(sessionParts.trim.toInt).getOrElse(200), edgesPerPartition)
    logWarning(s"[cc] loop shuffle width=$loopWidth (session=$sessionParts)")
    val loop = Bridge.scoped(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString)
    var e = Bridge.rebind(loop, start)

    var iter = 0
    var converged = false
    var lastSig: (Long, Long) = (-1L, -1L)
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy($"src")
    while (!converged && iter < maxIter) {
      // ---- large-star: for every node u, connect its larger neighbors to
      //      m = min(Γ(u) ∪ {u}). The per-neighborhood minimum is a WINDOW
      //      over the same src-partitioning the rows need anyway — one
      //      shuffle instead of the groupBy+join-back formulation's two.
      val bidir = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      val ls = bidir
        .withColumn("m", least($"src", min($"dst").over(wSrc)))
        .where($"dst" > $"src")
        .select($"dst".as("src"), $"m".as("dst"))
        .where($"src" =!= $"dst")

      // ---- small-star: orient u > v; connect all smaller neighbors and u
      //      to m = min neighbor (same window trick; the (src, m) rows are
      //      emitted per-row with duplicates — the terminal distinct dedups)
      val dir = ls.select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
        .withColumn("m", min($"dst").over(wSrc))
      // the order-independent edge-set signature (bit_xor avoids ANSI
      // overflow) is an OBSERVED metric of the checkpoint job itself —
      // one driver barrier per round, not two (checkpoint + separate agg
      // was half the loop's serial term)
      val obs = org.apache.spark.sql.Observation()
      val ss = dir.select($"dst".as("src"), $"m".as("dst"))
        .union(dir.select($"src", $"m".as("dst")))
        .where($"src" =!= $"dst")
        .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
        .distinct()
        .observe(obs, count(lit(1)).as("edges"),
          coalesce(bit_xor(xxhash64($"src", $"dst")), lit(0L)).as("sig"))
        .localCheckpoint(true)

      val m = obs.get
      val sig = (m("edges").asInstanceOf[Long], m("sig").asInstanceOf[Long])
      converged = sig == lastSig
      lastSig = sig
      e = ss
      iter += 1
      logWarning(s"[cc] round $iter edges=${sig._1} sig=${sig._2} converged=$converged")
    }
    // no maxIter=0 escape hatch: skipping the loop would return
    // min-direct-neighbor labels, which are NOT components — an error
    // beats a silently non-transitive labeling
    require(converged, s"connected components did not converge in $maxIter rounds")

    // After convergence the edge set is a star stored canonically as
    // (src = component min, dst = member). Returned LAZY and rebound onto
    // the caller's session: the agg reads the checkpointed star edges, so
    // consumers run it under the caller's conf (AQE on) — and the loop
    // pays no extra barrier for it (an eager checkpoint here was one more
    // driver action buying nothing: the plan below is two narrow scans of
    // cached blocks).
    Bridge.rebind(spark, e.select($"dst".as("id"), $"src".as("component"))
      .union(e.select($"src".as("id"), $"src".as("component")))
      .groupBy($"id").agg(min($"component").as("component")))
  }

  /**
   * Label every node in `nodes` (single Long column `id`, caller
   * guarantees distinct): nodes absent from any edge become singleton
   * components (component = own id). The label side covers edge
   * endpoints only — much smaller than `nodes`. Below the driver gate it
   * is [[run]]'s broadcast-hinted local relation, so the join broadcasts
   * it without a shuffle; above the gate it is a materialized star and
   * the join is left to AQE, which broadcasts it from runtime statistics
   * (static auto-broadcast stays off: sizes derived from UDF plans are
   * garbage).
   */
  def labelAll(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val lbl = run(edges, maxIter)
    nodes.select($"id")
      .join(lbl, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
  }
}

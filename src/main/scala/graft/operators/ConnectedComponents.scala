package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list —
  * the clustering step that turns near-duplicate PAIRS (MinHash/LSH or
  * exact-Jaccard output) into dedup GROUPS: every document in a component
  * is a near-dup of the others through some chain, and `min(id)` per
  * component is the canonical survivor.
  *
  * Algorithm: iterative min-label propagation. Each round every node
  * adopts the minimum label among itself and its neighbours; labels are
  * monotonically non-increasing and bounded below, so the global label sum
  * is a convergence certificate (fixpoint ⇔ sum unchanged). Rounds needed
  * = component diameter — near-dup clusters are shallow (dups of a common
  * ancestor), so this converges in a handful of rounds. For adversarial
  * long-chain graphs use [[runStar]] (large-star/small-star, Kiveris et
  * al., SoCC'14): the same per-round join shape, but O(log n) rounds
  * regardless of diameter.
  *
  * Scale notes (100 TB): each round is ONE shuffle — a join on node id
  * followed by a partial-aggregated groupBy(min). The edge list is cached
  * across rounds; lineage is truncated per round (reliable checkpoint when
  * a checkpoint dir is set, localCheckpoint otherwise — see [[truncate]])
  * so the plan does not grow with iteration count (the classic
  * iterative-DataFrame trap). The driver only ever sees one aggregated
  * Long per round, never row data.
  *
  * Size-based algorithm selection: below [[LocalEdgeCutoff]] edges the
  * whole graph is collected and solved with path-compressed union-find on
  * the driver — the same size-cutoff reasoning Spark applies when choosing
  * broadcast over shuffle joins. Near-dup pair graphs are the common case
  * and are tiny relative to the corpus; the distributed rounds exist for
  * the genuinely large graphs where collecting would not fit.
  */
object ConnectedComponents {

  /** Edge-count cutoff below which the component computation runs as
    * driver-side union-find instead of iterative propagation — the same
    * size-based algorithm selection Spark applies to joins (broadcast vs
    * shuffle). Near-dup pair graphs are tiny relative to the corpus
    * (pairs ≪ docs after LSH), so the common case pays one collect of the
    * deduplicated edge list instead of diameter+1 distributed rounds; a
    * pair list above the cutoff takes the distributed path unchanged.
    * 2M edges ≈ 32 MB collected — well under driver budgets that already
    * accept 10 MB+ broadcast tables. */
  val LocalEdgeCutoff = 2000000L

  /** Truncate lineage between rounds — shared with every iterative loop
    * in the engine (Lloyd rounds, BPE merge rounds); see
    * [[Iterate.truncate]] for the reliable-checkpoint-or-local rationale. */
  private def truncate(df: DataFrame): DataFrame = Iterate.truncate(df)

  /** @param edges two-column DataFrame of undirected edges (any orientation,
    *              duplicates fine)
    * @return (node, comp) — one row per node that appears in an edge;
    *         comp = min node id reachable, i.e. the component label */
  def run(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxRounds: Int = 50, localCutoff: Long = LocalEdgeCutoff): DataFrame = {
    val e = edges.select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
    // symmetrize with ONE evaluation of the edge subtree: the union-of-
    // swapped-projections form runs the (often expensive — a full LSH
    // band join) pair pipeline twice, once per branch; a per-row
    // two-way explode emits both orientations in a single pass
    val sym = e
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    if (sym.count() <= localCutoff) {
      val local = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
      sym.unpersist()
      val result = localUnionFind(local)
      val spark = edges.sparkSession
      import spark.implicits._
      return result.toSeq.toDF("node", "comp")
    }

    // seed with min(self, neighbours) — same cost as a distinct over the
    // endpoints, but already one propagation hop ahead
    var labels = sym.groupBy(col("a"))
      .agg(min(col("b")).as("nb"))
      .select(col("a").as("node"), least(col("a"), col("nb")).as("comp"))
    labels = truncate(labels)
    // decimal sum: overflow-proof certificate at any node-id magnitude.
    // coalesce to 0: sum over an empty frame is NULL, and a null certificate
    // NPEs the convergence compare (zero-edge inputs are legal — any corpus
    // with no near-dup pairs).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
        .getDecimal(0)

    // Skew hardening for one-mega-cluster graphs: the per-round hot spot
    // is the JOIN on the edge endpoint — a hub of degree d lands d rows
    // on one sort-merge-join task (the groupBy(min) after it is safe:
    // partial aggregation combines map-side, so a reducer key receives
    // at most one row per map task). Classic whole-table salting LOSES
    // here — measured: replicating the n-row labels table S ways costs
    // S·n/P rows per task, which for a star graph (d ≈ n) exceeds the
    // hot key it was meant to split. But skew means degree concentrates
    // in FEW keys by definition (≤ 2|E|/threshold of them), so instead:
    // detect hot keys ONCE (degrees never change across rounds), and per
    // round route their edges through a BROADCAST join against just
    // their labels — the hub's rows never shuffle for the join at all —
    // while everything else takes the ordinary shuffle join.
    // `spark.graft.cc.hotDegree` tunes the threshold (default 1M rows:
    // below that a task streams the key in seconds and isolation would
    // cost more than it saves). Result-identical — property-tested
    // against union-find with task metrics asserting the per-task join
    // input actually shrank.
    val hotDegree = graft.Conf.long(edges.sparkSession,
      "spark.graft.cc.hotDegree", 1000000L)
    val hotKeys: Array[Long] = sym.groupBy(col("a"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= hotDegree)
      // degree sum = 2|E| bounds the count; the cap keeps the literal
      // in-filter codegen-friendly if a pathological threshold is set
      .orderBy(col("deg").desc).limit(100)
      .select("a").collect().map(_.getLong(0))
    def joinLabels(labels: DataFrame): DataFrame =
      if (hotKeys.isEmpty)
        sym.join(labels, sym("a") === labels("node"))
          .select(sym("b").as("node"), col("comp"))
      else {
        val isHot = col("a").isin(hotKeys.toIndexedSeq.map(Long.box): _*)
        val cold = sym.filter(!isHot)
          .join(labels, col("a") === labels("node"))
          .select(col("b").as("node"), col("comp"))
        val hot = sym.filter(isHot)
          .join(broadcast(labels.filter(
              col("node").isin(hotKeys.toIndexedSeq.map(Long.box): _*))),
            col("a") === labels("node"))
          .select(col("b").as("node"), col("comp"))
        cold.unionByName(hot)
      }

    var prev = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val neighbourMin = joinLabels(labels)
      val next = truncate(labels.unionByName(neighbourMin)
        .groupBy("node").agg(min("comp").as("comp")))
      val cur = labelSum(next)
      labels.unpersist()
      labels = next
      round += 1
      converged = cur.compareTo(prev) == 0
      prev = cur
    }
    sym.unpersist()
    // same contract as runStar: half-propagated labels under-merge
    // components silently — refuse to return them
    if (!converged) throw new IllegalStateException(
      s"min-label propagation did not converge in $maxRounds rounds " +
        "(rounds = component diameter — use runStar for deep graphs)")
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-graph variant of [[run]]. Min-label propagation needs
    * diameter rounds, so a long-chain graph (diameter ~n) degenerates to
    * ~n shuffles; the star operations instead contract the graph toward
    * per-component stars in O(log n) rounds regardless of diameter:
    *
    *  - large-star: every node links its LARGER neighbours to the minimum
    *    of its closed neighbourhood (doubles the reach of small labels);
    *  - small-star: every node and its smaller neighbours all link to
    *    that minimum (flattens local chains into stars).
    *
    * Each operation is one shuffle (groupBy-min + join back on node id) —
    * the same shape as a [[run]] round, so the 100 TB cost model is
    * unchanged; only the round COUNT improves on deep graphs. The same
    * size gate applies: below `localCutoff` edges the driver union-find
    * answers directly (property-tested identical to the distributed
    * rounds). Fixpoint test: smallStar output always points child →
    * smaller parent, so the set is a star forest — on which both ops are
    * provably identities — iff no child has two parents and no parent is
    * itself a child; that exact condition, not a sum heuristic, ends the
    * loop.
    *
    * @return (node, comp) — identical contract (and labels) to [[run]] */
  def runStar(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxRounds: Int = 50, localCutoff: Long = LocalEdgeCutoff): DataFrame =
    runStarCounting(edges, src, dst, maxRounds, localCutoff)._1

  /** [[runStar]] plus the number of distributed large+small rounds taken
    * (0 when the size gate answered locally) — exposed so the O(log n)
    * convergence property is assertable, not just claimed. */
  private[graft] def runStarCounting(edges: DataFrame, src: String,
      dst: String, maxRounds: Int, localCutoff: Long): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    if (e0.count() <= localCutoff) {
      val local = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      e0.unpersist()
      return (localUnionFind(local).toSeq.toDF("node", "comp"), 0)
    }

    // large-star: attach STRICTLY LARGER neighbours to min(closed nbhd)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: node + its SMALLER neighbours all attach to their min
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = or.groupBy("u").agg(min(col("v")).as("m"))
      or.join(m, "u").select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // Sound fixpoint test, not a sum heuristic: smallStar output always
    // has v < u, so the set is a star forest (on which both ops are
    // provably identities) iff (a) no child u carries two distinct
    // parents and (b) no parent appears as a child. Two id-only jobs,
    // each short-circuited by limit(1).
    def isStarForest(e: DataFrame): Boolean = {
      val multiParent = e.groupBy("u").agg(count(lit(1)).as("np"))
        .filter(col("np") > 1).limit(1).count() > 0
      !multiParent &&
        e.select("u").intersect(e.select(col("v").as("u")))
          .limit(1).count() == 0
    }

    var cur = truncate(e0)
    e0.unpersist()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = truncate(smallStar(largeStar(cur)))
      cur.unpersist()
      cur = next
      round += 1
      converged = isStarForest(cur)
    }
    // label extraction below is ONLY valid on a star forest — reading a
    // half-contracted edge set would silently under-merge components
    if (!converged) throw new IllegalStateException(
      s"star contraction did not converge in $maxRounds rounds " +
        "(O(log n) expected — raise maxRounds)")
    // fixed point is a star forest: every edge is (node → its component
    // root); roots appear only on the v side, so close over them
    val labels = cur.select(col("u").as("node"), col("v").as("comp"))
      .unionByName(cur.select(col("v").as("node"), col("v").as("comp")))
      .groupBy("node").agg(min("comp").as("comp"))
    (labels, round)
  }

  /** Path-compressed union-find over a collected edge list; always attaches
    * the larger root under the smaller, so every root is the min id of its
    * component — identical labels to the distributed propagation (the
    * property test runs both paths against each other). */
  private def localUnionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find: recursion depth equals chain length before
    // compression, which can approach the edge cutoff on adversarial
    // insert orders — deep enough to overflow the stack
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.iterator
      .map((x: Long) => x -> find(x)).toMap
  }
}

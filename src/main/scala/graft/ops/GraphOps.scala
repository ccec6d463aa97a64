package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the operator that turns a near-dup
  * PAIR relation into dedup GROUPS (keep one representative per
  * component, drop the rest).
  *
  * Implementation is iterative minimum-label propagation on DataFrames:
  * every node repeatedly adopts the smallest label among itself and its
  * neighbors until a fixpoint. Each iteration is one shuffle on the edge
  * relation; convergence for near-dup graphs is fast because components
  * are tiny (duplicate clusters), so the loop runs O(component diameter)
  * times — the same regime where the alternating smallStar/largeStar
  * algorithm (Kiveris et al.) would be the next step if diameters grew.
  * The driver-side loop only checks a changed-count per iteration; all
  * data stays distributed.
  */
object GraphOps {

  /** @param edges two-column DataFrame (src, dst), undirected pairs
    * @param driverThreshold edge count at or below which the component
    *        computation runs as union-find on the driver (the broadcast-
    *        threshold pattern: a near-dup edge list is orders of
    *        magnitude smaller than the corpus, and a sub-million-edge
    *        graph costs more in per-iteration scheduling than in
    *        compute). Above it, the distributed label-propagation loop
    *        runs — same result, tested on both paths.
    * @return (node, component) — component = min node id reachable
    */
  /** @param checkpointDir when set, per-iteration label materialization
    *        uses RELIABLE `df.checkpoint()` against this directory
    *        (written through the cluster's fault-tolerant store) instead
    *        of `localCheckpoint`. localCheckpoint blocks live on
    *        executor storage with NO recomputable lineage — on a
    *        1000-executor cluster one preempted executor fails the whole
    *        job mid-loop. Default stays local (fastest, fine for
    *        local[*] and short-lived jobs); cluster runs pass a
    *        checkpoint dir.
    *
    *        Storage is BOUNDED: iterations alternate between two
    *        subdirectories and each is cleared before reuse, so at most
    *        two label-set checkpoints exist at any time (a naive
    *        per-iteration checkpoint would retain every iteration —
    *        `spark.cleaner...cleanCheckpoints` defaults to false). The
    *        subdir of the FINAL iteration is kept: it backs the
    *        returned DataFrame. The session's previous checkpoint dir
    *        is restored before returning.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIterations: Int = 50,
      driverThreshold: Long = 1000000L,
      checkpointDir: Option[String] = None): DataFrame = Ckpt.scope {
    val spark = edges.sparkSession
    // Ids normalized to long on BOTH paths (the output schema must not
    // depend on which side of the threshold the graph lands). Edges with
    // a NULL or uncastable endpoint are DROPPED on both paths too — the
    // driver path would otherwise NPE on getLong while the distributed
    // path silently emitted a bogus (null, null) component.
    val pairs = Ckpt.cache(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    // The persisted pairs make the decide-and-collect single-cost: the
    // take() materializes (at most threshold+1 rows of) the edge lineage
    // once, and the big-graph loop reuses the persisted relation instead
    // of re-running the (potentially expensive) edge computation.
    // Thresholds are capped at the driver-array limit: a larger value
    // would overflow toInt into a negative/wrapped take() argument.
    val takeN = math.min(driverThreshold, Int.MaxValue - 2L).toInt
    val taken = pairs.take(takeN + 1)
    if (taken.length <= takeN)
      driverUnionFind(spark, taken.map(r => (r.getLong(0), r.getLong(1))))
    else {
      // reused every iteration; bounded by the pair relation
      val sym = Ckpt.cache(pairs
        .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      val prevCkptDir = spark.sparkContext.getCheckpointDir
      def clearDir(path: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      var converged = false
      var i = 0
      while (!converged && i < maxIterations) {
        // each node adopts min(own label, neighbors' labels, label's label)
        // — the last term is pointer jumping, which collapses chains in
        // O(log diameter) rounds instead of O(diameter)
        val viaNeighbors = sym
          .join(labels.withColumnRenamed("node", "dst2"), col("dst") === col("dst2"))
          .select(col("src").as("node"), col("label"))
        val viaLabels = labels.as("a")
          .join(labels.as("b"), col("a.label") === col("b.node"))
          .select(col("a.node").as("node"), col("b.label").as("label"))
        // Checkpoint FIRST: the changed-count then runs against the
        // materialized result instead of re-executing the iteration's
        // whole lineage a second time.
        val grouped = labels.union(viaNeighbors).union(viaLabels)
          .groupBy("node").agg(min("label").as("label"))
        val next = checkpointDir match {
          case Some(dir) =>
            // Alternate between two subdirs, clearing before reuse: the
            // subdir being overwritten holds iteration i-2's checkpoint,
            // which nothing references anymore (labels points at i-1).
            val sub = s"$dir/graft_cc_${i % 2}"
            clearDir(sub)
            spark.sparkContext.setCheckpointDir(sub)
            // files, not blocks: the stats reset of Ckpt.cut, nothing to free
            org.apache.spark.sql.GraftIterate.resetStats(grouped.checkpoint(eager = true))
          // the step references `labels` three times under joins, so
          // checkpoint-inherited statistics would cube per iteration
          // (Ckpt.cut's scaladoc)
          case None => Ckpt.cut(grouped)
        }
        val changed = next.as("n")
          .join(labels.as("o"), col("n.node") === col("o.node"))
          .filter(col("n.label") =!= col("o.label"))
          .count()
        // Iteration diagnostics (opt-in: -Dgraft.cc.verbose=true) — an
        // iterative distributed job's convergence behavior is otherwise
        // invisible in production logs; ScaleProbe reads these lines for
        // the pointer-jumping iteration-count row.
        if (sys.props.get("graft.cc.verbose").contains("true"))
          System.err.println(s"[graft] connectedComponents: iteration ${i + 1} " +
            s"changed=$changed checkpoint=${checkpointDir.fold("local")(_ => "reliable")}")
        Ckpt.release(labels) // superseded
        labels = next
        converged = changed == 0
        i += 1
      }
      if (checkpointDir.isDefined) {
        // drop the non-final subdir (the final one backs `labels`);
        // restore whatever checkpoint dir the caller had configured
        checkpointDir.foreach(dir => clearDir(s"$dir/graft_cc_${i % 2}"))
        prevCkptDir match {
          case Some(d) => spark.sparkContext.setCheckpointDir(d)
          case None => () // no public API to unset; doc'd in the scaladoc
        }
      }
      labels.select(col("node"), col("label").as("component"))
    }
  }

  /** Distributed PageRank over a directed edge relation, in SCALED
    * INTEGER arithmetic so a fixed-iteration run is exactly replayable
    * by any engine (integer division and addition are associative and
    * deterministic — no float summation-order dependence) and hence
    * END-TO-END oracle-gatable, the q122/q126 integer-replay pattern
    * applied to an iterative graph fixpoint.
    *
    * Web-corpus curation context: CCNet / RefinedWeb-class pipelines
    * rank hosts by link centrality to prioritize crawl quality; this is
    * that operator expressed over any (src, dst) relation.
    *
    * Exact update rule (all divisions are integral, all values
    * nonnegative — truncation ≡ floor on both engines):
    * {{{
    *   N        = |distinct(src ∪ dst)|
    *   pr0(v)   = SCALE div N
    *   contrib  = pr(u) div outdeg(u)   summed per edge into inflow(v)
    *   dang     = Σ pr(u) over outdeg(u) = 0
    *   pr'(v)   = (15·(SCALE div N)) div 100
    *            + (85·(inflow(v) + dang div N)) div 100
    * }}}
    * i.e. damping 0.85 with dangling mass redistributed uniformly. The
    * unit quantum is SCALE/N, so with the default SCALE = 1e12 a 1e9-node
    * graph still carries ~1000 units per node — coarse but exact; raise
    * SCALE toward 1e15 for such graphs (overflow bound: 85·SCALE < 2^63
    * regardless of N, because Σ pr ≤ SCALE by construction).
    *
    * Scale shape: edges are repartitioned by src ONCE and cached; each
    * iteration pays one data-sized shuffle (the inflow groupBy(dst))
    * plus one rank-relation (node-scale) exchange into the
    * contribution join. The dangling term rides the previous state's
    * checkpoint materialization as an observed metric (one exact
    * integer, never a data collect — and no per-iteration broadcast
    * job); lineage AND inherited plan
    * statistics are cut per iteration with [[Ckpt.cut]] — the step
    * plan references the previous rank state twice, so a bare
    * localCheckpoint would compound its inherited stats
    * doubly-exponentially and stall planning past ~20 iterations (see
    * Ckpt.cut's scaladoc; production PageRank runs 20–50 iterations).
    *
    * @param edges directed (srcCol, dstCol); duplicate edges are
    *        deduplicated, NULL endpoints dropped
    * @return (node, pr_units) — BIGINT scaled ranks, Σ ≈ SCALE
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5,
      scale: Long = 1000000000000L): DataFrame = Ckpt.scope {
    require(iterations >= 0, "iterations must be >= 0")
    val pairs = Ckpt.cache(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src")))
    val nodes = pairs.select(col("src").as("node"))
      .union(pairs.select(col("dst").as("node")))
      .distinct()
    val outdeg = pairs.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    // (node, outdeg) hash-partitioned by node; reused by every iteration's
    // final join, so cache it materialized.
    val nodeDeg = Ckpt.cache(nodes.join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .repartition(col("node")))
    val n = nodeDeg.count()
    require(n > 0, "pageRank: empty graph")
    val base = scale / n
    val tele = (15L * base) / 100L
    // The dangling-mass term Σ pr over outdeg = 0 rides each state
    // materialization as an OBSERVED metric (round 18): it used to be
    // a separate aggregate whose broadcast cost two extra driver jobs
    // per iteration on top of the data-path shuffle — exact integer
    // sum either way, so the update rule (and the unrolled SQL oracle)
    // is bit-identical. The initial state's dang is closed-form:
    // every node starts at `base`.
    def dangObs() = new org.apache.spark.sql.Observation()
    var obs = dangObs()
    def observed(df: DataFrame) = df.observe(obs,
      coalesce(sum(when(col("outdeg") === 0L, col("pr"))), lit(0L))
        .as("dang"))
    var pr = Ckpt.cut(observed(nodeDeg.withColumn("pr", lit(base))))
    var i = 0
    while (i < iterations) {
      val dang = obs.get("dang").asInstanceOf[Long]
      val contrib = pr.filter(col("outdeg") > 0L)
        .join(pairs, col("node") === col("src"))
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
      val inflow = contrib.groupBy("node").agg(sum("c").as("inflow"))
      obs = dangObs()
      val next = Ckpt.cut(observed(nodeDeg.join(inflow, Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          (lit(tele) +
            expr(s"(85 * (coalesce(inflow, 0L) + ${dang / n}L)) div 100").cast("long"))
            .as("pr"))))
      Ckpt.release(pr) // superseded
      pr = next
      i += 1
    }
    pr.select(col("node"), col("pr").as("pr_units"))
  }

  /** The q151 oracle, generated for any iteration count so the engine
    * loop and the SQL unrolling can never disagree on the update rule:
    * each p_i CTE replays the exact integer recurrence above. Kept next
    * to the operator (not in the query file) because it IS the
    * operator's spec, serialized.
    */
  def pageRankOracleSql(edgeCte: String, iterations: Int, scale: Long): String = {
    val iters = (1 to iterations).map { i =>
      val p = s"p${i - 1}"
      s"""d$i AS (SELECT coalesce(sum(CASE WHEN outdeg = 0 THEN pr END), 0) dang FROM $p),
         |c$i AS (SELECT e.dst AS node, sum(pr // outdeg) inflow
         |        FROM $p JOIN e ON $p.node = e.src WHERE outdeg > 0 GROUP BY e.dst),
         |p$i AS (SELECT deg.node, deg.outdeg,
         |          (15 * ($scale // nn.n)) // 100
         |          + (85 * (coalesce(c$i.inflow, 0) + d$i.dang // nn.n)) // 100 AS pr
         |        FROM deg CROSS JOIN nn CROSS JOIN d$i
         |        LEFT JOIN c$i ON deg.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgeCte),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM nodes),
       |deg AS (SELECT node, CAST(coalesce(d.c, 0) AS BIGINT) outdeg
       |        FROM nodes LEFT JOIN (SELECT src, count(*) c FROM e GROUP BY src) d
       |          ON nodes.node = d.src),
       |p0 AS (SELECT node, outdeg, CAST($scale // nn.n AS BIGINT) pr
       |       FROM deg CROSS JOIN nn),
       |$iters
       |SELECT node, CAST(pr AS BIGINT) AS pr_units FROM p$iterations
       |ORDER BY pr_units DESC, node LIMIT 100""".stripMargin
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, deterministic variant): every node starts labeled with
    * its own id; each iteration relabels every node with its
    * neighbors' MOST FREQUENT label, ties broken by the smallest
    * label — the determinism choice that replaces the paper's random
    * tie-coin, making the result exactly replayable (and SQL-
    * unrollable, see [[labelPropagationOracleSql]]). Communities
    * differ from [[connectedComponents]]: a bridge edge joins two
    * cliques into one component, but LPA keeps them as two label
    * groups because frequency, not reachability, wins. Self-loops are
    * dropped (a node voting for itself drowns sparse neighborhoods);
    * nodes with no non-self edge don't appear, matching the
    * components contract for null endpoints.
    *
    * Scale shape: the undirected adjacency is built once, hash-
    * partitioned by node and cached; each iteration is one
    * neighbor-label join (adjacency ⋈ node-scale label table), one
    * (node, label) hash agg with map-side combine, and a per-node
    * argmax as a max(struct) agg — no window over unbounded
    * neighborhoods. Label tables ride [[Ckpt.cut]] (checkpoint +
    * stats reset), the q154/q120 loop discipline.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5): DataFrame = Ckpt.scope {
    require(iterations >= 0, "iterations must be >= 0")
    val pairs = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val und = Ckpt.cache(pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // partitioned by the JOIN key: the adjacency's only consumer in
      // the loop is the neighbor-label join on `dst`, so a dst-keyed
      // cache lets a co-partitioned label table join without
      // re-exchanging the edge relation each iteration (src, the old
      // key, satisfied nothing the loop needs)
      .repartition(col("dst")))
    val nodes = und.select(col("src").as("node")).distinct()
    var labels = Ckpt.cut(nodes.withColumn("label", col("node")))
    var i = 0
    while (i < iterations) {
      val nbr = und.join(labels.select(col("node").as("dst"),
          col("label").as("nl")), Seq("dst"))
        .select(col("src").as("node"), col("nl"))
      val counts = nbr.groupBy("node", "nl").agg(count(lit(1)).as("c"))
      val next = Ckpt.cut(counts
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("nl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("label")))
      Ckpt.release(labels) // superseded
      labels = next
      i += 1
    }
    labels.select("node", "label")
  }

  /** The q187 oracle: the exact recurrence above, unrolled — each l_i
    * CTE replays one synchronous relabeling (count per neighbor label,
    * row_number argmax with the same (count desc, label asc) order).
    * Kept next to the operator because it IS the spec, serialized.
    */
  def labelPropagationOracleSql(edgeCte: String, iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val p = s"l${i - 1}"
      s"""n$i AS (SELECT e.src AS node, $p.label nl,
         |          CAST(count(*) AS BIGINT) c
         |        FROM e JOIN $p ON e.dst = $p.node GROUP BY 1, 2),
         |l$i AS (SELECT node, nl AS label FROM (
         |          SELECT node, nl, row_number() OVER (PARTITION BY node
         |            ORDER BY c DESC, nl ASC) rn FROM n$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgeCte),
       |e AS (SELECT DISTINCT src, dst FROM (
       |        SELECT src, dst FROM e0 WHERE src <> dst
       |        UNION ALL
       |        SELECT dst, src FROM e0 WHERE src <> dst)),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iters
       |SELECT node, label FROM l$iterations ORDER BY node""".stripMargin
  }

  /** Small-graph path: classic union-find with path compression on the
    * driver, component id normalized to the minimum member.
    */
  private def driverUnionFind(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.sorted.map(n => (n, find(n)))
    out.toDF("node", "component")
  }
}

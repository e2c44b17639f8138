package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge list — the step
  * that turns near-duplicate PAIRS into transitive duplicate GROUPS
  * (a ~ b, b ~ c means a, b, c are one cluster even when a and c do
  * not match each other directly).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log n) rounds on any graph — unlike naive min-label
  * propagation whose round count is the graph DIAMETER (a 1M-link
  * duplicate chain would need 1M shuffles).
  *
  * 100 TB design notes:
  *   - each half-round is one groupBy (min-neighbor aggregation) plus
  *     one equi-join back to the edges — neighbor lists are NEVER
  *     collected into a row (a star center at web scale has millions of
  *     neighbors; `collect_list` there is the classic OOM), so degree
  *     skew only costs a hot aggregation key, which Spark's map-side
  *     partial aggregation absorbs.
  *   - each round's edge set is rebuilt as a fresh DataFrame over a
  *     persisted RDD — persist alone is not enough for an iterative
  *     DataFrame program, because each round's logical plan would still
  *     embed the previous round's plan several times over, growing the
  *     plan tree exponentially in the round count (the driver OOMs
  *     stringifying it long before any data moves). The RDD hop resets
  *     the Catalyst plan to a leaf every round while keeping a
  *     recompute path through RDD lineage (depth = rounds, i.e.
  *     O(log n), so no stack risk), and the previous round is
  *     explicitly unpersisted — memory holds at most two edge sets and
  *     nothing accumulates in a checkpoint directory (`df.checkpoint()`
  *     files are never auto-deleted under default cleaner settings;
  *     O(log n) full edge-set copies per call would pile up on exactly
  *     the 100 TB runs this targets).
  *   - convergence is detected by an order-independent checksum
  *     (count + sum of per-edge hashes) — one lightweight job per
  *     round, no set-difference join.
  */
object Components {

  /** Connected components of the undirected graph given by the edge
    * list `(aCol, bCol)` (long ids). Returns one row per distinct node
    * appearing in any edge: `(id, component)` where `component` is the
    * SMALLEST node id in the component — deterministic and stable
    * across engines, so downstream "keep the min-id survivor" dedup is
    * reproducible.
    *
    * Adaptive execution, the same small-side threshold pattern as
    * Spark's broadcast join: an edge set at or under `localThreshold`
    * is solved with an in-memory union-find in one collect instead of
    * O(log n) distributed rounds, each of which costs several full
    * Spark jobs of fixed overhead. The default of 1M edges budgets for
    * the REAL driver footprint — collected Rows plus a specialized
    * LongMap of up to 2M node entries, ~100-150 MB transient — safe on
    * a default 1g driver, not just the raw 16 bytes/edge. Web-scale
    * pair sets take the large-star/small-star loop. Pass
    * `localThreshold = 0` to force the distributed path.
    *
    * Nodes with no edges simply do not appear; callers wanting
    * singletons join the result back to the full node set.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 25, localThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // ids are cast to long below; a non-integral id column (strings,
    // uuids) would cast to NULL, silently filter every edge, and
    // return an empty result — fail loudly instead
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = pairs.schema(pairs.schema.fieldIndex(c)).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral ids; column '$c' is $dt — " +
        "map string ids to longs (e.g. a dense rank or xxhash64) first")
    }

    // One round-hop: persist the edge set's RDD (materialized by the
    // checksum job right after) and wrap it in a fresh leaf DataFrame
    // bound to `sess` — the session whose conf governs the NEXT
    // round's exchanges.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def hop(df: DataFrame, sess: org.apache.spark.sql.SparkSession)
        : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (sess.createDataFrame(rdd, schema), rdd)
    }

    // Self-loops and duplicate edges are harmless to the algorithm but
    // free to drop once up front.
    var (edges, cached) = hop(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
      .distinct(), spark)

    var sum = checksum(edges)
    if (sum._1 <= localThreshold) {
      val local = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      cached.unpersist(blocking = false)
      return unionFind(local).toSeq.toDF("id", "component")
    }
    // Size the ROUND shuffles to the EDGE SET, not the session
    // default: every exchange costs map-partitions × reduce-partitions
    // shuffle-block lookups, so an iterative loop inheriting a
    // corpus-sized spark.sql.shuffle.partitions (3,200 at the 50M
    // soak) pays ~10M block lookups per exchange on a frame of a few
    // million rows, times ~6 exchanges per round times O(log n)
    // rounds — measured as the dominant cost of the r16 soak's graph
    // legs. ~250k edges per task is the repo's standard row budget.
    // The narrowed value lives in a CLONED session (newSession shares
    // the SparkContext, cached data, and the edge RDDs but owns its
    // SQLConf), so a concurrent query on the caller's session can
    // never observe it — no mutation of shared state, nothing to
    // restore (the r16 session-conf-mutation wart, closed).
    val confKey = "spark.sql.shuffle.partitions"
    val loopSpark = spark.conf.get(confKey).toIntOption match {
      case Some(prev) =>
        val p = math.max(spark.sparkContext.defaultParallelism,
          math.min(prev, (sum._1 / 250000L).toInt + 1))
        val s = spark.newSession()
        // newSession starts from builder-time options, not the
        // caller's RUNTIME conf — copy the caller's settable conf so
        // the loop differs in exactly one knob (static entries skip)
        spark.conf.getAll.foreach { case (k, v) =>
          try s.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        }
        s.conf.set(confKey, p)
        s
      case None => spark
    }
    // re-bind the materialized edge set to the loop session so round 1
    // already runs at the edge-sized partition count
    edges = loopSpark.createDataFrame(cached, schema)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val (next, nextCached) = hop(smallStar(largeStar(edges)), loopSpark)
      val nextSum = checksum(next) // materializes nextCached
      converged = nextSum == sum
      cached.unpersist(blocking = false)
      edges = next
      cached = nextCached
      sum = nextSum
      rounds += 1
    }
    if (!converged) {
      cached.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    }

    // Converged edge set is a union of stars (v, center): every
    // non-center node points at its component min. Centers are added
    // back as their own component members. The result is materialized
    // (see checkpoint) so the last round's cache can be freed —
    // then re-bound to the CALLER's session (one leaf-RDD wrap; the
    // checkpointed data is not recomputed), so downstream evaluation
    // runs under the caller's own conf.
    val out = Dedup.checkpoint(
      edges.select($"src".as("id"), $"dst".as("component"))
        .union(edges.select($"dst".as("id"), $"dst".as("component")))
        .groupBy("id").agg(min("component").as("component")))
    cached.unpersist(blocking = false)
    spark.createDataFrame(out.rdd, out.schema)
  }

  /** Driver-side union-find with path compression for the small-graph
    * fast path: node -> smallest id of its component.
    */
  private def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    // LongMap: specialized, no per-entry boxing — the whole point of
    // the local path is a small driver footprint
    val parent = scala.collection.mutable.LongMap[Long]()
    // iterative find: union-by-min (needed for the min-id contract) can
    // build deep trees, so recursion would overflow on adversarial input
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = Map.newBuilder[Long, Long]
    parent.keys.toArray.foreach(k => out += (k -> find(k)))
    out.result()
  }

  /** Large-star: connect every neighbor v > u to m(u) = min(Γ(u) ∪ u).
    * Computed as (min aggregation over the symmetric edge list) ⋈ edges
    * — no neighbor list ever materializes in a row.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
    val mins = sym.groupBy($"src")
      .agg(least(min($"dst"), first($"src")).as("m"))
    sym.join(mins, "src")
      .filter($"dst" > $"src")
      .select($"dst".as("src"), $"m".as("dst"))
      .filter($"src" =!= $"dst")
      .distinct()
  }

  /** Small-star: orient edges (hi, lo); connect every smaller neighbor
    * (and hi itself) to m(hi) = min of hi's smaller neighbors.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val oriented = edges.select(
      greatest($"src", $"dst").as("hi"), least($"src", $"dst").as("lo"))
    val mins = oriented.groupBy($"hi").agg(min($"lo").as("m"))
    val relink = oriented.join(mins, "hi")
      .filter($"lo" =!= $"m")
      .select($"lo".as("src"), $"m".as("dst"))
    relink.union(mins.select($"hi".as("src"), $"m".as("dst")))
      .filter($"src" =!= $"dst")
      .distinct()
  }

  /** Order-independent edge-set checksum: (count, XOR of edge hashes).
    * XOR never overflows (ANSI-safe, unlike a long sum) and cannot
    * cancel here because the edge set is distinct. Equal checksums
    * across rounds ⇒ converged (hash-collision odds at 64 bits are
    * negligible, and a false "converged" is additionally impossible
    * here because the edge set is monotonically contracting toward the
    * star fixpoint).
    */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** INCREMENTAL component maintenance: fold a batch of NEW edges
    * into an existing `(id, component)` labeling without recomputing
    * the graph — the group-maintenance step of the standing near-dup
    * refresh (q132): each refresh emits its near-hit edges, and the
    * stored group structure absorbs them at O(new edges) compute.
    *
    * Correctness rests on the quotient-graph argument: contracting
    * every existing component to its label preserves connectivity, so
    * components of (labels ∪ new edges) = components of the CONTRACTED
    * graph (one node per touched component/new node, one edge per new
    * edge) mapped back through the labeling. And because every
    * existing label IS the min member id of its component, the min of
    * merged labels is the min over all merged members — the output
    * keeps [[connectedComponents]]'s min-id contract exactly
    * (ComponentsSpec pins incremental == from-scratch).
    *
    * Scale shape: the contracted graph is O(new edges) — it goes
    * through [[connectedComponents]], whose adaptive local path
    * solves refresh-sized batches in one collect. The only work
    * proportional to the EXISTING labeling is one broadcast hash join
    * (relabel map is O(touched components), broadcast) — a scan, no
    * shuffle, and with table-backed labels a MERGE on
    * `component IN (touched)` prunes even the scan to the files
    * carrying touched groups. Full recompute stays the on-demand
    * path; this is the per-batch one.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val edges = newEdges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // endpoint -> current component, ALL joins shaped so the existing
    // labeling is only ever scanned (semi-join against the broadcast
    // endpoint set), never shuffled: the left-outer "look up my label"
    // join cannot broadcast its big right side, so the lookup is
    // split into a broadcast semi-join (extract the touched label
    // rows — O(new) result) and a broadcast left join against that
    // small extract
    val eps = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id"))).distinct()
    val known = Dedup.checkpoint(
      labels.select(col("id"), col("component"))
        .join(broadcast(eps), Seq("id"), "left_semi"))
    val epLab = Dedup.checkpoint(
      eps.join(broadcast(known), Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("lab")))
    val contracted = edges
      .join(broadcast(epLab.select(col("id").as("a"), col("lab").as("la"))),
        "a")
      .join(broadcast(epLab.select(col("id").as("b"), col("lab").as("lb"))),
        "b")
      .select(col("la"), col("lb")).filter(col("la") =!= col("lb"))
      .distinct()
    // components over the contracted graph: (old label -> new label).
    // The contracted graph is O(new edges); refresh-sized batches take
    // connectedComponents' one-collect local path.
    val relabel = connectedComponents(contracted, "la", "lb")
      .select(col("id").as("__old"), col("component").as("__new"))
      .filter(col("__old") =!= col("__new"))
    // endpoints not yet present enter as their own component; the
    // relabel map then lands every merged row — old members and new
    // nodes alike — on the min member id
    val newNodes = eps
      .join(broadcast(known.select("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.select(col("id"), col("component"))
      .unionByName(newNodes)
      .join(broadcast(relabel), col("component") === col("__old"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))
  }

  /** SYNCHRONOUS min-label propagation, a FIXED number of rounds:
    * every node starts labeled with its own id; each round it takes
    * the min of its label and its neighbors' labels (edges treated
    * undirected). After k rounds a node's label is the smallest id
    * within k hops — the bounded-round community/affiliation signal
    * (and, run to convergence, connected components; use
    * [[connectedComponents]] for that — its star-contraction needs
    * O(log n) rounds where this needs the DIAMETER). Each round is
    * one edge⋈label shuffle join plus one map-side-combined min
    * aggregation; labels are exact integers, so a SQL oracle replays
    * the whole trajectory as k chained CTEs.
    */
  def minLabelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    // Materialize the undirected EDGE frame once (guide §5 / §3.3): the
    // unrolled loop otherwise re-embeds the edge derivation (for the
    // q100 gate, a lineitem scan + distinct) per round per reference —
    // a 122-Exchange plan at 3 rounds — and a deep-round run amplifies
    // every stage retry. Labels stay LAZY round-to-round (a per-round
    // eager checkpoint was measured slower at fixture scale than the
    // reused-exchange job tree) and are truncated every
    // `LabelCheckpointEvery` rounds so deep iteration counts keep a
    // bounded plan — the Pregel cadence.
    val und = Dedup.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .distinct())
    var labels = und.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
    for (i <- 1 to rounds) {
      val fromNbrs = und
        .join(labels.select(col("v").as("src"), col("lab")), Seq("src"))
        .groupBy(col("dst").as("v")).agg(min("lab").as("nlab"))
      labels = labels.join(fromNbrs, Seq("v"), "left")
        .select(col("v"), least(col("lab"), coalesce(col("nlab"), col("lab")))
          .as("lab"))
      if (i % LabelCheckpointEvery == 0 && i < rounds)
        labels = Dedup.checkpoint(labels)
    }
    labels
  }

  /** Lineage-truncation cadence for deep round counts (see
    * [[minLabelPropagation]]).
    */
  private val LabelCheckpointEvery = 10
}

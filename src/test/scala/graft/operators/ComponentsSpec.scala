package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  /** localThreshold = 0 forces the distributed large-star/small-star
    * loop — the algorithm under test; the small-graph fast path is
    * plain union-find and is covered by the agreement test below.
    */
  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b",
        localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference model: textbook union-find with path compression. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize: every node -> min id of its set
    val roots = parent.keys.map(k => k -> find(k)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, kvs) =>
      r -> kvs.keys.min.min(r)
    }
    roots.map { case (k, r) => k -> minOf(r) }
  }

  test("chain is transitively grouped; separate components stay separate") {
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("long chain converges in logarithmic rounds, not diameter") {
    // 120-link chain: naive min-propagation would need 120 rounds; the
    // large-star/small-star alternation must finish within maxRounds=25
    val chain = (0L until 120L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == 121 && got.values.forall(_ == 0L))
  }

  test("high-degree star and duplicate/self edges are handled") {
    val star = (1L to 500L).map(i => (0L, i)) ++
      Seq((7L, 7L), (0L, 3L), (3L, 0L)) // self loop + dup + reversed dup
    val got = components(star)
    assert(got.size == 501 && got.values.forall(_ == 0L))
  }

  test("matches union-find on a pseudorandom graph") {
    // deterministic LCG so the test is reproducible
    var s = 12345L
    def next(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.floorMod(s, n) }
    val edges = Seq.fill(300)((next(200), next(200))).filter(e => e._1 != e._2)
    assert(components(edges) == unionFind(edges))
  }

  test("local fast path agrees with the distributed loop") {
    import spark.implicits._
    var s = 777L
    def next(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.floorMod(s, n) }
    val edges = Seq.fill(250)((next(150), next(150))).filter(e => e._1 != e._2)
    val local = Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b") // default threshold → union-find
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == components(edges))
  }

  test("distributed loop narrows shuffle partitions without touching the caller's session") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "333") // a corpus-sized setting
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      val result = Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b", localThreshold = 0L)
      // the round loop runs at an edge-sized partition count inside a
      // CLONED session (r17: no session-conf mutation at all — a
      // concurrent query on this session can never observe the
      // narrowed value), and the result is re-bound to the caller's
      // session for downstream evaluation
      assert(result.sparkSession eq spark,
        "result must be bound to the caller's session")
      assert(spark.conf.get(key) == "333",
        s"connectedComponents mutated the caller's conf: ${spark.conf.get(key)}")
      val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.set(key, prev)
  }

  test("ids far above Int range keep exact component mins") {
    val big = 1L << 40
    val got = components(Seq((big + 5, big + 9), (big + 9, big + 1)))
    assert(got == Map(big + 5 -> (big + 1), big + 9 -> (big + 1),
      big + 1 -> (big + 1)))
  }

  test("nearDupGroups clusters a planted chain of truncations") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight with friends"
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(4)),   // near-dup of 1
      (3L, base.dropRight(8)),   // near-dup of 2 (and likely 1)
      (50L, "completely unrelated content about spark shuffles and " +
        "partitioned columnar storage formats for large scale analytics")
    ).toDF("doc_id", "text")
    val groups = Dedup.nearDupGroups(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.keySet == Set(1L, 2L, 3L))
    assert(groups.values.toSet == Set(1L))

    val kept = Dedup.dropNearDuplicatesTransitive(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 50L))
  }

  test("min-label propagation: label after k rounds = min id within k hops") {
    import spark.implicits._
    // path graph 1-2-3-4-5-6 plus isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("a", "b")
    def labels(rounds: Int): Map[Long, Long] =
      Components.minLabelPropagation(edges, "a", "b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0 rounds: everyone keeps their own id
    assert(labels(0) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 10L -> 10L, 11L -> 11L))
    // 2 rounds: node v sees min over ids within 2 hops
    assert(labels(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 3L, 6L -> 4L, 10L -> 10L, 11L -> 10L))
    // enough rounds for the diameter: chain collapses to 1, pair to 10
    assert(labels(5).values.toSet == Set(1L, 10L))
    assert(labels(5).count(_._2 == 1L) == 6)
  }

  // ------------------------------------------- incremental maintenance

  private def labelMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incrementalComponents == from-scratch across every merge shape") {
    import spark.implicits._
    // base: {1,2,3}, {10,11}, {20,21}, singleton-free node 30 via edge (30,31)
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 31L))
      .toDF("a", "b")
    val labels = Components.connectedComponents(base, "a", "b")
    // new edges exercise: bridge two existing components (3-10), attach
    // a brand-new node to an existing component (21-40), connect two
    // brand-new nodes (50-51), an intra-component no-op (1-3), and a
    // NEW node with a SMALLER id than its component's min (0-20: the
    // merged component must relabel to 0)
    val fresh = Seq((3L, 10L), (21L, 40L), (50L, 51L), (1L, 3L), (0L, 20L))
      .toDF("a", "b")
    val inc = labelMap(
      Components.incrementalComponents(labels, fresh, "a", "b"))
    val scratch = labelMap(
      Components.connectedComponents(base.unionByName(fresh), "a", "b"))
    assert(inc == scratch)
    assert(inc(10L) == 1L, "bridged component takes the global min")
    assert(inc(40L) == 0L && inc(20L) == 0L && inc(21L) == 0L,
      "smaller-id newcomer relabels the whole merged component")
    assert(inc(50L) == 50L && inc(51L) == 50L)
  }

  test("incrementalComponents: chained batches equal one-shot recompute") {
    import spark.implicits._
    // three successive refreshes over a growing graph, each folded
    // incrementally; the final labeling must equal the from-scratch
    // answer over the union — the q132 standing-refresh contract
    val batches = Seq(
      Seq((5L, 6L), (7L, 8L), (100L, 101L)),
      Seq((6L, 7L), (102L, 100L)),
      Seq((8L, 100L), (1L, 200L)))
    var labels = Components.connectedComponents(
      batches.head.toDF("a", "b"), "a", "b")
    for (b <- batches.tail)
      labels = Components.incrementalComponents(labels, b.toDF("a", "b"),
        "a", "b")
    val all = batches.flatten.toDF("a", "b")
    assert(labelMap(labels) ==
      labelMap(Components.connectedComponents(all, "a", "b")))
  }

  test("incrementalComponents leaves untouched components untouched and scans, never shuffles, the stored labeling") {
    import spark.implicits._
    val base = (0L until 400L by 2L).map(i => (i, i + 1L)).toDF("a", "b")
    val labels = Components.connectedComponents(base, "a", "b")
      .persist()
    labels.count()
    val out = Components.incrementalComponents(labels,
      Seq((1L, 2L)).toDF("a", "b"), "a", "b")
    val m = labelMap(out)
    assert(m(0L) == 0L && m(1L) == 0L && m(2L) == 0L && m(3L) == 0L)
    assert((4L until 400L).filter(_ % 2 == 0).forall(i => m(i) == i),
      "unrelated pairs must keep their labels")
    // plan audit: the stored labeling must not be exchanged — every
    // join against it is broadcast-shaped
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }
    assert(exchanges.isEmpty,
      s"incremental relabel must not shuffle the labeling:\n$plan")
    labels.unpersist(blocking = false)
  }
}

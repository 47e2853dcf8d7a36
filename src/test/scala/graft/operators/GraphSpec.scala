package graft.operators

import graft.SparkSpec

/** Value-level check of min-label connected components on a graph with a
  * chain (worst case for propagation depth), a triangle, and a disjoint
  * pair — labels must converge to each component's minimum id. */
class GraphSpec extends SparkSpec {

  test("connectedComponents converges to component minima") {
    import spark.implicits._
    // chain 1-2-3-4-5, triangle 10-11-12 (+ chord), pair 20-21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("a", "b")
    val got = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("connectedComponents on a single edge") {
    import spark.implicits._
    val got = Graph.connectedComponents(Seq((7L, 3L)).toDF("x", "y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 3L, 3L -> 3L))
  }

  test("distributed BSP path agrees with the local union-find path") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // chain
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("a", "b")
    val local = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bsp = Graph.connectedComponents(edges, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == bsp)
    assert(bsp(7L) == 1L && bsp(12L) == 10L && bsp(21L) == 20L)
  }

  test("pageRankQ follows the exact integer recurrence (hand-computed)") {
    import spark.implicits._
    // a⇄b plus c→a: after round 1, a holds 150000 + 85%·(1e6 + 1e6);
    // after round 2 the c source has decayed to its floor and a's rank
    // reflects b's unchanged 1e6 plus c's 150000
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a")).toDF("s", "d")
    val r1 = Graph.pageRankQ(edges, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("a" -> 1850000L, "b" -> 1000000L, "c" -> 150000L))
    val r2 = Graph.pageRankQ(edges, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("a" -> 1127500L, "b" -> 1722500L, "c" -> 150000L))
    // total mass is conserved up to the integer-floor loss (≤ 1 unit/node)
    assert(r2.values.sum <= 3000000L && r2.values.sum > 2990000L)
  }

  test("pageRankQ plan depth is bounded in the iteration count (BSP path)") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")).toDF("s", "d")
    def planNodes(iters: Int): Int =
      Graph.pageRankQ(edges, iters, localEdgeThreshold = 0L)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    // from round 4 on every round localCheckpoints, so the returned plan
    // must NOT grow with iters — 12 rounds reads like 5 rounds, not like
    // a 12-deep unrolled join tree
    val at5 = planNodes(5)
    val at12 = planNodes(12)
    assert(at12 <= at5, s"plan grew with iterations: $at5 -> $at12")
  }

  test("pageRankQ BSP checkpointed rounds match the driver-computed recurrence") {
    import spark.implicits._
    // ring with a feeder; 12 iterations crosses the checkpoint threshold,
    // so this proves lineage cuts never change the exact integer values
    val es = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("d", "b"))
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 12) {
      val in = nodes.map { n =>
        n -> es.filter(_._2 == n).map(e => rank(e._1) / outdeg(e._1)).sum
      }.toMap
      rank = nodes.map(n => n -> (150000L + (85L * in(n)) / 100L)).toMap
    }
    val got = Graph.pageRankQ(es.toDF("s", "d"), 12, localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == rank)
  }

  test("pageRankQ local path agrees bit-exactly with the BSP path") {
    import spark.implicits._
    // long node ids (the fast-key encoding q53 uses) + string ids both ways
    val esL = Seq((2L, 3L), (3L, 2L), (4L, 2L), (6L, 3L), (6L, 2L), (8L, 8L))
      .toDF("s", "d")
    for (iters <- Seq(1, 3, 6)) {
      val local = Graph.pageRankQ(esL, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val bsp = Graph.pageRankQ(esL, iters, localEdgeThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(local == bsp, s"paths diverged at iters=$iters")
    }
    // dedupEdges=false on an already-distinct edge set changes nothing
    val dedup = Graph.pageRankQ(esL, 3, dedupEdges = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val plain = Graph.pageRankQ(esL, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dedup == plain)
  }

  test("pageRankQ undirected mode equals hand-doubled directions, both paths") {
    import spark.implicits._
    // duplicate pair included: undirected + dedup must collapse it
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (1L, 4L))
      .toDF("a", "b")
    val doubled = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
      (2L, 1L), (3L, 2L), (1L, 3L), (4L, 1L)).toDF("a", "b")
    val want = Graph.pageRankQ(doubled, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val localPath = Graph.pageRankQ(pairs, 3, undirected = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bspPath = Graph.pageRankQ(pairs, 3, undirected = true,
        localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(localPath == want, s"local undirected diverged: $localPath vs $want")
    assert(bspPath == want, s"BSP undirected diverged: $bspPath vs $want")
  }

  test("connectedComponents middle rung: raw over cap, distinct under cap — rungs agree") {
    import spark.implicits._
    val raw = (0 until 40).map(i => ((i % 4).toLong, ((i % 4) + 1).toLong))
      .toDF("a", "b")
    def run(cap: Long) = Graph.connectedComponents(raw, localEdgeThreshold = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rung1 = run(1L << 20)
    assert(run(10L) == rung1, "distinct-fit rung diverged")
    assert(run(0L) == rung1, "BSP-from-deduped diverged")
    assert(rung1.values.toSet == Set(0L)) // 0-1-2-3-4 chain → component 0
  }

  test("pageRankQ middle rung: raw over cap, distinct under cap — all ladder rungs agree") {
    import spark.implicits._
    // 40 raw rows, 4 distinct pairs: rung 1 (raw-fit) at the default cap,
    // rung 2 (distinct-fit) at cap 10, BSP-with-reused-distinct at cap 0
    val raw = (0 until 40).map(i => ((i % 4).toLong, ((i % 4) + 1).toLong))
      .toDF("a", "b")
    def run(cap: Long, undir: Boolean) =
      Graph.pageRankQ(raw, 3, localEdgeThreshold = cap, undirected = undir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (undir <- Seq(false, true)) {
      val rung1 = run(1L << 22, undir)
      val rung2 = run(10L, undir)
      val bsp = run(0L, undir)
      assert(rung2 == rung1, s"distinct-fit rung diverged (undirected=$undir)")
      assert(bsp == rung1, s"BSP-reuse diverged (undirected=$undir)")
    }
  }

  test("size-ladder caps derive from the driver heap, not a per-box constant") {
    // two simulated driver sizes: the cap must scale with the heap, stay
    // inside its clamps, and keep the local rung's memory spend bounded by
    // the design fraction at BOTH sizes
    val cap4g = Graph.derivedLocalEdgeCap(heapBytes = 4L << 30)
    val cap128g = Graph.derivedLocalEdgeCap(heapBytes = 128L << 30)
    assert(cap4g == (4L << 30) / 10 / 128,
      s"4 GiB cap $cap4g is not heap/10/bytesPerEdge")
    assert(cap4g < cap128g, "cap must grow with the heap")
    assert(cap128g <= (Int.MaxValue - 8).toLong, "array-ceiling clamp")
    for ((heap, cap) <- Seq((4L << 30) -> cap4g, (128L << 30) -> cap128g))
      assert(cap * 128L <= heap / 10 + 128,
        s"local rung would spend ${cap * 128L} of a $heap heap")
    // tiny heap clamps to the floor; huge heap to the array ceiling
    assert(Graph.derivedLocalEdgeCap(heapBytes = 1L << 20) == 1L << 16)
    assert(Graph.derivedLocalEdgeCap(heapBytes = 1L << 62) == (Int.MaxValue - 8).toLong)
    val bc4g = Graph.derivedBroadcastNodeCap(heapBytes = 4L << 30)
    val bc128g = Graph.derivedBroadcastNodeCap(heapBytes = 128L << 30)
    assert(bc4g == (4L << 30) / 20 / 48 && bc4g < bc128g)
    // the upper clamp is Spark's 8 GiB broadcast hard limit in node units —
    // never a node count whose broadcast could not execute at all
    assert(bc128g == (128L << 30) / 20 / 48 &&
      Graph.derivedBroadcastNodeCap(heapBytes = 1L << 62) == (8L << 30) / 48)
    // session-aware derivation: spark.executor.memory (when set) binds the
    // broadcast, not the driver heap — a big-driver/small-executor cluster
    // must get the small cap. The conf is static, so the set-branch is
    // exercised through the split-out core with a simulated cluster value
    // (and "2g" exercises the size-string parse)
    assert(Graph.derivedBroadcastNodeCap(spark) ==
      Graph.derivedBroadcastNodeCapFrom(
        spark.sparkContext.getConf.getOption("spark.executor.memory")))
    assert(Graph.derivedBroadcastNodeCapFrom(Some("2g")) ==
      Graph.derivedBroadcastNodeCap(heapBytes =
        math.min(2L << 30, Runtime.getRuntime.maxMemory())))
    assert(Graph.derivedBroadcastNodeCapFrom(None) ==
      Graph.derivedBroadcastNodeCap(heapBytes = Runtime.getRuntime.maxMemory()))
    // the derived caps drive the SAME bit-equal rungs: a cap derived from a
    // simulated tiny heap forces BSP, a big one the local path — results agree
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i % 40, (i * 7 + 1) % 40)).toDF("a", "b")
    val local = Graph.connectedComponents(edges,
        Graph.derivedLocalEdgeCap(heapBytes = 64L << 30))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bsp = Graph.connectedComponents(edges, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == bsp, "heap-derived rung choice changed the result")
  }

  test("pageRankQ local path scans an expensive upstream exactly once") {
    // the operator persists the edge frame internally, so the size-probe
    // count and the collect must replay one upstream computation, not two
    val acc = spark.sparkContext.longAccumulator("edge_scans")
    val rdd = spark.sparkContext
      .parallelize((0 until 40).map(i => (i.toLong % 10, (i + 1).toLong % 10)), 4)
      .mapPartitions { it => acc.add(1L); it }
      .map { case (a, b) => org.apache.spark.sql.Row(a, b) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType)))
    val edges = spark.createDataFrame(rdd, schema)
    acc.reset()
    Graph.pageRankQ(edges, 3).collect()
    assert(acc.value == 4L,
      s"expected one scan (4 partition computes), saw ${acc.value}")
  }

  /** brute-force per-node triangle counts over canonical a<b edges */
  private def bruteTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, s) => n -> s.map(_._2) }
    val nodes = adj.keys.toSeq.sorted
    val tris = for {
      x <- nodes; y <- nodes if y > x && adj(x).contains(y)
      z <- nodes if z > y && adj(x).contains(z) && adj(y).contains(z)
    } yield (x, y, z)
    tris.flatMap { case (x, y, z) => Seq(x, y, z) }
      .groupBy(identity).map { case (n, s) => n -> s.size.toLong }
  }

  test("triangleNodeCounts equals brute force: K4, hubs, random graphs") {
    import spark.implicits._
    // K4 (every node in 3 triangles), a star (zero triangles — the hub
    // degree-orientation case), and seeded random graphs
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toSet
    val star = (1L to 6L).map(i => (0L, i)).toSet
    val randoms = Seq(42, 7).map { seed =>
      val r = new scala.util.Random(seed)
      (for { a <- 0L to 19L; b <- 0L to 19L if a < b && r.nextDouble() < 0.3 }
        yield (a, b)).toSet
    }
    for (edges <- Seq(k4, star) ++ randoms) {
      // default args: the LOCAL compact-forward kernel (all fixtures are
      // far under the heap-derived cap); localEdgeThreshold = 0 forces
      // the distributed wedge plan — both rungs must equal brute force
      val got = Graph.triangleNodeCounts(edges.toSeq.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Graph.triangleNodeCounts(edges.toSeq.toDF("a", "b"),
          localEdgeThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = bruteTriangles(edges)
      assert(got == want, s"local rung, edges=${edges.size}: got $got want $want")
      assert(dist == want, s"distributed rung, edges=${edges.size}: got $dist want $want")
    }
    // fixture sanity: the references themselves behave as expected
    assert(bruteTriangles(k4) == (0L to 3L).map(_ -> 3L).toMap)
    assert(bruteTriangles(star).isEmpty)
    assert(randoms.exists(e => bruteTriangles(e).nonEmpty),
      "random fixtures produced no triangles — weak test")
  }

  test("coOccurrenceTriangleCounts: local items rung == distributed edge build") {
    import spark.implicits._
    // co-purchase-shaped fixtures: groups of varying width, duplicate
    // (group, id) rows, duplicate ids inside a group, singleton groups,
    // and the same pair reachable through multiple groups
    val r = new scala.util.Random(23)
    val items = (0L until 60L).flatMap { g =>
      val width = 1 + r.nextInt(6)
      (0 until width).map(_ => (g, r.nextInt(25).toLong))
    } ++ Seq((100L, 7L), (100L, 7L), (100L, 9L)) // dup rows + dup ids
    val df = items.toDF("o", "p")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val local = asMap(Graph.coOccurrenceTriangleCounts(df, "o", "p"))
    // localItemThreshold = 0 forces the distributed edge build + ladder
    val dist = asMap(Graph.coOccurrenceTriangleCounts(df, "o", "p",
      localItemThreshold = 0L))
    // the pre-r16 composition is the reference of record
    val composed = asMap(Graph.triangleNodeCounts(
      Graph.coOccurrenceEdges(df, "o", "p")))
    assert(local.nonEmpty, "fixture produced no triangles — weak test")
    assert(local == composed, s"local rung diverged: $local vs $composed")
    assert(dist == composed, s"distributed rung diverged: $dist vs $composed")
    // pair-volume gate trip falls back to the distributed form, same answer
    val gated = asMap(Graph.coOccurrenceTriangleCounts(df, "o", "p",
      localPairGate = 0L))
    assert(gated == composed, "pair-gate fallback diverged")
    // null group/id keys: the local rung must decline, not drop rows
    import org.apache.spark.sql.functions.{col, lit}
    val withNull = df.unionByName(
      Seq((Option.empty[Long], Option(1L))).toDF("o", "p"))
      .select(col("o").as("g"), col("p").as("i"))
    val nullLocal = Graph.localCoOccurrenceTriangles(spark,
      withNull.queryExecution.executedPlan.executeCollect(), Long.MaxValue)
    assert(nullLocal.isEmpty, "local rung must bail on null keys")
    // empty input: zero rows, not a crash
    assert(Graph.coOccurrenceTriangleCounts(
      df.filter(lit(false)), "o", "p").count() == 0L)
  }

  test("triangleNodeCounts big-graph rungs (shuffle probe, shuffle deg, forced spread) are bit-equal") {
    import spark.implicits._
    // Force every 100 TB-shape branch and assert the answer never moves:
    //  - broadcastEdgeThreshold = 0: the closing probe degrades from the
    //    broadcast semi join to shuffled-hash;
    //  - broadcastNodeThreshold = 0: the degree attaches degrade from
    //    broadcast to shuffle joins;
    //  - spreadGate = 0: the wedge self-join input is spread over the
    //    4×cores grid (never reachable at test scale otherwise — the
    //    default 1e8 gate needs ~270k+ edges to even measure).
    val r = new scala.util.Random(11)
    val edges = (for { a <- 0L to 24L; b <- 0L to 24L
      if a < b && r.nextDouble() < 0.3 } yield (a, b)).toSet
    def run(edgeCap: Long, nodeCap: Long = -1L,
            gate: Long = Graph.wedgeSpreadGate) =
      // localEdgeThreshold = 0: these are the DISTRIBUTED rungs — the
      // r15 local kernel would otherwise swallow every test-sized graph
      Graph.triangleNodeCounts(edges.toSeq.toDF("a", "b"),
          edgeCap, nodeCap, gate, localEdgeThreshold = 0L)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val bcast = run(Long.MaxValue)
    assert(bcast == bruteTriangles(edges), "broadcast rung diverged")
    assert(run(0L) == bcast, "shuffle-probe rung diverged")
    assert(run(Long.MaxValue, nodeCap = 0L) == bcast,
      "shuffle-deg rung diverged")
    assert(run(0L, nodeCap = 0L, gate = 0L) == bcast,
      "fully-degraded (shuffle probe + shuffle deg + spread) rung diverged")
  }

  test("sortedRunPairs: group boundaries, consecutive duplicates, singletons, trailing group") {
    def run(rows: (Long, Long)*): Seq[(Long, Long)] =
      Graph.sortedRunPairs(rows.iterator).toSeq
    // two groups with a singleton between; dup ids collapse
    assert(run((1L,1L),(1L,2L),(1L,2L),(1L,3L),(2L,9L),(3L,4L),(3L,7L)) ==
      Seq((1L,2L),(1L,3L),(2L,3L),(4L,7L)))
    // empty input, all-singleton input
    assert(run() == Seq.empty)
    assert(run((5L,1L),(6L,2L),(7L,3L)) == Seq.empty)
    // single big trailing group emits every ascending pair
    assert(run((9L,1L),(9L,2L),(9L,3L),(9L,4L)).toSet ==
      Set((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)))
  }

  test("triangleNodeCounts on an empty edge frame with the spread gate forced") {
    import spark.implicits._
    // sum() over zero groups is NULL: the wedge-volume agg must coalesce
    // it, not NPE, when the gate branch is forced on an empty frame
    // (spreadGate = 0 forces the branch; PERF.md round 13 measured it).
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graph.triangleNodeCounts(empty, spreadGate = 0L,
      localEdgeThreshold = 0L).count() == 0L)
    // and the local rung's empty case (default path at size 0)
    assert(Graph.triangleNodeCounts(empty).count() == 0L)
  }

  test("localTriangleCounts: work gate and null keys fall back (None), never a wrong answer") {
    import spark.implicits._
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toSeq
    // workGate = 0 refuses any graph with >= 1 oriented edge of work
    assert(Graph.localTriangleCounts(k4.toDF("a", "b"), workGate = 0L).isEmpty)
    // a null endpoint is representable distributed (null is a groupBy/join
    // key there) but not in the primitive kernel — must decline, and the
    // public ladder must still answer via the distributed rung
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, 2L),
        org.apache.spark.sql.Row(null, 3L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType, nullable = true))))
    assert(Graph.localTriangleCounts(withNull).isEmpty)
    assert(Graph.triangleNodeCounts(withNull).count() == 0L)
    // gate arithmetic: K4's compact-forward work is exactly
    // sum over oriented edges of od(u)+od(v); each node has od in
    // {0,1,2,3} with sum 6 (6 edges) — the gate admits it at >= its
    // true work and the kernel then matches brute force
    val local = Graph.localTriangleCounts(k4.toDF("a", "b")).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == (0L to 3L).map(_ -> 3L).toMap)
  }
}

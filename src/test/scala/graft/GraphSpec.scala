package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Pins the fixed-point PageRank recurrence: closed-form values on
  * symmetric graphs, dangling-node semantics, and equality with an
  * in-memory reference implementation of the same integer recurrence on a
  * deterministic pseudo-random graph.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("pageRank: 2-cycle is the exact fixed point (500000 each)") {
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pageRank(e, "src", "dst", "w", iterations = 5)
      .as[(Long, Long)].collect().toMap
    // base 150000/2 = 75000; inflow 850000*500000/1e6 = 425000 -> stable
    assert(pr === Map(1L -> 500000L, 2L -> 500000L))
  }

  test("pageRank: 3-cycle stays uniform (floor-stable)") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pageRank(e, "src", "dst", "w", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr.values.toSet === Set(333333L))
  }

  test("pageRank: dangling node keeps the teleport base, its mass leaks") {
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pageRank(e, "src", "dst", "w", iterations = 1)
      .as[(Long, Long)].collect().toMap
    // pr0 = 500000 each; node 1 gets only base (no in-edges); node 2 gets
    // base + damped full outflow of node 1
    assert(pr === Map(1L -> 75000L, 2L -> (75000L + 850000L * 500000L / 1000000L)))
  }

  test("pageRank matches an in-memory reference of the same integer recurrence") {
    // deterministic pseudo-random graph: 20 nodes, edge (i, j) with weight
    // (i*7 + j*13) % 5 + 1 for (i*31 + j*17) % 4 == 0
    val edges = for {
      i <- 0L until 20L; j <- 0L until 20L
      if i != j && (i * 31 + j * 17) % 4 == 0
    } yield (i, j, (i * 7 + j * 13) % 5 + 1)
    val got = Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        iterations = 4, dampPpm = 850000L)
      .as[(Long, Long)].collect().toMap

    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to 4) {
      val inflow = edges
        .groupBy(_._2).view
        .mapValues(_.map { case (s, _, w) => pr(s) * w / outw(s) }.sum).toMap
      pr = nodes.map(nd =>
        nd -> ((1000000L - 850000L) / n + 850000L * inflow.getOrElse(nd, 0L) / 1000000L)).toMap
    }
    assert(got === pr)
  }

  test("pageRank rejects non-positive edge weights") {
    val zero = Seq((1L, 2L, 0L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(zero, "src", "dst", "w", iterations = 1)
    }
    assert(ex.getMessage.contains("strictly positive"))
    val neg = Seq((1L, 2L, -3L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRank(neg, "src", "dst", "w", iterations = 1)
    }
  }

  test("pageRank/personalizedPageRank/hits: driver twin == distributed loop") {
    // the gated driver rounds must replay the distributed integer
    // recurrences bit-for-bit on an irregular pseudo-random graph
    // (multi-edges for pageRank, dangling nodes, uneven degrees)
    val e = (0L until 60L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 60, i % 5 + 1), (i % 30, (i * 13 + 2) % 60, 3L)))
      .toDF("src", "dst", "w")
    val prD = Graph.pageRank(e, "src", "dst", "w", iterations = 4)
      .as[(Long, Long)].collect().toMap
    val prX = Graph.pageRankDistributed(e, 4, 850000L, seeds = None)
      .as[(Long, Long)].collect().toMap
    assert(prD === prX)
    val pprD = Graph.personalizedPageRank(
        e, "src", "dst", "w", seeds = Seq(1L, 5L, 9L), iterations = 4)
      .as[(Long, Long)].collect().toMap
    val pprX = Graph.pageRankDistributed(e, 4, 850000L, Some(Seq(1L, 5L, 9L)))
      .as[(Long, Long)].collect().toMap
    assert(pprD === pprX)
    val hD = Graph.hits(e, "src", "dst", iterations = 3)
      .as[(Long, Long, Long)].collect().sorted
    val hX = Graph.hitsDistributed(e.select("src", "dst").distinct(), 3)
      .as[(Long, Long, Long)].collect().sorted
    assert(hD === hX)
  }

  test("pageRank derives an expensive edge join ONCE, not once per iteration") {
    // Build the edge table from a join (the q97 shape: edges are themselves
    // a fact join). After the distributed loop's localCheckpoints the
    // returned plan must read materialized blocks — the edge-derivation
    // join and its source columns must NOT appear anywhere in the
    // iteration lineage.
    val pairs = (0L until 30L).map(i => (i, (i * 11 + 3) % 30)).toDF("a_id", "b_id")
    val weights = (0L until 30L).map(i => (i, i % 4 + 1)).toDF("b_id", "edge_build_weight")
    val edges = pairs.join(weights, Seq("b_id"))
      .select(col("a_id").as("src"), col("b_id").as("dst"), col("edge_build_weight").as("w"))
    val pr = Graph.pageRankDistributed(edges, 3, 850000L, seeds = None)
    val plan = pr.queryExecution.optimizedPlan.toString
    // checkpoint cut the lineage: the derivation join key/weight columns are gone
    assert(!plan.contains("edge_build_weight") && !plan.contains("a_id"),
      s"edge-derivation lineage leaked into the iteration plan:\n$plan")
    // exactly 2 joins per iteration (routed ⋈ pr, nodes ⋈ inflow) — the
    // edge-build join would push the count higher if it were re-derived
    val joins = "(?m)^\\s*[+:]?-?\\s*Join ".r.findAllIn(plan).size
    assert(joins == 2 * 3, s"expected 6 joins in 3-iteration plan, got $joins:\n$plan")
    // and the values still match the closed recurrence on the same graph
    assert(pr.as[(Long, Long)].collect().toMap.values.sum > 0)
  }

  test("pageRank is deterministic under repartitioning") {
    val e = (0L until 50L).flatMap(i => Seq((i, (i * 3) % 50, i % 4 + 1), (i, (i + 7) % 50, 2L)))
      .toDF("src", "dst", "w")
    val a = Graph.pageRankDistributed(e, 3, 850000L, seeds = None)
    val b = Graph.pageRankDistributed(e.repartition(11), 3, 850000L, seeds = None)
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  // ---------------------------------------------------------- triangleCounts

  private def tri(edges: (Long, Long)*) =
    Graph.triangleCounts(edges.toSeq.toDF("s", "d"), "s", "d")
      .as[(Long, Long)].collect().toMap

  test("triangleCounts: K4 — every node sits in 3 of the 4 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4: _*) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: a path has no triangles (empty output)") {
    assert(tri((1L, 2L), (2L, 3L), (3L, 4L)) === Map.empty)
  }

  test("triangleCounts: reversed duplicates and self-loops canonicalize away") {
    // K3 delivered as both directions + a duplicate + a self-loop
    val got = tri((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (1L, 3L), (1L, 1L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: bowtie — shared node counts both triangles") {
    val got = tri((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  // ------------------------------------------------------------------ kCore

  private def core(k: Int, maxRounds: Int = 6)(edges: (Long, Long)*) =
    Graph.kCore(edges.toSeq.toDF("s", "d"), "s", "d", k, maxRounds)
      .as[(Long, Long)].collect().toMap

  test("kCore: a triangle survives 2-core, its tail peels off") {
    val got = core(2)((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: a path cascades to empty under k=2 (multi-round peel)") {
    assert(core(2)((1L, 2L), (2L, 3L), (3L, 4L)) === Map.empty)
  }

  test("kCore: K4 is its own 3-core") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(core(3)(k4: _*) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: exhausted round budget leaves the partial peel (degrees may be < k)") {
    // one round removes nodes 1 and 4; the surviving edge (2,3) would
    // peel next round — the documented converged-iff-all-deg>=k contract
    val got = core(2, maxRounds = 1)((1L, 2L), (2L, 3L), (3L, 4L))
    assert(got === Map(2L -> 1L, 3L -> 1L))
  }

  test("kCore: driver path == distributed loop (multi-round peel, exhausted budget)") {
    // a pseudo-random 20-node graph plus a 6-node tail, which k = 2 peels
    // one node per round from its free end
    val rnd = new scala.util.Random(13)
    val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)) ++
      (100L until 105L).map(i => (i, i + 1)) :+ ((105L, 0L))
    val e = Graph.simpleEdges(edges.toDF("s", "d"), "s", "d")
    // (2, 30) converges after 7 rounds, (2, 3) exhausts its budget, the
    // higher k peel the core itself
    for ((k, maxRounds) <- Seq((2, 30), (2, 3), (7, 6), (8, 6))) {
      val driver = core(k, maxRounds)(edges: _*)
      val dist = Graph.kCoreDistributed(e, k, maxRounds)
        .as[(Long, Long)].collect().toMap
      assert(driver === dist, s"k=$k maxRounds=$maxRounds")
      assert(driver.contains(104L) === (k == 2 && maxRounds == 3),
        s"k=$k maxRounds=$maxRounds: the tail outlives only the 3-round budget")
    }
  }

  // -------------------------------------------------------- ancestorClosure

  private def anc(maxDepth: Int)(edges: (Long, Long)*) =
    Graph.ancestorClosure(edges.toSeq.toDF("c", "p"), "c", "p", maxDepth)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap

  test("ancestorClosure: a 4-level chain closes with min-hop depths") {
    val got = anc(16)((1L, 2L), (2L, 3L), (3L, 4L))
    assert(got === Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (3L, 4L) -> 1L,
      (1L, 3L) -> 2L, (2L, 4L) -> 2L, (1L, 4L) -> 3L))
  }

  test("ancestorClosure: diamond DAG keeps the SHORTEST path depth") {
    // 1 -> 2 -> 4 and 1 -> 4 directly: depth(1,4) must be 1, not 2
    val got = anc(16)((1L, 2L), (2L, 4L), (1L, 4L))
    assert(got((1L, 4L)) === 1L)
  }

  test("ancestorClosure: maxDepth truncates deep chains") {
    val chain = (1L until 10L).map(i => (i, i + 1))
    val got = anc(3)(chain: _*)
    assert(got.values.max === 3L)
    assert(!got.contains((1L, 5L)), "depth-4 ancestor must be cut at maxDepth=3")
  }

  test("ancestorClosure: a cycle fails loudly instead of looping") {
    val ex = intercept[Exception] { anc(8)((1L, 2L), (2L, 3L), (3L, 1L)) }
    assert(ex.getMessage.contains("cycle"),
      s"expected the cycle guard, got: ${ex.getMessage}")
  }

  test("ancestorClosure: a self-edge (length-1 cycle) also fails loudly") {
    val ex = intercept[Exception] { anc(8)((1L, 2L), (3L, 3L)) }
    assert(ex.getMessage.contains("cycle"),
      s"expected the cycle guard on child == parent, got: ${ex.getMessage}")
  }

  // ------------------------------------------------------- labelPropagation

  private def lpa(rounds: Int)(edges: (Long, Long)*) =
    Graph.labelPropagation(edges.toSeq.toDF("s", "d"), "s", "d", rounds)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: two cliques joined by one bridge keep separate labels") {
    // cliques {1,2,3} and {10,11,12} with bridge 3-10: within 3 rounds
    // each clique converges to its own min label; the bridge endpoints'
    // plurality is their clique, not the single cross edge
    val c1 = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val c2 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val got = lpa(3)(c1 ++ c2 :+ ((3L, 10L)): _*)
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    assert(got(1L) !== got(10L), "bridged cliques must stay distinct communities")
  }

  test("labelPropagation: plurality ties break to the SMALLEST label each round") {
    // star center 5 with leaves 1..4: round 1, every leaf sees only the
    // center (label 5); the center sees 4 distinct labels (one vote
    // each) and must take the smallest, 1
    val got = lpa(1)((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L))
    assert(got(5L) === 1L)
    assert((1L to 4L).forall(got(_) === 5L))
  }

  test("labelPropagation is deterministic under repartitioning") {
    val edges = (0L until 300L).map(i => (i % 29, (i * 11 + 5) % 29))
      .filter(e => e._1 != e._2)
    val e = Graph.simpleEdges(edges.toDF("s", "d"), "s", "d")
    val a = Graph.labelPropagationDistributed(e, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.labelPropagationDistributed(e.repartition(13), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("labelPropagation matches a driver-side round simulation on a random graph") {
    val edges = (0L until 400L).map(i => (i % 31, (i * 13 + 7) % 31))
      .filter(e => e._1 != e._2)
    val got = lpa(3)(edges: _*)
    // independent reference: simulate the synchronous rounds directly
    val und = edges.map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = adj.map { case (n, nbrs) =>
        val votes = nbrs.map(labels).groupBy(identity).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === labels)
  }

  test("labelPropagation: driver path == distributed loop, plurality ties included") {
    // the star's center and every node of the 31-cycle graph see only
    // tied votes; the random graph mixes ties with clear pluralities
    val star = (1L to 4L).map(l => (5L, l))
    val cycles = (0L until 400L).map(i => (i % 31, (i * 13 + 7) % 31))
    val rnd = new scala.util.Random(37)
    val random = (1 to 60).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    for ((graph, name) <- Seq(star -> "star", cycles -> "cycles", random -> "random")) {
      val dist = Graph.labelPropagationDistributed(
          Graph.simpleEdges(graph.toDF("s", "d"), "s", "d"), rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(lpa(3)(graph: _*) === dist, name)
    }
  }

  test("ancestorClosure matches a driver-side BFS on a random forest") {
    // random forest: each node's parent has a strictly smaller id
    val rnd = new scala.util.Random(11)
    val edges = (1L until 80L).map(c => (c, rnd.nextLong(c).max(0L)))
    val got = anc(64)(edges: _*)
    val parent = edges.toMap
    // reference: walk each node's parent chain to the root
    def chain(n: Long): Seq[(Long, Long)] = {
      var cur = n; var d = 0L
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      while (parent.contains(cur)) {
        cur = parent(cur); d += 1
        out += (cur -> d)
      }
      out.toSeq
    }
    val want = (1L until 80L).flatMap(n =>
      chain(n).map { case (a, d) => (n, a) -> d }).toMap
    assert(got === want)
  }

  test("triangleCounts matches a brute-force reference on a pseudo-random graph") {
    val edges = (0L until 200L).map(i => (i % 23, (i * 7 + 3) % 23))
      .filter(e => e._1 != e._2)
    val brute = edges.map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val eset = brute.toSet
    val expect = (for {
      Seq(a, b, c) <- (0L until 23L).combinations(3).toSeq
      if eset((a, b)) && eset((b, c)) && eset((a, c))
      n <- Seq(a, b, c)
    } yield n).groupBy(x => x).map { case (n, xs) => n -> xs.size.toLong }
    assert(tri(edges: _*) === expect)
  }

  // ----------------------------------------------- personalizedPageRank

  test("personalizedPageRank: non-seed nodes start at 0 and only gain " +
      "mass through edges; seed-restricted teleport differs from global") {
    import spark.implicits._
    // chain 1 -> 2 -> 3 plus an isolated-ish node 4 -> 1: seeds = {1}
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (4L, 1L, 1L))
      .toDF("s", "d", "w")
    val ppr = Graph.personalizedPageRank(edges, "s", "d", "w",
        seeds = Seq(1L), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 4 has no in-edges and is not a seed -> exactly 0
    assert(ppr(4L) === 0L)
    // the seed holds the teleport base; its successors hold damped mass
    assert(ppr(1L) >= 150000L && ppr(2L) > 0L && ppr(3L) > 0L)
    assert(ppr(2L) > ppr(3L), "mass decays with distance from the seed")
    // a different seed produces a different ranking (vs global PageRank
    // semantics where teleport is uniform)
    val ppr3 = Graph.personalizedPageRank(edges, "s", "d", "w",
        seeds = Seq(3L), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr3(3L) > ppr3(2L))
  }

  test("personalizedPageRank with ALL nodes as seeds equals plain pageRank") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(8).toLong, rnd.nextInt(8).toLong, 1L + rnd.nextInt(3)))
      .toDF("s", "d", "w")
    val nodes = edges.select(col("s")).union(edges.select(col("d")))
      .distinct().collect().map(_.getLong(0)).sorted
    val ppr = Graph.personalizedPageRank(edges, "s", "d", "w",
        seeds = nodes.toSeq, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = Graph.pageRank(edges, "s", "d", "w", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical recurrence when the seed set is the whole node set
    // (base = (1e6-damp)/n both ways)
    assert(ppr === pr)
  }

  // ------------------------------------------------------- randomWalkPairs

  test("randomWalkPairs: chain walks stop at the sink, both walks per node " +
      "replay identically on single-neighbor nodes") {
    import spark.implicits._
    // 1 -> 2 -> 3 (3 is a sink): every walk is forced, so both r-walks
    // from each start produce the same path and pair counts double
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = Graph.randomWalkPairs(edges, "s", "d",
        walkLen = 3, walksPerNode = 2, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // start 1: path [1,2,3] -> pairs (1,2),(1,3),(2,3); start 2: [2,3] ->
    // (2,3); start 3 never starts (only srcs start) — all x2 walks
    assert(got === Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 4L))
  }

  test("randomWalkPairs matches a MessageDigest walk replay on a random " +
      "digraph and is repartition-deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong)).distinct
    def hex8(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.toVector).toMap
    val ref = {
      val paths = for {
        start <- adj.keys.toSeq; r <- 0 to 1
      } yield {
        var path = Vector(start)
        for (p <- 0 until 3) {
          val cur = path.last
          adj.get(cur).foreach { ns =>
            path = path :+ ns((hex8(s"rw:$r:$start:$p:$cur") % ns.size).toInt)
          }
        }
        path
      }
      paths.flatMap { path =>
        for {
          i <- path.indices; j <- path.indices
          if j > i && j - i <= 2
        } yield (path(i), path(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val df = edges.toDF("s", "d")
    val got = Graph.randomWalkPairs(df, "s", "d", 3, 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === ref)
    val again = Graph.randomWalkPairs(df.repartition(7), "s", "d", 3, 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again === ref)
  }

  // ------------------------------------------------------------------ hits

  /** BigInt replica of the L1-normalized integer HITS recurrence. */
  private def hitsRef(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = BigInt(nodes.size)
    var hub = nodes.map(_ -> BigInt(1000000)).toMap
    var auth = Map.empty[Long, BigInt]
    for (_ <- 1 to iters) {
      val araw = nodes.map(v =>
        v -> e.filter(_._2 == v).map(x => hub(x._1)).sum).toMap
      val atot = araw.values.sum
      auth = araw.view.mapValues(x => x * 1000000 * n / atot).toMap
      val hraw = nodes.map(u =>
        u -> e.filter(_._1 == u).map(x => auth(x._2)).sum).toMap
      val htot = hraw.values.sum
      hub = hraw.view.mapValues(x => x * 1000000 * n / htot).toMap
    }
    nodes.map(v => v -> ((hub(v).toLong, auth(v).toLong))).toMap
  }

  test("hits: one-round bipartite hand case — exact closed-form scores") {
    // u1 -> {v1, v2}, u2 -> {v1}; n = 4. araw: v1 = 2e6, v2 = 1e6,
    // atot = 3e6 -> a(v1) = 2666666, a(v2) = 1333333; hraw: u1 = 3999999,
    // u2 = 2666666, htot = 6666665 -> h(u1) = 2400000, h(u2) = 1600000
    val got = Graph.hits(
        Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("s", "d"), "s", "d",
        iterations = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L)._2 === 2666666L && got(11L)._2 === 1333333L)
    assert(got(1L)._1 === 2400000L && got(2L)._1 === 1600000L)
    // pure sources hold no authority; pure sinks hold no hub mass
    assert(got(1L)._2 === 0L && got(10L)._1 === 0L)
  }

  test("hits matches the BigInt reference on a pseudo-random digraph") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)).distinct
    val got = Graph.hits(edges.toDF("s", "d"), "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === hitsRef(edges, 3))
  }

  test("hits is deterministic under repartitioning and duplicate edges") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (1L, 2L))
    val a = Graph.hits(edges.toDF("s", "d"), "s", "d", iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Graph.hitsDistributed(
        edges.distinct.toDF("src", "dst").repartition(7), iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
    assert(a === hitsRef(edges, 2).map { case (n, (h, au)) => (n, h, au) }.toSet)
  }

  // -------------------------------------------------- clusteringCoefficient

  test("clusteringCoefficient: K4 reads 1e6 everywhere, a path reads 0 " +
      "in the middle and the -1 sentinel at degree-1 ends") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got = Graph.clusteringCoefficient(k4.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // K4: deg 3, 3 triangles each -> 2*3/(3*2) = 1
    assert(got === (1L to 4L).map(_ -> ((3L, 3L, 1000000L))).toMap)
    val path = Graph.clusteringCoefficient(
        Seq((1L, 2L), (2L, 3L)).toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(path === Map(1L -> -1L, 2L -> 0L, 3L -> -1L))
    // bowtie: center deg 4 with 2 triangles -> 2*2/(4*3) ppm = 333333
    val bow = Graph.clusteringCoefficient(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
          .toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(bow(3L) === 333333L && bow(1L) === 1000000L)
  }

  // --------------------------------------------------- degreeAssortativity

  test("degreeAssortativity: a star is exactly -1e6, a regular graph " +
      "reads the sentinel, driver Pearson replica on a mixed graph") {
    def r(edges: (Long, Long)*): (Long, Long) = {
      val row = Graph.degreeAssortativity(edges.toSeq.toDF("s", "d"), "s", "d")
        .collect().head
      (row.getLong(0), row.getLong(1))
    }
    // star K1,3: every edge pairs deg 3 with deg 1 -> r = -1 exactly
    assert(r((0L, 1L), (0L, 2L), (0L, 3L)) === ((3L, -1000000L)))
    // K3 is 2-regular: zero degree variance -> sentinel
    assert(r((1L, 2L), (2L, 3L), (1L, 3L)) === ((3L, -2000000L)))
    // mixed graph vs a driver Pearson replica
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
    val (m, got) = r(edges: _*)
    assert(m === 6L)
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val pts = edges.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val n = pts.size.toDouble
    val su = pts.map(_._1).sum.toDouble; val sv = pts.map(_._2).sum.toDouble
    val suv = pts.map(p => p._1 * p._2).sum.toDouble
    val suu = pts.map(p => p._1 * p._1).sum.toDouble
    val svv = pts.map(p => p._2 * p._2).sum.toDouble
    val want = math.round(1e6 * (n * suv - su * sv) /
      math.sqrt((n * suu - su * su) * (n * svv - sv * sv)))
    assert(got === want)
  }

  // ------------------------------------------------------------- adamicAdar

  private def aa(maxDeg: Int = 1000)(edges: (Long, Long)*) =
    Graph.adamicAdar(edges.toSeq.toDF("s", "d"), "s", "d", maxDeg)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("adamicAdar: path 1-2-3 scores the (1,3) wedge through node 2") {
    val got = aa()((1L, 2L), (2L, 3L))
    // only common neighbor is 2 with deg 2: term = round(1e6 / ln 2)
    val t2 = math.round(1e6 / math.log(2.0))
    assert(got === Map((1L, 3L) -> ((1L, t2, 0L))))
  }

  test("adamicAdar: K3 — every pair is an edge sharing the third node") {
    val got = aa()((1L, 2L), (2L, 3L), (1L, 3L))
    val t2 = math.round(1e6 / math.log(2.0))
    assert(got === Map(
      (1L, 2L) -> ((1L, t2, 1L)), (1L, 3L) -> ((1L, t2, 1L)),
      (2L, 3L) -> ((1L, t2, 1L))))
  }

  test("adamicAdar: star hub weights shrink with degree; hub above the " +
      "cap drops its wedges (documented recall trade)") {
    // star: hub 0 connected to 1..4 -> C(4,2) pairs, each through hub deg 4
    val star = (1L to 4L).map(h => (0L, h))
    val got = aa()(star: _*)
    val t4 = math.round(1e6 / math.log(4.0))
    assert(got.size === 6 && got.values.forall(_ === ((1L, t4, 0L))))
    // the same star with maxDeg=3: the hub is capped away, nothing scores
    assert(aa(maxDeg = 3)(star: _*) === Map.empty)
    // degrees stay FULL-graph exact: a capped hub's neighbors keep their
    // true degree in terms they contribute elsewhere
    val mixed = star ++ Seq((1L, 2L)) // 1-2 edge: common neighbor 0 (deg 4)
    val got2 = aa(maxDeg = 3)(mixed: _*)
    // hub 0 capped (deg 4 > 3); nodes 1,2 have deg 2 — pair (a, b) exists
    // only via z in {1, 2} for wedges (0,1)-(1,2) etc.
    val t2 = math.round(1e6 / math.log(2.0))
    assert(got2 === Map(
      (0L, 2L) -> ((1L, t2, 1L)), (0L, 1L) -> ((1L, t2, 1L))))
  }

  test("adamicAdar is repartition-deterministic and matches a driver replica") {
    val edges = (0L until 40L).map(i => (i, (i * 7 + 1) % 40)) ++
      (0L until 20L).map(i => (i, (i + 2) % 40))
    val got = aa()(edges: _*)
    val b = Graph.adamicAdar(edges.toDF("s", "d").repartition(7), "s", "d", 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === b)
    // driver replica with exact integer terms
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbr = und.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)].withDefaultValue((0L, 0L))
    for ((z, ns) <- nbr if ns.size >= 2; a <- ns; b <- ns if a < b) {
      val t = math.round(1e6 / math.log(ns.size.toDouble))
      val (c, s) = expect((a, b)); expect((a, b)) = (c + 1, s + t)
    }
    val gotCore = got.map { case (k, (c, s, _)) => k -> ((c, s)) }
    assert(gotCore === expect.toMap)
    // edge flags match the canonical edge set
    val edgeSet = und.toSet
    got.foreach { case ((a, b), (_, _, f)) =>
      assert(f === (if (edgeSet.contains((a, b))) 1L else 0L))
    }
  }
}

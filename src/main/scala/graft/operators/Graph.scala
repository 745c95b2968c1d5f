package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MaterializeOps

/** Iterative graph algorithms as join/aggregate rounds — the same
  * distributed shape as [[Dedup.connectedComponents]]'s star contraction:
  * each iteration is one equi-join plus one keyed aggregation, so a round
  * costs two shuffles regardless of graph size and no task ever holds
  * more than one node's incident edges.
  */
object Graph {

  /** Weighted PageRank in exact integer micro-units (total mass 10^6),
    * run for a FIXED number of iterations. Per iteration, node d's rank
    * becomes
    *
    *   pr'(d) = (10^6 - dampPpm) div n
    *          + (dampPpm * sum_{(s,d,w)} ((pr(s) * w) div outw(s))) div 10^6
    *
    * — every operation integer, every sum order-independent, so the
    * result is bit-identical at any parallelism and replayable in plain
    * SQL (the q97 oracle unrolls the loop). Floor divisions leak a few
    * micro-units of mass per round (standard for fixed-point PageRank);
    * ranks COMPARE correctly, they just sum to slightly under 10^6.
    * Dangling nodes (no out-edges) keep receiving the teleport base and
    * leak their damped mass, the usual simplification.
    *
    * Fixed iterations instead of convergence detection: PageRank's use in
    * corpus curation (domain authority as a quality prior) needs a
    * deterministic, budget-bounded plan; 3-10 rounds is the standard
    * operating range.
    *
    * Numeric window: pr <= 10^6, so each edge term needs w < 2^43 —
    * weights above ~8e12 (per edge!) must be pre-scaled by the caller;
    * Spark's ANSI overflow makes a breach a hard error, not a wrap.
    *
    * Plan: the projected edge frame is materialized once, so an
    * expensive edge build (q97 joins lineitem⋈orders⋈customer⋈supplier)
    * runs exactly once. A graph of at most [[DriverMaxEdges]] edges with
    * no null field runs its rounds driver-side; a larger one runs
    * [[pageRankDistributed]]: edges carry their source's out-weight (one
    * join, computed once); each round joins current ranks onto edges by
    * source (broadcast when the node table is small), aggregates inflow
    * by destination, and left-joins back onto the node set for the
    * teleport base. The routing table and node set are loop-invariant, so
    * both are eagerly materialized ([[Materialize.checkpoint]]) BEFORE
    * the loop and each round reads the materialized (src, dst, w, outw)
    * blocks instead of re-deriving them from lineage — the
    * [[Dedup.connectedComponents]] pattern. `pr` itself is checkpointed
    * every 10 rounds so deep iteration counts keep a bounded plan.
    *
    * Weights must be strictly positive: w = 0 would divide by a zero
    * out-weight for a node with only zero-weight edges, and w < 0 breaks
    * both the mass accounting and the 2^43 overflow window. Validated in
    * one pass over the checkpointed routing table (in-memory, so the
    * check costs a fraction of a single iteration).
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int = 3, dampPpm: Long = 850000L): DataFrame =
    rank(edges, srcCol, dstCol, weightCol, iterations, dampPpm, seeds = None)

  /** The gate shared by [[pageRank]] and [[personalizedPageRank]]: the
    * projected `(src, dst, w)` frame is materialized once and feeds
    * either the driver loop or the distributed one. PageRank keeps
    * multi-edges, so the frame is not de-duplicated.
    */
  private def rank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, dampPpm: Long, seeds: Option[Seq[Long]]): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    require(dampPpm >= 0 && dampPpm <= 1000000L, "dampPpm in [0, 1e6]")
    val e = edges.select(
        col(srcCol).cast("bigint").as("src"),
        col(dstCol).cast("bigint").as("dst"),
        col(weightCol).cast("bigint").as("w"))
      .materialize
    collectIfSmall(e,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .map(pageRankLocal(e.sparkSession, _, iterations, dampPpm, seeds))
      .getOrElse(pageRankDistributed(e, iterations, dampPpm, seeds))
  }

  /** The distributed [[pageRank]] / [[personalizedPageRank]] loop over a
    * `(src, dst, w)` frame; `seeds = None` is the uniform teleport,
    * `Some(s)` the personalized base.
    */
  private[graft] def pageRankDistributed(
      e: DataFrame, iterations: Int, dampPpm: Long,
      seeds: Option[Seq[Long]]): DataFrame = {
    val nodes = nodesOf(e)
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // (src, dst, w, outw): the per-edge routing table. Eagerly
    // materialized so the out-weight aggregation runs ONCE, not once per
    // iteration.
    val routed = e.join(outw, Seq("src")).materialize
    val n = nodes.count()
    require(n > 0, "graph has no nodes")
    // n > 0 implies e (and hence routed) is non-empty, so min(w) is non-null
    val minW = routed.agg(min(col("w"))).head.getLong(0)
    require(minW > 0,
      s"pageRank requires strictly positive edge weights; found min(w)=$minW")
    // `total` spread over all n nodes, or over the seeds (0 elsewhere)
    def spread(total: Long): Column = seeds match {
      case None => lit(total / n)
      case Some(s) => when(col("node").isin(s: _*), lit(total / s.size)).otherwise(lit(0L))
    }
    val base = spread(1000000L - dampPpm)
    var pr = nodes.select(col("node"), spread(1000000L).as("pr_micro"))
    for (i <- 1 to iterations) {
      val inflow = routed
        .join(pr.select(col("node").as("src"), col("pr_micro")), Seq("src"))
        .select(col("dst"), expr("(pr_micro * w) DIV outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      pr = nodes
        .join(inflow.select(col("dst").as("node"), col("inflow")), Seq("node"), "left")
        .select(col("node"),
          (base + expr(s"($dampPpm * coalesce(inflow, 0L)) DIV 1000000")).as("pr_micro"))
      if (i % 10 == 0 && i < iterations) pr = pr.materialize
    }
    pr
  }

  /** DETERMINISTIC RANDOM-WALK training pairs (the DeepWalk primitive):
    * fixed-length walks from every node with md5-derandomized neighbor
    * choices, emitting the (center, context) skip-gram pairs an
    * embedding model trains on — the graph analog of
    * `FeatureEng.cooccurrencePairs`' session skip-grams. Derandomized
    * the repo way: step p of walk (node, r) picks
    * `nbrs(cur)[ hex8(md5("rw:" r ":" start ":" p ":" cur)) mod deg ]`
    * over the dst-sorted adjacency list, so every engine and rerun
    * generates the SAME corpus of walks (an oracle can replay them).
    * Walks stop early at sink nodes. Pairs are directional (center
    * precedes context within `window` steps) and counted.
    *
    * Scale shape: adjacency lists built once (per-node array bounded by
    * `maxDeg` — hubs truncate to their `maxDeg` smallest neighbors,
    * deterministic, documented); each step is one equi-join of the
    * walk frontier against the adjacency table (walkLen joins total);
    * pair fan-out is walks × walkLen × window. No driver state.
    */
  def randomWalkPairs(
      edges: DataFrame, srcCol: String, dstCol: String,
      walkLen: Int = 3, walksPerNode: Int = 2, window: Int = 2,
      maxDeg: Int = 10000): DataFrame = {
    require(walkLen >= 1 && walkLen <= 10, "walkLen in [1, 10]")
    require(walksPerNode >= 1 && walksPerNode <= 100, "walksPerNode in [1, 100]")
    require(window >= 1 && window <= walkLen, "window in [1, walkLen]")
    require(maxDeg >= 1, "maxDeg >= 1")
    val e = edges.select(col(srcCol).cast("bigint").as("src"),
      col(dstCol).cast("bigint").as("dst")).distinct()
    val adj = e.groupBy(col("src"))
      .agg(slice(sort_array(collect_list(col("dst"))), 1, maxDeg).as("nbrs"))
      .materialize
    var walks = e.select(col("src").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("r"))
      .withColumn("path", array(col("start")))
    for (p <- 0 until walkLen) {
      walks = walks
        .withColumn("cur", element_at(col("path"), -1))
        .join(adj.select(col("src").as("cur"), col("nbrs")), Seq("cur"), "left")
        .withColumn("nxt",
          when(col("nbrs").isNotNull,
            element_at(col("nbrs"),
              (conv(substring(md5(concat(lit("rw:"), col("r"), lit(":"),
                col("start"), lit(":"), lit(p), lit(":"), col("cur"))), 1, 8),
                16, 10).cast("bigint") % size(col("nbrs")) + 1).cast("int"))))
        .withColumn("path",
          when(col("nxt").isNotNull, concat(col("path"), array(col("nxt"))))
            .otherwise(col("path")))
        .drop("cur", "nbrs", "nxt")
    }
    // two sequential explodes over the retained path — no self-join
    walks.select(col("path"), posexplode(col("path")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("path")).as(Seq("j", "b")))
      .filter(col("j") > col("i") && col("j") - col("i") <= window)
      .groupBy(col("a").as("item_a"), col("b").as("item_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** PERSONALIZED PageRank — [[pageRank]] with the teleport restricted
    * to a SEED set: authority "as seen from" the seeds, the similarity/
    * expansion primitive (seed = a trusted-domain list → propagated
    * trust scores; seed = one entity → its neighborhood ranked by
    * multi-hop relatedness, the random-walk recommender). Same exact
    * integer micro-unit recurrence, same per-edge routing table and
    * loop shape; only the base term changes:
    *
    *   base(d) = (10⁶ − dampPpm) DIV |S|  if d ∈ S,  else 0
    *
    * so non-seed mass arrives exclusively through edges. Dangling-node
    * leakage behaves as in [[pageRank]] (mass drains rather than
    * redistributing — documented, oracle-replayable). Seeds must be a
    * driver-known list (bounded — a seed FRAME would need a join; keep
    * ≤ ~10⁴ literals, the `isin` codegen limit).
    */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: Seq[Long], iterations: Int = 3,
      dampPpm: Long = 850000L): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 10000,
      "personalizedPageRank: 1..10000 literal seeds")
    rank(edges, srcCol, dstCol, weightCol, iterations, dampPpm, Some(seeds))
  }

  /** HITS hubs & authorities in exact integer micro-units, run for a
    * FIXED number of iterations — the complementary centrality to
    * [[pageRank]]: PageRank measures where a random surfer accumulates,
    * HITS separates GOOD POINTERS (hubs — a curated link list, a survey
    * paper, an aggregator domain) from GOOD TARGETS (authorities — the
    * canonical page everyone cites). In corpus curation the hub score
    * finds the index/boilerplate pages to deprioritize while the
    * authority score is a quality prior for the documents they point at.
    *
    * Kleinberg's mutual recurrence with L1 (sum) normalization instead of
    * the classical L2 — the float sqrt would break exact cross-engine
    * replay, and L1 preserves the ranking (normalization only rescales):
    *
    *   araw(v) = Σ_{u→v} hub(u)         auth(v) = (araw·10⁶·n) DIV Σaraw
    *   hraw(u) = Σ_{u→v} auth(v)        hub(u)  = (hraw·10⁶·n) DIV Σhraw
    *
    * so scores keep mean ≈ 10⁶ each round and every quantity is an
    * integer — any engine replays the recurrence bit-for-bit. Nodes with
    * no in-edges (out-edges) hold authority (hub) 0. Edges are
    * de-duplicated; a non-empty edge set keeps both normalizers strictly
    * positive (the max-score node is ≥ the mean, and it has an incident
    * edge), so the DIV is total.
    *
    * Numeric window: scores ≤ 10⁶·n, raw sums ≤ 10⁶·n², the normalizer
    * product ≤ 10¹²·n³ — inside decimal(38,0) to n ≈ 2·10⁸ nodes; ANSI
    * overflow raises beyond, never wraps.
    *
    * Plan: per round, TWO join+aggregate passes over the checkpointed
    * edge set (auth then hub) and two 1-row total aggregates crossed back
    * in (broadcast, never collected to the driver) — the [[pageRank]]
    * loop shape with the same per-5-rounds re-checkpoint. A graph of at
    * most [[DriverMaxEdges]] distinct edges runs the same rounds
    * driver-side.
    */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20, "iterations in [1, 20]")
    val e = edges.select(
        col(srcCol).cast("bigint").as("src"),
        col(dstCol).cast("bigint").as("dst"))
      .distinct().materialize
    collectIfSmall(e, LongPairs)
      .map(hitsLocal(e.sparkSession, _, iterations))
      .getOrElse(hitsDistributed(e, iterations))
  }

  /** The distributed [[hits]] loop over a distinct `(src, dst)` frame. */
  private[graft] def hitsDistributed(e: DataFrame, iterations: Int): DataFrame = {
    val nodes = nodesOf(e)
    val n = nodes.count()
    require(n > 0, "hits: graph has no nodes")
    def normalized(raw: DataFrame, keyCol: String, rawCol: String,
        outCol: String): DataFrame = {
      val tot = raw.agg(sum(col(rawCol)).as("tot"))
      nodes.join(raw.select(col(keyCol).as("node"), col(rawCol)), Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"CAST((coalesce($rawCol, CAST(0 AS DECIMAL(38,0))) * 1000000 * $n) DIV tot AS BIGINT)")
            .as(outCol))
    }
    var hub = nodes.select(col("node"), lit(1000000L).as("hub_micro"))
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      val araw = e
        .join(hub.select(col("node").as("src"), col("hub_micro")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("hub_micro").cast("decimal(38,0)")).as("araw"))
      auth = normalized(araw, "dst", "araw", "auth_micro")
      val hraw = e
        .join(auth.select(col("node").as("dst"), col("auth_micro")), Seq("dst"))
        .groupBy(col("src"))
        .agg(sum(col("auth_micro").cast("decimal(38,0)")).as("hraw"))
      hub = normalized(hraw, "src", "hraw", "hub_micro")
      if (i % 5 == 0 && i < iterations) {
        auth = auth.materialize
        hub = hub.materialize
      }
    }
    hub.join(auth, Seq("node"))
  }

  /** Per-node triangle counts on an undirected simple graph. Input edges
    * may arrive in either direction and with duplicates; they are
    * canonicalized to (a < b) and de-duplicated first. Self-loops are
    * dropped. Output: one row per node that participates in ≥ 1
    * triangle, `(node, triangles)`.
    *
    * Algorithm: degree-ordered wedge closure — the standard distributed
    * triangle enumeration (Suri & Vassilvitskii's MR algorithm; also how
    * Trino/Spark GraphFrames count triangles). Every node gets a total
    * order π = (degree, id); edges are oriented π-ascending, so each
    * triangle has exactly ONE node with two outgoing oriented edges and
    * is enumerated exactly once as a wedge (u→v, u→w), π(v) < π(w),
    * closed by the oriented edge (v→w).
    *
    * Why orientation matters at 100 TB: wedge fan-out is Σ_u C(outdeg(u), 2),
    * and π-orientation bounds every out-degree by O(√m) (a node keeps
    * only edges toward HIGHER-degree peers), so the wedge set is O(m^1.5)
    * worst-case instead of Σ C(deg, 2) — a celebrity node with 10^8
    * followers contributes NO wedges from its own adjacency (all its
    * edges point in). Plan: two self-equi-joins on the oriented edge set
    * (wedge build on u, closure probe on (v, w)) — shuffled hash joins on
    * keys Catalyst picks, no all-pairs anywhere.
    */
  def triangleCounts(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangles(simpleEdges(edges, srcCol, dstCol))

  /** [[triangleCounts]] over a [[simpleEdges]] frame, which it reads 3x
    * (degrees, wedges, closure).
    */
  private def triangles(undirected: DataFrame): DataFrame = {
    val deg = degrees(undirected, "d")
    // orient by π = (degree, id): u -> v iff (d_u, u) < (d_v, v)
    val withDeg = undirected
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), Seq("b"))
    // each oriented edge carries its head's π key (dv, v) so wedge legs
    // can be ordered by π — which makes the closing edge's direction
    // KNOWN (π-smaller leg → π-larger leg) and the closure a pure
    // equi-join. An OR-of-directions closure would be a nested-loop join.
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .materialize
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("u"), col("e1.v").as("p"), col("e2.v").as("q"))
    val tri = wedges.join(
        oriented.select(col("u").as("p"), col("v").as("q")), Seq("p", "q"))
      .select(col("u"), col("p"), col("q"))
    tri.select(explode(array(col("u"), col("p"), col("q"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** ADAMIC–ADAR link prediction over the undirected simple graph: for
    * every node pair sharing at least one common neighbor, the score
    *
    *   AA(a, b) = Σ_{z ∈ Γ(a) ∩ Γ(b)} 1 / ln(deg z)
    *
    * in exact integer micro — each term is ONE correctly-rounded f64
    * `round(10⁶ / ln(deg z))` (the q74 per-term ln convention) and the
    * pair score is their integer sum, so any engine reproduces it
    * bit-for-bit. The classical "who should be connected next" signal:
    * co-purchase recommendation candidates, link-spam ring discovery
    * (high AA between unlinked nodes), and the baseline every learned
    * link predictor is benchmarked against. Pairs that are ALREADY edges
    * are emitted with `is_edge = 1` (the evaluation convention: rank
    * non-edges, sanity-check that existing edges score high).
    *
    * Scale shape: pairs are enumerated THROUGH the common neighbor —
    * posting (z → neighbor) joined to itself on z — so cost is
    * Σ_z deg(z)², the wedge count, NOT |V|². Hub nodes above `maxDeg`
    * are dropped from the posting before the join (the q31 df-cap
    * trade, documented recall loss: a pair connected ONLY through
    * super-hubs disappears, and surviving pairs lose the hubs'
    * — tiny, since 1/ln(deg) vanishes as hubs grow — terms). Degrees
    * are computed on the FULL graph first, so the weights are exact
    * even for capped hubs. One degree aggregation, one bounded
    * self-join, one pair aggregation, one left join for the edge flag.
    */
  def adamicAdar(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 1000): DataFrame = {
    require(maxDeg >= 2, "adamicAdar: maxDeg >= 2")
    val undirected = simpleEdges(edges, srcCol, dstCol)
    val post = undirected.select(col("a").as("z"), col("b").as("n"))
      .unionAll(undirected.select(col("b").as("z"), col("a").as("n")))
    val deg = post.groupBy(col("z")).agg(count(lit(1)).as("d"))
    // deg >= 2: a degree-1 node cannot be a common neighbor (and ln 1 = 0)
    val capped = post.join(deg, Seq("z"))
      .filter(col("d") >= 2L && col("d") <= maxDeg.toLong)
      .withColumn("term_micro",
        round(lit(1e6) / log(col("d").cast("double"))).cast("bigint"))
    val pairs = capped.as("l").join(capped.as("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .select(col("l.n").as("id_a"), col("r.n").as("id_b"),
        col("l.term_micro").as("term_micro"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"), sum(col("term_micro")).as("aa_micro"))
    pairs
      .join(undirected.select(col("a").as("id_a"), col("b").as("id_b"),
        lit(1L).as("__e")), Seq("id_a", "id_b"), "left")
      .withColumn("is_edge", coalesce(col("__e"), lit(0L)))
      .drop("__e")
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — how close each node's
    * neighborhood is to a clique: `cc_ppm = (10⁶·2·triangles(v)) DIV
    * (deg(v)·(deg(v)−1))`, exact integers over [[triangleCounts]]'s
    * exact triangle table and the canonical simple-graph degrees.
    * Degree-1 (and isolated-by-canonicalization) nodes read the −1
    * sentinel — the coefficient is undefined, not zero. The
    * community-tightness / spam-ring-density readout next to
    * [[triangleCounts]] and [[kCore]].
    *
    * Scale shape: [[triangleCounts]]'s degree-ordered wedge closure plus
    * one degree aggregation and one node-keyed left join — nothing new
    * scales worse than the triangle pass it composes.
    */
  def clusteringCoefficient(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val undirected = simpleEdges(edges, srcCol, dstCol)
    degrees(undirected, "degree").join(triangles(undirected), Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("cc_ppm",
        when(col("degree") < 2L, lit(-1L))
          .otherwise(expr("(1000000 * 2 * triangles) DIV (degree * (degree - 1))")))
  }

  /** DEGREE ASSORTATIVITY of the undirected simple graph — the Pearson
    * correlation of endpoint degrees over the edge list with each edge
    * counted in BOTH orientations (the standard Newman r): positive =
    * hubs link hubs (social nets), negative = hubs link leaves
    * (the web, biology). Exact decimal moment sums over the symmetric
    * (deg a, deg b) multiset, ONE f64 divide + sqrt at the very end
    * rounded to micro (the q135/q227 convention); a degree-regular
    * graph (zero variance) reads the −2·10⁶ sentinel. One output row:
    * `(n_edges, r_micro)`.
    *
    * Scale shape: one degree aggregation, two node-keyed joins to tag
    * edge endpoints, one 1-row moment reduce — all equi-joins on the
    * node key, no windows.
    */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val undirected = simpleEdges(edges, srcCol, dstCol)
    val deg = degrees(undirected, "d")
    val tagged = undirected
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    // both orientations: (da, db) and (db, da)
    val sym = tagged.select(col("da").as("u"), col("db").as("v"))
      .unionAll(tagged.select(col("db").as("u"), col("da").as("v")))
    val d = (c: String) => col(c).cast("decimal(38,0)")
    sym.agg(count(lit(1)).as("m"),
        sum(d("u")).as("su"), sum(d("v")).as("sv"),
        sum(d("u") * d("v")).as("suv"),
        sum(d("u") * d("u")).as("suu"),
        sum(d("v") * d("v")).as("svv"))
      .select(expr("m DIV 2").as("n_edges"),
        when(expr("m * suu - su * su = 0 OR m * svv - sv * sv = 0"),
          lit(-2000000L))
          .otherwise(expr(
            """CAST(round(1e6 * CAST(m * suv - su * sv AS DOUBLE)
              |  / sqrt(CAST(m * suu - su * su AS DOUBLE)
              |    * CAST(m * svv - sv * sv AS DOUBLE))) AS BIGINT)""".stripMargin))
          .as("r_micro"))
  }

  /** Edge-count gate of the six iterative graph operators ([[pageRank]],
    * [[personalizedPageRank]], [[hits]], [[kCore]], [[labelPropagation]]
    * and [[Dedup.connectedComponents]]): at or below it, their rounds run
    * driver-side off one bounded collect; 10⁶ edges collect as ~24 MB of
    * longs. The driver loops replay the exact integer recurrences, so
    * both paths produce identical results; larger graphs keep the
    * distributed per-round jobs.
    */
  private[operators] val DriverMaxEdges = 1000000L

  /** The rows of the materialized `e` when there are at most
    * [[DriverMaxEdges]] of them and none has a null field (the driver
    * loops have no null semantics); None otherwise. One job counts both,
    * so nothing is collected above the gate.
    */
  private[operators] def collectIfSmall[T](e: DataFrame, enc: Encoder[T]): Option[Array[T]] = {
    val anyNull = e.columns.map(col(_).isNull).reduce(_ || _)
    val probe = e.agg(count(lit(1)), count(when(anyNull, 1))).head()
    if (probe.getLong(0) > DriverMaxEdges || probe.getLong(1) > 0) None
    else Some(e.as(enc).collect())
  }

  private[operators] val LongPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** The simple undirected graph of `edges` as a materialized `(a, b)`
    * frame: self-loops dropped, each edge once with a < b. Every caller
    * reads it more than once, and the caller's edge build (often a
    * self-join) must not run twice.
    */
  private[graft] def simpleEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("bigint").as("x"), col(dstCol).cast("bigint").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
      .materialize

  /** The distinct, materialized `node` ids of a directed `(src, dst)` frame. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()
      .materialize

  /** `(node, <degCol>)` of a [[simpleEdges]] frame. */
  private def degrees(e: DataFrame, degCol: String): DataFrame =
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as(degCol))

  /** Driver twin of the [[pageRank]] / [[personalizedPageRank]] loop:
    * the identical integer recurrence over the collected edge list, with
    * `Math.multiplyExact`/`addExact` standing in for ANSI overflow
    * errors and Java `/` for `DIV` (all quantities are non-negative, so
    * truncation and floor coincide exactly as in the distributed
    * expressions). `seeds = None` is the uniform teleport; `Some(s)` the
    * personalized base.
    */
  private def pageRankLocal(
      spark: org.apache.spark.sql.SparkSession,
      arr: Array[(Long, Long, Long)], iterations: Int, dampPpm: Long,
      seeds: Option[Seq[Long]]): DataFrame = {
    import spark.implicits._
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    val outw = scala.collection.mutable.LongMap.empty[Long]
    arr.foreach { case (s, d, w) =>
      nodes += s; nodes += d
      outw(s) = Math.addExact(outw.getOrElse(s, 0L), w)
    }
    val n = nodes.size.toLong
    require(n > 0, "graph has no nodes")
    val minW = if (arr.isEmpty) 0L else arr.iterator.map(_._3).min
    require(minW > 0,
      s"pageRank requires strictly positive edge weights; found min(w)=$minW")
    // `total` spread over all n nodes, or over the seeds (0 elsewhere):
    // divided by seeds.size (with duplicates, as the distributed literal
    // does), membership via the deduplicated set
    val seedSet = seeds.map(_.toSet)
    def spread(total: Long, v: Long): Long = seedSet match {
      case None => total / n
      case Some(ss) => if (ss.contains(v)) total / seeds.get.size else 0L
    }
    var pr = scala.collection.mutable.LongMap.empty[Long]
    nodes.foreach(v => pr(v) = spread(1000000L, v))
    for (_ <- 1 to iterations) {
      val inflow = scala.collection.mutable.LongMap.empty[Long]
      arr.foreach { case (s, d, w) =>
        val c = Math.multiplyExact(pr(s), w) / outw(s)
        inflow(d) = Math.addExact(inflow.getOrElse(d, 0L), c)
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { v =>
        next(v) = spread(1000000L - dampPpm, v) +
          Math.multiplyExact(dampPpm, inflow.getOrElse(v, 0L)) / 1000000L
      }
      pr = next
    }
    spark.createDataset(nodes.toSeq.map(v => (v, pr(v))))
      .toDF("node", "pr_micro")
  }

  /** Driver twin of the [[hits]] loop: the identical L1-normalized
    * integer recurrence with BigInt standing in for decimal(38,0) (both
    * exact; `/` truncates toward zero — floor for the non-negative
    * quantities here, same as the distributed `DIV`).
    */
  private def hitsLocal(
      spark: org.apache.spark.sql.SparkSession,
      arr: Array[(Long, Long)], iterations: Int): DataFrame = {
    import spark.implicits._
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    arr.foreach { case (s, d) => nodes += s; nodes += d }
    val n = BigInt(nodes.size)
    require(nodes.nonEmpty, "hits: graph has no nodes")
    def normalized(raw: scala.collection.mutable.LongMap[BigInt])
        : scala.collection.mutable.LongMap[Long] = {
      val tot = raw.values.foldLeft(BigInt(0))(_ + _)
      val out = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { v =>
        out(v) = ((raw.getOrElse(v, BigInt(0)) * 1000000 * n) / tot).toLong
      }
      out
    }
    var hub = scala.collection.mutable.LongMap.empty[Long]
    nodes.foreach(v => hub(v) = 1000000L)
    var auth: scala.collection.mutable.LongMap[Long] = null
    for (_ <- 1 to iterations) {
      val araw = scala.collection.mutable.LongMap.empty[BigInt]
      arr.foreach { case (s, d) =>
        araw(d) = araw.getOrElse(d, BigInt(0)) + BigInt(hub(s))
      }
      auth = normalized(araw)
      val hraw = scala.collection.mutable.LongMap.empty[BigInt]
      arr.foreach { case (s, d) =>
        hraw(s) = hraw.getOrElse(s, BigInt(0)) + BigInt(auth(d))
      }
      hub = normalized(hraw)
    }
    spark.createDataset(nodes.toSeq.map(v => (v, hub(v), auth(v))))
      .toDF("node", "hub_micro", "auth_micro")
  }

  /** k-core pruning: iteratively peel nodes of degree < k (with their
    * incident edges) from the undirected simple graph until stable or
    * `maxRounds` rounds — the standard dense-subgraph filter (spam-farm /
    * bot-ring isolation in link curation; every member of the surviving
    * subgraph has ≥ k surviving neighbors). Returns the final graph's
    * `(node, deg)` — all degrees ≥ k iff peeling converged within the
    * budget.
    *
    * Peeling is MONOTONE (a stable graph stays stable), so early-stop on
    * an unchanged edge count is invisible next to a fixed-round replay —
    * the oracle unrolls `maxRounds` rounds flat and matches whenever the
    * graph stabilizes inside the budget; extra replayed rounds are
    * no-ops. Each round costs one degree aggregation plus one
    * semi-join-shaped edge filter (two shuffles), with the shrinking edge
    * set re-checkpointed per round ([[Dedup.connectedComponents]]'s
    * loop pattern); the convergence probe reads the checkpointed count,
    * a bounded driver action. A graph of at most [[DriverMaxEdges]]
    * canonical edges runs the same rounds driver-side.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 6): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1 && maxRounds <= 30, "maxRounds in [1, 30]")
    val e = simpleEdges(edges, srcCol, dstCol)
    collectIfSmall(e, LongPairs)
      .map(kCoreLocal(e.sparkSession, _, k, maxRounds))
      .getOrElse(kCoreDistributed(e, k, maxRounds))
  }

  /** Driver twin of [[kCoreDistributed]]: the same degree-peel rounds,
    * early stop on a stable edge count, and final `(node, deg)` output.
    */
  private def kCoreLocal(
      spark: org.apache.spark.sql.SparkSession,
      arr: Array[(Long, Long)], k: Int, maxRounds: Int): DataFrame = {
    import spark.implicits._
    def degreesOf(es: Array[(Long, Long)]) = {
      val deg = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1L
        deg(b) = deg.getOrElse(b, 0L) + 1L
      }
      deg
    }
    var cur = arr
    var stable = false
    var round = 0
    while (!stable && round < maxRounds && cur.nonEmpty) {
      val deg = degreesOf(cur)
      val next = cur.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      stable = next.length == cur.length
      cur = next
      round += 1
    }
    spark.createDataset(degreesOf(cur).toSeq).toDF("node", "deg")
  }

  /** The distributed [[kCore]] loop over a [[simpleEdges]] frame. */
  private[graft] def kCoreDistributed(
      edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    var e = edges
    var n = e.count()
    var stable = false
    var round = 0
    while (!stable && round < maxRounds && n > 0) {
      val keep = degrees(e, "d").filter(col("d") >= k).select(col("node"))
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "leftsemi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "leftsemi")
        .select(col("a"), col("b"))
        .materialize
      val n2 = e.count()
      stable = n2 == n
      n = n2
      round += 1
    }
    degrees(e, "deg")
  }

  /** Transitive ancestor closure of a child→parent hierarchy (category
    * trees, org charts, domain hierarchies): returns `(node, ancestor,
    * depth)` for every ancestor within `maxDepth` hops. Doubling
    * construction: each round joins the closure to ITSELF (frontier
    * depth d + closure depth ≤ d), so depth-k ancestors appear after
    * ⌈log₂ k⌉ rounds, not k — at 100 TB a 1000-level hierarchy closes
    * in 10 joins. Cycles are the caller's bug: require() fails if any
    * node is its own ancestor (a cycle would otherwise loop to
    * maxDepth silently).
    *
    * Per round one equi-join + distinct on the closure so far, both
    * checkpointed — the kCore loop-invariant pattern.
    */
  def ancestorClosure(
      edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = 16): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 1024, "maxDepth in [1, 1024]")
    // self-edges (child == parent) are length-1 cycles: keep them so the
    // closing require fails loudly, instead of silently dropping them
    var closure = edges.select(col(childCol).cast("bigint").as("node"),
        col(parentCol).cast("bigint").as("ancestor"))
      .distinct()
      .withColumn("depth", lit(1L))
      .materialize
    var depthReached = 1L
    var grew = true
    while (grew && depthReached < maxDepth) {
      val next = closure.as("l")
        .join(closure.as("r"), col("l.ancestor") === col("r.node"))
        .select(col("l.node").as("node"), col("r.ancestor").as("ancestor"),
          (col("l.depth") + col("r.depth")).as("depth"))
        .filter(col("depth") <= maxDepth)
      // keep the SHORTEST path per (node, ancestor) — depth is
      // well-defined for trees/DAGs-with-unique-paths; for multi-path
      // DAGs this is min-hop distance
      val merged = closure.unionByName(next)
        .groupBy(col("node"), col("ancestor")).agg(min(col("depth")).as("depth"))
        .materialize
      val before = closure.count()
      val after = merged.count()
      closure = merged
      grew = after > before
      depthReached = depthReached * 2
    }
    require(closure.filter(col("node") === col("ancestor")).isEmpty,
      "ancestorClosure: cycle detected (a node is its own ancestor)")
    closure
  }

  /** Synchronous plurality label propagation (community detection) for a
    * FIXED number of rounds, fully deterministic: labels start as node
    * ids; each round every node adopts its neighbors' PLURALITY label,
    * ties broken to the SMALLEST label (the (count desc, label asc)
    * rule) — so every round is an exact integer computation any engine
    * replays (the oracle unrolls the rounds in CTEs, the
    * kCore/PageRank pattern). Unlike [[Dedup.connectedComponents]]'s
    * min-label contraction, plurality voting finds DENSE communities
    * inside a connected component — the co-purchase clustering /
    * spam-ring grouping primitive. Fixed rounds because sync LPA can
    * oscillate on bipartite-ish structure; a fixed budget is
    * deterministic and is how curation pipelines run it.
    *
    * Per round: one equi-join of the (loop-invariant, checkpointed)
    * adjacency onto current labels + two keyed aggregations (vote count,
    * then per-node argmax via lexicographic struct-min) — 3 shuffles of
    * the edge set regardless of graph size; labels re-checkpoint every
    * round, so the plan never deepens. Isolated nodes never appear in
    * edges and keep their own label by construction of the output join.
    * A graph of at most [[DriverMaxEdges]] canonical edges runs the same
    * rounds driver-side.
    */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds in [1, 20]")
    val e = simpleEdges(edges, srcCol, dstCol)
    collectIfSmall(e, LongPairs)
      .map(labelPropagationLocal(e.sparkSession, _, rounds))
      .getOrElse(labelPropagationDistributed(e, rounds))
  }

  /** Driver twin of [[labelPropagationDistributed]]: the same synchronous
    * plurality vote with (votes desc, label asc) ties and the same round
    * count.
    */
  private def labelPropagationLocal(
      spark: org.apache.spark.sql.SparkSession,
      arr: Array[(Long, Long)], rounds: Int): DataFrame = {
    import spark.implicits._
    val nbrs = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(x: Long, y: Long): Unit =
      nbrs.getOrElseUpdate(x,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += y
    arr.foreach { case (a, b) => add(a, b); add(b, a) }
    var labels = scala.collection.mutable.LongMap.empty[Long]
    nbrs.foreachKey(nd => labels(nd) = nd)
    for (_ <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      nbrs.foreach { case (nd, ns) =>
        val votes = scala.collection.mutable.LongMap.empty[Long]
        ns.foreach { nb =>
          val l = labels(nb); votes(l) = votes.getOrElse(l, 0L) + 1L
        }
        var bestLabel = Long.MaxValue
        var bestVotes = -1L
        votes.foreach { case (l, v) =>
          if (v > bestVotes || (v == bestVotes && l < bestLabel)) {
            bestLabel = l; bestVotes = v
          }
        }
        next(nd) = bestLabel
      }
      labels = next
    }
    spark.createDataset(labels.toSeq).toDF("node", "label")
  }

  /** The distributed [[labelPropagation]] loop over a [[simpleEdges]]
    * frame.
    */
  private[graft] def labelPropagationDistributed(
      e: DataFrame, rounds: Int): DataFrame = {
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
      .materialize
    val nodes = adj.select(col("node")).distinct().materialize
    var labels = nodes.withColumn("label", col("node")).materialize
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("votes"))
        // argmax by (votes desc, label asc) == lexicographic min of
        // (-votes, label); struct ordering is field-by-field
        .groupBy(col("node"))
        .agg(min(struct((-col("votes")).as("nv"), col("label"))).as("best"))
        .select(col("node"), col("best.label").as("label"))
        .materialize
    }
    labels
  }
}

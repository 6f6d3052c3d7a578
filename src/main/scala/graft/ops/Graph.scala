package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components. Every loop
  * here cuts, caches and hands off its frames through [[Stage]].
  */
object Graph {

  /** Node-count ceiling for the dual-regime broadcasts shared by
    * [[pageRank]]/[[personalizedPageRank]], [[pageRankConverged]] and
    * [[bfsHops]] (ADVICE r13: one definition, not three literals) —
    * ≈64 MB of (long, long) rows, comfortably under the 8 GB
    * broadcast cap and sized to executor memory, not to this box.
    */
  private[graft] val BroadcastMaxNodes = 4000000L

  /** Edge-count floor below which [[pageRank]]'s broadcast regime is
    * not worth its per-round build jobs (≈128 MB exchanged per round;
    * see pageRankImpl's r14 gate).
    */
  private[graft] val BroadcastMinEdges = 8000000L

  /** PageRank in FIXED-POINT integer arithmetic — every rank is a
    * BIGINT in `unit`-ths (default 10⁻¹² units), every step is
    * integer multiply / truncating `div`, so the result is
    * bit-identical on any engine, any partitioning, any cluster size.
    * Floating-point PageRank cannot give that contract: the per-node
    * Σ of neighbor contributions is a partition-order-dependent
    * double sum, and cross-engine `0.85 * x` rounding differs from
    * `(x * 85) / 100`. Truncation loses ≤ 1 unit-quantum per edge per
    * round — immaterial at 10⁻¹² resolution, and the determinism buys
    * an oracle-checkable (and incrementally-diffable) rank table.
    *
    *   r₀(v)   = unit                      (the "1.0 per node" form)
    *   rᵢ₊₁(v) = unit·(den−num)/den + (num · Σ_{u→v} rᵢ(u) div deg(u)) div den
    *
    * with num/den the damping rational (85/100 ≈ the classic 0.85).
    *
    * Scale shape per round: one equi-join of edges to (deg, rank) on
    * src, one hash aggregation on dst, one left join back to nodes —
    * all shuffles keyed on node ids, no driver collection, lineage
    * truncated per round. Edges and degrees are computed once and
    * persisted. Overflow bound: a node's incoming sum s is bounded by
    * the TOTAL rank mass, ≤ n_nodes × unit (multi-hop concentration
    * can funnel nearly all mass into one node — max-indeg is NOT the
    * bound), so the constructor requires n_nodes × unit ≤
    * Long.MaxValue (~9·10⁶ nodes at the default unit; shrink `unit`
    * for larger graphs — 10⁻⁹ units still dwarf PageRank's useful
    * resolution at 10⁹ nodes). The damped term is evaluated as
    * (s div den)·num + ((s mod den)·num) div den — identical to
    * (s·num) div den for truncating division on non-negatives, but
    * never forms the ×num intermediate, so it cannot wrap for any
    * in-range s. Spark's non-ANSI BIGINT arithmetic wraps silently;
    * both guards exist because a wrapped rank still looks plausible.
    *
    * `edges` is DIRECTED (src → dst); pass both directions for an
    * undirected graph. Parallel duplicate edges should be
    * de-duplicated by the caller (they'd count double). Dangling
    * nodes (no out-edges) appear as rank sinks only; their mass
    * truncates away rather than redistributing — the conventional
    * simplification, mirrored exactly by the oracle.
    *
    * Returns (node, rank) with rank in unit-ths, one row per node
    * that appears as src or dst. The returned frame is persisted;
    * the caller owns `.unpersist()`.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingNum: Long = 85, dampingDen: Long = 100,
               unit: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iters, dampingNum,
      dampingDen, unit)

  /** PERSONALIZED PageRank: teleport mass returns only to `seeds`
    * (one `node` column) instead of uniformly — rank becomes
    * "importance as seen FROM the seed set", the standard
    * quality-propagation / trust-rank tool (seed a few vetted
    * documents, rank the corpus by seeded reachability). Same
    * fixed-point BIGINT arithmetic and per-round shape as
    * [[pageRank]]; the only changes are r₀ (unit on seeds, 0
    * elsewhere) and the restart term (seeds only). Non-seed sinks
    * lose their mass by truncation exactly as the uniform variant
    * does.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame, iters: Int,
                           dampingNum: Long = 85, dampingDen: Long = 100,
                           unit: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, Some(seeds), iters, dampingNum,
      dampingDen, unit)

  /** The cached inputs of the PageRank loops: the (src, dst) edge
    * frame, out-degrees, the node set and its count.
    */
  private def rankInputs(edges: DataFrame, srcCol: String, dstCol: String,
                         unit: Long): (DataFrame, DataFrame, DataFrame, Long) = {
    val e = Stage.cached(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val deg = Stage.cached(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val nodes = Stage.cached(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    val nNodes = nodes.count()
    // total-mass overflow canary: any node's incoming sum is ≤ the
    // total rank mass ≤ nNodes·unit; past Long.MaxValue the BIGINT
    // sum would wrap silently into a plausible-looking wrong rank.
    require(nNodes <= Long.MaxValue / unit,
      s"nNodes ($nNodes) × unit ($unit) exceeds Long range — shrink unit")
    (e, deg, nodes, nNodes)
  }

  private def pageRankImpl(edges: DataFrame, srcCol: String,
                           dstCol: String, seedsOpt: Option[DataFrame],
                           iters: Int, dampingNum: Long, dampingDen: Long,
                           unit: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping must be a proper fraction: $dampingNum/$dampingDen")
    // Rounds chain through roots (Stage.rounds): the whole iteration
    // runs under ONE action, the hand-off count, instead of paying an
    // action's scheduler/job floor `iters` times (the floor, not the
    // arithmetic, dominated the sf0.1 bench: 4 jobs × 5 rounds ≈
    // whole seconds of fixed overhead). Every intermediate round is
    // consumed exactly once (by the next round), so skipping the
    // per-round cache loses no work; e/deg/nodes are persisted and
    // get cached by their first evaluating stage, then reused by
    // all later rounds of the same job.
    val (e, deg, nodes, nNodes) = rankInputs(edges, srcCol, dstCol, unit)
    val base = (unit * (dampingDen - dampingNum)) / dampingDen
    // Personalized variant: a seed flag rides the node frame — r₀ and
    // the restart term are unit·[seed] instead of uniform. The seed
    // set is |seeds| ids joined once onto the |nodes| frame, so the
    // per-round shape is unchanged.
    val nodesFlagged = Stage.cached(seedsOpt match {
      case None => nodes.withColumn("__seed", lit(1L))
      case Some(s) =>
        val sd = s.select(col("node").cast("long").as("node"))
          .distinct().withColumn("__seed", lit(1L))
        nodes.join(sd, Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), lit(0L)).as("__seed"))
    })
    // Broadcast regime (r13, the triangleCount dual-regime pattern):
    // the per-round contribution frame rd is |nodes| narrow rows, but
    // it hangs off a rooted rank frame, whose size estimate (its source
    // plan's: a join's is the product of its inputs') is useless, so
    // the planner SMJ'd every round — exchanging AND
    // sorting the EDGE frame once per round (profiled at sf0.1: one
    // ~23 MB edge exchange per round, the round's dominant stage; at
    // 100 TB it would dwarf everything else). nNodes is already known
    // here: below the threshold, force broadcast(rd) — the edge frame
    // is then never shuffled or sorted, each round is one map-side
    // join + one node-keyed aggregation exchange of narrow rows.
    // Past the threshold the shuffle path stands (the 100 TB regime,
    // where no executor can hold the rank table).
    //
    // r14 second gate: the broadcast is only worth paying for when
    // the edge frame it keeps in place is actually big. Each
    // broadcast(rd)/broadcast(sums) is materialized by its own BUILD
    // JOB, so the regime trades the fully-LAZY shuffle chain (all
    // `iters` rounds pipeline into ONE job) for ~4 scheduler-floor
    // jobs per round. At sf0.1 (≈0.5M edges, 23 MB per-round
    // exchange) the floors cost more than the exchange they remove —
    // the r13 driver bench regressed graph_ppr_parts 0.89× — while
    // at the regime's design point (huge edge frame, ≤4M nodes) the
    // exchange dominates any fixed cost. Gate on the edge count,
    // already computable from the persisted edge frame for one cheap
    // cached-scan job: below BroadcastMinEdges (≈128 MB/round
    // exchanged) the lazy shuffle chain is measurably the faster plan.
    val bcastNodes = nNodes <= BroadcastMaxNodes &&
      e.count() >= BroadcastMinEdges
    val r0 = nodesFlagged.select(col("node"), (col("__seed") * lit(unit)).as("r"))
    val last = Stage.rounds(r0, iters) { r =>
      // Per-node contribution r div deg is computed on the NODE-sized
      // frame first (one narrow join), so the edge set — the only
      // big frame here — is joined exactly once per round. Joining
      // edges to deg and r separately shipped the edge set through
      // two join operators; deg ⋈ r is |nodes| rows and AQE
      // broadcasts the result onto the edge scan when it fits.
      val rd = r.withColumnRenamed("node", "src").join(deg, "src")
        .select(col("src"), expr("r div deg").as("c"))
      val rdJ = if (bcastNodes) broadcast(rd) else rd
      val contrib = e.join(rdJ, "src").select(col("dst").as("node"), col("c"))
      val sums = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      // (s div den)·num + ((s mod den)·num) div den ≡ (s·num) div den
      // on non-negatives, without the ×num intermediate (wraps at
      // s > Long.MaxValue/num in the naive form)
      val damped = s"(coalesce(s, 0L) div ${dampingDen}L) * ${dampingNum}L" +
        s" + ((coalesce(s, 0L) % ${dampingDen}L) * ${dampingNum}L)" +
        s" div ${dampingDen}L"
      nodesFlagged.join(
          if (bcastNodes) broadcast(sums) else sums, Seq("node"), "left")
        .select(col("node"),
          (col("__seed") * lit(base) + expr(damped)).as("r"))
    }
    Stage.handOff(last, e, deg, nodes, nodesFlagged)
  }

  /** Convergence-gated [[pageRank]] (VERDICT r12 #5, completing r11
    * #5's "and/or pagerank" half): stop as soon as the total L1 rank
    * movement Σ_v |r_t(v) − r_{t−1}(v)| drops below
    * `epsPerNodeUnits · n_nodes` instead of always paying `maxIters`
    * rounds — the production stopping rule — while staying
    * bit-replayable by a fixed-unroll oracle.
    *
    * Replayability is simpler than the LPA parity argument: the
    * fixed-point BIGINT arithmetic is fully deterministic, so an
    * oracle that unrolls all `maxIters` rounds, computes the SAME L1
    * deltas at the SAME `checkEvery` boundaries, and selects the
    * first boundary under threshold reproduces both the exit round
    * and that round's exact ranks — in either regime (early exit, or
    * no convergence by maxIters ⇒ both sides surface round maxIters).
    *
    * Per-round shape: the edge join + dst aggregate of [[pageRank]],
    * with the previous rank riding the aggregate as a zero-count
    * tagged row (own=1) in the contribution union — the
    * [[labelPropagationConverged]] idiom — so carrying p1 costs no
    * extra join. Rounds run through [[Stage.untilStable]] in lazy
    * chunks of `checkEvery` (one action per chunk); the stability test
    * is that action: one DECIMAL(38,0) aggregate over the persisted
    * node-sized boundary frame (the L1 delta is bounded by 2·n·unit,
    * which can exceed Long range exactly when n·unit is near it).
    *
    * Returns (node, r, rounds_run): r = the fixed-point rank at exit,
    * rounds_run < maxIters PROVES the early exit fired. Persisted;
    * caller owns `.unpersist()`.
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        maxIters: Int, epsPerNodeUnits: Long,
                        checkEvery: Int = 2, dampingNum: Long = 85,
                        dampingDen: Long = 100,
                        unit: Long = 1000000000000L): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    require(checkEvery >= 1 && maxIters % checkEvery == 0,
      s"maxIters must be a multiple of checkEvery: $maxIters/$checkEvery")
    require(epsPerNodeUnits >= 0, s"epsPerNodeUnits: $epsPerNodeUnits")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping must be a proper fraction: $dampingNum/$dampingDen")
    val (e, deg, nodes, nNodes) = rankInputs(edges, srcCol, dstCol, unit)
    val base = (unit * (dampingDen - dampingNum)) / dampingDen
    val epsTotal = BigDecimal(nNodes) * BigDecimal(epsPerNodeUnits)
    // p1 = rank one round back; the init value never reaches a test
    // (the first check happens after >= 1 round, which overwrites it)
    val l0 = Stage.cached(nodes.select(col("node"), lit(unit).as("r"),
      lit(unit).as("p1")))
    // broadcast regime below the node threshold (r13) — same
    // rationale and threshold as pageRankImpl: the rooted rank frame
    // defeats size estimation, so the planner otherwise SMJ'd
    // and re-exchanged + sorted the EDGE frame every round. The gate
    // is the node count ALONE: unlike pageRankImpl there is no
    // BroadcastMinEdges floor, so any graph with at most
    // BroadcastMaxNodes nodes takes the broadcast regime.
    val bcastNodes = nNodes <= BroadcastMaxNodes
    val damped = s"(s div ${dampingDen}L) * ${dampingNum}L" +
      s" + ((s % ${dampingDen}L) * ${dampingNum}L) div ${dampingDen}L"
    // the L1-delta aggregate is the chunk's one action: it
    // materializes the persisted boundary as it scans. A null delta is
    // the empty graph: trivially stable.
    val l1Delta = (b: DataFrame) => b.agg(sum(abs(col("r") - col("p1"))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head().getDecimal(0)
    val res = Stage.untilStable(l0, maxIters, checkEvery)(l1Delta)(
      (_, d) => Option(d).forall(BigDecimal(_) < epsTotal)) { (cur, _) =>
      val rd = cur.select(col("node").as("src"), col("r")).join(deg, "src")
        .select(col("src"), expr("r div deg").as("c"))
      val rdJ = if (bcastNodes) broadcast(rd) else rd
      val contrib = e.join(rdJ, "src")
        .select(col("dst").as("node"), col("c"),
          lit(0L).as("own"), lit(0L).as("p"))
      val tagged = contrib.unionAll(cur.select(col("node"),
          lit(0L).as("c"), lit(1L).as("own"), col("r").as("p")))
      // every node has its own=1 row, so sum(c) covers in-degree-0
      // nodes with s = 0 (no left join against the node frame).
      // No explicit repartition here (r14): pinning the exchange
      // before the aggregate hoisted the whole agg ABOVE it, so the
      // full edge-sized contribution stream was shuffled every
      // round; letting groupBy insert its own exchange restores the
      // map-side partial aggregate (guide §2.3 "aggregate before
      // you shuffle") — only node-sized partials cross the wire.
      tagged.groupBy(col("node"))
        .agg(sum(col("c")).as("s"),
          max(when(col("own") === 1L, col("p"))).as("pp"))
        .select(col("node"), (lit(base) + expr(damped)).as("r"),
          col("pp").as("p1"))
    }
    Stage.handOff(res.frame.select(col("node"), col("r"),
        lit(res.rounds.toLong).as("rounds_run")).orderBy(col("node")),
      res.frame, e, deg, nodes)
  }

  /** Exact global triangle count of an undirected simple graph — the
    * standard cohesion metric (spam/link-farm detection, community
    * density). Input edges may be directed/duplicated; they are
    * normalized (u < v) and de-duplicated first.
    *
    * Shape matters at scale: the naive three-way edge self-join
    * generates every PATH of length 2 — a single degree-10⁶ hub makes
    * 10¹² wedges. This is the degree-ORIENTED form (Cohen's
    * MapReduce-classic): each edge points from its (degree, id)-lower
    * endpoint to the higher, making the graph a DAG where every
    * node's out-degree is O(√m) — so wedges (out-out pairs) total
    * O(m^1.5) WORST case regardless of hub skew, the provably optimal
    * join-based bound. Each triangle then has EXACTLY one wedge
    * (at its orientation-middle node) closed by one oriented edge —
    * counted once via a semi-join, no post-dedup. Three hash
    * shuffles (degree agg, wedge join, closing semi-join), no
    * driver state.
    *
    * Returns a 1-row frame (n_triangles BIGINT). Triangle count is
    * orientation-invariant, so an oracle may use the simpler id-only
    * ordering and must agree.
    *
    * Execution shape: the oriented edge frame feeds every later leg,
    * so it is computed ONCE and persisted (un-persisted lineage re-ran
    * the dedup + two degree joins per leg — measured 3× the whole
    * query's cost), and the degree table rides a broadcast join onto
    * the edges (it is |nodes| narrow rows — never worth a shuffle of
    * the edge set). Two counting regimes:
    *
    *   - Broadcastable (≤ `broadcastMaxEdges` oriented edges): the
    *     EDGE-ITERATOR form — group the oriented edges into per-node
    *     sorted out-adjacency arrays (O(√m) long by orientation, so
    *     the array frame is ~the edge set's size), explode it back
    *     into edges that carry N⁺(s), broadcast it once to look up
    *     N⁺(t), and sum |N⁺(s) ∩ N⁺(t)| per edge. Each triangle is
    *     counted exactly once, at its lowest-oriented base edge. The O(m^1.5) wedge
    *     stream (tens of millions of rows at sf0.1) NEVER
    *     materializes — measured 2× faster than even a fully
    *     broadcast wedge+semi-join pipeline.
    *   - Past the threshold: the wedge + closing-semi-join form over
    *     shuffled hash joins keyed on node ids — the 100 TB path,
    *     where no executor holds the edge set; O(m^1.5) work but
    *     only ever id-pair rows in flight.
    *
    * The count is computed eagerly so the persisted frame can be
    * freed before returning.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    broadcastMaxEdges: Long = 16000000L,
                    normRepartition: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // persisted: deg's two-scan union AND the orientation join all
    // read the normalized edge frame — unpersisted lineage re-ran the
    // caller's whole edge construction once per consumer (r8: the
    // edge build, not the counting, dominated the wall)
    val rawUnd = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("__u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("__v"))
      .where(col("__u") =!= col("__v"))
    // normalization-dedup strategy is SHAPE-DEPENDENT (both sides
    // measured, ×300 stage timing + sf0.1 A/B — SCALING.md round-11
    // "Near-unique keys, second site"): when pair keys
    // repeat (sf0.1 co-purchase stream, ~5× duplication) the default
    // map-side partial aggregate shrinks the exchange and wins
    // (4.9 vs 6.3 s); when keys are near-unique at spill scale the
    // partial table is pure spill and raw repartition-then-distinct
    // wins 3.6× (×300: 280 vs 77 s). Callers feeding a massive
    // low-duplication pair stream set normRepartition = true.
    val und = Stage.cached(if (normRepartition)
        rawUnd.repartition(col("__u"), col("__v")).distinct()
      else rawUnd.distinct())
    val deg = und.select(col("__u").as("__n"))
      .union(und.select(col("__v")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val bdeg = broadcast(deg)
    val withDeg = und
      .join(bdeg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
      .join(bdeg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
    val lowFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("__u") < col("__v"))
    val oriented = Stage.cached(withDeg.select(
        when(lowFirst, col("__u")).otherwise(col("__v")).as("s"),
        when(lowFirst, col("__v")).otherwise(col("__u")).as("t")))
    val nEdges = oriented.count()
    val n = if (nEdges <= broadcastMaxEdges) {
      // ONE adjacency build and ONE broadcast: the probe side is the
      // adjacency frame itself — exploding N⁺(s) yields every oriented
      // edge (s, t) with N⁺(s) already attached — so only N⁺(t) is
      // looked up. Joining the edge scan against two aliases of one
      // broadcast frame built the relation twice: adaptive execution
      // wraps each scan of a cached frame in its own query stage, and
      // stage ids make the two exchanges canonically different, so
      // exchange reuse never fired. The lazy cache shares the
      // aggregate between the two sides.
      val adj = Stage.cached(oriented.groupBy(col("s").as("__n"))
        .agg(sort_array(collect_list(col("t"))).as("__nbr")))
      val tri = adj
        .select(col("__nbr").as("__ns"), explode(col("__nbr")).as("__t"))
        .join(broadcast(adj), col("__t") === col("__n"), "left")
        .select(coalesce(
            size(array_intersect(col("__ns"), col("__nbr"))), lit(0))
          .cast("long").as("__tri"))
        .agg(sum(col("__tri")).as("n_triangles")).head().getLong(0)
      adj.unpersist()
      tri
    } else {
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
        .select(col("e1.s").as("a"), col("e2.t").as("c"))
      wedges.join(oriented.as("e3"),
          col("a") === col("e3.s") && col("c") === col("e3.t"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
        .head().getLong(0)
    }
    oriented.unpersist(); und.unpersist()
    Seq(n).toDF("n_triangles")
  }

  /** The k-CORE of an undirected simple graph: the maximal subgraph
    * in which every node has degree ≥ k — the standard "dense kernel"
    * extractor (spam/link-farm cores in web graphs, bot rings in
    * interaction graphs, the hub set worth special-casing before an
    * expensive all-pairs pass). Computed by the classic peel: drop
    * all nodes with degree < k, recompute degrees, repeat until the
    * edge set is stable.
    *
    * Scale shape per round: one degree aggregate + two semi-joins,
    * all keyed on node ids; the edge frame only ever SHRINKS, each
    * round is materialized (RDD-rooted) so the iterative plan never
    * grows, and the fixed point is detected from the persisted
    * frame's count — bounded driver metadata, like [[pageRank]]'s
    * round counter. Rounds are data-dependent: hub-and-spoke graphs
    * peel in a handful, a bare path peels O(n) layers — `maxIters`
    * bounds the walk and a non-converged exit returns the current
    * (superset) peel state; callers wanting a guaranteed fixed point
    * raise it and re-run (the round count is cheap to log).
    *
    * Returns (node, degree) rows of the k-core, degree measured IN
    * the core. Empty when no k-core exists. Persisted; the caller owns
    * `.unpersist()`.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val e0 = Stage.cached(bothWays(edges, srcCol, dstCol))
    val e = peelRounds(e0, e0.count(), k, maxIters).frame
    Stage.handOff(
      e.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
        .orderBy(col("node")), e)
  }

  /** The k-core peel loop shared by [[kCore]] and
    * [[corenessDecomposition]]: drop all nodes with degree < k from
    * the DIRECTED-both-ways edge frame `e0` (persisted, `m0` rows; it
    * is unpersisted once superseded), recompute, repeat until the edge
    * count is stable or `maxIters` rounds ran. Returns the final
    * persisted frame and its row count — EXACTLY `maxIters` rounds of
    * peeling when unconverged (each skipped round after convergence is
    * an identity filter), which is what lets a fixed-round unrolled
    * oracle match the early-exiting loop bit-for-bit in either regime.
    *
    * Rounds run in CHUNKS of `checkEvery` ([[Stage.untilStable]]):
    * one count at the chunk boundary materializes them all under a
    * single action — per-round counts paid the scheduler/job floor
    * `maxIters` times, which dominated the sf0.1 wall (VERDICT r8;
    * same diagnosis as pageRank's one-job rewrite). Each round is
    * still persisted (its frame is read twice — degree aggregate +
    * semi-join — and cache hits WITHIN the chunk job), so peak
    * storage is checkEvery×|E| of a shrinking frame. Stability
    * detection moves to chunk granularity: counts are monotone
    * non-increasing, so an unchanged chunk-boundary count means every
    * round inside was an identity filter — the early exit fires at
    * most checkEvery−1 cheap identity rounds late, on an
    * already-peeled (smallest) frame. A sub-k node always owns ≥1
    * directed edge row, so edge-count stability IS node stability
    * (isolated nodes have no rows); an emptied edge set is final.
    */
  private def peelRounds(e0: DataFrame, m0: Long, k: Int, maxIters: Int,
                         checkEvery: Int = 4): Stage.Stable[Long] =
    Stage.untilStable(e0, maxIters, checkEvery, cacheRounds = true)(
        _.count())((m, nm) => nm == 0 || m.contains(nm), start = Some(m0)) {
      (cur, _) =>
        val keep = cur.groupBy(col("u")).agg(count(lit(1)).as("__d"))
          .where(col("__d") >= k).select(col("u").as("__keep"))
        cur.join(keep, cur("u") === col("__keep"), "left_semi")
          .join(keep, cur("v") === col("__keep"), "left_semi")
    }

  /** Full CORENESS decomposition capped at `kMax`: for every node of
    * the undirected simple graph, the largest k ≤ kMax such that the
    * node survives in the k-core — the whole density hierarchy in one
    * result instead of [[kCore]]'s single slice (curation pipelines
    * use the level sets directly: coreness 1 ⇒ periphery, rising
    * levels ⇒ increasingly dense kernels worth special-casing).
    * Nodes in the kMax-core report kMax ("kMax or denser") — the cap
    * is part of the contract, bounding both work and the unrolled
    * oracle, and callers wanting the exact top read it as "≥ kMax".
    *
    * Computed by LAYERED peeling: the k-core of the (k−1)-core is the
    * k-core of the whole graph, so each level peels the previous
    * level's (monotonically shrinking) edge frame — total work is the
    * sum of level sizes, dominated by the first level, never
    * kMax × |E|. Per level the node membership frame (|nodes| narrow
    * rows) is materialized before the next peel supersedes the edges;
    * coreness is then one union + max-aggregate keyed on node id.
    * `maxItersPerLevel` bounds each level's cascade; an unconverged
    * level returns its round-`maxItersPerLevel` superset state, which
    * a fixed-round oracle reproduces exactly (see [[peelRounds]]).
    *
    * Returns (node, coreness ∈ [1, kMax]) for every node with at
    * least one edge, persisted; the caller owns `.unpersist()`.
    */
  def corenessDecomposition(edges: DataFrame, srcCol: String,
                            dstCol: String, kMax: Int,
                            maxItersPerLevel: Int = 64): DataFrame = {
    require(kMax >= 1, s"kMax must be >= 1: $kMax")
    require(maxItersPerLevel >= 1,
      s"maxItersPerLevel must be >= 1: $maxItersPerLevel")
    var e = Stage.cached(bothWays(edges, srcCol, dstCol))
    // handed off NOW — the edge frame it reads dies next level
    def membership(frame: DataFrame, k: Int): DataFrame =
      Stage.handOff(frame.select(col("u").as("node")).distinct()
        .withColumn("coreness", lit(k.toLong)))
    val levels = scala.collection.mutable.ArrayBuffer(membership(e, 1))
    var k = 2
    var m = e.count() // each level's count comes from its peel's last job
    while (m > 0 && k <= kMax) {
      val peeled = peelRounds(e, m, k, maxItersPerLevel)
      e = peeled.frame
      m = peeled.value
      if (m > 0) levels += membership(e, k)
      k += 1
    }
    e.unpersist()
    Stage.handOff(levels.reduce(_ union _)
      .groupBy(col("node")).agg(max(col("coreness")).as("coreness"))
      .orderBy(col("node")), levels.toSeq: _*)
  }

  /** `edges` as an undirected simple graph listed both ways: a (u, v)
    * row for each direction of every distinct non-loop edge.
    */
  private def bothWays(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b"), col("a")))
  }

  /** Label bound of the packed argmax in [[labelRound]]: ids < 2³¹. */
  private val LabelShift = 1L << 31

  /** The edge frame of [[labelPropagation]] and
    * [[labelPropagationConverged]]: [[bothWays]], cached hash-partitioned
    * and sorted on the neighbor end `v`, after checking the node ids
    * against [[LabelShift]]. The caller owns it.
    */
  private[graft] def labelEdges(edges: DataFrame, srcCol: String,
                                dstCol: String): DataFrame = {
    val parts = Tuning.sessionShufflePartitions(edges.sparkSession)
    val e = Stage.cached(bothWays(edges, srcCol, dstCol)
      .repartition(parts, col("v")).sortWithinPartitions(col("v")))
    val maxId = e.agg(coalesce(max(col("u")), lit(-1L))).head().getLong(0)
    require(maxId < LabelShift,
      s"node ids must be < 2^31 for the packed argmax: max id $maxId")
    e
  }

  /** One synchronous [[labelPropagation]] round over [[labelEdges]]
    * `e`: every node of `l` (node, lab) takes its neighbors' most
    * frequent label, ties toward the smallest.
    */
  private[graft] def labelRound(e: DataFrame)(l: DataFrame): DataFrame = {
    val nbr = e.join(l.withColumnRenamed("node", "v"), "v")
      .select(col("u").as("node"), col("lab"))
    val cnt = nbr.groupBy(col("node"), col("lab"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("node"))
      .agg(max(col("c") * lit(LabelShift) + (lit(LabelShift - 1) - col("lab")))
        .as("p"))
      .select(col("node"), (lit(LabelShift - 1) - (col("p") % lit(LabelShift)))
        .as("lab"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007), made DETERMINISTIC: labels start as node ids, and
    * each round every node adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label — the
    * published algorithm's random tie-break is replaced by a total
    * order, because a community assignment that differs run-to-run
    * is unusable as a curation signal (and un-oracle-checkable).
    * Runs EXACTLY `iters` synchronous rounds, converged or not:
    * synchronous LPA can 2-cycle on bipartite-ish structure, so a
    * convergence test may never fire, while a fixed-round contract
    * is what an unrolled oracle replays bit-for-bit (the same
    * discipline as [[kCore]]'s peel).
    *
    * Scale shape per round — TWO exchanges total, neither
    * edge-frame-sized twice (r11 rework; was four):
    * 1. the |nodes|-row label frame exchanges to meet the edge
    *    frame ([[labelEdges]]), a cached root pre-partitioned and
    *    pre-sorted on the neighbor end (`v`) — the root keeps that
    *    partitioning and ordering, so the join never re-exchanges or
    *    re-sorts the big side (GraphSpec pins this);
    * 2. one `repartition(node)` exchange carries the raw
    *    (node, label) pairs, and BOTH aggregates ride it: the
    *    (node, label) count and the per-node argmax are each
    *    satisfied by hashpartitioning(node) (grouping keys ⊇
    *    partitioning keys), so they run partition-local as
    *    codegen'd HashAggregates with no further exchange.
    * The argmax is a single `max` over a packed long — count·2³¹ +
    * (2³¹−1−label) — the hard_negatives_pool trick: no sort, no
    * window, and NOT `mode()` (the r10 A/B measured the
    * TypedImperativeAggregate 2.3× worse — SCALING.md). Rounds chain
    * through roots ([[Stage.rounds]]) exactly like [[pageRank]], so
    * the whole iteration runs under ONE action. Node ids must fit [0, 2³¹) for the packing (checked);
    * counts are ≤ n < 2³¹ by the same bound.
    *
    * `edges` may be directed/duplicated; normalized to an undirected
    * simple graph first. Returns (node, community) where community
    * is the winning label (a member node id), one row per node with
    * ≥ 1 edge. Persisted; the caller owns `.unpersist()`.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = labelEdges(edges, srcCol, dstCol)
    // both directions are present, so distinct u covers every node
    val l0 = e.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node"))
    val l = Stage.rounds(l0, iters)(labelRound(e))
    Stage.handOff(
      l.select(col("node"), col("lab").as("community")).orderBy(col("node")),
      e)
  }

  /** Convergence-gated [[labelPropagation]] (VERDICT r11 #5): stop as
    * soon as the dynamics are STABLE instead of always paying
    * `maxIters` rounds — the production contract — while staying
    * replayable by a fixed-round unrolled oracle.
    *
    * "Stable" is period ≤ 2, NOT a fixed point: synchronous LPA
    * provably never fixes on many graphs (an isolated edge swaps its
    * two labels forever — measured on the repeat≥3 co-purchase graph,
    * where zero-change never fires through round 20 while l_r = l_{r−2}
    * holds from round 4), so the deployable test is label equality at
    * distance 2. The oracle argument is a parity induction: if
    * l_R = l_{R−2} then determinism gives l_{t+2} = l_t for every
    * t ≥ R−2, so with R and `maxIters` both EVEN, the exit labels
    * l_R equal the full-unroll labels l_maxIters, and the per-node
    * oscillation flag (l_R ≠ l_{R−1}) equals (l_M ≠ l_{M−1}) —
    * bit-for-bit replayable in either regime (early exit, or no
    * stability by maxIters ⇒ both sides run exactly maxIters rounds).
    * Hence the evenness requirements on both knobs.
    *
    * Each label row carries the previous two labels (p1, p2); the
    * previous label rides each round's own aggregate as a zero-count
    * tagged row in the (node, lab) union (own=1, c=0) rather than a
    * second join against the previous frame — one consumer per round
    * keeps the in-chunk lazy chain linear. Scale shape per round is
    * [[labelPropagation]]'s TWO exchanges (the tagged union adds
    * |nodes| rows to an edge-sized exchange — noise). Rounds run
    * through [[Stage.untilStable]] in lazy chunks of `checkEvery`
    * (one action per chunk); the stability test is that action: one count
    * of unstable nodes over the persisted node-sized boundary frame.
    *
    * Returns (node, community, osc, rounds_run): community = the
    * label at exit (= at maxIters), osc = 1 iff the node was still
    * alternating at exit (its community is one phase of a 2-cycle —
    * callers break the tie however they like; the smaller of the two
    * phases' labels is the common choice), rounds_run = the exit
    * boundary (< maxIters PROVES the early exit fired). Persisted;
    * caller owns `.unpersist()`.
    */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
                                dstCol: String, maxIters: Int,
                                checkEvery: Int = 2): DataFrame = {
    require(maxIters >= 2 && maxIters % 2 == 0,
      s"maxIters must be even and >= 2 for the period-2 parity: $maxIters")
    require(checkEvery >= 2 && checkEvery % 2 == 0,
      s"checkEvery must be even for the period-2 parity: $checkEvery")
    require(maxIters % checkEvery == 0,
      s"maxIters must be a multiple of checkEvery: $maxIters/$checkEvery")
    val e = labelEdges(edges, srcCol, dstCol)
    // p1/p2 = labels one/two rounds back; init values never reach a
    // stability test (first check is at round 2, where p2 is l0)
    val l0 = Stage.cached(e.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node"))
      .withColumn("p1", col("node"))
      .withColumn("p2", col("node")))
    // period <= 2 iff the boundary labels equal two rounds back
    val unstable = (b: DataFrame) =>
      b.agg(count(when(col("lab") =!= col("p2"), 1))).head().getLong(0)
    val res = Stage.untilStable(l0, maxIters, checkEvery)(unstable)(
      (_, n) => n == 0) { (cur, _) =>
      val nbr = e.join(cur.select(col("node").as("v"), col("lab")), "v")
        .select(col("u").as("node"), col("lab"),
          lit(1L).as("c"), lit(0L).as("own"), lit(0L).as("p1t"))
      val tagged = nbr.unionAll(cur.select(col("node"), col("lab"),
        lit(0L).as("c"), lit(1L).as("own"), col("p1").as("p1t")))
      val cnt = tagged.groupBy(col("node"), col("lab"))
        .agg(sum(col("c")).as("c"), max(col("own")).as("own"),
          max(col("p1t")).as("p1t"))
      cnt.groupBy(col("node"))
        .agg(max(when(col("c") > 0L,
            col("c") * lit(LabelShift) + (lit(LabelShift - 1) - col("lab"))))
          .as("p"),
          max(when(col("own") === 1L, col("lab"))).as("old"),
          max(when(col("own") === 1L, col("p1t"))).as("p1old"))
        .select(col("node"),
          (lit(LabelShift - 1) - (col("p") % lit(LabelShift))).as("lab"),
          col("old").as("p1"), col("p1old").as("p2"))
    }
    val l = res.frame
    Stage.handOff(
      l.select(col("node"), col("lab").as("community"),
          (col("lab") =!= col("p1")).cast("long").as("osc"),
          lit(res.rounds.toLong).as("rounds_run"))
        .orderBy(col("node")), l, e)
  }

  /** BFS hop distances from a seed set — fixed-round frontier
    * expansion, the Pregel primitive behind reachability, influence
    * radius, and "how far is everything from the seeds" audits.
    *
    * Each round is one frontier⋈edges join + one anti-join against
    * the settled set: the frontier SHRINKS as the reachable set
    * saturates, so total work is O(maxHops · m) worst-case and
    * usually far less; the settled set is persisted per round
    * ([[Stage.untilStable]] with cached rounds) because two
    * consumers (anti-join + union) read it, and the frontier is a lazy
    * root of it. Fixed `maxHops` — no early-exit count per round, one
    * chunk that never tests stability — keeps the whole expansion ONE
    * action and makes the unrolled SQL oracle replay the loop exactly;
    * beyond-horizon nodes are simply absent from the result (callers
    * report them as unreachable-at-k). Persisted; the caller owns
    * `.unpersist()`.
    *
    * Output: (node, d) — hop distance 0..maxHops for every node
    * reached, each node exactly once at its FIRST discovery hop.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, maxHops: Int,
              broadcastMaxNodes: Long = BroadcastMaxNodes): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = Stage.cached(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    // Broadcast regime below the node threshold (r13, the pageRankImpl
    // pattern): the frontier and settled frames are node-bounded but
    // rooted, so the planner SMJ'd — exchanging and sorting the
    // EDGE frame once per hop. One distinct count over the cached
    // edges gates it; past the threshold the shuffle path stands.
    // r14 (ADVICE r13): the broadcast frames hold REACHED nodes —
    // every dst plus the seed set itself — so seed-only nodes must be
    // counted too, or a caller passing a huge seed set over a sparse
    // edge frame could broadcast far above the gate's intent.
    val nNodes = e.select(col("dst"))
      .union(seeds.select(col("node").cast("long")))
      .distinct().count()
    val bcastNodes = nNodes <= broadcastMaxNodes
    val dist0 = Stage.cached(seeds.select(col("node").cast("long").as("node"))
      .distinct().withColumn("d", lit(0L)))
    val res = Stage.untilStable(dist0, maxHops, maxHops, cacheRounds = true)(
        _.count())(Stage.never) { (dist, round) =>
      val h = round.index
      val frontier = Stage.root(
        dist.where(col("d") === (h - 1).toLong).select(col("node")))
      val frontJ = if (bcastNodes)
        broadcast(frontier.withColumnRenamed("node", "src"))
      else frontier.withColumnRenamed("node", "src")
      val nbrs = e.join(frontJ, "src")
        .select(col("dst").as("node")).distinct()
      val distJ = if (bcastNodes) broadcast(dist.select(col("node")))
        else dist.select(col("node"))
      val fresh = nbrs.join(distJ, Seq("node"), "left_anti")
        .withColumn("d", lit(h.toLong))
      dist.unionByName(fresh)
    }
    e.unpersist()
    res.frame
  }
}

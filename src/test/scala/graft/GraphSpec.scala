package graft

import org.apache.spark.rdd.GraftRddBridge
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import graft.ops.{Graph, Stage}

class GraphSpec extends SparkSpec with IterationContract {
  import spark.implicits._

  private val Unit1 = 1000000000000L

  test("pageRank: symmetric cycle converges to equal ranks (mass conserved)") {
    // 4-cycle, both directions: perfectly symmetric, so every node
    // keeps exactly unit rank at every iteration (deg=2 division is
    // exact for the even unit)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val und = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(und, "src", "dst", iters = 5)
    val ranks = r.as[(Long, Long)].collect().toMap
    r.unpersist()
    assert(ranks.size == 4 && ranks.values.forall(_ == Unit1), s"$ranks")
  }

  test("pageRank: star center dominates the leaves") {
    val leaves = (2L to 11L)
    val und = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)))
      .toDF("src", "dst")
    val r = Graph.pageRank(und, "src", "dst", iters = 5)
    val ranks = r.as[(Long, Long)].collect().toMap
    r.unpersist()
    val center = ranks(1L)
    assert(leaves.forall(l => ranks(l) < center),
      s"center must outrank every leaf: $ranks")
    // every leaf is symmetric — identical ranks
    assert(leaves.map(ranks).toSet.size == 1)
  }

  test("personalizedPageRank: all-nodes seed set equals uniform pageRank; seed locality holds") {
    val leaves = (2L to 11L)
    val und = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)))
      .toDF("src", "dst")
    // seeding EVERY node makes the restart term uniform — must
    // reproduce plain pageRank bit-for-bit
    val allNodes = (1L to 11L).toDF("node")
    val uni = Graph.pageRank(und, "src", "dst", iters = 5)
    val ppr = Graph.personalizedPageRank(und, "src", "dst", allNodes, iters = 5)
    val u = uni.as[(Long, Long)].collect().toMap
    val p = ppr.as[(Long, Long)].collect().toMap
    uni.unpersist(); ppr.unpersist()
    assert(p == u, s"all-seed PPR must equal uniform: ${p.toSeq.sorted} vs ${u.toSeq.sorted}")
    // seed node 1 of a path 1-2-3-4 plus a DISJOINT pair 5-6: the
    // disconnected component receives no restart and no flow, so its
    // rank must be exactly 0 — the defining PPR locality property
    // (uniform pageRank gives every node base mass); nearer-to-seed
    // beats the far end (the path parity-oscillates, so compare
    // endpoints, not the full chain)
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val seeded = Graph.personalizedPageRank(path, "src", "dst",
      Seq(1L).toDF("node"), iters = 8)
    val s = seeded.as[(Long, Long)].collect().toMap
    seeded.unpersist()
    assert(s(5L) == 0L && s(6L) == 0L,
      s"mass must not reach a component without seeds: $s")
    assert(s(1L) > s(4L) && s(3L) > s(4L) && s.values.forall(_ >= 0L),
      s"seeded side must dominate the far end: $s")
  }

  test("triangleCount: known counts on K4, K4 minus an edge, and a path") {
    def tri(pairs: Seq[(Long, Long)]): Long = {
      val r = Graph.triangleCount(pairs.toDF("src", "dst"), "src", "dst")
      r.as[Long].head()
    }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) == 4)
    assert(tri(k4.filterNot(_ == ((3L, 4L)))) == 2)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0)
    // normalization: duplicated + reversed + self-loop edges collapse
    val messy = k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (2L, 3L))
    assert(tri(messy) == 4)
  }

  test("triangleCount: broadcast adj-intersect and shuffled wedge regimes agree") {
    // overlapping 8-cliques plus deterministic chords — nontrivial
    // count; force the shuffle fallback with broadcastMaxEdges = 0
    val cliques = for {
      b <- 0L until 20L; i <- 0L until 8L; j <- (i + 1) until 8L
    } yield (b * 6 + i, b * 6 + j)
    val chords = (1L to 500L).map(i => (i % 97, (i * 13) % 97))
    val edges = (cliques ++ chords).toDF("src", "dst")
    val fast = Graph.triangleCount(edges, "src", "dst").as[Long].head()
    val shuffled = Graph.triangleCount(edges, "src", "dst",
      broadcastMaxEdges = 0L).as[Long].head()
    assert(fast == shuffled, s"adj-intersect $fast != wedge $shuffled")
    assert(fast > 0)
  }

  test("triangleCount builds its adjacency once and broadcasts it once") {
    val edges = (for {
      b <- 0L until 20L; i <- 0L until 8L; j <- (i + 1) until 8L
    } yield (b * 6 + i, b * 6 + j)).toDF("src", "dst")
    val counting = Inspect.executions(spark)((action, _) => action == "head")(
      Graph.triangleCount(edges, "src", "dst")).head
    // the counting job's own operators, through its adaptive stages but
    // not into the cached frames it scans
    object Aqe extends AdaptiveSparkPlanHelper
    val plan = counting.executedPlan
    val ops = Inspect.operators(Aqe.collect(plan) { case p => p.nodeName }.mkString("\n"))
    assert(ops.count(_ == "BroadcastExchange") == 1, ops.mkString(", "))
    assert(ops.count(_ == "ObjectHashAggregate") == 0, ops.mkString(", "))
    // both sides read the one adjacency cache
    val caches = Aqe.collect(plan) { case t: InMemoryTableScanExec => t.relation.cacheBuilder }
    assert(caches.size == 2 && caches.distinct.size == 1, ops.mkString(", "))
  }

  test("pageRank is partitioning-independent (bit-identical fixed point)") {
    val edges = (1L to 400L).map(i => (i, (i * 7) % 97 + 1)).toDF("src", "dst")
    val r1 = Graph.pageRank(edges, "src", "dst", iters = 4)
    val a = r1.as[(Long, Long)].collect().toSet
    r1.unpersist()
    val r2 = Graph.pageRank(edges.repartition(13), "src", "dst", iters = 4)
    val b = r2.as[(Long, Long)].collect().toSet
    r2.unpersist()
    assert(a == b)
  }

  // local reference peel for kCore checks
  private def bruteKCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.filter(p => p._1 != p._2)
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, nb) if nb.size < k => n }.toSet
      changed = drop.nonEmpty
      adj = (adj -- drop).map { case (n, nb) => n -> (nb -- drop) }
        .filter(_._2.nonEmpty)
    }
    adj.map { case (n, nb) => n -> nb.size }
  }

  test("kCore: clique keeps everyone, pendants peel, path needs multi-round cascade") {
    def core(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val r = Graph.kCore(pairs.toDF("src", "dst"), "src", "dst", k)
      val m = r.as[(Long, Long)].collect().toMap
      r.unpersist()
      m
    }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(core(k4, 3) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(core(k4, 4) == Map.empty)
    // K4 with a pendant chain hanging off node 1: chain peels, K4 stays
    val pend = k4 ++ Seq((1L, 5L), (5L, 6L), (6L, 7L))
    assert(core(pend, 2).keySet == Set(1L, 2L, 3L, 4L))
    // a 12-path has no 2-core and needs ~n/2 cascading peel rounds
    val path = (1L until 12L).map(i => (i, i + 1))
    assert(core(path, 2) == Map.empty)
  }

  test("kCore matches brute-force peel on random graphs, any partitioning") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    for (k <- Seq(2, 3, 4)) {
      val want = bruteKCore(pairs, k).map { case (n, d) => n -> d.toLong }
      val r = Graph.kCore(pairs.toDF("src", "dst").repartition(7),
        "src", "dst", k)
      val got = r.as[(Long, Long)].collect().toMap
      r.unpersist()
      assert(got == want, s"k=$k")
    }
  }

  test("corenessDecomposition matches per-k brute cores, caps at kMax") {
    def decompose(pairs: Seq[(Long, Long)], kMax: Int): Map[Long, Long] = {
      val r = Graph.corenessDecomposition(
        pairs.toDF("src", "dst").repartition(5), "src", "dst", kMax)
      val m = r.as[(Long, Long)].collect().toMap
      r.unpersist()
      m
    }
    // K4 + pendant chain: clique coreness 3, chain coreness 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pend = k4 ++ Seq((1L, 5L), (5L, 6L), (6L, 7L))
    assert(decompose(pend, 4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 1L))
    // cap: with kMax=2 the clique reports 2 ("2 or denser")
    assert(decompose(pend, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L,
      5L -> 1L, 6L -> 1L, 7L -> 1L))
    // random graph: coreness(v) == max k whose brute k-core keeps v
    val rnd = new scala.util.Random(47)
    val pairs = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val kMax = 5
    val want = (1 to kMax).flatMap(k => bruteKCore(pairs, k).keys.map(_ -> k))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).max.toLong }
    assert(decompose(pairs, kMax) == want)
  }

  // local reference: synchronous LPA, min-label tie-break, over the
  // normalized undirected simple graph
  private def bruteLpa(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = pairs.filter(p => p._1 != p._2)
      .map(p => (p._1 min p._2, p._1 max p._2)).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lab = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lab).map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  private def runLpa(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val r = Graph.labelPropagation(
      pairs.toDF("src", "dst").repartition(5), "src", "dst", iters)
    val m = r.as[(Long, Long)].collect().toMap
    r.unpersist()
    m
  }

  test("labelPropagation: two triangles joined by a bridge split into two communities") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = runLpa(pairs, iters = 4)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"$got")
    assert(got == bruteLpa(pairs, 4))
  }

  test("labelPropagation matches the brute sync reference on random graphs") {
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(120)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      for (iters <- Seq(1, 3)) {
        assert(runLpa(pairs, iters) == bruteLpa(pairs, iters),
          s"trial=$trial iters=$iters")
      }
    }
  }

  test("labelPropagation is partitioning-independent") {
    val rnd = new scala.util.Random(59)
    val pairs = Seq.fill(100)(
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
    val a = runLpa(pairs, 3)
    val r2 = Graph.labelPropagation(
      pairs.toDF("src", "dst").repartition(17), "src", "dst", 3)
    val b = r2.as[(Long, Long)].collect().toMap
    r2.unpersist()
    assert(a == b)
  }

  test("labelPropagationConverged: period-2 exit on an isolated edge, " +
    "fixed-point exit on a triangle, labels match the full unroll") {
    // triangle 1-2-3 fixes (all adopt label 1 in round 1); isolated
    // edge 10-11 swaps labels FOREVER (the synchronous 2-cycle that
    // makes zero-change detection unusable as an exit test)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
    val e = pairs.toDF("src", "dst").repartition(5)
    val out = Graph.labelPropagationConverged(e, "src", "dst",
      maxIters = 8, checkEvery = 2)
    val rows = out.as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out.unpersist()
    // triangle: all on community 1, not oscillating
    assert(Seq(1L, 2L, 3L).forall(n => rows(n)._1 == 1L && rows(n)._2 == 0L))
    // isolated edge: both oscillate; community = one 2-cycle phase,
    // which by the parity contract is the label after an EVEN number
    // of rounds = each node's own id (swapped twice = home)
    assert(rows(10L) == ((10L, 1L, rows(10L)._3)))
    assert(rows(11L) == ((11L, 1L, rows(11L)._3)))
    // the triangle reaches its fixed point at round 2 (so l2 ≠ l0 —
    // nodes 2,3 changed — but l4 = l2): the exit fires at boundary 4,
    // well before the cap of 8
    assert(rows.values.map(_._3).toSet == Set(4L))
    // exit labels equal the fixed-round run at maxIters (parity)
    val full = Graph.labelPropagation(
      pairs.toDF("src", "dst"), "src", "dst", iters = 8)
    val fullMap = full.as[(Long, Long)].collect().toMap
    full.unpersist()
    assert(rows.view.mapValues(_._1).toMap == fullMap)
  }

  test("labelPropagationConverged: unstable-by-cap regime runs exactly " +
    "maxIters and still matches the full unroll") {
    // 4-cycle with a pendant per corner mixes slowly enough that the
    // first boundaries see change; whatever the regime, labels must
    // equal the fixed-round contract at maxIters (the oracle identity)
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (1L, 5L), (2L, 6L), (3L, 7L), (4L, 8L))
    val out = Graph.labelPropagationConverged(
      ring.toDF("src", "dst"), "src", "dst", maxIters = 4, checkEvery = 2)
    val got = out.as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val roundsRun = out.as[(Long, Long, Long, Long)].collect().head._4
    out.unpersist()
    val full = Graph.labelPropagation(
      ring.toDF("src", "dst"), "src", "dst", iters = 4)
    val fullMap = full.as[(Long, Long)].collect().toMap
    full.unpersist()
    assert(got == fullMap, s"roundsRun=$roundsRun")
  }

  test("pageRankConverged: zero-delta exit on a symmetric cycle at the " +
    "first boundary; ranks stay at unit") {
    // 4-cycle both directions: every round reproduces unit exactly,
    // so the first checked boundary sees L1 delta 0 and exits
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val und = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val out = Graph.pageRankConverged(und, "src", "dst",
      maxIters = 8, epsPerNodeUnits = 1L, checkEvery = 2)
    val rows = out.as[(Long, Long, Long)].collect()
    out.unpersist()
    assert(rows.length == 4)
    assert(rows.forall(_._2 == Unit1), rows.mkString(","))
    assert(rows.forall(_._3 == 2L), "exit must fire at the first boundary")
  }

  test("pageRankConverged: early exit ranks equal fixed-round pageRank " +
    "at the exit round; eps=0 runs the full cap") {
    val leaves = (2L to 11L)
    val star = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)))
      .toDF("src", "dst")
    // generous eps: exits before the cap; the replay contract is that
    // the surfaced ranks ARE pageRank(iters = rounds_run). The star
    // is BIPARTITE, so the oscillating mass decays at only 0.85/round
    // — eps must sit above 0.85^cap for the early exit to reach it.
    val conv = Graph.pageRankConverged(star, "src", "dst",
      maxIters = 20, epsPerNodeUnits = Unit1 / 10, checkEvery = 2)
    val rows = conv.as[(Long, Long, Long)].collect()
    conv.unpersist()
    val roundsRun = rows.head._3
    assert(rows.forall(_._3 == roundsRun))
    assert(roundsRun < 20L && roundsRun % 2 == 0, s"roundsRun=$roundsRun")
    val fixed = Graph.pageRank(star, "src", "dst", iters = roundsRun.toInt)
    val fm = fixed.as[(Long, Long)].collect().toMap
    fixed.unpersist()
    assert(rows.map(r => r._1 -> r._2).toMap == fm)
    // eps = 0: delta < 0 never holds, so the cap regime runs exactly
    // maxIters and matches the fixed-round run at maxIters
    val capped = Graph.pageRankConverged(star, "src", "dst",
      maxIters = 4, epsPerNodeUnits = 0L, checkEvery = 2)
    val cr = capped.as[(Long, Long, Long)].collect()
    capped.unpersist()
    assert(cr.forall(_._3 == 4L))
    val fixed4 = Graph.pageRank(star, "src", "dst", iters = 4)
    val fm4 = fixed4.as[(Long, Long)].collect().toMap
    fixed4.unpersist()
    assert(cr.map(r => r._1 -> r._2).toMap == fm4)
  }

  test("bfsHops: path distances, horizon cutoff, unreachable absent, " +
    "partition-independent") {
    // undirected path 1-2-3-4-5-6 plus isolated pair 10-11
    val ups = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L))
    val pairs = ups ++ ups.map(_.swap)
    for (parts <- Seq(1, 7)) {
      val e = pairs.toDF("src", "dst").repartition(parts)
      val seeds = Seq(1L).toDF("node")
      val out = Graph.bfsHops(e, "src", "dst", seeds, maxHops = 3)
      val dist = out.as[(Long, Long)].collect().toMap
      out.unpersist()
      // nodes 5, 6 beyond the 3-hop horizon; 10, 11 unreachable
      assert(dist == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
        s"parts=$parts: $dist")
    }
  }

  test("bfsHops: broadcast gate counts seed-only nodes (dst ∪ seeds), " +
    "identical distances at the regime boundary") {
    // 2 distinct dst nodes, but 5 seed-only nodes: the gate must see
    // 7 reached-node candidates, not 2. With broadcastMaxNodes = 4 the
    // old dst-only count would have broadcast; the fixed gate flips to
    // the shuffle regime. Results must be identical in both regimes.
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 20L, 21L, 22L, 23L).toDF("node")
    val byRegime = Seq(4L, 1000L).map { cap =>
      val out = Graph.bfsHops(e, "src", "dst", seeds, maxHops = 2,
        broadcastMaxNodes = cap)
      val dist = out.as[(Long, Long)].collect().toMap
      out.unpersist()
      dist
    }
    // seeds (including isolated ones) at d=0, chain reached at 1, 2
    val expected = Map(1L -> 0L, 20L -> 0L, 21L -> 0L, 22L -> 0L,
      23L -> 0L, 2L -> 1L, 3L -> 2L)
    assert(byRegime.forall(_ == expected), s"$byRegime")
  }

  test("labelPropagation: a round's neighbor join adds no exchange on " +
    "the edge side") {
    // shuffled regime, as at scale: no broadcast hides the edge side
    val edges = (1L to 600L).map(i => (i, (i * 7) % 211 + 1)).toDF("src", "dst")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val e = Graph.labelEdges(edges, "src", "dst")
    val round = try Inspect.executions(spark)((action, _) => action == "collect") {
        val l0 = Stage.root(e.select(col("u").as("node")).distinct()
          .withColumn("lab", col("node")))
        Graph.labelRound(e)(l0).collect()
      }.head finally { spark.conf.set(key, was); e.unpersist() }
    // the edge frame is the one cache a round reads
    object Aqe extends AdaptiveSparkPlanHelper
    val plan = round.executedPlan
    def readsEdges(p: SparkPlan) =
      Aqe.collect(p) { case t: InMemoryTableScanExec => t }.nonEmpty
    val edgeSides = Aqe.collect(plan) {
      case j: SortMergeJoinExec => j.children.filter(readsEdges)
    }.flatten
    assert(edgeSides.size == 1, plan.treeString)
    val exchanges = edgeSides.flatMap(Aqe.collect(_) { case x: ShuffleExchangeLike => x })
    assert(exchanges.isEmpty, plan.treeString)
  }

  test("reliable mode: graph queries read no local checkpoint, same results") {
    object Aqe extends AdaptiveSparkPlanHelper
    def localLeaves(p: SparkPlan): Seq[SparkPlan] = Aqe.collectWithSubqueries(p) {
      case t: InMemoryTableScanExec => localLeaves(t.relation.cachedPlan)
      case s: RDDScanExec if GraftRddBridge.readsLocalCheckpoint(s.rdd) => Seq(s)
    }.flatten
    // per query: its rows, and the local-checkpoint leaves of every plan
    // that ran, builder jobs included
    def run(name: String): (Seq[Row], Int) = {
      var rows = Seq.empty[Row]
      val plans = Inspect.executions(spark)((_, _) => true) {
        rows = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      }
      spark.catalog.clearCache()
      (rows, plans.map(qe => localLeaves(qe.executedPlan).size).sum)
    }
    // graph_ppr_parts stages its edges with stageCheckpoint: with the
    // key off it must show a local leaf, or the walk finds nothing
    val names = Seq("graph_pagerank_parts", "graph_triangles_parts",
      "graph_ppr_parts")
    val local = names.map(run)
    assert(local.last._2 > 0, "no local checkpoint seen with the key off")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt_").toString)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    val reliable = try names.map(run)
      finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
    names.zip(reliable).foreach { case (name, (_, leaves)) =>
      assert(leaves == 0, s"$name read $leaves local checkpoint(s)")
    }
    assert(reliable.map(_._1) == local.map(_._1))
    assert(local.forall(_._1.nonEmpty))
  }

  // Iteration-helper contract on one small fixed graph: two triangles
  // bridged by 3-4 plus a tail 6-7-8. Each ceiling is the most jobs the
  // operator started in 15 runs before the loops moved onto
  // ops.Stage (kCore ranged 66-70 there, corenessDecomposition
  // 96-102). The two converged/coreness ceilings sit strictly below
  // every such run: their separate stability probes are gone.
  private def contractEdges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
    (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L)).toDF("src", "dst")
  private def contractBoth =
    contractEdges.union(contractEdges.select(col("dst"), col("src")))
  private def contractSeeds = Seq(1L).toDF("node")

  Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
    ("pageRank", 29, () =>
      Graph.pageRank(contractBoth, "src", "dst", iters = 3)),
    ("personalizedPageRank", 30, () =>
      Graph.personalizedPageRank(contractBoth, "src", "dst", contractSeeds,
        iters = 3)),
    ("pageRankConverged", 22, () =>
      Graph.pageRankConverged(contractBoth, "src", "dst", maxIters = 6,
        epsPerNodeUnits = Unit1 / 10, checkEvery = 2)),
    ("kCore", 70, () => Graph.kCore(contractEdges, "src", "dst", k = 2)),
    ("corenessDecomposition", 95, () =>
      Graph.corenessDecomposition(contractEdges, "src", "dst", kMax = 3)),
    ("labelPropagation", 23, () =>
      Graph.labelPropagation(contractEdges, "src", "dst", iters = 4)),
    ("labelPropagationConverged", 50, () =>
      Graph.labelPropagationConverged(contractEdges, "src", "dst",
        maxIters = 8, checkEvery = 2)),
    ("bfsHops", 22, () =>
      Graph.bfsHops(contractBoth, "src", "dst", contractSeeds, maxHops = 3))
  ).foreach { case (name, maxJobs, op) =>
    test(s"iteration contract: $name caches only its result and stays " +
      "under its job ceiling") {
      info(s"jobs = ${iterationContract(maxJobs)(op())}")
    }
  }
}

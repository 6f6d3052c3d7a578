package graft
import graft.LocalSession.jsonString

/** Benchmark driver: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query medians.
  *
  * Each query is timed SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * median is reported — this VM shows order-of-magnitude wall-clock
  * swings (SCALING.md), so single-shot numbers are not comparable
  * across rounds. Queries whose 3-run median exceeds 5 s get
  * SPARK_GRAFT_BENCH_HEAVY_EXTRA (default 2) additional sample passes
  * (median of all 5) — the 32-thread-saturating class swings 1.5-2.3×
  * under VM burst-throttling and needs the larger sample (VERDICT r8
  * #8); the >8 s class gets 2× the extra passes with a park between
  * them so the samples span throttle windows (VERDICT r9 #5).
  * SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to a subset for local
  * iteration. A query that throws gets no timing: the records list it
  * under "failed" and the run exits 1 after writing them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_HASH_MODE=xxhash64 benches the production hash mode
    // (Verify/oracle runs never set this — they stay on md5)
    sys.env.get("SPARK_GRAFT_HASH_MODE").foreach(m =>
      spark.conf.set(graft.functions.GraftFunctions.HashModeKey, m))
    LocalSession.warmUp(spark)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val queries = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    // Suite order is shuffled DETERMINISTICALLY per round (seed =
    // round index) and the median is taken per query ACROSS rounds:
    // with a fixed order, a heavy query's JIT/heap wake billed its
    // fixed successors every round and the median couldn't filter it
    // (r4/r6 both flagged phantom 2-3× "regressions" on untouched
    // queries that vanish when benched in isolation — SCALING.md).
    // Different neighbors per round turn contamination into an
    // outlier the median drops; fixed seeds keep runs reproducible.
    val names = queries.keys.toSeq.sorted
    // isolate runs: drop cached data/broadcasts accumulated by the
    // previous query so its GC debt isn't billed to this one.
    // clearCache + System.gc alone is NOT enough: gc() only
    // ENQUEUES reference processing, and the ContextCleaner's
    // broadcast/shuffle removal RPCs then land DURING the next
    // timed query (suite-mode ran multi-job queries ~2x their
    // isolated time; probe sketch_distinct_kmv 3.0 suite vs 0.8
    // isolated). So: gc, run an UNTIMED settle action that spins
    // the scheduler while the cleaner queue drains, gc the newly
    // unreachable state, and park briefly for concurrent-GC tails.
    // A query that throws gets no timing: it is named in `failed`.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def settleThenTime(name: String): Option[(String, Double)] = {
      spark.catalog.clearCache()
      System.gc()
      spark.range(1024).repartition(4)
        .groupBy(org.apache.spark.sql.functions.expr("id % 8")).count()
        .write.format("noop").mode("overwrite").save()
      System.gc()
      Thread.sleep(400)
      val t0 = System.nanoTime()
      // noop sink forces full evaluation of every output column;
      // count() would let Catalyst prune the projections being timed.
      try {
        queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e")
        failed += name
        None
      }
    }
    // Spark-side mini-basket (VERDICT r11 #4): the DuckDB oracle
    // basket divides out HOST state, but r10→r11 showed the residual
    // cross-session drift is JVM-side (JIT/GC/page-cache of the Spark
    // process itself) — the suite got slower while the DuckDB basket
    // got faster. A fixed 5-query basket timed at suite START and END
    // in the SAME JVM brackets that: end/start >> 1 means the JVM
    // degraded during the run (heap/metaspace pressure), and
    // cross-round suite deltas can be normalized by the same-JVM
    // basket instead of argued about. min-of-2 per query (min is the
    // steady estimator for short in-process runs); spans the shape
    // classes: join+agg, hash-groupBy dedup, native text kernel,
    // chatml costing, session windows.
    val sparkBasketNames = Seq("q3_topk_revenue", "dedup_exact",
      "text_token_stats", "cost_report", "events_sessionize")
      .filter(queries.contains)
    def sparkBasket(): Seq[(String, Double)] =
      sparkBasketNames.flatMap { n =>
        (1 to 2).flatMap(_ => settleThenTime(n)).map(_._2).minOption.map(n -> _)
      }
    val basketStart = if (only.isEmpty) sparkBasket() else Nil
    val perRound = (1 to runs).map { round =>
      val order = new scala.util.Random(round * 1009L).shuffle(names)
      order.flatMap(settleThenTime).toMap
    }
    val prelim = names.filterNot(failed)
      .map(n => n -> median(perRound.map(_(n)))).toMap
    // Heavy-tail determinism (VERDICT r8 #8): queries that saturate
    // all 32 threads for seconds show 1.5-2.3× same-day swings that a
    // 3-run median can't always filter — the largest noise source in
    // the standing record. Give the >5 s class extra samples (median
    // of runs + extras), benched back-to-back in their own pass so a
    // burst-throttle window hits all samples or none.
    val heavyExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_EXTRA", "2").toInt
    val heavies = prelim.filter(_._2 > 5.0).keys.toSeq.sorted
    // The >8 s saturating class (knn-clusters, band-curve, …) still
    // swung ±45% between same-day records when its extra samples ran
    // back-to-back — one burst-throttle window tainted the whole
    // sample (VERDICT r9 #5). That class now gets MORE passes
    // (2×heavyExtra → 7 samples total at the default) and each extra
    // pass is separated by a multi-second park, so samples land in
    // different throttle windows and the median can drop a tainted
    // one. The 5-8 s class keeps the original 2-pass treatment.
    val heavies8 = prelim.filter(_._2 > 8.0).keys.toSeq.sorted
    val extraPasses = if (heavies8.nonEmpty) 2 * heavyExtra else heavyExtra
    val extraRuns: Map[String, Seq[Double]] =
      if (heavyExtra <= 0 || heavies.isEmpty) Map.empty
      else (1 to extraPasses).flatMap { round =>
        val pool = if (round <= heavyExtra) heavies else heavies8
        if (pool.isEmpty) Nil
        else {
          if (round > 1) Thread.sleep(3000) // decorrelate burst windows
          new scala.util.Random(900001L + round).shuffle(pool)
            .flatMap(settleThenTime)
        }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val results = names.filterNot(failed).map { n =>
      n -> median(perRound.map(_(n)) ++ extraRuns.getOrElse(n, Nil))
    }.toMap
    // same-JVM end anchor, after every timed pass (see basketStart)
    val basketEnd = if (only.isEmpty) sparkBasket() else Nil
    // completeness tripwire: BENCH_LOCAL.json is the only full archive
    // (stdout keeps top-N); an accidentally-unregistered query must
    // fail the bench, not hide in the omitted tail
    require(only.nonEmpty || results.keySet ++ failed == SparkEntry.queries.keySet,
      s"bench ran ${results.size + failed.size} of ${SparkEntry.queries.size} declared queries")
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Same-session DuckDB oracle anchor (VERDICT r10 #4): the r9→r10
    // suite drift (+12% on untouched queries, zero plan changes) was
    // VM state, but proving that burned a round. A FIXED 10-oracle
    // basket — chosen once to span the oracle cost classes (sub-0.1 s
    // reports, ~0.3 s single-window stats, the 2.5 s LSH chain, the
    // 4.5 s iterative-graph CTE) — is timed by DuckDB in the SAME
    // session right after the suite, so cross-round comparisons can
    // divide VM state out via suite_over_basket instead of arguing
    // about warm days. Driver-side python3+duckdb (the oracle
    // toolchain, not a library dependency); min-of-2 per oracle
    // (min is the steady estimator for short single-process runs);
    // non-fatal and skippable (SPARK_GRAFT_BENCH_ORACLE=0).
    val basketNames = Seq("q3_topk_revenue", "dedup_exact",
      "text_token_stats", "judge_metrics", "events_sessionize",
      "cost_report", "stats_winsorized", "group_quantiles_exact",
      "dedup_minhash_lsh", "graph_pagerank_parts")
    val basketWanted = sys.env.get("SPARK_GRAFT_BENCH_ORACLE") match {
      case Some("0") => false
      case Some("1") => true // force in a subset run (dev testing)
      case _ => only.isEmpty
    }
    val basket: Seq[(String, Double)] =
      if (!basketWanted) Nil
      else try {
        val sqls = basketNames.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
        val dir = java.nio.file.Files.createTempDirectory("bench_oracle_")
        val sqlFile = dir.resolve("basket.json")
        java.nio.file.Files.writeString(sqlFile, sqls.map { case (n, q) =>
          s"${jsonString(n)}:${jsonString(q)}" }.mkString("{", ",", "}"))
        val py = dir.resolve("basket.py")
        java.nio.file.Files.writeString(py,
          """import duckdb, glob, json, os, sys, time
            |sf, sqlf = sys.argv[1], sys.argv[2]
            |con = duckdb.connect(); con.execute("SET threads=32")
            |for p in glob.glob(os.path.join(sf, "*.parquet")):
            |    con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
            |                % (os.path.basename(p)[:-8], p))
            |out = {}
            |for n, q in json.load(open(sqlf)).items():
            |    best = None
            |    for _ in range(2):
            |        t0 = time.time(); con.execute(q).fetchall()
            |        dt = time.time() - t0
            |        best = dt if best is None or dt < best else best
            |    out[n] = round(best, 3)
            |print(json.dumps(out))
            |""".stripMargin)
        val pb = new ProcessBuilder("python3", py.toString, sfDir,
          sqlFile.toString)
        pb.redirectErrorStream(false)
        val p = pb.start()
        p.getOutputStream.close()
        val outTxt = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) { p.destroyForcibly(); Nil }
        else """"([A-Za-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(outTxt)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      } catch { case e: Throwable =>
        System.err.println(s"[bench] oracle basket skipped: $e"); Nil
      }
    val basketExtra =
      if (basket.isEmpty) ""
      else {
        val bq = basket.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        val bs = basket.map(_._2).sum
        val ratio = if (bs > 0) results.values.sum / bs else 0.0
        s""","oracle_basket_s":${fmt(bs)},"suite_over_basket":${fmt(ratio)},"oracle_basket":$bq"""
      }
    val sparkBasketExtra =
      if (basketStart.isEmpty || basketEnd.isEmpty) ""
      else {
        val s0 = basketStart.map(_._2).sum
        val s1 = basketEnd.map(_._2).sum
        val drift = if (s0 > 0) s1 / s0 else 0.0
        // VERDICT r12 #6: normalize the suite by the same-JVM basket
        // mean so cross-round "vs last round" is one attributable
        // number (suite wall in units of this JVM's own speed) instead
        // of a judge reconstruction from start/end/drift.
        val mean = (s0 + s1) / 2.0
        val norm = if (mean > 0) results.values.sum / mean else 0.0
        s""","spark_basket_start_s":${fmt(s0)},"spark_basket_end_s":${fmt(s1)},"spark_basket_drift":${fmt(drift)},"suite_over_spark_basket":${fmt(norm)}"""
      }
    val failedExtra = failed.map(jsonString).mkString(""","failed":[""", ",", "]")
    def jsonLine(entries: Seq[(String, Double)], extra: String): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.values.sum else 0.0
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs$extra$basketExtra$sparkBasketExtra$failedExtra}"""
    }
    val all = results.toSeq
    val full = jsonLine(all, "")
    // Canonical full record on disk: the driver's stdout capture keeps
    // only the final 2000 chars, which a 69+-query map overflows
    // (BENCH_r02/r03 both arrived truncated and unparseable).
    // A BENCH_ONLY subset run MERGES into the standing BENCH_LOCAL
    // record instead of replacing it — single-query A/Bs kept
    // clobbering the full-suite archive.
    // A subset run at a DIFFERENT sf than the standing archive must
    // not merge — mixed-sf per-query seconds in one record are
    // meaningless (an sf0.001 smoke once silently overwrote 4 sf0.01
    // rows). Detect via the archive's own "sf" field.
    val priorSf = try {
      val txt = java.nio.file.Files
        .readString(java.nio.file.Paths.get("BENCH_LOCAL.json"))
      """"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    } catch { case _: Throwable => None }
    val sfMatches = priorSf.forall(_ == sfDir)
    // SPARK_GRAFT_BENCH_NO_LOCAL=1: full run that must NOT touch the
    // standing BENCH_LOCAL.json archive (e.g. the sf0.01 growth-census
    // pass — its per-query seconds live in GROWTH.md, not the archive)
    val noLocal = sys.env.get("SPARK_GRAFT_BENCH_NO_LOCAL").contains("1")
    val localRecord =
      if (noLocal) None
      else if (only.isEmpty) Some(full)
      else if (!sfMatches) {
        System.err.println(s"[bench] subset run at $sfDir does not match " +
          s"BENCH_LOCAL.json sf=${priorSf.get} — archive left untouched")
        None
      } else Some {
        val path = java.nio.file.Paths.get("BENCH_LOCAL.json")
        val prior = try {
          val txt = java.nio.file.Files.readString(path)
          val m = """"([A-Za-z0-9_]+)":([0-9.]+)""".r
          // parse ONLY the queries object (up to its closing brace):
          // the record now carries oracle_basket entries AFTER it
          // whose names collide with real query names — swallowing
          // them here would overwrite suite medians with oracle times
          val fromQ = txt.substring(txt.indexOf("\"queries\":{"))
          val qObj = fromQ.substring(0, fromQ.indexOf("}") + 1)
          m.findAllMatchIn(qObj)
            .map(x => x.group(1) -> x.group(2).toDouble)
            .filterNot { case (k, _) => k == "runs" || k == "omitted" }
            .toSeq
        } catch { case _: Throwable => Seq.empty[(String, Double)] }
        val merged = (prior.filterNot(p => results.contains(p._1) || failed(p._1)) ++ all)
          .sortBy(_._1)
        val qs = merged.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        val tot = merged.map(_._2).sum
        s"""{"metric":"total","value":${fmt(tot)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"merged":true$failedExtra}"""
      }
    for ((out, txt) <- Seq(
        Some(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json") -> full),
        localRecord.map("BENCH_LOCAL.json" -> _)).flatten) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), txt + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $out: $e") }
    }
    // Printed record: same totals, but the per-query map keeps only the
    // slowest entries that fit the capture window (fast queries are
    // constant Spark overhead; the omission is declared, not silent).
    val budget = 1880
    val bySlowest = all.sortBy(-_._2)
    val keep = bySlowest.indices.reverseIterator
      .map(i => bySlowest.take(i + 1))
      .find(e => jsonLine(e, s""","omitted":${all.size - e.size},"detail":"BENCH_LOCAL.json"""").length <= budget)
      .getOrElse(Seq.empty)
    println(jsonLine(keep, s""","omitted":${all.size - keep.size},"detail":"BENCH_LOCAL.json""""))
    spark.stop()
    LocalSession.exitIfFailed("bench", failed)
  }
}

package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared column expressions for the engine.
  *
  * Design note: everything here is a pure Catalyst expression tree
  * (whole-stage-codegen friendly) — no Scala UDFs. That keeps the hot
  * path vectorized and lets Catalyst push projections/filters into the
  * parquet scan, which is what matters at 100 TB.
  */
object GraftFunctions {

  /** The reference's null-semantics: EXACT membership in its literal
    * INVALID_VALS set (src/python/instructionspipe/constants.py:9-20,
    * used at instructions_runners.py:47-55) — "", one space, three
    * spaces (EMPTY_VAL), newline, NA, N/A, plus SQL NULL. Exact
    * membership, NOT a trim test: the reference does `v in
    * INVALID_VALS`, and trim-based variants disagree between engines
    * on other whitespace ("\t" is VALID in the reference; Java .trim
    * would eat it, SQL trim would not — the fuzz run caught exactly
    * that divergence) and on padded markers (" NA " is VALID).
    */
  val InvalidVals: Seq[String] = Seq("", " ", "   ", "\n", "NA", "N/A")

  // cast to string FIRST: on a numeric column the bare isin would
  // coerce the marker literals to the numeric type instead (ANSI
  // abort on ''); the old trim() form did this cast implicitly
  def invalid(c: Column): Column =
    c.isNull || c.cast("string").isin(InvalidVals: _*)

  /** The same set as a SQL IN-list, generated from [[InvalidVals]] so
    * oracle mirrors cannot drift from the Column predicate.
    */
  val InvalidValsSql: String = InvalidVals.map {
    case "\n" => "chr(10)"
    case v => "'" + v + "'"
  }.mkString("(", ", ", ")")

  def valid(c: Column): Column = !invalid(c)

  /** Exact sum of a 2-decimal monetary double column.
    *
    * Doubles summed in different orders differ in the last ulp, which
    * breaks hash-equality against any oracle and is also
    * non-deterministic across partitionings at scale. Casting to
    * DECIMAL(18,2) first makes the sum exact and associative (order-
    * independent across 1000 executors); the final cast back to double
    * is a single deterministic IEEE rounding. Oracle SQL mirrors this:
    * CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact average via decimal sum / count (deterministic double). */
  def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast("double") / count(c)).as("davg")

  /** Exact sum of a product of two 2-decimal columns (e.g. revenue =
    * extendedprice * (1 - discount)). Decimal multiply is exact, so the
    * distributed sum is order-independent.
    */
  def dsumProduct(a: Column, b: Column): Column =
    sum(a.cast(DecimalType(18, 2)) * b.cast(DecimalType(18, 2))).cast("double")

  /** Whitespace word count (reference: etl_slimpajama_dc_proc.py:142). */
  def wordCount(c: Column): Column = size(split(c, " "))

  /** Document fingerprint: hash of whitespace-normalized lowercased
    * text (content-defined identity for exact dedup). md5 hex in
    * oracle mode (matches DuckDB's md5); xxhash64 hex in production
    * mode — same normalization, same collision contract at 16 vs 32
    * hex chars of width.
    */
  def fingerprint(c: Column): Column = {
    val norm = lower(regexp_replace(c, "\\s+", " "))
    if (hashModeIsXx) lower(hex(xxhash64(norm))) else md5(norm)
  }

  /** Native one-pass 16-bit SimHash (see expressions.SimHash16). */
  def simhash16(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.SimHash16(GraftColumnBridge.expression(c), hashModeIsXx))
  }

  /** Distinct char n-gram count via the native Catalyst expression
    * (graft.expressions.CharShingleDistinctCount) — one codegen'd pass
    * per row instead of per-position expression evaluation.
    */
  def charShingleCount(c: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.CharShingleDistinctCount(GraftColumnBridge.expression(c), n))
  }

  /** KMV distinct-count sketch aggregate (expressions.KmvDistinct):
    * O(k) mergeable state per group — exact below k distinct values,
    * ~1/sqrt(k-2) relative error above. The value is hashed with the
    * mode-selected 60-bit hash (string form, so any input type keys
    * consistently). The 100 TB answer to COUNT(DISTINCT x): one pass,
    * map-side partials, at most k longs per group on the shuffle.
    */
  def kmvDistinct(c: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.KmvDistinct(
        GraftColumnBridge.expression(hash60(c.cast("string"))), k)
        .toAggregateExpression())
  }

  /** Count–Min sketch aggregate (expressions.CountMinAgg): fixed
    * depth×width counter state per group, mergeable by element-wise
    * add — the point-frequency sketch next to kmvDistinct (distinct
    * count) and Misra–Gries (top items). Value hashed with the
    * mode-selected 60-bit hash, so probes must hash the same way
    * (use [[countMinEstimate]] with hash60).
    */
  def countMin(c: Column, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.CountMinAgg(
        GraftColumnBridge.expression(hash60(c.cast("string"))), depth, width)
        .toAggregateExpression())
  }

  /** Point-frequency estimate from a [[countMin]] result array:
    * min over rows of the item's counter. `itemHash` must be the same
    * 60-bit hash the sketch was built with (hash60 of the item); each
    * row's counter is found with [[cmsBucket]], as the aggregate files it.
    */
  def countMinEstimate(sketch: Column, itemHash: Column,
                       depth: Int, width: Int): Column =
    (0 until depth).map { j =>
      element_at(sketch,
        (lit(j.toLong * width) + cmsBucket(itemHash, j, width) + 1).cast("int"))
    }.reduce(least(_, _))

  /** Deterministic mergeable KLL quantile sketch aggregate
    * (expressions.KllQuantileAgg): one-pass per-group quantile
    * estimates with a HARD accumulated rank-error bound —
    * O(k·log(n/k)) state, map-side partials, merge-order-safe
    * guarantee. Returns struct (n, err_bound, est ARRAY<DOUBLE> — one
    * per q in `qs`). The 100 TB single-pass complement to
    * [[graft.ops.Quantile]]'s exact multi-round bracketing.
    */
  def kllQuantiles(c: Column, k: Int, qs: Seq[Double]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.KllQuantileAgg(
        GraftColumnBridge.expression(c.cast("double")), k, qs)
        .toAggregateExpression())
  }

  /** Size-capped collect_set over long ids
    * (expressions.CollectSetCapped): ascending-sorted distinct array,
    * or NULL for groups exceeding `cap` distinct ids — with O(cap)
    * worst-case aggregation state (a hot group collapses to an
    * overflow flag the moment it passes the cap, never holding its
    * full id set). The skew-proof core of the group-then-pair
    * candidate generators; filter `IS NOT NULL` to drop hot groups.
    */
  def collectSetCapped(c: Column, cap: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.CollectSetCapped(
        GraftColumnBridge.expression(c), cap)
        .toAggregateExpression())
  }

  /** Misra–Gries heavy-hitters candidates (expressions.FrequentItems):
    * one pass, ≤capacity counters of mergeable state, returns every
    * item that COULD have frequency > n/(capacity+1) as a sorted
    * string array. Pair with an exact rescore of the candidates
    * (broadcast semi join) for deterministic top-k without a
    * vocabulary-sized shuffle.
    */
  def frequentItems(c: Column, capacity: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.expressions.FrequentItems(
        GraftColumnBridge.expression(c), capacity)
        .toAggregateExpression())
  }

  /** Deterministic pseudo-random in [0, m) from integer key columns —
    * a multiplicative LCG step, reproducible in ANSI SQL for the
    * oracle (unlike rand(seed), whose stream is partitioning-dependent).
    * Used to make "random" sampling/splitting testable and stable at
    * any cluster size.
    */
  val DetHashPrime = 1000003L

  def detHash(m: Long, keys: Column*): Column = {
    // xxhash64 mode: one codegen'd hash over all keys, better mixing
    // than the LCG and no per-key mod chain (pmod handles the sign)
    if (hashModeIsXx) return pmod(xxhash64(keys: _*), lit(m))
    // Mod at every step keeps all intermediates < ~2^52: h < P, so
    // h*31 + k%P < 2^26 and the final product < P * 2654435761 < 2^52.
    // An unreduced fold overflows long for keys ≥ ~10^6 (ANSI mode
    // errors at sf0.01+, and silently wraps differently than the
    // oracle otherwise).
    val P = DetHashPrime
    val mixed = keys.foldLeft(lit(0L)) { (h, k) =>
      pmod(h * lit(31L) + pmod(k.cast("long"), lit(P)), lit(P))
    }
    pmod(mixed * lit(2654435761L) + lit(12345L), lit(m))
  }

  /** DuckDB SQL mirror of detHash over column-name keys — generated
    * from the same constants so Spark and oracle cannot drift.
    */
  def detHashSql(m: Long, keys: Seq[String]): String = {
    val P = DetHashPrime
    val mixed = keys.foldLeft("0") { (h, k) => s"(($h * 31 + ($k % $P)) % $P)" }
    s"(($mixed * 2654435761 + 12345) % $m)"
  }

  /** ChatML message struct builder. */
  def chatMessage(role: String, content: Column): Column =
    struct(lit(role).as("role"), content.as("content"))

  /** F6 — ChatML conversation from (role, content-column) pairs
    * (reference json2chatml, run_single_round_chat.py:17-28).
    */
  def chatml(pairs: (String, Column)*): Column =
    array(pairs.map { case (r, c) => chatMessage(r, c) }: _*)

  /** F7 — role normalization for models without a system role
    * (mistral/gemma): system → user, with an "Ok." assistant
    * acknowledgement injected after it (reference
    * chatml_check_and_adjust, apps/training/inf.py:45-58).
    */
  def normalizeRoles(msgs: Column): Column =
    flatten(transform(msgs, m =>
      when(m.getField("role") === "system",
        array(
          struct(lit("user").as("role"), m.getField("content").as("content")),
          struct(lit("assistant").as("role"), lit("Ok.").as("content"))))
        .otherwise(array(m))))

  /** P8 — JSON-field / ChatML navigation: `msgs[idx].content` with a
    * string-column fallback (reference json_query_llm_msg,
    * eval_with_facts.py:574-586: pull a string col or a message's
    * content by index, whichever exists).
    */
  def msgContent(msgs: Column, idx: Int, fallback: Column): Column =
    coalesce(get(msgs, lit(idx)).getField("content"), fallback)

  /** F9 — encoding-text extraction for cost estimation (reference
    * encoding_text_extraction, apps/cost_estimator_inf.py:20-32):
    * concatenate the extra string columns plus every message except
    * the last as `role:\ncontent`, the text a tokenizer would count
    * as prompt input.
    */
  def encodingText(msgs: Column, extraCols: Column*): Column = {
    val head = slice(msgs, lit(1), greatest(size(msgs) - 1, lit(0)))
    val msgText = aggregate(head, lit(""), (acc, m) =>
      concat(acc, m.getField("role"), lit(":\n"), m.getField("content"), lit("\n")))
    concat((extraCols.map(c => concat(c, lit("\n"))) :+ msgText): _*)
  }

  /** F8 — ChatML → `<role>content</role>` tagged text (reference
    * chatml_to_text, grpo_plugin.py:168-178). Left fold keeps message
    * order.
    */
  def chatmlToText(msgs: Column): Column =
    aggregate(msgs, lit(""), (acc, m) =>
      concat(acc, lit("<"), m.getField("role"), lit(">"),
        m.getField("content"), lit("</"), m.getField("role"), lit(">")))

  /** Deterministic 60-bit hash of a string, identical in Spark and
    * DuckDB: first 15 hex digits of md5, parsed base-16. Always
    * positive, fits a signed long. Oracle SQL equivalent:
    * `('0x' || substring(md5(x), 1, 15))::BIGINT`.
    *
    * This is the primitive under every hash-based operator (minhash
    * permutations, simhash, fingerprints, deterministic sampling):
    * cross-engine-reproducible, seedable by prefixing a salt, and a
    * pure codegen'd expression (md5 + conv) — no UDF.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: an independent hash family member per salt
    * (LSH hyperplanes, seeded draws).
    */
  def md5Long(salt: Int, c: Column): Column =
    md5Long(concat(lit(salt.toString), lit(":"), c))

  /** DuckDB mirror of [[md5Long]] over a SQL expression. */
  def md5LongSql(x: String): String = s"('0x' || substring(md5($x), 1, 15))::BIGINT"

  // MessageDigest is not thread-safe but is reusable; getInstance per
  // call would dominate the per-row kernels
  private val md5Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** JVM twin of [[md5Long]] for the per-row kernels and streams: the
    * first 15 hex digits of md5 are the top 60 bits of its first 8 bytes.
    */
  def md5Long(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** JVM twin of [[hash60]]'s xxhash64 branch: Spark's xxhash64 (seed
    * 42) over the same UTF-8 bytes a string column holds, shifted to
    * 60 bits.
    */
  def xxHash60(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L) >>> 4
  }

  /** JVM twin of [[hash60]], with the mode passed in (executors do not
    * read session state).
    */
  def hash60(s: String, xx: Boolean): Long =
    if (xx) xxHash60(s) else md5Long(s)

  /** The affine hash family under MinHash signatures, LSH bands and
    * Count–Min rows: h_i(x) = ((2i+1)·x + 7919i + 12345) mod (2^31−1)
    * over a 30-bit base hash x (a 60-bit hash mod 2^30). Every
    * intermediate stays below 2^62, so the arithmetic is exact BIGINT
    * in the JVM, Spark and DuckDB alike. Its JVM, Column and SQL forms
    * all read [[permA]]/[[permB]], so the engines cannot drift.
    *
    * The multipliers are small and regular, not random: a base with a
    * small value stays the minimum under many members at once, so the
    * permutations are correlated and MinHash estimates carry more
    * error than independent permutations would (ROADMAP D7).
    */
  val MersennePrime31 = 2147483647L // 2^31 - 1
  val Base30Mod = 1073741824L       // 2^30

  private def permA(i: Int): Long = 2L * i + 1
  private def permB(i: Int): Long = 7919L * i + 12345L

  /** Member i of the family over a base in [0, 2^30); in [0, 2^31−1). */
  def perm(i: Int, base: Long): Long = (base * permA(i) + permB(i)) % MersennePrime31

  def perm(i: Int, base: Column): Column =
    pmod(base * lit(permA(i)) + lit(permB(i)), lit(MersennePrime31))

  def permSql(i: Int, base: String): String =
    s"(($base * ${permA(i)} + ${permB(i)}) % $MersennePrime31)"

  /** Count–Min row j's bucket of a 60-bit hash h: member j over
    * h mod 2^30, mod width. The JVM and Column forms fold any long,
    * negatives included (floorMod / pmod); the SQL form's `%` expects a
    * non-negative hash, as md5Long always is.
    */
  def cmsBucket(h: Long, j: Int, width: Int): Int =
    (perm(j, java.lang.Math.floorMod(h, Base30Mod)) % width).toInt

  def cmsBucket(h: Column, j: Int, width: Int): Column =
    perm(j, pmod(h, lit(Base30Mod))) % lit(width.toLong)

  def cmsBucketSql(h: String, j: Int, width: Int): String =
    s"(${permSql(j, s"($h % $Base30Mod)")} % $width)"

  /** Session conf key selecting the 60-bit hash primitive under the
    * hash-based operators: "md5" (default — reproducible in DuckDB
    * ANSI SQL, the harness/oracle mode) or "xxhash64" (the deployment
    * default at 100 TB: Spark's codegen'd XxHash64 is ~10× cheaper per
    * row than md5 and needs no hex/conv round-trip; no SQL oracle,
    * verified instead by in-engine cross-checks — see HashModeSpec).
    * Read once at plan-construction time on the driver, and threaded
    * into the native kernels as a constructor flag so executors never
    * consult session state.
    */
  val HashModeKey = "spark.graft.hashMode"

  def hashModeIsXx: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .exists(_.conf.get(HashModeKey, "md5") == "xxhash64")

  /** The mode-selected 60-bit positive hash: both branches produce a
    * value in [0, 2^60), so every downstream modular-arithmetic bound
    * (minhash family < 2^62, detHash fold < 2^52) holds in either
    * mode. xxhash64 keeps whole-stage codegen with zero allocations;
    * md5 pays hex+conv but is expressible in the DuckDB oracle.
    */
  def hash60(c: Column): Column =
    if (hashModeIsXx) shiftrightunsigned(xxhash64(c), 4)
    else md5Long(c)

  /** BPE-ish tokenizer: letter runs, digit runs, or single non-space
    * symbols — the word-piece boundary heuristic used for token
    * counting/costing (reference: apps/cost_estimator_inf.py:35-78 uses
    * a real HF tokenizer; this is the deterministic offline stand-in).
    * Same regex dialect subset works in Java and DuckDB's RE2.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpeTokenPattern), lit(0))
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Cosine similarity of two double arrays as a pure expression —
    * left-fold sum so the accumulation order is deterministic (array
    * order), giving bit-stable results at any parallelism.
    *
    * ZERO-NORM CONTRACT (fuzz class, VERDICT r11 #1): a zero vector
    * has no direction; its cosine against anything is defined as
    * −1.0 — "maximally dissimilar", the SAME convention DuckDB's
    * `list_cosine_similarity` (which every embedding oracle uses)
    * applies. Under Spark ANSI the raw division would abort the job;
    * `try_divide` + coalesce(−1) instead makes thresholds drop the
    * row, DESC top-k rank it last (tied with true −1 cosines, id
    * tie-break — exactly the oracle's ordering), and argmin
    * assignment treat every centroid as equally worst (id
    * tie-break), all bit-aligned with the oracles by construction.
    */
  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(dotProduct(a, b), vectorNorm(a), vectorNorm(b))

  /** dot/(na·nb) with the zero-norm −1.0 contract (see [[cosine]]). */
  def cosineFromNorms(dot: Column, na: Column, nb: Column): Column =
    coalesce(try_divide(dot, na * nb), lit(-1.0))

  /** Dot product (left-fold, deterministic order). For pairwise
    * similarity joins, precompute each side's norm once
    * (`vectorNorm`) and use dot/(na*nb) instead of `cosine` — the
    * norms are O(rows) not O(pairs), which is the difference between
    * 2·d and 3·d multiplies per pair at 100 TB pair counts.
    */
  def dotProduct(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.DotProduct(expression(a), expression(b)))
  }

  def vectorNorm(a: Column): Column = sqrt(dotProduct(a, a))
}

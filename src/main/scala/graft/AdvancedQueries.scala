package graft

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.{Cost, Multimodal}
import graft.pipeline._
import graft.ops.Stage.StagedFrame

/** Advanced operator queries: CodeAct repair loop, self-verified
  * multi-turn chain, agentic dispatch, cost estimation, multimodal
  * feature plumbing. All run through the real operators with
  * deterministic mocks, so each has an exact SQL oracle.
  */
object AdvancedQueries {

  // ---- CodeAct (L6) ----

  private val CodeActRounds = 3

  private def codeactOracle: String = {
    def out(userSql: String) = CodeAct.sandboxSql(CodeAct.codeSql(userSql))
    s"""WITH d AS (
       |  SELECT doc_id, ('Count the words.' || chr(10) || text) AS u1
       |  FROM documents),
       |s1 AS (SELECT doc_id, ${out("u1")} AS o1 FROM d),
       |s2 AS (SELECT doc_id, o1,
       |  CASE WHEN o1 LIKE '%Traceback%'
       |       THEN ${out("('Fix this error:' || chr(10) || o1)")} END AS o2 FROM s1),
       |s3 AS (SELECT doc_id, o1, o2,
       |  CASE WHEN o2 LIKE '%Traceback%'
       |       THEN ${out("('Fix this error:' || chr(10) || o2)")} END AS o3 FROM s2)
       |SELECT doc_id,
       |  CASE WHEN o1 NOT LIKE '%Traceback%' THEN o1
       |       WHEN o2 NOT LIKE '%Traceback%' THEN o2 ELSE o3 END AS answer,
       |  CASE WHEN o1 NOT LIKE '%Traceback%' THEN 1
       |       WHEN o2 NOT LIKE '%Traceback%' THEN 2 ELSE 3 END AS rounds,
       |  (CASE WHEN o1 NOT LIKE '%Traceback%' THEN o1
       |        WHEN o2 NOT LIKE '%Traceback%' THEN o2 ELSE o3 END)
       |    NOT LIKE '%Traceback%' AS ok
       |FROM s3 ORDER BY doc_id""".stripMargin
  }

  // ---- self-verify chain (L4) ----

  private val chainIns = Instruction(
    name = "extract",
    role = "You are an extractor.",
    task = "Extract the key facts.",
    scope = Seq("text"))

  private val chainTurns = Seq("Check for omissions.", "Attribute evidence.")

  private def chainOracle: String = {
    val sys = "'" + Prompts.sysPrompt(chainIns).replace("'", "''") + "'"
    // invalid text ⇒ NULL user prompt ⇒ the chain is skipped and NULL
    // cascades through every turn — the runChain skip semantics
    val u1 = "(CASE WHEN text IS NULL OR text IN " +
      s"${graft.functions.GraftFunctions.InvalidValsSql} THEN NULL " +
      "ELSE ('# text' || chr(10) || text || chr(10)) END)"
    val c1 = MockLlmClient.contentSql(sys, u1)
    val finalSql = chainTurns.foldLeft(c1) { (prev, t) =>
      MockLlmClient.contentSql(sys, s"('$t' || chr(10) || $prev)")
    }
    s"""SELECT doc_id, $finalSql AS chain_result
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- agentic dispatch (L7) ----

  private val analysisIns = Instruction(
    name = "analyze",
    role = "You are an analyst.",
    task = "Analyze the document.",
    scope = Seq("text"), model = "analysis")

  private val extractIns = Instruction(
    name = "extract",
    role = "You are an extractor.",
    task = "Extract entities.",
    scope = Seq("text"), model = "extraction")

  private def agenticOracle: String = {
    def resp(ins: Instruction) = {
      val sys = "'" + Prompts.sysPrompt(ins).replace("'", "''") + "'"
      // same invalid-skip mirror as chainOracle
      MockLlmClient.contentSql(sys, "(CASE WHEN text IS NULL OR text IN " +
        s"${graft.functions.GraftFunctions.InvalidValsSql} THEN NULL " +
        "ELSE ('# text' || chr(10) || text || chr(10)) END)")
    }
    s"""SELECT doc_id, ${resp(analysisIns)} AS analyze, ${resp(extractIns)} AS extract
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // L6 — CodeAct: emit code → sandbox → feed Traceback back → retry,
    // bounded rounds; mock client + mock sandbox, real loop operator.
    QueryDef("codeact_loop",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .withColumn("instruction", lit("Count the words."))
        CodeAct.codeAct(d, "instruction", "text",
            MockCodeActClient(), MockSandbox(), CodeActRounds, "answer")
          .select(col("doc_id"), col("answer"),
            col("answer_rounds").as("rounds"), col("answer_ok").as("ok"))
          .orderBy(col("doc_id"))
      },
      Some(codeactOracle)),

    // L4 — self-verified multi-turn chain: extract → omission check →
    // evidence attribution, an immutable fold over the conversation.
    QueryDef("pipe_selfverify_chain",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val st0 = InstructionRunner.stringifyKv(d, Seq("text"), "stage0_result")
        InstructionRunner.runChain(st0, chainIns, chainTurns,
            MockLlmClient(), "stage0_result", "chain_result")
          .select(col("doc_id"), col("chain_result"))
          .orderBy(col("doc_id"))
      },
      Some(chainOracle)),

    // L7 — agentic dispatch: instructions routed to per-task clients,
    // results merged into one map.
    QueryDef("agentic_dispatch",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val st0 = InstructionRunner.stringifyKv(d, Seq("text"), "stage0_result")
        val stage = InstructionStage("agents", Seq(analysisIns, extractIns))
        val clients = Map[String, LlmClient](
          "analysis" -> MockLlmClient("analysis"),
          "extraction" -> MockLlmClient("extraction"))
        InstructionRunner.dispatchByTask(st0, stage, clients,
            "stage0_result", "agents_result")
          .select(col("doc_id"),
            element_at(col("agents_result"), "analyze").as("analyze"),
            element_at(col("agents_result"), "extract").as("extract"))
          .orderBy(col("doc_id"))
      },
      Some(agenticOracle)),

    // A7/L14 — token counting + cost estimation, grouped by source.
    QueryDef("cost_report",
      (s, dir) => Cost.costReport(
          Tables.load(s, dir, "documents"), "text", Seq("source"))
        .orderBy(col("source")),
      Some(s"""WITH t AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '$BpeTokenPattern'))::BIGINT AS tok
        |  FROM documents),
        |c AS (
        |  SELECT source, tok,
        |    round(tok / 1000000.0 * ${Cost.DefaultInPricePerM}
        |      + tok * ${Cost.DefaultIoRatio} / 1000000.0 * ${Cost.DefaultOutPricePerM}, 9) AS cost_usd
        |  FROM t)
        |SELECT source, COUNT(*) AS n_rows, SUM(tok)::BIGINT AS sum_in_tokens,
        |  CAST(round(CAST(SUM(tok)::DECIMAL(18,6) / COUNT(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_in_tokens,
        |  CAST(round(SUM(cost_usd::DECIMAL(18,9)), 6) AS DOUBLE) AS total_cost_usd
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // S9-shape — multimodal plumbing: opaque binary payload through the
    // partition-batched feature extractor (decode step stubbed
    // deterministically; see ops/Multimodal).
    QueryDef("multimodal_features",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        Multimodal.extractFeatures(d, "payload")
          .select(col("doc_id"), col("n_bytes"), col("digest"),
            // F15 — payload transport encoding. Spark's base64 emits
            // MIME line breaks every 76 chars; strip for the canonical
            // unchunked form.
            regexp_replace(base64(col("payload")), "\r\n", "").as("b64"),
            element_at(col("features"), 1).as("f0"),
            element_at(col("features"), 2).as("f1"),
            element_at(col("features"), 3).as("f2"),
            element_at(col("features"), 4).as("f3"))
          .orderBy(col("doc_id"))
      },
      // encode(), not ::BLOB: DuckDB's VARCHAR→BLOB cast demands
      // hex-escaped non-ASCII and ERRORS on real multi-byte text
      // (fuzz class); encode() converts via UTF-8 bytes like Spark's
      // cast("binary")
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | sha256(text) AS digest,
        | to_base64(encode(text)) AS b64,
        | ('0x' || substring(sha256(text), 1, 2))::INT / 255.0 AS f0,
        | ('0x' || substring(sha256(text), 3, 2))::INT / 255.0 AS f1,
        | ('0x' || substring(sha256(text), 5, 2))::INT / 255.0 AS f2,
        | ('0x' || substring(sha256(text), 7, 2))::INT / 255.0 AS f3
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // S9-shape — deterministic frame sampling: every 4th 32-byte frame
    // of the binary payload as a scan-time expression (the video/audio
    // "sample k frames before decoding" step). The payload under test
    // is the base64 transport form of the text — ASCII by
    // construction, so the oracle's VARCHAR substring IS byte math on
    // ANY corpus (DuckDB cannot slice BLOBs; the old raw-text form
    // silently assumed an ASCII corpus and the fuzz run caught it).
    // The operator itself still sees opaque bytes.
    QueryDef("multimodal_frame_sample",
      (s, dir) => {
        val payload = regexp_replace(base64(col("text").cast("binary")),
          "\r\n", "").cast("binary")
        val frames = Multimodal.frameSample(
          payload, frameBytes = 32, everyNth = 4)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), frames.as("frames"))
          .select(col("doc_id"),
            size(col("frames")).as("n_frames"),
            md5(get(col("frames"), lit(0))).as("first_md5"),
            // element_at(.., 0) throws under ANSI — guard empty arrays
            when(size(col("frames")) > 0,
              md5(element_at(col("frames"), size(col("frames")))))
              .as("last_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (
        |  SELECT doc_id, to_base64(encode(text)) AS t FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) >= 32
        |      THEN list_transform(range(0, (length(t) - 32) // 128 + 1),
        |                          i -> substring(t, i * 128 + 1, 32))
        |      ELSE [] END AS frames
        |  FROM b)
        |SELECT doc_id, len(frames)::INT AS n_frames,
        |  CASE WHEN len(frames) > 0 THEN md5(frames[1]) END AS first_md5,
        |  CASE WHEN len(frames) > 0 THEN md5(frames[len(frames)]) END AS last_md5
        |FROM f ORDER BY doc_id""".stripMargin)),

    // S9-shape — binary multipart chunk manifest: fixed-size chunks
    // (last partial) with per-chunk offset/size/md5, the manifest a
    // multimodal store writes next to each blob for resumable transfer
    // and sub-object dedup. Scan-time slice array + posexplode — no
    // shuffle before the final presentation sort; at 100 TB the
    // manifest is written partition-local next to the data files.
    // Payload = the base64 transport form (ASCII by construction —
    // same convention as multimodal_frame_sample, fuzz-proof on any
    // corpus), so the oracle's VARCHAR substring is exact byte math.
    QueryDef("multimodal_chunk_manifest",
      (s, dir) => {
        val cb = 192
        val payload = regexp_replace(base64(col("text").cast("binary")),
          "\r\n", "").cast("binary")
        val slices = Multimodal.chunkSlices(payload, cb)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), posexplode(slices).as(Seq("i", "chunk")))
          .select(col("doc_id"),
            col("i").cast("long").as("chunk_idx"),
            (col("i").cast("long") * cb).as("byte_offset"),
            length(col("chunk")).cast("long").as("chunk_bytes"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH b AS (
        |  SELECT doc_id, to_base64(encode(text)) AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, (length(t) - 1) // 192 + 1)) AS i
        |  FROM b WHERE length(t) > 0)
        |SELECT doc_id, i AS chunk_idx, i * 192 AS byte_offset,
        |  length(substring(t, (i * 192 + 1)::INT, 192))::BIGINT AS chunk_bytes,
        |  md5(substring(t, (i * 192 + 1)::INT, 192)) AS chunk_md5
        |FROM idx
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // S9 REAL-decode gate (r10): deterministic synthetic PNGs (dims
    // and half-colors closed-form in doc_id) are encoded with
    // ImageIO.write on the executors, then decoded back through
    // Multimodal.decodeImage (javax.imageio — the real JDK reader, not
    // the stub) behind the same partition-batched bridge. PNG over
    // TYPE_INT_RGB is lossless, so the decoded width/height/channel
    // sums are analytically predictable — which lets DuckDB (no image
    // reader at all) oracle-check a genuine encode→decode round trip:
    // left halves get floor(w/2) columns, integer pixel sums are
    // exact BIGINTs on both sides. The binary payload never shuffles —
    // synth, decode, and projection all ride one scan-time pipeline;
    // only the thin stat rows hit the presentation sort.
    QueryDef("multimodal_image_stats",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents").select(col("doc_id"))
        val schema = base.schema
          .add("payload", org.apache.spark.sql.types.BinaryType)
        val withPng = base.mapPartitions { it: Iterator[Row] =>
          it.map { r =>
            val id = r.getLong(0)
            def ch(k: Long): Int = ((id * k) % 256L).toInt
            val w = (8L + id % 16L).toInt
            val h = (8L + id % 8L).toInt
            val left = (ch(7) << 16) | (ch(13) << 8) | ch(29)
            val right = (ch(11) << 16) | (ch(17) << 8) | ch(31)
            Row(id, Multimodal.encodeSplitPng(w, h, left, right))
          }
        }(Encoders.row(schema))
        Multimodal.extractImageStats(withPng, "payload")
          .select(col("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("decoded"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    (8 + doc_id % 16)::BIGINT AS w, (8 + doc_id % 8)::BIGINT AS h,
        |    (doc_id * 7) % 256 AS lr, (doc_id * 13) % 256 AS lg,
        |    (doc_id * 29) % 256 AS lb,
        |    (doc_id * 11) % 256 AS rr, (doc_id * 17) % 256 AS rg,
        |    (doc_id * 31) % 256 AS rb
        |  FROM documents)
        |SELECT doc_id, w AS width, h AS height,
        |  (h * ((w // 2) * lr + (w - w // 2) * rr))::BIGINT AS sum_r,
        |  (h * ((w // 2) * lg + (w - w // 2) * rg))::BIGINT AS sum_g,
        |  (h * ((w // 2) * lb + (w - w // 2) * rb))::BIGINT AS sum_b,
        |  TRUE AS decoded
        |FROM g ORDER BY doc_id""".stripMargin)),

    // S9 image NEAR-DUP pipeline (r10): synth gradient PNGs (pixel
    // gray = (a·x + b·y + c) mod 256 with (a, b, c) derived from
    // doc_id mod 50 — so docs share an image in groups of ~10) →
    // REAL ImageIO decode → 64-bit perceptual dHash (integer block
    // average to a 9×8 grid, horizontal-gradient sign bits) → hash
    // groups = duplicate-image clusters. The whole encode→decode→
    // fingerprint→dedup chain runs on real JDK image machinery, and
    // because the pixels are closed-form and every hash step is
    // integer math, DuckDB predicts the exact 64-bit hashes — and
    // therefore the exact clusters — with no image reader at all.
    // Payloads never shuffle: only the 8-byte hash reaches the
    // aggregate, which is the production shape (fingerprint at scan,
    // cluster by hash — at 100 TB with banded Hamming buckets for
    // near-misses, the MinHash-LSH discipline applied to pixels).
    QueryDef("multimodal_phash_dedup",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents").select(col("doc_id"))
        val hashSchema = base.schema
          .add("dhash", org.apache.spark.sql.types.LongType)
        val hashed = base.mapPartitions { it: Iterator[Row] =>
          it.map { r =>
            val id = r.getLong(0)
            val sd = id % 50L
            // coefficients large enough that the gradient WRAPS mod
            // 256 inside the image — an unwrapped monotone gradient
            // sets every dHash bit (degenerate all-equal hashes)
            val a = ((sd % 5L) + 1L).toInt * 29
            val b = ((sd % 7L) + 1L).toInt * 23
            val c = ((sd * 13L) % 256L).toInt
            val png = Multimodal.encodeGrayPng(18, 16,
              (x, y) => (a * x + b * y + c) % 256)
            Row(id, Multimodal.dHash64(png).get)
          }
        }(Encoders.row(hashSchema))
        hashed.groupBy(col("dhash"))
          .agg(count(lit(1)).as("n_members"),
            min(col("doc_id")).as("rep_id"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy(col("dhash"))
      },
      Some("""WITH p AS (
        |  SELECT doc_id, ((doc_id % 50) % 5 + 1) * 29 AS a,
        |    ((doc_id % 50) % 7 + 1) * 23 AS b,
        |    (doc_id % 50) * 13 % 256 AS c
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, x.i AS x, y.i AS y,
        |    (a * x.i + b * y.i + c) % 256 AS g
        |  FROM p, (SELECT unnest(range(0, 18)) AS i) x,
        |       (SELECT unnest(range(0, 16)) AS i) y),
        |cells AS (
        |  SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(g) // 4 AS cell
        |  FROM px GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT l.doc_id, l.cy, l.cx,
        |    CASE WHEN r.cell > l.cell THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8),
        |hs AS (
        |  -- pack in HUGEINT (bit 63 overflows a checked BIGINT
        |  -- shift), then wrap to the signed long Spark produces
        |  SELECT doc_id, CAST(CASE
        |      WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END
        |    AS BIGINT) AS dhash
        |  FROM (SELECT doc_id,
        |      sum(bit * (1::HUGEINT << (cy * 8 + cx))) AS h
        |    FROM bits GROUP BY doc_id))
        |SELECT dhash, count(*) AS n_members, min(doc_id) AS rep_id,
        |  sum(doc_id)::BIGINT AS id_sum
        |FROM hs GROUP BY dhash ORDER BY dhash""".stripMargin)),

    // S9 image NEAR-dup pairs (r10): the Hamming-banded companion to
    // multimodal_phash_dedup — docs with id mod 100 ≥ 50 carry a
    // one-pixel-perturbed variant of their class image, so each class
    // splits into two exact-hash clusters a few dHash bits apart. The
    // fingerprint table collapses to DISTINCT hashes FIRST (the scale
    // move: band-join fingerprints, never docs), bands are four 16-bit
    // hash slices (the MinHash-LSH banding discipline applied to
    // Hamming space: ≤ 3 flipped bits cannot touch all 4 bands), and
    // candidates verify with bit_count(xor) ∈ [1, 6] — 0 excluded
    // (exact dups are the other gate's job). Unsigned band slicing via
    // shiftrightunsigned / HUGEINT wrap keeps both engines identical
    // on negative hashes.
    QueryDef("multimodal_phash_near",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents").select(col("doc_id"))
        val hashSchema = base.schema
          .add("dhash", org.apache.spark.sql.types.LongType)
        val hashed = base.mapPartitions { it: Iterator[Row] =>
          it.map { r =>
            val id = r.getLong(0)
            val sd = id % 50L
            val a = ((sd % 5L) + 1L).toInt * 29
            val b = ((sd % 7L) + 1L).toInt * 23
            val c = ((sd * 13L) % 256L).toInt
            val noisy = id % 100L >= 50L
            val png = Multimodal.encodeGrayPng(18, 16, (x, y) => {
              val g = (a * x + b * y + c) % 256
              if (noisy && x == 9 && y == 7) (g + 40) % 256 else g
            })
            Row(id, Multimodal.dHash64(png).get)
          }
        }(Encoders.row(hashSchema))
        val clusters = hashed.groupBy(col("dhash"))
          .agg(count(lit(1)).as("n")).stageCheckpoint(true)
        val bands = clusters.select(col("dhash"), col("n"),
          explode(array((0 until 4).map(b =>
            shiftrightunsigned(col("dhash"), 16 * b)
              .bitwiseAND(lit(65535L))
              * lit(4L) + lit(b.toLong)): _*)).as("bv"))
        bands.as("x").join(bands.as("y"),
            col("x.bv") === col("y.bv") &&
              col("x.dhash") < col("y.dhash"))
          .select(col("x.dhash").as("dhash_a"), col("y.dhash").as("dhash_b"),
            col("x.n").as("n_a"), col("y.n").as("n_b"))
          .distinct()
          .withColumn("hamming",
            expr("bit_count(dhash_a ^ dhash_b)").cast("long"))
          .where(col("hamming") >= 1 && col("hamming") <= 6)
          .select(col("dhash_a"), col("dhash_b"), col("hamming"),
            (col("n_a") * col("n_b")).as("n_doc_pairs"))
          .orderBy(col("dhash_a"), col("dhash_b"))
      },
      Some("""WITH p AS (
        |  SELECT doc_id, ((doc_id % 50) % 5 + 1) * 29 AS a,
        |    ((doc_id % 50) % 7 + 1) * 23 AS b,
        |    (doc_id % 50) * 13 % 256 AS c,
        |    CASE WHEN doc_id % 100 >= 50 THEN 1 ELSE 0 END AS noisy
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, x.i AS x, y.i AS y,
        |    CASE WHEN noisy = 1 AND x.i = 9 AND y.i = 7
        |      THEN ((a * x.i + b * y.i + c) % 256 + 40) % 256
        |      ELSE (a * x.i + b * y.i + c) % 256 END AS g
        |  FROM p, (SELECT unnest(range(0, 18)) AS i) x,
        |       (SELECT unnest(range(0, 16)) AS i) y),
        |cells AS (
        |  SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(g) // 4 AS cell
        |  FROM px GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT l.doc_id, l.cy, l.cx,
        |    CASE WHEN r.cell > l.cell THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8),
        |hs AS (
        |  SELECT doc_id, CAST(CASE
        |      WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END
        |    AS BIGINT) AS dhash
        |  FROM (SELECT doc_id,
        |      sum(bit * (1::HUGEINT << (cy * 8 + cx))) AS h
        |    FROM bits GROUP BY doc_id)),
        |cl AS (SELECT dhash, count(*) AS n FROM hs GROUP BY dhash),
        |bands AS (
        |  SELECT dhash, n,
        |    ((CASE WHEN dhash < 0
        |        THEN dhash::HUGEINT + 18446744073709551616::HUGEINT
        |        ELSE dhash::HUGEINT END >> (16 * bb.i)) % 65536)
        |      * 4 + bb.i AS bv
        |  FROM cl, (SELECT unnest(range(0, 4)) AS i) bb),
        |cand AS (
        |  SELECT DISTINCT x.dhash AS dhash_a, y.dhash AS dhash_b,
        |    x.n AS n_a, y.n AS n_b
        |  FROM bands x JOIN bands y
        |    ON x.bv = y.bv AND x.dhash < y.dhash)
        |SELECT dhash_a, dhash_b,
        |  bit_count(xor(dhash_a, dhash_b))::BIGINT AS hamming,
        |  (n_a * n_b)::BIGINT AS n_doc_pairs
        |FROM cand
        |WHERE bit_count(xor(dhash_a, dhash_b)) BETWEEN 1 AND 6
        |ORDER BY dhash_a, dhash_b""".stripMargin)),

    // S9 AUDIO census (r10): 16-bit LE PCM payloads (a square wave
    // whose amplitude and half-period derive from doc_id) parsed back
    // from raw bytes on the executors — PCM "decode" is byte
    // arithmetic, so unlike compressed codecs it is fully REAL here —
    // into per-frame energy (Σ s², exact BIGINT) and zero-crossing
    // counts. The audio twin of multimodal_image_stats: payloads never
    // shuffle, only the thin (doc, frame) feature rows reach the sort,
    // and the oracle predicts every feature from the closed-form
    // waveform (lag-window sign flips, integer sums) with no audio
    // stack at all.
    QueryDef("multimodal_audio_features",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents").select(col("doc_id"))
        val schema = base.schema
          .add("payload", org.apache.spark.sql.types.BinaryType)
        val withPcm = base.mapPartitions { it: Iterator[Row] =>
          it.map { r =>
            val id = r.getLong(0)
            val amp = (1000L + (id % 8L) * 1000L).toInt
            val halfP = (8L + (id % 16L)).toInt
            val samples = Array.tabulate(2048)(t =>
              if ((t / halfP) % 2 == 0) amp else -amp)
            Row(id, Multimodal.encodePcm16(samples))
          }
        }(Encoders.row(schema))
        Multimodal.extractPcmFeatures(withPcm, "payload", frameSamples = 512)
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""WITH p AS (
        |  SELECT doc_id, 1000 + (doc_id % 8) * 1000 AS amp,
        |    8 + (doc_id % 16) AS halfp
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t.i AS i,
        |    CASE WHEN (t.i // halfp) % 2 = 0 THEN amp ELSE -amp END AS v
        |  FROM p, (SELECT unnest(range(0, 2048)) AS i) t),
        |w AS (
        |  SELECT doc_id, i // 512 AS frame_idx, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv,
        |    i % 512 AS fpos
        |  FROM s)
        |SELECT doc_id, frame_idx, count(*)::BIGINT AS n_samples,
        |  sum(v * v)::BIGINT AS energy,
        |  coalesce(sum(CASE WHEN fpos > 0 AND v * pv < 0
        |    THEN 1 ELSE 0 END), 0)::BIGINT AS n_zero_cross
        |FROM w GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Rendezvous (highest-random-weight) shard assignment — the
    // consistent-placement primitive for growing a 100 TB corpus from
    // N to N+1 shards: each doc goes to argmax over shards of
    // h(shard, doc_id), so adding a shard moves only the docs the NEW
    // shard now wins (~1/(N+1) of the corpus) and every moved doc
    // lands ON the new shard (n_moved_elsewhere is identically 0 —
    // spec-asserted, oracle-mirrored). The mod-hash columns are the
    // counter-evidence: h % N reshuffles ~8/9 of everything. Pure
    // scan-time argmax (a when-chain over N seeded md5Long hashes, no
    // shuffle) + one rollup keyed on old_shard.
    QueryDef("shard_rendezvous_moves",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nOld = 8
        val nNew = 9
        val id = col("doc_id").cast("string")
        def owner(n: Int): org.apache.spark.sql.Column = {
          val hs = (0 until n).map(i => md5Long(i, id))
          val g = greatest(hs: _*)
          hs.zipWithIndex.foldLeft(null: org.apache.spark.sql.Column) {
            case (acc, (hc, i)) =>
              if (acc == null) when(hc === g, i.toLong)
              else acc.when(hc === g, i.toLong)
          }
        }
        Tables.load(s, dir, "documents")
          .select(
            owner(nOld).as("old_shard"), owner(nNew).as("new_shard"),
            pmod(md5Long(id), lit(nOld.toLong)).as("old_mod"),
            pmod(md5Long(id), lit(nNew.toLong)).as("new_mod"))
          .groupBy(col("old_shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("new_shard") =!= col("old_shard"), 1L)
              .otherwise(0L)).as("n_moved"),
            sum(when(col("new_shard") =!= col("old_shard") &&
              col("new_shard") =!= nOld.toLong, 1L)
              .otherwise(0L)).as("n_moved_elsewhere"),
            sum(when(col("new_mod") =!= col("old_mod"), 1L)
              .otherwise(0L)).as("n_mod_moved"))
          .withColumn("moved_frac",
            round((col("n_moved").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .withColumn("mod_moved_frac",
            round((col("n_mod_moved").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .orderBy(col("old_shard"))
      },
      Some {
        def h(i: Int) =
          s"('0x' || substring(md5('$i:' || doc_id::VARCHAR), 1, 15))::BIGINT"
        def owner(n: Int, alias: String) = {
          val hs = (0 until n).map(h)
          val g = s"greatest(${hs.mkString(", ")})"
          val cases = hs.zipWithIndex
            .map { case (hc, i) => s"WHEN $hc = $g THEN ${i}::BIGINT" }
            .mkString(" ")
          s"CASE $cases END AS $alias"
        }
        s"""WITH a AS (
          |  SELECT ${owner(8, "old_shard")},
          |    ${owner(9, "new_shard")},
          |    ${h(0).replace("'0:' || ", "")} % 8 AS old_mod,
          |    ${h(0).replace("'0:' || ", "")} % 9 AS new_mod
          |  FROM documents)
          |SELECT old_shard, COUNT(*) AS n_docs,
          |  SUM(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END)::BIGINT AS n_moved,
          |  SUM(CASE WHEN new_shard <> old_shard AND new_shard <> 8
          |      THEN 1 ELSE 0 END)::BIGINT AS n_moved_elsewhere,
          |  SUM(CASE WHEN new_mod <> old_mod THEN 1 ELSE 0 END)::BIGINT AS n_mod_moved,
          |  CAST(round(CAST(SUM(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END)::DOUBLE
          |    / COUNT(*)::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) AS moved_frac,
          |  CAST(round(CAST(SUM(CASE WHEN new_mod <> old_mod THEN 1 ELSE 0 END)::DOUBLE
          |    / COUNT(*)::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) AS mod_moved_frac
          |FROM a GROUP BY old_shard ORDER BY old_shard""".stripMargin
      }),

    // Capacity-weighted rendezvous — heterogeneous shards: score_i =
    // w_i/|ln(u_i)| (the Efraimidis–Spirakis exponential trick on the
    // same 60-bit uniforms) allocates docs proportionally to shard
    // WEIGHTS, and upgrading one shard's weight (shard 3: 1 → 3)
    // moves docs ONLY onto the upgraded shard — everyone else's
    // scores are untouched, so no doc can move between unchanged
    // shards (n_moved_elsewhere ≡ 0, and shard 3's own row moves
    // nothing). Expected movement = share growth = 3/10 − 1/8 ≈
    // 17.5 % of the corpus; a naive rebalance re-hashes everything.
    // Same scan-local argmax shape as shard_rendezvous_moves — ln and
    // IEEE division are cross-engine-stable on identical operands
    // (the prioritySample precedent).
    QueryDef("shard_rendezvous_weighted",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nSh = 8
        val upgraded = 3
        val id = col("doc_id").cast("string")
        val M = 1152921504606846976d // 2^60, exact double
        def u(i: Int) =
          (md5Long(i, id) + lit(1L)).cast("double") / lit(M)
        def argmaxChain(scores: Seq[org.apache.spark.sql.Column]) = {
          val g = greatest(scores: _*)
          scores.zipWithIndex.foldLeft(null: org.apache.spark.sql.Column) {
            case (acc, (c, i)) =>
              if (acc == null) when(c === g, i.toLong)
              else acc.when(c === g, i.toLong)
          }
        }
        val before = argmaxChain((0 until nSh).map(i => u(i)))
        val after = argmaxChain((0 until nSh).map { i =>
          val w = if (i == upgraded) 3.0 else 1.0
          lit(-w) / log(u(i))
        })
        Tables.load(s, dir, "documents")
          .select(before.as("before_shard"), after.as("after_shard"))
          .groupBy(col("before_shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("after_shard") =!= col("before_shard"), 1L)
              .otherwise(0L)).as("n_moved"),
            sum(when(col("after_shard") =!= col("before_shard") &&
              col("after_shard") =!= upgraded.toLong, 1L)
              .otherwise(0L)).as("n_moved_elsewhere"))
          .withColumn("moved_frac",
            round((col("n_moved").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .orderBy(col("before_shard"))
      },
      Some {
        def u(i: Int) =
          s"((('0x' || substring(md5('$i:' || doc_id::VARCHAR), 1, 15))::BIGINT" +
            s" + 1) / 1152921504606846976.0)"
        def argmax(exprs: Seq[String], alias: String) = {
          val g = s"greatest(${exprs.mkString(", ")})"
          val cases = exprs.zipWithIndex
            .map { case (e, i) => s"WHEN $e = $g THEN ${i}::BIGINT" }
            .mkString(" ")
          s"CASE $cases END AS $alias"
        }
        val before = argmax((0 until 8).map(u), "before_shard")
        val after = argmax((0 until 8).map { i =>
          val w = if (i == 3) "-3.0" else "-1.0"
          s"(($w) / ln(${u(i)}))"
        }, "after_shard")
        s"""WITH a AS (
          |  SELECT $before,
          |    $after
          |  FROM documents)
          |SELECT before_shard, COUNT(*) AS n_docs,
          |  SUM(CASE WHEN after_shard <> before_shard THEN 1 ELSE 0 END)::BIGINT
          |    AS n_moved,
          |  SUM(CASE WHEN after_shard <> before_shard AND after_shard <> 3
          |      THEN 1 ELSE 0 END)::BIGINT AS n_moved_elsewhere,
          |  CAST(round(CAST(SUM(CASE WHEN after_shard <> before_shard
          |      THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
          |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS moved_frac
          |FROM a GROUP BY before_shard ORDER BY before_shard""".stripMargin
      }),

    // Rendezvous DRAIN — shard REMOVAL, the operational twin of the
    // weighted upgrade above (decommission a box / retire a bucket):
    // drop shard 5 from the same weighted candidate set (shard 3
    // carries weight 3, the rest 1) and re-argmax over the seven
    // survivors. Rendezvous gives the two drain invariants for free,
    // and the report makes them VALUES the oracle hashes: a doc not
    // on the drained shard keeps its argmax (removing a non-winning
    // candidate changes nothing) → n_lost ≡ 0 on every surviving
    // shard; the drained docs redistribute onto survivors in
    // proportion to weight (recv_frac ≈ w_s/Σw). A mod-hash drain
    // reshuffles nearly everything. Plan: scan-local argmax twice
    // (when-chains over seeded md5Long/ln scores, zero shuffle),
    // a 2-rows-per-doc explode carrying (role, shard, received)
    // indicators so ONE ≤16-group hash aggregate yields before/after/
    // received counts in a single pass — no self-join, full map-side
    // combine; cross-engine-exact because ln and IEEE division are
    // stable on identical operands (the prioritySample precedent).
    QueryDef("shard_rendezvous_drain",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nSh = 8
        val heavy = 3   // weight-3 shard from shard_rendezvous_weighted
        val drained = 5
        val id = col("doc_id").cast("string")
        val M = 1152921504606846976d // 2^60, exact double
        def u(i: Int) =
          (md5Long(i, id) + lit(1L)).cast("double") / lit(M)
        def score(i: Int) = {
          val w = if (i == heavy) 3.0 else 1.0
          lit(-w) / log(u(i))
        }
        def argmaxChain(pairs: Seq[(org.apache.spark.sql.Column, Int)]) = {
          val g = greatest(pairs.map(_._1): _*)
          pairs.foldLeft(null: org.apache.spark.sql.Column) {
            case (acc, (c, i)) =>
              if (acc == null) when(c === g, i.toLong)
              else acc.when(c === g, i.toLong)
          }
        }
        val before = argmaxChain((0 until nSh).map(i => score(i) -> i))
        val after = argmaxChain(
          (0 until nSh).filter(_ != drained).map(i => score(i) -> i))
        val assigned = Tables.load(s, dir, "documents")
          .select(before.as("b"), after.as("a"))
        val roles = assigned.select(explode(array(
            struct(lit(0).as("role"), col("b").as("shard"), lit(0L).as("recv")),
            struct(lit(1).as("role"), col("a").as("shard"),
              when(col("b") === drained.toLong, 1L).otherwise(0L).as("recv"))))
            .as("r"))
          .select(col("r.role"), col("r.shard"), col("r.recv"))
        // ≤|shards| rows, read twice (report + drained-total):
        // checkpoint so the corpus argmax scan runs once
        val perShard = roles.groupBy(col("shard"))
          .agg(
            sum(when(col("role") === 0, 1L).otherwise(0L)).as("n_before"),
            sum(when(col("role") === 1, 1L).otherwise(0L)).as("n_after"),
            sum(when(col("role") === 1, col("recv")).otherwise(0L))
              .as("n_received"))
          .stageCheckpoint(true)
        perShard
          .crossJoin(broadcast(perShard.agg(
            sum(col("n_received")).as("__drained_total"))))
          .select(col("shard"), col("n_before"), col("n_after"),
            col("n_received"),
            // docs that LEFT this shard: all of a drained shard,
            // identically zero on every survivor
            (col("n_before") - (col("n_after") - col("n_received")))
              .as("n_lost"),
            round((col("n_received").cast("double") /
              col("__drained_total").cast("double")).cast(dec), 6)
              .cast("double").as("recv_frac"))
          .orderBy(col("shard"))
      },
      Some {
        def u(i: Int) =
          s"((('0x' || substring(md5('$i:' || doc_id::VARCHAR), 1, 15))::BIGINT" +
            s" + 1) / 1152921504606846976.0)"
        def score(i: Int) = {
          val w = if (i == 3) "-3.0" else "-1.0"
          s"(($w) / ln(${u(i)}))"
        }
        def argmax(pairs: Seq[(String, Int)], alias: String) = {
          val g = s"greatest(${pairs.map(_._1).mkString(", ")})"
          val cases = pairs
            .map { case (e, i) => s"WHEN $e = $g THEN ${i}::BIGINT" }
            .mkString(" ")
          s"CASE $cases END AS $alias"
        }
        val before = argmax((0 until 8).map(i => score(i) -> i), "b")
        val after = argmax((0 until 8).filter(_ != 5)
          .map(i => score(i) -> i), "a")
        s"""WITH asg AS (
          |  SELECT $before, $after FROM documents),
          |bef AS (SELECT b AS shard, COUNT(*) AS n_before
          |  FROM asg GROUP BY b),
          |aft AS (SELECT a AS shard, COUNT(*) AS n_after,
          |    SUM(CASE WHEN b = 5 THEN 1 ELSE 0 END)::BIGINT AS n_received
          |  FROM asg GROUP BY a),
          |j AS (SELECT coalesce(bef.shard, aft.shard) AS shard,
          |    coalesce(n_before, 0)::BIGINT AS n_before,
          |    coalesce(n_after, 0)::BIGINT AS n_after,
          |    coalesce(n_received, 0)::BIGINT AS n_received
          |  FROM bef FULL OUTER JOIN aft ON bef.shard = aft.shard),
          |t AS (SELECT SUM(n_received) AS drained_total FROM j)
          |SELECT shard, n_before, n_after, n_received,
          |  (n_before - (n_after - n_received))::BIGINT AS n_lost,
          |  CAST(round(CAST(n_received::DOUBLE / t.drained_total::DOUBLE
          |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS recv_frac
          |FROM j, t ORDER BY shard""".stripMargin
      }),

    // Rendezvous REBALANCE — a FRACTIONAL weight change on live
    // shards (shard 3 partially downgraded 3 → 2, shard 6 upgraded
    // 1 → 1.5), the day-2 capacity operation between the all-or-
    // nothing upgrade (shard_rendezvous_weighted) and removal
    // (shard_rendezvous_drain): shrink a hot box a little, grow a
    // cold one a little, move the minimum. Rendezvous localizes the
    // churn and the report pins it as VALUES the oracle hashes: a
    // doc on an UNCHANGED shard can only move TO the upgraded shard
    // (its own score and every other unchanged score are untouched;
    // the downgraded shard's score only fell) → n_moved_invalid ≡ 0
    // on every row; the upgraded shard loses nothing (its score only
    // rose) → shard 6's n_moved ≡ 0. Only the downgraded shard
    // scatters, and only by its share loss (3/10 → 2/9.5 ≈ 9 % of
    // its docs stay put per-doc decided). Plan: one scan-local
    // double argmax (when-chains over seeded md5Long/ln scores, no
    // shuffle) + one ≤|shards|-group hash aggregate — identical
    // cross-engine because ln and IEEE division are stable on
    // identical operands (the prioritySample precedent).
    QueryDef("shard_rendezvous_rebalance",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nSh = 8
        val heavy = 3     // weight 3 → 2 (fractional downgrade)
        val upgraded = 6  // weight 1 → 1.5 (fractional upgrade)
        val id = col("doc_id").cast("string")
        val M = 1152921504606846976d // 2^60, exact double
        def u(i: Int) =
          (md5Long(i, id) + lit(1L)).cast("double") / lit(M)
        def score(i: Int, w: Double) = lit(-w) / log(u(i))
        def argmaxChain(scores: Seq[org.apache.spark.sql.Column]) = {
          val g = greatest(scores: _*)
          scores.zipWithIndex.foldLeft(null: org.apache.spark.sql.Column) {
            case (acc, (c, i)) =>
              if (acc == null) when(c === g, i.toLong)
              else acc.when(c === g, i.toLong)
          }
        }
        val before = argmaxChain((0 until nSh).map(i =>
          score(i, if (i == heavy) 3.0 else 1.0)))
        val after = argmaxChain((0 until nSh).map(i =>
          score(i, if (i == heavy) 2.0
                   else if (i == upgraded) 1.5 else 1.0)))
        Tables.load(s, dir, "documents")
          .select(before.as("before_shard"), after.as("after_shard"))
          .groupBy(col("before_shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("after_shard") =!= col("before_shard"), 1L)
              .otherwise(0L)).as("n_moved"),
            sum(when(col("after_shard") =!= col("before_shard") &&
              col("after_shard") === upgraded.toLong, 1L)
              .otherwise(0L)).as("n_to_upgraded"),
            // a move that is neither FROM the downgraded shard nor
            // ONTO the upgraded one would break rendezvous locality
            sum(when(col("after_shard") =!= col("before_shard") &&
              col("before_shard") =!= heavy.toLong &&
              col("after_shard") =!= upgraded.toLong, 1L)
              .otherwise(0L)).as("n_moved_invalid"))
          .withColumn("moved_frac",
            round((col("n_moved").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .orderBy(col("before_shard"))
      },
      Some {
        def u(i: Int) =
          s"((('0x' || substring(md5('$i:' || doc_id::VARCHAR), 1, 15))::BIGINT" +
            s" + 1) / 1152921504606846976.0)"
        def score(i: Int, w: String) = s"(($w) / ln(${u(i)}))"
        def argmax(exprs: Seq[String], alias: String) = {
          val g = s"greatest(${exprs.mkString(", ")})"
          val cases = exprs.zipWithIndex
            .map { case (e, i) => s"WHEN $e = $g THEN ${i}::BIGINT" }
            .mkString(" ")
          s"CASE $cases END AS $alias"
        }
        val before = argmax((0 until 8).map(i =>
          score(i, if (i == 3) "-3.0" else "-1.0")), "before_shard")
        val after = argmax((0 until 8).map(i =>
          score(i, if (i == 3) "-2.0"
                   else if (i == 6) "-1.5" else "-1.0")), "after_shard")
        s"""WITH a AS (
          |  SELECT $before,
          |    $after
          |  FROM documents)
          |SELECT before_shard, COUNT(*) AS n_docs,
          |  SUM(CASE WHEN after_shard <> before_shard THEN 1 ELSE 0 END)::BIGINT
          |    AS n_moved,
          |  SUM(CASE WHEN after_shard <> before_shard AND after_shard = 6
          |      THEN 1 ELSE 0 END)::BIGINT AS n_to_upgraded,
          |  SUM(CASE WHEN after_shard <> before_shard AND before_shard <> 3
          |      AND after_shard <> 6 THEN 1 ELSE 0 END)::BIGINT
          |    AS n_moved_invalid,
          |  CAST(round(CAST(SUM(CASE WHEN after_shard <> before_shard
          |      THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
          |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS moved_frac
          |FROM a GROUP BY before_shard ORDER BY before_shard""".stripMargin
      }),

    // Rendezvous MULTI-shard simultaneous re-weighting — the fleet
    // operation (a whole capacity tier re-planned at once: two hot
    // boxes shrunk, two cold ones grown in ONE step), completing the
    // single-change family (weighted upgrade / drain / fractional
    // rebalance). The locality law generalizes: a doc may move ONLY
    // if its old winner's weight fell or its new winner's weight
    // rose — before ∉ {downgraded} AND after ∉ {upgraded} is
    // impossible (every other score is untouched), pinned as
    // n_moved_invalid ≡ 0 on every row. With SEVERAL upgrades the
    // per-shard no-loss rule weakens (two upgraded shards can trade
    // docs — both scores rose, by different factors), but the
    // MAX-RATIO shard still loses nothing: HRW scores scale linearly
    // in weight, so r_A ≥ r_X and A > X force r_A·A > r_X·X — shard
    // 6 (1 → 1.5, the largest w'/w) has n_moved ≡ 0, hashed. Same
    // scan-local double-argmax + ≤|shards|-group aggregate plan as
    // the rest of the family.
    QueryDef("shard_rendezvous_reweight_multi",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nSh = 8
        // simultaneous change: 3: 3→2.4, 4: 2→1.8, 6: 1→1.5, 1: 1→1.2
        val wBefore = Map(3 -> 3.0, 4 -> 2.0).withDefaultValue(1.0)
        val wAfter = Map(3 -> 2.4, 4 -> 1.8, 6 -> 1.5, 1 -> 1.2)
          .withDefaultValue(1.0)
        val id = col("doc_id").cast("string")
        val M = 1152921504606846976d // 2^60, exact double
        def u(i: Int) =
          (md5Long(i, id) + lit(1L)).cast("double") / lit(M)
        def score(i: Int, w: Double) = lit(-w) / log(u(i))
        def argmaxChain(scores: Seq[org.apache.spark.sql.Column]) = {
          val g = greatest(scores: _*)
          scores.zipWithIndex.foldLeft(null: org.apache.spark.sql.Column) {
            case (acc, (c, i)) =>
              if (acc == null) when(c === g, i.toLong)
              else acc.when(c === g, i.toLong)
          }
        }
        val before = argmaxChain((0 until nSh).map(i => score(i, wBefore(i))))
        val after = argmaxChain((0 until nSh).map(i => score(i, wAfter(i))))
        Tables.load(s, dir, "documents")
          .select(before.as("before_shard"), after.as("after_shard"))
          .groupBy(col("before_shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("after_shard") =!= col("before_shard"), 1L)
              .otherwise(0L)).as("n_moved"),
            sum(when(col("after_shard") =!= col("before_shard") &&
              col("after_shard") === 1L, 1L).otherwise(0L)).as("n_to_up1"),
            sum(when(col("after_shard") =!= col("before_shard") &&
              col("after_shard") === 6L, 1L).otherwise(0L)).as("n_to_up6"),
            sum(when(col("after_shard") =!= col("before_shard") &&
              !col("before_shard").isin(3L, 4L) &&
              !col("after_shard").isin(1L, 6L), 1L)
              .otherwise(0L)).as("n_moved_invalid"))
          .withColumn("moved_frac",
            round((col("n_moved").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .orderBy(col("before_shard"))
      },
      Some {
        def u(i: Int) =
          s"((('0x' || substring(md5('$i:' || doc_id::VARCHAR), 1, 15))::BIGINT" +
            s" + 1) / 1152921504606846976.0)"
        def score(i: Int, w: String) = s"(($w) / ln(${u(i)}))"
        def argmax(exprs: Seq[String], alias: String) = {
          val g = s"greatest(${exprs.mkString(", ")})"
          val cases = exprs.zipWithIndex
            .map { case (e, i) => s"WHEN $e = $g THEN ${i}::BIGINT" }
            .mkString(" ")
          s"CASE $cases END AS $alias"
        }
        val wb = Map(3 -> "-3.0", 4 -> "-2.0").withDefaultValue("-1.0")
        val wa = Map(3 -> "-2.4", 4 -> "-1.8", 6 -> "-1.5", 1 -> "-1.2")
          .withDefaultValue("-1.0")
        val before = argmax((0 until 8).map(i => score(i, wb(i))), "before_shard")
        val after = argmax((0 until 8).map(i => score(i, wa(i))), "after_shard")
        s"""WITH a AS (
          |  SELECT $before,
          |    $after
          |  FROM documents)
          |SELECT before_shard, COUNT(*) AS n_docs,
          |  SUM(CASE WHEN after_shard <> before_shard THEN 1 ELSE 0 END)::BIGINT
          |    AS n_moved,
          |  SUM(CASE WHEN after_shard <> before_shard AND after_shard = 1
          |      THEN 1 ELSE 0 END)::BIGINT AS n_to_up1,
          |  SUM(CASE WHEN after_shard <> before_shard AND after_shard = 6
          |      THEN 1 ELSE 0 END)::BIGINT AS n_to_up6,
          |  SUM(CASE WHEN after_shard <> before_shard
          |      AND before_shard NOT IN (3, 4) AND after_shard NOT IN (1, 6)
          |      THEN 1 ELSE 0 END)::BIGINT AS n_moved_invalid,
          |  CAST(round(CAST(SUM(CASE WHEN after_shard <> before_shard
          |      THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
          |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS moved_frac
          |FROM a GROUP BY before_shard ORDER BY before_shard""".stripMargin
      }),

    // Data profiling — the validation pass an ingest pipeline runs
    // before training: per-column row/null/exact-distinct counts. One
    // column-pruned scan per column (each aggregate reads only its own
    // column); at 100 TB you'd profile a detHash sample with the same
    // plan. Exact COUNT(DISTINCT) is a two-stage partial aggregate —
    // no driver-side work.
    QueryDef("data_profile_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Seq("doc_id", "lang", "n_chars", "source", "text")
          .map { cn =>
            d.agg(count(lit(1)).as("n_rows"),
                (count(lit(1)) - count(col(cn))).as("n_nulls"),
                countDistinct(col(cn)).as("n_distinct"))
              .select(lit(cn).as("col_name"), col("n_rows"),
                col("n_nulls"), col("n_distinct"))
          }
          .reduce(_ union _)
          .orderBy(col("col_name"))
      },
      Some(Seq("doc_id", "lang", "n_chars", "source", "text")
        .map(cn => s"""SELECT '$cn' AS col_name, COUNT(*) AS n_rows,
          |  COUNT(*) - COUNT($cn) AS n_nulls,
          |  COUNT(DISTINCT $cn) AS n_distinct FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // χ² test of independence between lang and source — "is the
    // language mix uniform across sources, or does some source skew?"
    // — the categorical sibling of the numeric drift reports. All
    // observed/marginal counts are exact BIGINT from ONE corpus
    // aggregate (bounded at langs × sources cells); the full grid
    // (including zero cells, which contribute their expected count)
    // is a bounded cross join; each cell term (O−E)²/E rounds to 6dp
    // before the decimal statistic sum, so the χ² value is
    // addition-order-independent and engine-portable.
    QueryDef("crosstab_chi2_lang_source",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val cells = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o")).stageCheckpoint(true)
        val rl = cells.groupBy(col("lang")).agg(sum(col("o")).as("rl"))
        val cl = cells.groupBy(col("source")).agg(sum(col("o")).as("cl"))
        val tot = cells.agg(sum(col("o")).as("n"),
          countDistinct(col("lang")).as("n_lang"),
          countDistinct(col("source")).as("n_source"))
        val grid = rl.crossJoin(cl)
          .join(cells, Seq("lang", "source"), "left")
          .na.fill(0L, Seq("o"))
          .crossJoin(broadcast(tot))
        val e = col("rl").cast("double") * col("cl").cast("double") /
          col("n").cast("double")
        val term = round(((col("o").cast("double") - e) *
          (col("o").cast("double") - e) / e).cast(dec), 6)
        grid.agg(max(col("n")).as("n"), max(col("n_lang")).as("n_lang"),
            max(col("n_source")).as("n_source"),
            ((max(col("n_lang")) - 1) * (max(col("n_source")) - 1))
              .as("dof"),
            round(sum(term).cast(dec), 6).cast("double").as("chi2"))
      },
      Some("""WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM cells GROUP BY 1),
        |cl AS (SELECT source, CAST(sum(o) AS BIGINT) AS cl FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT lang) AS n_lang,
        |  count(DISTINCT source) AS n_source FROM cells),
        |grid AS (
        |  SELECT rl.lang, cl.source, rl.rl, cl.cl,
        |    coalesce(c.o, 0)::BIGINT AS o
        |  FROM rl CROSS JOIN cl
        |  LEFT JOIN cells c ON c.lang = rl.lang AND c.source = cl.source),
        |terms AS (
        |  SELECT round(CAST(
        |    (CAST(o AS DOUBLE) - CAST(rl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (CAST(o AS DOUBLE) - CAST(rl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(rl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS DECIMAL(18,8)), 6) AS term
        |  FROM grid CROSS JOIN tot)
        |SELECT max(n) AS n, max(n_lang) AS n_lang, max(n_source) AS n_source,
        |  (max(n_lang) - 1) * (max(n_source) - 1) AS dof,
        |  CAST(round(CAST(sum(term) AS DECIMAL(18,8)), 6) AS DOUBLE) AS chi2
        |FROM terms CROSS JOIN tot""".stripMargin)),

    // Multi-epoch reshuffle plan: training wants every epoch to be a
    // complete pass over the corpus in a DIFFERENT, uncorrelated
    // order, decided with zero coordination across 1000 writers —
    // shard(doc, epoch) = md5("epoch:doc") mod S gives exactly that
    // (deterministic, any executor computes any doc's placement for
    // any epoch scan-locally; no shuffle of state between epochs, no
    // stored permutation). The census proves the plan: per (epoch,
    // shard) doc/token counts show balance, and stay_frac — the
    // fraction of a shard's docs that sat in the SAME shard last
    // epoch — sits at ≈1/S, the independence a learning-order
    // curriculum needs (a mod-hash on doc_id alone would pin every
    // doc to one shard forever: stay_frac 1). One explode(E) + one
    // aggregate; E× the scan, never a join.
    QueryDef("epoch_shard_plan",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 8)
        val nSh = 8L
        val nEp = 3
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id").cast("string").as("did"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val epochs = s.range(nEp).select(col("id").as("epoch"))
        def shardAt(e: org.apache.spark.sql.Column) =
          pmod(md5Long(concat(e.cast("string"), lit(":"), col("did"))),
            lit(nSh))
        d.crossJoin(broadcast(epochs))
          .withColumn("shard", shardAt(col("epoch")))
          .withColumn("stay",
            when(col("epoch") > 0,
              (shardAt(col("epoch") - 1) === col("shard")).cast("long")))
          .groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).as("n_tokens"),
            round((sum(col("stay")).cast("double") /
              count(col("stay")).cast("double")).cast(dec), 6)
              .cast("double").as("stay_frac"))
          .orderBy(col("epoch"), col("shard"))
      },
      Some("""WITH ep AS (SELECT unnest(range(3)) AS epoch),
        |x AS (
        |  SELECT epoch,
        |    ('0x' || substring(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
        |      1, 15))::BIGINT % 8 AS shard,
        |    CASE WHEN epoch > 0 THEN
        |      (('0x' || substring(md5((epoch - 1)::VARCHAR || ':' ||
        |        doc_id::VARCHAR), 1, 15))::BIGINT % 8
        |       = ('0x' || substring(md5(epoch::VARCHAR || ':' ||
        |        doc_id::VARCHAR), 1, 15))::BIGINT % 8)::BIGINT END AS stay,
        |    len(string_split(text, ' '))::BIGINT AS toks
        |  FROM documents CROSS JOIN ep)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  sum(toks)::BIGINT AS n_tokens,
        |  CAST(round(CAST(sum(stay)::DOUBLE / count(stay)::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS stay_frac
        |FROM x GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin)),

    // Data-contract gate (ops/Contract): the whole rule set costs ONE
    // scan — each rule is a conditional sum in a single aggregate,
    // unpivoted to a report row; the uniqueness rule is a count −
    // distinct in a second tiny aggregate. NULL never passes a rule.
    QueryDef("data_contract_documents",
      (s, dir) => {
        import graft.ops.Contract
        val d = Tables.load(s, dir, "documents")
        Contract.violations(d, Seq(
            "doc_id_not_null" -> col("doc_id").isNotNull,
            "lang_in_domain" -> col("lang").isin("en", "de", "zh", "fr", "es"),
            "n_chars_matches_text" -> (col("n_chars") === length(col("text"))),
            "n_chars_min_100" -> (col("n_chars") >= 100)))
          .union(Contract.keyDuplicates(d, "doc_id"))
          .orderBy(col("rule"))
      },
      Some("""SELECT 'doc_id_not_null' AS rule,
        |  COUNT(*) - COUNT(*) FILTER (WHERE doc_id IS NOT NULL) AS violations
        |FROM documents
        |UNION ALL SELECT 'lang_in_domain',
        |  COUNT(*) - COUNT(*) FILTER (WHERE lang IN ('en','de','zh','fr','es'))
        |FROM documents
        |UNION ALL SELECT 'n_chars_matches_text',
        |  COUNT(*) - COUNT(*) FILTER (WHERE n_chars = length(text))
        |FROM documents
        |UNION ALL SELECT 'n_chars_min_100',
        |  COUNT(*) - COUNT(*) FILTER (WHERE n_chars >= 100)
        |FROM documents
        |UNION ALL SELECT 'unique_doc_id',
        |  COUNT(*) - COUNT(DISTINCT doc_id)
        |FROM documents
        |ORDER BY rule""".stripMargin)),

    // Incremental aggregate maintenance — the state-table pattern: a
    // running per-lang summary is maintained by MERGING the new
    // batch's partial aggregates into stored state (union two tiny
    // aggregate frames, re-aggregate), never by rescanning history.
    // Everything kept in state is a MERGEABLE sum/count/min/max;
    // derived metrics (the mean) are computed at read time from the
    // merged sums — the discipline that makes the pattern valid.
    // State = docs with doc_id % 4 != 0 ("yesterday's corpus"), batch
    // = the rest; the oracle is the FULL recompute over everything,
    // so the gate proves merge ≡ rescan bit-for-bit (decimal-exact
    // sums; the mean goes through the shared quotient guard). At
    // 100 TB the rescan costs the corpus, the merge costs two
    // |langs|-row frames.
    QueryDef("incremental_agg_merge",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        def partial(part: org.apache.spark.sql.DataFrame) =
          part.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars").cast(DecimalType(18, 4))).as("sum_chars"),
              min(col("n_chars")).as("min_chars"),
              max(col("n_chars")).as("max_chars"))
        val state = partial(d.where(col("doc_id") % 4 =!= 0))
        val batch = partial(d.where(col("doc_id") % 4 === 0))
        state.unionByName(batch)
          .groupBy(col("lang"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_chars")).as("__sc"),
            min(col("min_chars")).as("min_chars"),
            max(col("max_chars")).as("max_chars"))
          .select(col("lang"), col("n_docs"),
            round((col("__sc") / col("n_docs")).cast(DecimalType(18, 4)), 2)
              .cast("double").as("avg_chars"),
            col("min_chars"), col("max_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(round(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) / COUNT(*)
        |    AS DECIMAL(18,4)), 2) AS DOUBLE) AS avg_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Deterministic negative sampling for contrastive training pairs:
    // each anchor doc draws 2 negatives from a broadcast candidate
    // pool. The pool is Pools.detHashPool (divisor 10 here; at 100 TB
    // you size the divisor so the pool stays broadcastable, and
    // Pools.guardedBroadcast enforces it — over-budget pools degrade
    // to a shuffle join instead of dying in the broadcast build),
    // indexed by a window that only ever runs over the pool — the
    // anchors side is a pure scan + broadcast join, no global ordering
    // over the corpus. Self-collisions are dropped (a doc can't be its
    // own negative). md5-hash draw ⇒ reproducible at any parallelism.
    QueryDef("negative_sample_pairs",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        // pool-only window: bounded rows by construction (the pool
        // must fit a broadcast anyway), so the single-partition sort
        // is on the small side, never the corpus
        val pool = graft.ops.Pools.detHashPool(d, "doc_id", poolDivisor = 10L)
          .select(col("doc_id").as("neg_doc_id"))
          .withColumn("pool_idx",
            row_number().over(Window.orderBy(col("neg_doc_id"))).cast("long") - 1)
        val pn = pool.agg(count(lit(1)).as("pool_n"))
        val draws = d.select(col("doc_id"))
          .crossJoin(broadcast(pn))
          .select(col("doc_id"), explode(array(lit(0), lit(1))).as("j"),
            col("pool_n"))
          .withColumn("pool_idx",
            pmod(hash60(concat(col("doc_id").cast("string"), lit(":"),
              col("j").cast("string"))), col("pool_n")))
        draws.join(graft.ops.Pools.guardedBroadcast(pool), "pool_idx")
          .where(col("neg_doc_id") =!= col("doc_id"))
          .select(col("doc_id"), col("j"), col("neg_doc_id"))
          .orderBy(col("doc_id"), col("j"))
      },
      Some(s"""WITH pool AS (
        |  SELECT doc_id AS neg_doc_id,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS pool_idx
        |  FROM documents
        |  WHERE ${detHashSql(10L, Seq("doc_id"))} = 0),
        |pn AS (SELECT count(*) AS pool_n FROM pool),
        |draws AS (
        |  SELECT doc_id, j,
        |    ('0x' || substring(md5(doc_id::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT
        |      % pool_n AS pool_idx
        |  FROM documents, pn, (SELECT unnest([0, 1]) AS j))
        |SELECT doc_id, j, neg_doc_id
        |FROM draws JOIN pool USING (pool_idx)
        |WHERE neg_doc_id <> doc_id
        |ORDER BY doc_id, j""".stripMargin)),

    // PageRank over the part co-purchase graph (parts sharing an
    // order are linked, both directions) — ops/Graph.pageRank's
    // fixed-point integer formulation, so five damped iterations
    // produce BIGINT ranks that hash identically against the oracle's
    // unrolled-CTE replay with no rounding discipline at all. The
    // oracle is generated from the same constants (unit/base/damping)
    // as the operator call, so the two cannot drift.
    // BFS hop-distance census over the same co-purchase graph: hop
    // histogram from the 5 smallest part ids, maxHops=4, plus an
    // unreachable-at-4 row (hop = -1). Fixed-round frontier expansion
    // (Graph.bfsHops) with the pageRank lazy-root idiom; the oracle
    // unrolls the identical rounds, so early-exit-vs-fixed-round
    // semantics cannot drift. On the dense co-purchase graph the
    // frontier saturates in 2-3 hops — the histogram IS the
    // connectivity evidence.
    QueryDef("graph_bfs_hops",
      (s, dir) => {
        import s.implicits._
        val e = coPurchasePairs(s, dir, directed = true).distinct()
          .stageCheckpoint(true) // nodes/seeds/bfs all read it
        val nodes = e.select(col("src").as("node")).distinct()
        val seeds = nodes.orderBy(col("node")).limit(5)
        val dist = graft.ops.Graph.bfsHops(e, "src", "dst", seeds, 4)
        val nNodes = nodes.count()
        val nReached = dist.count()
        dist.groupBy(col("d").as("hop"))
          .agg(count(lit(1)).as("n_nodes"))
          .unionByName(Seq((-1L, nNodes - nReached))
            .toDF("hop", "n_nodes"))
          .orderBy(col("hop"))
      },
      Some {
        // MATERIALIZED: every round references the previous round's
        // CTEs twice; DuckDB's default inlining would re-evaluate the
        // whole chain per reference (measured 290 s at sf0.1 vs ~1 s
        // materialized — the exponential-CTE trap)
        val rounds = (1 to 4).map { h =>
          s"""f$h AS MATERIALIZED (
            |  SELECT DISTINCT e.dst AS node FROM e JOIN f${h - 1}
            |    ON e.src = f${h - 1}.node
            |  WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} s
            |    WHERE s.node = e.dst)),
            |d$h AS MATERIALIZED (
            |  SELECT * FROM d${h - 1}
            |  UNION ALL SELECT node, ${h}::BIGINT FROM f$h)""".stripMargin
        }.mkString(",\n")
        s"""WITH li AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT a.pk AS src, b.pk AS dst
          |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
          |n AS (SELECT DISTINCT src AS node FROM e),
          |f0 AS (SELECT node FROM n ORDER BY node LIMIT 5),
          |d0 AS (SELECT node, 0::BIGINT AS d FROM f0),
          |$rounds
          |SELECT d AS hop, COUNT(*)::BIGINT AS n_nodes FROM d4 GROUP BY 1
          |UNION ALL
          |SELECT -1::BIGINT, (SELECT COUNT(*) FROM n) -
          |  (SELECT COUNT(*) FROM d4)
          |ORDER BY hop""".stripMargin
      }),

    QueryDef("graph_pagerank_parts",
      (s, dir) => {
        val e = coPurchasePairs(s, dir, directed = true).distinct()
        val pr = graft.ops.Graph.pageRank(e, "src", "dst", PageRankIters)
        val out = pr.orderBy(col("node")).select(col("node"), col("r"))
        out
      },
      Some(pageRankOracleSql(PageRankIters))),

    // Personalized PageRank from the 5 smallest part ids (the BFS
    // seed set): teleport mass returns only to the seeds, so rank is
    // seeded reachability — the trust-rank / quality-propagation
    // reading. Same fixed-point BIGINT contract as
    // graph_pagerank_parts; the oracle unrolls the identical rounds
    // with the seed flag in both r0 and the restart term.
    QueryDef("graph_ppr_parts",
      (s, dir) => {
        val e = coPurchasePairs(s, dir, directed = true).distinct()
          .stageCheckpoint(true) // seeds + the rank rounds both read it
        val seeds = e.select(col("src").as("node")).distinct()
          .orderBy(col("node")).limit(5)
        graft.ops.Graph.personalizedPageRank(e, "src", "dst", seeds,
            PageRankIters)
          .orderBy(col("node")).select(col("node"), col("r"))
      },
      Some(pprOracleSql(PageRankIters))),

    // Exact triangle count of the same co-purchase graph —
    // Graph.triangleCount's degree-oriented wedge join (O(m^1.5)
    // worst-case work regardless of hub skew). The oracle counts with
    // the simple id-ordering (a<b<c) three-way join: triangle count
    // is orientation-invariant, so agreement cross-checks the
    // orientation logic itself, not just the arithmetic.
    // k-core of the REPEAT-co-purchase part graph (edges = part pairs
    // sharing >= 2 distinct orders — the single-order clique blow-up
    // pruned at the source): the dense kernel a curation pipeline
    // special-cases before any all-pairs work. At sf0.01 the 3-core
    // peel genuinely cascades ~10 rounds. The oracle is the SAME
    // peel unrolled to KcoreRounds fixed rounds — identical to the
    // operator's early-stopping loop whether or not it has converged
    // (a stable round is an identity filter on both sides).
    QueryDef("graph_kcore_parts",
      (s, dir) => {
        val e = repeatCoPurchaseEdges(s, dir)
        val core = graft.ops.Graph.kCore(e, "src", "dst", k = KcoreK,
          maxIters = KcoreRounds)
        core.orderBy(col("node"))
      },
      Some {
        // MATERIALIZED: default CTE inlining re-expands e(i-1) three
        // times per round — 3^rounds plan copies blow the fd limit
        val rounds = (1 to KcoreRounds).map { i =>
          s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
             |  HAVING count(*) >= $KcoreK),
             |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
             |  JOIN k$i a ON a.u = e.u JOIN k$i b ON b.u = e.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (
        |  SELECT a.pk AS u, b.pk AS v FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |$rounds
        |SELECT u AS node, count(*) AS degree FROM e$KcoreRounds
        |GROUP BY 1 ORDER BY node""".stripMargin
      }),

    // Full coreness decomposition of the same repeat-co-purchase
    // graph, capped at CorenessKMax — the whole density hierarchy
    // (coreness 1 = periphery … kMax = "kMax or denser") in one
    // layered peel, each level peeling the previous level's shrinking
    // edge frame. The oracle unrolls every level to CorenessRounds
    // fixed rounds; the operator runs the SAME round cap per level,
    // so converged levels agree through identity rounds and an
    // unconverged level agrees state-for-state (Graph.peelRounds).
    QueryDef("graph_coreness_parts",
      (s, dir) => {
        val e = repeatCoPurchaseEdges(s, dir)
        graft.ops.Graph.corenessDecomposition(e, "src", "dst",
          kMax = CorenessKMax, maxItersPerLevel = CorenessRounds)
      },
      Some(corenessOracleSql(CorenessKMax, CorenessRounds))),

    // Deterministic label-propagation communities over the same
    // repeat-co-purchase part graph — min-label tie-break, EXACTLY
    // LpaRounds synchronous rounds on both sides (Graph.
    // labelPropagation), so the oracle's unrolled per-round
    // count-then-argmin window replays the operator state-for-state
    // whether or not the labels have converged.
    QueryDef("graph_label_prop_parts",
      (s, dir) => {
        val e = repeatCoPurchaseEdges(s, dir)
        graft.ops.Graph.labelPropagation(e, "src", "dst", iters = LpaRounds)
      },
      Some(lpaOracleSql(LpaRounds))),

    // Convergence-gated LPA (VERDICT r11 #5) on the SPARSER repeat≥3
    // co-purchase graph: production LPA stops when the label dynamics
    // are STABLE (period ≤ 2 — a fixed point is unreachable here:
    // isolated co-purchase pairs swap labels forever, measured
    // through round 20) instead of paying all maxIters rounds. The
    // parity contract (see Graph.labelPropagationConverged) makes the
    // early-exiting loop bit-replayable by this full-unroll oracle in
    // either regime; rounds_run < 10 in the output IS the proof the
    // early exit fired (it reads 4 at sf0.01). osc marks nodes whose
    // community is one phase of a surviving 2-cycle.
    QueryDef("graph_label_prop_converged",
      (s, dir) => {
        val e = repeatCoPurchaseEdges(s, dir, minRepeat = 3)
        graft.ops.Graph.labelPropagationConverged(e, "src", "dst",
          maxIters = LpaConvMaxIters, checkEvery = 2)
      },
      Some(lpaConvergedOracleSql(LpaConvMaxIters))),

    // Convergence-gated PageRank (VERDICT r12 #5) on the directed
    // co-purchase graph: stop at the first checkEvery boundary where
    // the total L1 rank movement falls under epsPerNode·n — the
    // production stopping rule — instead of paying a fixed round
    // count. The fixed-point BIGINT arithmetic makes the early exit
    // bit-replayable by a full-unroll oracle that computes the SAME
    // boundary deltas and selects the same exit round (dual-regime:
    // with no convergence by maxIters both sides surface round
    // maxIters). rounds_run < 12 in the output IS the proof the exit
    // fired — it reads 8 at both gate SFs (measured decay ~13×/round
    // on this dense graph; the first sub-threshold boundary is 8 from
    // sf0.001 through sf0.01).
    QueryDef("graph_pagerank_converged",
      (s, dir) => {
        val e = coPurchasePairs(s, dir, directed = true).distinct()
        graft.ops.Graph.pageRankConverged(e, "src", "dst",
            maxIters = PrConvMaxIters, epsPerNodeUnits = PrConvEpsPerNode,
            checkEvery = 2)
          .select(col("node"), col("r"), col("rounds_run"))
      },
      Some(prConvergedOracleSql(PrConvMaxIters, PrConvEpsPerNode, 2))),

    QueryDef("graph_triangles_parts",
      (s, dir) => {
        // u<v pairs, not pre-distincted (triangleCount normalizes)
        val e = coPurchasePairs(s, dir, directed = false)
        graft.ops.Graph.triangleCount(e, "src", "dst")
      },
      Some("""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT count(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.v
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin)),

    // Neighborhood-Jaccard link prediction — the set-overlap sibling
    // of graph_adamic_adar on the same capped-wedge machinery:
    // J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|, where the common-neighbor
    // count comes from wedges through ≤ AaMaxCenterDegree centers
    // (hub centers carry no affinity signal and their wedge fan-out
    // is the quadratic — the exact argument behind AA's 1/ln(d)
    // weight, here applied as the same cap discipline), while the
    // union denominator uses FULL degrees. AA ranks by rarity-weighted
    // evidence, Jaccard by neighborhood agreement — a recommender
    // reads both.
    QueryDef("graph_jaccard_links",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val e = repeatCoPurchaseEdges(s, dir).stageCheckpoint(true)
        val (deg, wedges) = cappedWedges(e)
        val common = wedges.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
          .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
          .join(e, common("a") === e("src") && common("b") === e("dst"),
            "left_anti")
          .select(col("a").as("part_a"), col("b").as("part_b"),
            col("n_common"),
            round((col("n_common").cast("double") /
              (col("__da") + col("__db") - col("n_common")).cast("double"))
              .cast(DecimalType(18, 8)), 6).cast("double").as("jaccard"))
          .orderBy(desc("jaccard"), col("part_a"), col("part_b"))
          .limit(20)
      },
      Some(s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (
        |  SELECT a.pk AS src, b.pk AS dst FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT src AS n, dst AS nb FROM p
        |  UNION ALL SELECT dst, src FROM p),
        |deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY n),
        |centers AS (SELECT n FROM deg
        |  WHERE d >= 2 AND d <= $AaMaxCenterDegree),
        |wedges AS (
        |  SELECT l.nb AS a, r.nb AS b
        |  FROM und l JOIN und r ON l.n = r.n AND l.nb < r.nb
        |  JOIN centers c ON c.n = l.n),
        |cm AS (SELECT a, b, COUNT(*) AS n_common FROM wedges GROUP BY 1, 2)
        |SELECT cm.a AS part_a, cm.b AS part_b, cm.n_common,
        |  CAST(round((cm.n_common::DOUBLE /
        |    (da.d + db.d - cm.n_common)::DOUBLE)::DECIMAL(18,8), 6)
        |    AS DOUBLE) AS jaccard
        |FROM cm JOIN deg da ON da.n = cm.a JOIN deg db ON db.n = cm.b
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |  WHERE p.src = cm.a AND p.dst = cm.b)
        |ORDER BY jaccard DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // Adamic–Adar link prediction over the repeat-co-purchase graph:
    // for every non-edge pair sharing ≥1 neighbor, AA(a,b) =
    // Σ_z 1/ln(deg z) over common neighbors z — the classic "which
    // edge appears next" score (rare shared neighbors count more
    // than hub co-membership). Top-20 candidate links reported.
    // Exactness: per-center weight rounds to 6dp BEFORE the
    // DECIMAL(18,6) sum, so the score is addition-order-free on both
    // engines; ln is stable on identical integer-degree operands.
    // Scale shape: wedges enumerate per CENTER (one self-join of the
    // adjacency keyed on the center node), bounded by Σ deg² with
    // centers above AaMaxCenterDegree dropped — both the skew guard
    // AND principled: a hub's 1/ln(deg) weight is the smallest in
    // the graph, so high-degree centers contribute noise-level mass
    // at quadratic cost (same cap discipline as the LSH bucket cap,
    // mirrored by the oracle). Wedge centers always have deg ≥ 2,
    // so ln never sees 1.
    QueryDef("graph_adamic_adar",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val e = repeatCoPurchaseEdges(s, dir).stageCheckpoint(true)
        // centers have d >= 2, so ln(d) > 0 and the weight never
        // divides by zero
        val (_, wedges) = cappedWedges(e, "wz" ->
          round((lit(1.0) / log(col("d").cast("double")))
            .cast(DecimalType(18, 8)), 6).cast(DecimalType(18, 6)))
        val aa = wedges.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n_common"), sum(col("wz")).as("aa"))
        aa.join(e, aa("a") === e("src") && aa("b") === e("dst"),
            "left_anti")
          .select(col("a").as("part_a"), col("b").as("part_b"),
            col("n_common"), col("aa").cast("double").as("aa_score"))
          .orderBy(desc("aa_score"), col("part_a"), col("part_b"))
          .limit(20)
      },
      Some(s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (
        |  SELECT a.pk AS src, b.pk AS dst FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT src AS n, dst AS nb FROM p
        |  UNION ALL SELECT dst, src FROM p),
        |deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY n),
        |wz AS (SELECT n,
        |    CAST(round((1.0 / ln(d::DOUBLE))::DECIMAL(18,8), 6)
        |      AS DECIMAL(18,6)) AS wz
        |  FROM deg WHERE d >= 2 AND d <= $AaMaxCenterDegree),
        |wedges AS (
        |  SELECT l.nb AS a, r.nb AS b, wz.wz
        |  FROM und l JOIN und r ON l.n = r.n AND l.nb < r.nb
        |  JOIN wz ON wz.n = l.n),
        |aa AS (
        |  SELECT a, b, COUNT(*) AS n_common, SUM(wz) AS aa
        |  FROM wedges GROUP BY 1, 2)
        |SELECT a AS part_a, b AS part_b, n_common,
        |  CAST(aa AS DOUBLE) AS aa_score
        |FROM aa
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |  WHERE p.src = aa.a AND p.dst = aa.b)
        |ORDER BY aa_score DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // Degree-distribution power-law fit over the co-purchase graph:
    // log-log OLS of (degree, #nodes at that degree) — the "is this
    // graph scale-free" census that decides whether the iterative
    // graph ops above need skew handling (a heavy power-law tail means
    // hub nodes, which is exactly what the salting/AQE-skew machinery
    // is for; a flat fit means uniform partitioning is safe). Scale
    // shape: degree = one count per node off the edge list (one
    // shuffle), the distribution is ≤ max-degree rows, and the OLS
    // runs on THAT tiny frame — the vocab_zipf_fit recipe applied to
    // graph structure. Exactness: ln() rounds to 6dp into DECIMAL
    // before the exact-decimal moment sums (the zipf discipline);
    // degree counts are exact BIGINTs on both engines.
    QueryDef("graph_degree_powerlaw",
      (s, dir) => {
        val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 12)
        // r10 constant cut: the degree census doesn't need the
        // DIRECTED pair stream — distinct the u<v form (half the
        // exchange volume of the directed distinct, the dominant
        // term here) and count each endpoint once; the post-distinct
        // union is a narrow 1-column stream into a map-side-partial
        // count, not a second wide shuffle
        val eu = coPurchasePairs(s, dir, directed = false).distinct()
        // two consumers (distribution + node totals) — checkpoint so
        // the order-pair build runs once, not per consumer
        val deg = eu.select(col("src").as("node"))
          .unionAll(eu.select(col("dst").as("node")))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("deg")).stageCheckpoint(true)
        val dist = deg.groupBy(col("deg")).agg(count(lit(1)).as("nd"))
        val r = dist.select(
          round(log(col("deg").cast("double")), 6).cast(dec6).as("x"),
          round(log(col("nd").cast("double")), 6).cast(dec6).as("y"))
        val m = r.agg(
          count(lit(1)).as("n_degrees"),
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(dec38)).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(dec38)).cast("double").as("sxy"),
          sum((col("y") * col("y")).cast(dec38)).cast("double").as("syy"))
        val tot = deg.agg(count(lit(1)).as("n_nodes"),
          max(col("deg")).as("max_degree"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        // y-variance term: 0 when every degree occurs exactly once
        // (all y = ln 1 = 0) — r2 would be 0/0 = NaN without its own
        // guard (ADVICE r9); slope/intercept stay defined there
        val deny = col("n") * col("syy") - col("sy") * col("sy")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
        m.crossJoin(broadcast(tot))
          .select(col("n_nodes"), col("max_degree"), col("n_degrees"),
            when(den === 0.0, lit(null).cast("double"))
              .otherwise(round(slope, 6)).as("slope"),
            when(den === 0.0, lit(null).cast("double"))
              .otherwise(round((col("sy") - slope * col("sx")) / col("n"), 6))
              .as("intercept"),
            when(den === 0.0 || deny === 0.0, lit(null).cast("double"))
              .otherwise(round(
                (col("n") * col("sxy") - col("sx") * col("sy")) *
                  (col("n") * col("sxy") - col("sx") * col("sy")) /
                  (den * deny), 6))
              .as("r2"))
      },
      Some("""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
        |dist AS (SELECT deg, COUNT(*) AS nd FROM deg GROUP BY 1),
        |r AS (
        |  SELECT round(ln(deg::DOUBLE), 6)::DECIMAL(18,6) AS x,
        |    round(ln(nd::DOUBLE), 6)::DECIMAL(18,6) AS y
        |  FROM dist),
        |m AS (
        |  SELECT COUNT(*) AS n_degrees, COUNT(*)::DOUBLE AS n,
        |    SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
        |    SUM((x * x)::DECIMAL(38,12))::DOUBLE AS sxx,
        |    SUM((x * y)::DECIMAL(38,12))::DOUBLE AS sxy,
        |    SUM((y * y)::DECIMAL(38,12))::DOUBLE AS syy
        |  FROM r),
        |t AS (SELECT COUNT(*) AS n_nodes, MAX(deg) AS max_degree FROM deg)
        |SELECT t.n_nodes, t.max_degree, m.n_degrees,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |  END AS slope,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
        |      * sx) / n, 6)
        |  END AS intercept,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL
        |    ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |      ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  END AS r2
        |FROM m, t""".stripMargin))
  )

  /** Co-purchase part pairs built in ONE shuffle: group each order's
    * part set with collect_set (dedups (ok, pk) for free), then
    * explode ordered pairs from the set in-row. The previous
    * li.distinct() + li⋈li self-join shape paid a second full-width
    * exchange plus a pre-distinct join, and was the dominant term of
    * every graph query's wall at sf0.1 (VERDICT r8). Per-order part
    * sets are small (~a basket, 4-7 parts), so the in-row k²
    * expansion is negligible next to the exchange it removes; a
    * pathological mega-order would surface as one hot row, the same
    * skew class the self-join had.
    * `directed=true` emits both (x,y) and (y,x); false emits x<y
    * once. Pairs are NOT globally distinct — callers distinct() or
    * count multiplicities (= shared-order count) as needed.
    */
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
                              dir: String, directed: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val cond = if (directed) "y != x" else "y > x"
    // Size the per-order group exchange by the basket-row count
    // (r14, guide §2.5): AQE byte-coalesced the ~5 MB (ok, pk)
    // projection to 4 tasks while the k² pair explode below
    // multiplies bytes ~5× (invisible to byte sizing) — the r13 fix;
    // but r13's flat session-count pin over-provisioned the other
    // way (32 concurrent collect_set+explode tasks showed 2-3× the
    // CPU and exec≫cpu GC/wait stalls of an 8-task run on identical
    // input — the c8/c32 < 1 inversion of every co-purchase rider).
    // ~64k basket rows ≈ ~0.3M exploded pairs ≈ 1-2 CPU-s per task;
    // the count is one column-pruned scan (~60 ms at sf0.1), and at
    // warehouse scale the division saturates at the session cap, so
    // the cluster knob still governs.
    li.repartition(graft.ops.Tuning.workParts(s, li.count(), 64000L),
        col("ok"))
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("ps"))
      .select(explode(expr(
        s"flatten(transform(ps, x -> transform(filter(ps, y -> $cond)," +
          " y -> struct(x AS src, y AS dst))))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The repeat-co-purchase graph every peel/community query shares:
    * u<v part pairs sharing >= 2 distinct orders. One aggregate over
    * [[coPurchasePairs]]'s pair stream — each order contributes a
    * pair at most once (sets), so count(*) IS the shared-order count.
    *
    * The pair stream is raw-repartitioned on the pair key BEFORE the
    * count (partial+final then fuse into one post-exchange aggregate)
    * instead of the default map-side partial aggregation: pair keys
    * are NEAR-UNIQUE (×300 shape: 270M pairs → 1.07M repeat edges),
    * so the map-side hash table reduces almost nothing while paying
    * its build + spill — measured at the ×300 shape the default form
    * runs 155–200 s vs 90–94 s for this one (equivalent ≤×100 where
    * the per-task table still fits; SCALING.md round-11). Reducer
    * partition count is NOT the lever — the spill is map-side —
    * which is why the 32→128 shuffle-partition A/B was a wash.
    */
  private def repeatCoPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                                    dir: String, minRepeat: Int = 2)
      : org.apache.spark.sql.DataFrame =
    coPurchasePairs(s, dir, directed = false)
      .repartition(col("src"), col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("__n")).where(col("__n") >= minRepeat)
      .select(col("src"), col("dst"))

  /** graph_adamic_adar wedge-center degree cap: hubs above this pay
    * quadratic wedge cost for the graph's SMALLEST per-neighbor
    * weight (1/ln d), so they are dropped — skew guard and principle
    * agree. 256 keeps every center of the test graphs.
    */
  private val AaMaxCenterDegree = 256

  /** The wedge core of graph_jaccard_links and graph_adamic_adar over an
    * edge list (src, dst): every node's degree (n, d), and one
    * (a, b, carried...) row per wedge a–z–b (a < b) through a center z
    * of degree 2..[[AaMaxCenterDegree]]. `carry` are per-center columns
    * computed from (n, d), carried onto each wedge. The cap is applied
    * STRUCTURALLY before the self-join: Catalyst does not push a
    * post-join center filter below the join, so a hub would enumerate
    * its deg² wedges before being dropped. Wedge rows are therefore
    * bounded by Σ d² over capped centers (JaccardLinksSpec pins it on a
    * hub graph).
    */
  private[graft] def cappedWedges(e: org.apache.spark.sql.DataFrame,
                                  carry: (String, org.apache.spark.sql.Column)*)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val und = e.select(col("src").as("n"), col("dst").as("nb"))
      .union(e.select(col("dst"), col("src")))
    val deg = und.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val centers = deg.where(col("d") >= 2 && col("d") <= AaMaxCenterDegree)
      .select(col("n").as("cz") +: carry.map { case (n, c) => c.as(n) }: _*)
    val lc = und.join(centers, col("n") === col("cz"))
      .select(Seq(col("n"), col("nb")) ++ carry.map(c => col(c._1)): _*)
    val wedges = lc.as("l")
      .join(lc.as("r"), col("l.n") === col("r.n") && col("l.nb") < col("r.nb"))
      .select(Seq(col("l.nb").as("a"), col("r.nb").as("b")) ++
        carry.map(c => col(s"l.${c._1}").as(c._1)): _*)
    (deg, wedges)
  }

  private val PageRankIters = 5
  // graph_pagerank_converged: 12-round cap, exit when the per-round
  // L1 movement drops under 10⁻⁶ rank units per node (unit = 10¹²,
  // so epsPerNode = 10⁶ unit-ths). Measured decay on the co-purchase
  // graph is ~13×/round; the first sub-threshold even boundary is 8
  // at sf0.001 AND sf0.01 (deterministic — fixed-point arithmetic).
  private val PrConvMaxIters = 12
  private val PrConvEpsPerNode = 1000000L
  // 3-core over the repeat-pair graph cascades ~10 peel rounds at
  // sf0.01; 12 gives margin, and a converged round is a no-op filter
  private val KcoreK = 3
  private val KcoreRounds = 12
  // coreness hierarchy capped at 4 ("4 or denser"); 12 rounds per
  // level match KcoreRounds — and because operator and oracle run the
  // SAME fixed cap, agreement holds even if a level hasn't converged
  private val CorenessKMax = 4
  private val CorenessRounds = 12
  // synchronous LPA on the repeat-pair graph settles in 2-3 rounds;
  // 4 fixed rounds on BOTH sides (fixed-round contract, not a
  // convergence test — see Graph.labelPropagation)
  private val LpaRounds = 4
  // converged-LPA budget: the repeat≥3 graph goes period-≤2 by round
  // 4 at both gate SFs, so the 10-round cap leaves the early exit
  // plenty of visible headroom (rounds_run = 4 ≠ 10 is the proof)
  private val LpaConvMaxIters = 10

  /** Unrolled-CTE oracle for graph_coreness_parts: the layered peel
    * (level k = `rounds` peel rounds at threshold k over the previous
    * level's final edge frame), then coreness = max level membership.
    * Same MATERIALIZED discipline as the kcore oracle — inlined CTEs
    * re-expand multiplicatively per round.
    */
  private def corenessOracleSql(kMax: Int, rounds: Int): String = {
    def eOf(k: Int): String = if (k == 1) "e0" else s"e${k}r$rounds"
    val levels = (2 to kMax).map { k =>
      (1 to rounds).map { i =>
        val src = if (i == 1) eOf(k - 1) else s"e${k}r${i - 1}"
        s"""k${k}r$i AS MATERIALIZED (SELECT u FROM $src GROUP BY u
           |  HAVING count(*) >= $k),
           |e${k}r$i AS MATERIALIZED (SELECT e.u, e.v FROM $src e
           |  JOIN k${k}r$i a ON a.u = e.u JOIN k${k}r$i b ON b.u = e.v)""".stripMargin
      }.mkString(",\n")
    }.mkString(",\n")
    val members = (1 to kMax)
      .map(k => s"SELECT u AS node, CAST($k AS BIGINT) AS k FROM ${eOf(k)}")
      .mkString("\n  UNION ALL ")
    s"""WITH li AS (
    |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    |p AS (
    |  SELECT a.pk AS u, b.pk AS v FROM li a
    |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    |  GROUP BY 1, 2 HAVING count(*) >= 2),
    |e0 AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
    |$levels
    |SELECT node, max(k) AS coreness FROM (
    |  $members)
    |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Unrolled-CTE oracle for graph_label_prop_parts: per round, the
    * neighbor-label counts then a (count DESC, label ASC)
    * row_number pick — the same deterministic argmax as the
    * operator's packed-long max, expressed as a window. MATERIALIZED
    * for the same inlining reason as the kcore oracle.
    */
  /** Full-unroll oracle for graph_label_prop_converged: `rounds` LPA
    * rounds over the repeat≥3 graph, then (a) community/osc read from
    * the FINAL two label frames — equal to the early-exiting loop's
    * exit frames by the parity induction in
    * Graph.labelPropagationConverged's scaladoc — and (b) rounds_run
    * reconstructed as the first even boundary r with l_r = l_{r−2}
    * (the exact condition the Spark loop tests at its checkEvery=2
    * boundaries; forward-propagating, so "first zero" is well-defined).
    */
  private def lpaConvergedOracleSql(rounds: Int): String = {
    require(rounds >= 2 && rounds % 2 == 0)
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.u AS node, l.lab AS lab, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY c DESC, lab ASC) AS rn
         |    FROM c$i) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val diffCols = (2 to rounds by 2).map { r =>
      s"""(SELECT count(*) FROM l$r a JOIN l${r - 2} b
         |   ON a.node = b.node AND a.lab <> b.lab) AS c$r""".stripMargin
    }.mkString(",\n  ")
    val caseArms = (2 to rounds by 2)
      .map(r => s"WHEN c$r = 0 THEN $r").mkString(" ")
    s"""WITH li AS (
    |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    |p AS (
    |  SELECT a.pk AS u, b.pk AS v FROM li a
    |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    |  GROUP BY 1, 2 HAVING count(*) >= 3),
    |e AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
    |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e),
    |$roundCtes,
    |d AS (SELECT
    |  $diffCols),
    |rr AS (SELECT CAST(CASE $caseArms ELSE $rounds END AS BIGINT)
    |  AS rounds_run FROM d)
    |SELECT f.node, f.lab AS community,
    |  CAST(CASE WHEN f.lab <> g.lab THEN 1 ELSE 0 END AS BIGINT) AS osc,
    |  rr.rounds_run
    |FROM l$rounds f JOIN l${rounds - 1} g ON g.node = f.node
    |CROSS JOIN rr ORDER BY f.node""".stripMargin
  }

  private def lpaOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.u AS node, l.lab AS lab, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY c DESC, lab ASC) AS rn
         |    FROM c$i) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
    |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    |p AS (
    |  SELECT a.pk AS u, b.pk AS v FROM li a
    |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    |  GROUP BY 1, 2 HAVING count(*) >= 2),
    |e AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
    |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e),
    |$roundCtes
    |SELECT node, lab AS community FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled-CTE oracle for graph_pagerank_parts, generated from the
    * SAME fixed-point constants as ops/Graph.pageRank's defaults —
    * iteration count and arithmetic cannot drift from the Spark side.
    * `//` is DuckDB's integer division (truncating, like Spark's
    * `div`, identical on the all-positive ranks here).
    */
  /** Unrolled-CTE oracle for graph_ppr_parts — pageRankOracleSql
    * with the seed flag in r0 and the restart term. Seeds = the 5
    * smallest node ids, matching the Spark side's limit(5).
    */
  private def pprOracleSql(iters: Int): String = {
    val unit = 1000000000000L
    val base = (unit * 15L) / 100L
    val head = s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |sd AS (SELECT node, 1::BIGINT AS seed FROM (
      |  SELECT node FROM nodes ORDER BY node LIMIT 5)),
      |nf AS (SELECT n.node, COALESCE(sd.seed, 0) AS seed
      |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
      |r0 AS (SELECT node, seed, CAST(seed * $unit AS BIGINT) AS r FROM nf)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
      |  SELECT n.node, n.seed,
      |    CAST(n.seed * $base
      |      + (COALESCE(CAST(sum(p.r // deg.deg) AS BIGINT), 0) * 85)
      |      // 100 AS BIGINT) AS r
      |  FROM nf n
      |  LEFT JOIN e ON e.dst = n.node
      |  LEFT JOIN deg ON deg.src = e.src
      |  LEFT JOIN r${i - 1} p ON p.node = e.src
      |  GROUP BY n.node, n.seed)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s"\nSELECT node, r FROM r$iters ORDER BY node"
  }

  /** Full-unroll oracle for graph_pagerank_converged: all `iters`
    * fixed-point rounds (MATERIALIZED — each round is referenced by
    * the next round, a boundary delta, and possibly the output arm),
    * the L1 delta at every checkEvery boundary, rounds_run = the
    * first boundary with delta < epsPerNode·n (exactly the Spark
    * loop's test), and the output ranks selected FROM that round's
    * frame. DuckDB sums the BIGINT |Δ| into HUGEINT, so the delta
    * aggregate cannot wrap (the Spark side stages through
    * DECIMAL(38,0) for the same reason).
    */
  private def prConvergedOracleSql(iters: Int, epsPerNode: Long,
                                   checkEvery: Int): String = {
    require(iters >= 1 && iters % checkEvery == 0)
    val unit = 1000000000000L
    val base = (unit * 15L) / 100L
    val head = s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT node, CAST($unit AS BIGINT) AS r FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
      |  SELECT n.node,
      |    CAST($base + (COALESCE(CAST(sum(p.r // deg.deg) AS BIGINT), 0) * 85)
      |      // 100 AS BIGINT) AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.node
      |  LEFT JOIN deg ON deg.src = e.src
      |  LEFT JOIN r${i - 1} p ON p.node = e.src
      |  GROUP BY n.node)""".stripMargin
    }
    val checks = checkEvery to iters by checkEvery
    val deltaCols = checks.map { t =>
      s"""(SELECT SUM(ABS(a.r - b.r)) FROM r$t a JOIN r${t - 1} b
         |   ON a.node = b.node) AS d$t""".stripMargin
    }.mkString(",\n  ")
    val caseArms = checks.map(t =>
      s"WHEN d$t < (SELECT count(*) FROM nodes) * $epsPerNode THEN $t")
      .mkString(" ")
    val allR = checks.map(t =>
      s"SELECT CAST($t AS BIGINT) AS t, node, r FROM r$t")
      .mkString("\n  UNION ALL ")
    (head +: iterCtes).mkString(",\n") + s""",
      |d AS (SELECT
      |  $deltaCols),
      |rr AS (SELECT CAST(CASE $caseArms ELSE $iters END AS BIGINT)
      |  AS rounds_run FROM d),
      |allr AS (
      |  $allR)
      |SELECT a.node, a.r, rr.rounds_run
      |FROM allr a JOIN rr ON a.t = rr.rounds_run ORDER BY a.node""".stripMargin
  }

  private def pageRankOracleSql(iters: Int): String = {
    val unit = 1000000000000L
    val base = (unit * 15L) / 100L
    val head = s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT node, CAST($unit AS BIGINT) AS r FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
      |  SELECT n.node,
      |    CAST($base + (COALESCE(CAST(sum(p.r // deg.deg) AS BIGINT), 0) * 85)
      |      // 100 AS BIGINT) AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.node
      |  LEFT JOIN deg ON deg.src = e.src
      |  LEFT JOIN r${i - 1} p ON p.node = e.src
      |  GROUP BY n.node)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s"\nSELECT node, r FROM r$iters ORDER BY node"
  }
}

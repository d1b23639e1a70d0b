package graft.queries

import graft.core.Checkpoint.Ops
import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.{Clusters, Decontaminate, Dedup, Dsir, Multimodal, Pii, Pq, Similarity, Spans, Urls}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** LlmOps module: ingestion and corpus curation — multimodal decode
  * gates, Unicode normalization, schema evolution, the WARC container
  * round trip, the end-to-end curation pipeline and its reports,
  * source caps/mixtures/splits/sampling, sequence packing, corpus
  * export/diff, and incremental (bloom-routed) dedup ingest. */
trait LlmIngestCurationOps { this: LlmOps.type =>

  /** Multimodal payload → batch decode → per-(source, modality) aggregates,
    * in the oracle-able integer shape ([[Multimodal.featureGate]]): the
    * oracle recomputes `total_bytes` from file-format header arithmetic and
    * pins the theory-exactness counts to n_docs, so the real BMP/WAV
    * synth → encode → parse → feature path is externally verified without
    * the oracle needing a codec. */
  def multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.featureGate(s, docs(s, dir))

  /** Closed-form twin of [[multimodal]]: byte counts from the BMP/WAV
    * header arithmetic ([[Multimodal.theoryByteCount]] in SQL); the
    * exactness counts pinned to "every doc matches theory". */
  val multimodalSql: String =
    """WITH m AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS mime,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN 54 + ((((16 + doc_id % 16) * 3 + 3) // 4) * 4) * (16 + doc_id % 12)
      |      ELSE 44 + 2 * (2000 + doc_id % 1000) END AS nb
      |  FROM documents)
      |SELECT source, mime, COUNT(*) AS n_docs, CAST(SUM(nb) AS BIGINT) AS total_bytes,
      |  COUNT(*) AS n_feat0_exact, COUNT(*) AS n_bytes_exact
      |FROM m GROUP BY source, mime""".stripMargin

  /** PNG multimodal gate ([[Multimodal.pngGate]]): every doc carries a
    * doc_id-seeded deflate-compressed PNG (scanline filter rotating over
    * all five RFC 2083 types), decoded by the full chunk-walk + CRC +
    * inflate + unfilter path. */
  def multimodalPng(s: SparkSession, dir: String): DataFrame =
    Multimodal.pngGate(s, docs(s, dir))

  /** Closed-form twin of [[multimodalPng]]: pixel counts from the id →
    * geometry formula; the exactness counts pinned to "every doc's decoded
    * feature[0] and dimensions match theory" (a deflated BYTE count has no
    * closed form, so the pins are pixel-side). */
  val multimodalPngSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM((16 + ((doc_id % 16) + 16) % 16) * (16 + ((doc_id % 12) + 12) % 12)) AS BIGINT) AS n_px,
      |  COUNT(*) AS n_feat0_exact, COUNT(*) AS n_dims_exact
      |FROM documents GROUP BY source""".stripMargin

  /** JPEG multimodal gate ([[Multimodal.jpegGate]]): every doc carries a
    * doc_id-seeded baseline JPEG (full Huffman/DCT encode), decoded by the
    * real marker-walk + entropy-decode + dequant + IDCT path. The fixtures
    * are block-flat (DC-only), so even a LOSSY codec must reproduce every
    * pixel bit-for-bit — see [[graft.operators.JpegCodec]]. */
  def multimodalJpeg(s: SparkSession, dir: String): DataFrame =
    Multimodal.jpegGate(s, docs(s, dir))

  /** Closed-form twin of [[multimodalJpeg]]: pixel counts from the id →
    * geometry formula (w = 16+8·(id mod 3), h = 16+8·(id mod 2)); the
    * exactness counts pinned to "every doc's decoded feature[0] and
    * dimensions match theory" (an entropy-coded byte count has no closed
    * form, so the pins are pixel-side, as with PNG). */
  val multimodalJpegSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM((16 + 8 * (((doc_id % 3) + 3) % 3)) * (16 + 8 * (((doc_id % 2) + 2) % 2))) AS BIGINT) AS n_px,
      |  COUNT(*) AS n_feat0_exact, COUNT(*) AS n_dims_exact
      |FROM documents GROUP BY source""".stripMargin

  /** FLAC multimodal gate ([[Multimodal.flacGate]]): every doc carries a
    * doc_id-seeded FLAC (fixed-predictor + Rice encode of the synthWav
    * sine), decoded by the real frame-walk + Rice + CRC/MD5 path. FLAC is
    * lossless, so the decoded-RMS theory pin is bit-exact over ALL
    * fixtures — no representable-subspace trick needed. */
  def multimodalFlac(s: SparkSession, dir: String): DataFrame =
    Multimodal.flacGate(s, docs(s, dir))

  /** Closed-form twin of [[multimodalFlac]]: sample counts from the id →
    * length formula (n = 2000 + id mod 1000); exactness counts pinned to
    * "every doc's decoded RMS and sample-rate feature match theory". */
  val multimodalFlacSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(2000 + ((doc_id % 1000) + 1000) % 1000) AS BIGINT) AS total_samples,
      |  COUNT(*) AS n_feat0_exact, COUNT(*) AS n_rate_exact
      |FROM documents GROUP BY source""".stripMargin

  /** Unicode NFC normalization ([[GraftFunctions.nfc]], a codegen
    * Catalyst expression over java.text.Normalizer with an ASCII fast
    * path): every doc gets a COMPOSED suffix (é ñ 한) and its fully
    * DECOMPOSED twin (e+◌́, n+◌̃, jamo ᄒ+ᅡ+ᆫ); after NFC both must be
    * byte-identical and share a fingerprint — the normalize-before-hash
    * step (CCNet) that stops visually-identical variants from defeating
    * exact dedup. Oracled against DuckDB's independent nfc_normalize. */
  def unicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val composed = concat(col("text"), lit(" é ñ 한"))
    // NFD via explicit escapes: an NFC-normalizing editor must not be able
    // to silently recompose the fixture into the composed form
    val decomposed = concat(col("text"),
      lit(" e\u0301 n\u0303 \u1112\u1161\u11AB"))
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        GraftFunctions.nfc(composed).as("n1"),
        GraftFunctions.nfc(decomposed).as("n2"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n1") === col("n2"), 1L).otherwise(0L)).as("n_collapsed"),
        sum(when(GraftFunctions.fingerprint64(col("n1")) ===
          GraftFunctions.fingerprint64(col("n2")), 1L).otherwise(0L)).as("n_fp_equal"))
  }

  /** DuckDB twin via its own nfc_normalize (pure-ASCII SQL through
    * chr()); fingerprint equality reduces to string equality. */
  val unicodeNormalizeSql: String =
    """WITH v AS (SELECT source,
      |  nfc_normalize(text || ' ' || chr(233) || ' ' || chr(241) || ' ' || chr(54620)) AS n1,
      |  nfc_normalize(text || ' e' || chr(769) || ' n' || chr(771) || ' ' || chr(4370) || chr(4449) || chr(4523)) AS n2
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n1 = n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_collapsed,
      |  CAST(SUM(CASE WHEN n1 = n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp_equal
      |FROM v GROUP BY source""".stripMargin

  /** Parquet schema evolution: an early corpus generation (doc_id, text)
    * and a later one that ADDED a column (doc_id, text, lang) live in one
    * dataset; `mergeSchema` reads the union schema with nulls for the
    * early files — the additive-evolution contract a long-lived corpus
    * depends on (new extraction fields must not force a rewrite of
    * petabytes of old generations). The gate verifies both generations'
    * rows and the null/pushdown behavior on the merged frame. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_schema_evo")
    try {
      val d = docs(s, dir)
      // generation 0: half the corpus, before `lang` existed
      d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
        .write.parquet(s"$out/gen=0")
      // generation 1: the other half, with the added column
      d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.parquet(s"$out/gen=1")
      val merged = s.read.option("mergeSchema", "true").parquet(out.toString)
      merged
        .join(d.select(col("doc_id"), col("source"),
          col("lang").as("lang_orig"), col("text").as("text_orig")), "doc_id")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("text") === col("text_orig"), 1L).otherwise(0L))
            .as("n_text_exact"),
          sum(when(col("gen") === 0 && col("lang").isNull, 1L)
            .otherwise(0L)).as("n_gen0_null_lang"),
          sum(when(col("gen") === 1 && col("lang") === col("lang_orig"), 1L)
            .otherwise(0L)).as("n_gen1_lang_exact"))
        .graftCheckpoint()
    } finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  /** Closed-form twin of [[schemaEvolution]]: every doc returns, text
    * exact, gen-0 (even ids) all null-lang, gen-1 (odd ids) lang exact. */
  val schemaEvolutionSql: String =
    """SELECT source, COUNT(*) AS n_docs, COUNT(*) AS n_text_exact,
      |  CAST(SUM(CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gen0_null_lang,
      |  CAST(SUM(CASE WHEN ((doc_id % 2) + 2) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gen1_lang_exact
      |FROM documents GROUP BY source""".stripMargin

  /** WARC container round trip ([[graft.sources.Warc]]): the corpus
    * written as spec-conforming `.warc.gz` crawl files (warcinfo +
    * response records, per-record gzip members, embedded HTTP responses)
    * executor-side, then read back through the streaming record-iterator
    * parser (one Hadoop-FS-opened segment per task, O(record) memory) —
    * every document's body must survive byte-exactly with its HTTP
    * status and MIME intact. The ingestion path a Common-Crawl-shaped
    * corpus arrives through. */
  /** Shared by [[warcRoundtrip]] and [[warcIngest]]: export the corpus as
    * crawl files into `out`, read it back through the container parser,
    * re-key doc ids from the URLs. Single-sourced so the two gates' URL
    * shape, partitioning and charset can never drift apart. */
  /** Writer knob shared by [[writeAndReadBackWarc]] (which declares every
    * `CharsetEvery`-th record UTF-16BE) and [[warcRoundtrip]]'s mime-check
    * predicate — one constant so the writer and the check can't drift. */
  private val CharsetEvery = 5

  private[queries] def writeAndReadBackWarc(
      s: SparkSession, d: DataFrame, out: String): DataFrame = {
    // chunkEvery=3: every third record's HTTP body ships with chunked
    // transfer-encoding, so the round trip proves the reader de-frames
    // chunked payloads (real crawl responses are routinely chunked).
    // charsetEvery (CharsetEvery=5): every fifth record is written and
    // declared as UTF-16BE, so the charset-honoring decode path runs on
    // real gate data too (ids divisible by 15 are chunked AND non-UTF-8).
    // Both knobs leave the oracle unchanged: de-chunking and the UTF-16BE
    // round trip are lossless for arbitrary corpus text.
    graft.sources.Warc.writeWarc(
      d.select(col("doc_id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
        col("text"))
        .repartition(4, col("doc_id")),
      out, chunkEvery = 3, charsetEvery = CharsetEvery)
    graft.sources.Warc.readWarc(s, out)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(-?\\d+)$", 1).cast("long").as("doc_id"),
        // charset-honoring decode from the parser (utf-8 or utf-16be per
        // the record's written Content-Type — see charsetEvery above)
        col("body_text").as("text"),
        col("http_status"), col("mime"))
  }

  def warcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_warc")
    try {
      val d = docs(s, dir)
      val back = writeAndReadBackWarc(s, d, out.toString)
        .withColumnRenamed("text", "body_text")
      back.join(d.select(col("doc_id"), col("source"), col("text")), "doc_id")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("body_text") === col("text") &&
            col("http_status") === 200 &&
            // the declared charset must match the writer's doc_id knob
            // exactly: every CharsetEvery-th doc utf-16be, the rest utf-8
            col("mime") === concat(lit("text/plain; charset="),
              when(pmod(col("doc_id"), lit(CharsetEvery)) === 0, "utf-16be")
                .otherwise("utf-8")), 1L)
            .otherwise(0L)).as("n_roundtrip_exact"))
        .graftCheckpoint()
    } finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  /** Closed-form twin of [[warcRoundtrip]]: every doc must come back. */
  val warcRoundtripSql: String =
    """SELECT source, COUNT(*) AS n_docs, COUNT(*) AS n_roundtrip_exact
      |FROM documents GROUP BY source""".stripMargin

  /** Mixed-record-type realism gate: real Common Crawl segments are
    * ~half request/metadata/revisit/warcinfo records and non-200
    * responses — a curation reader must skip ALL of them and still
    * recover every 200-response document byte-exactly. The fixture
    * plants a segment with a FIXED census of every non-response type
    * (counts below are closed-form constants in the oracle); the gate
    * returns both sides: per-source recovered-doc counts AND the typed
    * skip census, so a reader that mis-parses a request payload as a
    * document, or admits a 404 body, hash-mismatches. */
  def warcMixed(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_warc_mix")
    try {
      val d = docs(s, dir)
      graft.sources.Warc.writeWarc(
        d.select(col("doc_id"),
          concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
          col("text"))
          .repartition(4, col("doc_id")),
        out.toString)
      writeMixedRealismSegment(s, out.toString)
      val back = graft.sources.Warc.readWarc(s, out.toString)
      val recovered = back
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("url"), "/doc/(-?\\d+)$", 1).cast("long").as("doc_id"),
          col("body_text"))
        .join(d.select(col("doc_id"), col("source"), col("text")), "doc_id")
        .groupBy(concat(lit("doc:"), col("source")).as("kind"))
        .agg(sum(when(col("body_text") === col("text"), 1L).otherwise(0L)).as("n"))
      val skipped = back
        .filter(col("warc_type") =!= "response" || col("http_status") =!= 200)
        .groupBy(concat(lit("skipped:"), col("warc_type"), lit(":"),
          col("http_status")).as("kind"))
        .agg(count(lit(1)).cast("long").as("n"))
      recovered.unionAll(skipped).graftCheckpoint()
    } finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  /** Closed-form twin of [[warcMixed]]: every doc recovered byte-exact,
    * every planted non-response/non-200 record skipped — the skip counts
    * are the fixture's fixed census (4 writeWarc warcinfos + the mixed
    * segment's 1, then the planted type counts). */
  val warcMixedSql: String =
    """SELECT concat('doc:', source) AS kind, COUNT(*) AS n
      |FROM documents GROUP BY source
      |UNION ALL SELECT 'skipped:warcinfo:0', CAST(5 AS BIGINT)
      |UNION ALL SELECT 'skipped:request:0', CAST(7 AS BIGINT)
      |UNION ALL SELECT 'skipped:metadata:0', CAST(5 AS BIGINT)
      |UNION ALL SELECT 'skipped:revisit:0', CAST(3 AS BIGINT)
      |UNION ALL SELECT 'skipped:resource:0', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'skipped:response:404', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'skipped:response:301', CAST(2 AS BIGINT)""".stripMargin

  /** The planted realism segment: one `.warc.gz` whose record census is
    * the closed-form constant set [[warcMixedSql]] pins — request (7),
    * metadata (5), revisit (3), resource (2) records plus 404 (2) and
    * 301 (2) responses, led by the file's own warcinfo. The revisit
    * records deliberately carry `application/http; msgtype=response`
    * payloads — the realism trap: a reader keying on Content-Type alone
    * (instead of WARC-Type) would parse them as live documents. */
  private def writeMixedRealismSegment(s: SparkSession, outDir: String): Unit = {
    import graft.sources.Warc
    val name = "part-mixed.warc.gz"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Warc.buildWarcinfoRecord(name, gzip = true))
    (1 to 7).foreach { i =>
      bos.write(Warc.buildRecord("request", s"https://example.com/doc/$i",
        f"req-$i%04d", "application/http; msgtype=request",
        (s"GET /doc/$i HTTP/1.1\r\nHost: example.com\r\n" +
          "User-Agent: graft-crawler/1.0\r\n\r\n").getBytes("UTF-8"),
        gzip = true))
    }
    (1 to 5).foreach { i =>
      bos.write(Warc.buildRecord("metadata", s"https://example.com/doc/$i",
        f"meta-$i%04d", "application/warc-fields",
        "fetchTimeMs: 87\r\ncharset-detected: UTF-8\r\n".getBytes("UTF-8"),
        gzip = true))
    }
    (1 to 3).foreach { i =>
      bos.write(Warc.buildRecord("revisit", s"https://example.com/doc/$i",
        f"rev-$i%04d", "application/http; msgtype=response",
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n".getBytes("UTF-8"),
        gzip = true,
        extraHeaders = Seq("WARC-Profile" ->
          "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")))
    }
    (1 to 2).foreach { i =>
      bos.write(Warc.buildRecord("resource", "https://example.com/robots.txt",
        f"res-$i%04d", "text/plain",
        "User-agent: *\r\nDisallow:\r\n".getBytes("UTF-8"), gzip = true))
    }
    (1 to 2).foreach { i =>
      bos.write(Warc.buildResponseRecord(
        s"https://example.com/gone/$i", "not found".getBytes("UTF-8"),
        f"err-$i%04d", gzip = true, status = 404, reason = "Not Found"))
    }
    (1 to 2).foreach { i =>
      bos.write(Warc.buildResponseRecord(
        s"https://example.com/moved/$i", Array.emptyByteArray,
        f"mov-$i%04d", gzip = true, status = 301, reason = "Moved Permanently"))
    }
    val path = new org.apache.hadoop.fs.Path(outDir, name)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val o = fs.create(path, true)
    try o.write(bos.toByteArray) finally o.close()
  }

  /** Cross-codec media parity ([[Multimodal.mediaParityGate]]): the same
    * pixels through BMP, PNG and JPEG must feature-hash identically —
    * three independent codec stacks cross-checking each other per doc. */
  def mediaParity(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaParityGate(s, docs(s, dir))

  /** Closed-form twin of [[mediaParity]]: every doc must report all three
    * formats bit-equal and the shared feature[0] on theory. */
  val mediaParitySql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(*) AS n_all_equal, COUNT(*) AS n_feat0_exact
      |FROM documents GROUP BY source""".stripMargin

  /** End-to-end curation pipeline — the composition a training-data corpus
    * actually runs: quality gate → repetition gate → language agreement →
    * exact-canonical dedup survivors → benchmark decontamination (the
    * doc_id %19==0 slice plays the held-out eval suite: its docs are
    * excluded from the training output, and training docs sharing any
    * 5-gram with it drop) → LM predictability → trained-probe scoring
    * (train on weak labels → score corpus → threshold, the GPT-3/LLaMA
    * classifier-filtering recipe). Operator composition (each stage is its
    * own oracle-proven operator); one declarative plan, no intermediate
    * materialization — the probe trainer's dim+1-longs-per-round fetches
    * are the only driver round-trips. Dedup uses the HASHED canonical key
    * (128-bit fingerprint struct), so the widest shuffle in the flagship
    * pipeline carries 16-byte keys, not document-sized canonical strings.
    *
    * The two fused text kernels ([[GraftFunctions.markerStats]],
    * [[GraftFunctions.repetitionStats]]) are each aliased ONCE in a narrow
    * projection and all scoring derives from the structs — an expensive
    * alias referenced more than once is not inlined by CollapseProject, so
    * each kernel runs once per row regardless of how many scoring columns
    * read it (round 4's shape re-evaluated MarkerStats per call site from
    * three derivations; see SCALE.md). */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    // probe-scoring stage (the GPT-3/LLaMA recipe end-to-end): train the
    // linear probe on the corpus's sampled weak labels, score every doc by
    // margin, keep the confidently-good. Training is the pipeline's only
    // driver round-trips — dim+1 longs per GD round, bit-reproducible on
    // any partitioning, so the oracle replays the weights AND the margins.
    // Scoring happens INLINE in the scan projection (the weights are
    // driver literals by then) — no second corpus scan, no doc_id join.
    curationAssembled(s, dir, Some(trainedProbe(s, dir)))
  }

  /** Every curation stage EXCEPT the probe (heuristic quality/repetition/
    * language gates, dedup, decontamination, LM) — package-visible so the
    * integration spec can prove the probe stage binds. */
  private[graft] def curationCore(s: SparkSession, dir: String): DataFrame =
    curationAssembled(s, dir, None)

  private[queries] def curationAssembled(
      s: SparkSession, dir: String, probeW: Option[Seq[Double]]): DataFrame = {
    GraftFunctions.register(s)
    val d = docs(s, dir)
    // each fused kernel (markerStats, repetitionStats, hashedTfVector)
    // aliased ONCE; every scoring column derives from the aliases
    val kernels = Seq(
      col("doc_id"), col("lang"),
      GraftFunctions.markerStats(col("text")).as("ms"),
      GraftFunctions.repetitionStats(col("text")).as("rs")) ++
      probeW.map(w =>
        GraftFunctions.hashedTfVector(split(col("text"), " "), w.length).as("pv"))
    val scoring = Seq(
      col("doc_id"), col("lang"),
      col("ms").getField("n_tokens").cast("long").as("n_tokens"),
      GraftFunctions.qualityScoreFrom(col("ms")).as("quality"),
      (GraftFunctions.langIdFrom(col("ms")) === col("lang")).as("lang_ok"),
      GraftFunctions.repetitionOk(col("rs")).as("rep_ok")) ++
      probeW.map(w =>
        (w.indices.map(j => col("pv").getItem(j) * lit(w(j))).reduce(_ + _)
          >= ProbeGateMargin).as("probe_ok"))
    val scored = d.select(kernels: _*).select(scoring: _*)
    val survivors = Dedup.exactCanonicalHashed(d, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val clean = decontOverlap(d)
      .filter(col("contaminated") === 0)
      .select(col("doc_id"))
    // LM predictability stage (CCNet tier): self-trained bigram model;
    // docs too short to score (< 2 tokens) fail the gate by construction
    val lmOk = graft.operators.LangModel
      .scoreBigram(d, d, "doc_id", "text", LmMinMeanP)
      .filter(col("lm_ok"))
      .select(col("doc_id"))
    val keep = col("quality") >= 0.5 && col("lang_ok") && col("rep_ok") &&
      probeW.map(_ => col("probe_ok")).getOrElse(lit(true))
    scored.join(survivors, "doc_id").join(clean, "doc_id").join(lmOk, "doc_id")
      .filter(keep)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
  }

  /** The quality/repetition/language scoring CTEs (`scored`, `rep`) shared
    * by [[curationPipelineSql]] and the streaming gate's oracle — the
    * filters are the same kernels in both execution modes, so their oracle
    * text is single-sourced too. */
  private[queries] lazy val scoredRepCtes: String = {
    val hits = GraftFunctions.langMarkers.map { case (lang, _) => lang -> s"h_$lang" }
    val hitDefs = GraftFunctions.langMarkers
      .map { case (lang, ms) => s"${hitsSql(ms)} AS h_$lang" }.mkString(",\n  ")
    val best = s"greatest(${hits.map(_._2).mkString(", ")})"
    val cases = hits.map { case (lang, h) =>
      s"WHEN $h > 0 AND $h = $best THEN '$lang'"
    }.mkString("\n    ")
    s"""scored AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len($tsSql) AS BIGINT) AS n_tokens,
       |    $qualityExprSql AS quality,
       |    (CASE $cases ELSE 'und' END) = lang AS lang_ok
       |  FROM (SELECT doc_id, lang, source, text, $hitDefs FROM documents)),
       |rep AS (
       |  SELECT doc_id, $repKeepSql AS rep_ok FROM (
       |  $repStatsSql))""".stripMargin
  }

  /** Mirrors [[graft.streaming.EventPipeline.curationFilterStream]] (the
    * stateless quality/repetition/language tier, stream ≡ batch). */
  lazy val streamQualitySql: String =
    s"""WITH $scoredRepCtes
       |SELECT s.doc_id, s.lang, s.n_tokens, s.quality
       |FROM scored s JOIN rep USING (doc_id)
       |WHERE s.quality >= 0.5 AND s.lang_ok AND rep.rep_ok""".stripMargin

  /** WARC → curation ingestion composition: the corpus lands as crawl
    * files ([[graft.sources.Warc.writeWarc]]), is read back through the
    * real container parser, re-keyed from its URLs, joined to the
    * metadata sidecar (lang — crawl archives carry bytes, not labels),
    * and pushed through the stateless quality tier — the first mile of a
    * Common-Crawl-shaped pipeline as ONE declarative job. Because the
    * WARC round trip is byte-exact (d_warc_roundtrip), the output must
    * equal the quality tier over the original table, so this SHARES
    * [[streamQualitySql]]'s oracle verbatim. */
  def warcIngest(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val out = java.nio.file.Files.createTempDirectory("graft_warc_ing")
    try {
      val d = docs(s, dir)
      val fromWarc = writeAndReadBackWarc(s, d, out.toString)
        .select(col("doc_id"), col("text"))
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      graft.streaming.EventPipeline.curationFilterStream(fromWarc)
        .graftCheckpoint()
    } finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  lazy val curationPipelineSql: String = {
    s"""WITH $scoredRepCtes,
       |survivors AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id, ${fnvHugeSql("ck")} AS f1, ${fnvAltHugeSql("ck")} AS f2
       |    FROM (SELECT doc_id,
       |            array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS ck
       |          FROM documents))
       |  GROUP BY f1, f2),
       |clean AS (
       |  SELECT doc_id FROM (
       |$decontaminateSql
       |  ) WHERE contaminated = 0),
       |$lmCtes,
       |lmok AS (SELECT doc_id FROM lmdoc WHERE mean_p >= $LmMinMeanP),
       |$probeTrainCtes,
       |$probeGateCtes
       |SELECT s.doc_id, s.lang, s.n_tokens, s.quality
       |FROM scored s JOIN survivors USING (doc_id) JOIN rep USING (doc_id)
       |  JOIN clean USING (doc_id) JOIN lmok USING (doc_id)
       |  JOIN pok USING (doc_id)
       |WHERE s.quality >= 0.5 AND s.lang_ok AND rep.rep_ok""".stripMargin
  }

  /** Source-pair vocabulary overlap — the mixture-design diagnostic
    * ("how redundant are my ingest sources?"): exact token-set Jaccard
    * for every source pair, computed WITHOUT any all-pairs document work.
    * The (source, token) distinct set is token-keyed; joining it to
    * itself on token emits at most sources² rows per token (a bounded
    * domain — source/domain counts are thousands, never corpus-sized),
    * and the per-source distinct counts broadcast back onto the ~S²/2
    * result rows. The division is one double op over identical integers,
    * so it is engine-identical. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val t = docs(s, dir)
      .select(col("source"), explode(GraftFunctions.tokens(col("text"))).as("token"))
      .distinct()
    val n = t.groupBy(col("source")).agg(count(lit(1)).as("n"))
    t.select(col("source").as("source_a"), col("token"))
      .join(t.select(col("source").as("source_b"), col("token")), "token")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(n.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(n.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** Mirrors [[sourceOverlap]]: same distinct (source, token) set, same
    * token-keyed pair counting, same single division. */
  val sourceOverlapSql: String =
    s"""WITH t AS (
       |  SELECT DISTINCT source, unnest($tsSql) AS token FROM documents),
       |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY source),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_common
       |  FROM t a JOIN t b USING (token)
       |  WHERE a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, p.n_common,
       |  CAST(p.n_common AS DOUBLE) / CAST(na.n + nb.n - p.n_common AS DOUBLE) AS jaccard
       |FROM p JOIN n na ON p.source_a = na.source
       |       JOIN n nb ON p.source_b = nb.source""".stripMargin

  /** Per-doc curation AUDIT: which stage drops each document — the
    * provenance question a corpus operation answers constantly ("why did
    * volume fall 40% for source X?"). One scan computes the per-doc
    * kernels; the set-membership stages (dedup survivorship,
    * decontamination, LM) left-join their flags; a single CASE assigns
    * the FIRST failing stage in the pipeline's order (eval slice →
    * quality → lang → repetition → duplicate → contaminated → lm → kept,
    * the heuristic tier — the trained-probe stage is scored by its own
    * gates). Aggregated to (source, reason) counts. */
  def curationReasons(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val d = docs(s, dir)
    val scored = d.select(
        col("doc_id"), col("source"), col("lang"),
        GraftFunctions.markerStats(col("text")).as("ms"),
        GraftFunctions.repetitionStats(col("text")).as("rs"))
      .select(col("doc_id"), col("source"),
        GraftFunctions.qualityScoreFrom(col("ms")).as("quality"),
        (GraftFunctions.langIdFrom(col("ms")) === col("lang")).as("lang_ok"),
        GraftFunctions.repetitionOk(col("rs")).as("rep_ok"))
    val survivors = Dedup.exactCanonicalHashed(d, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"), lit(1).as("sv"))
    val cont = decontOverlap(d).select(col("doc_id"), col("contaminated"))
    val lm = graft.operators.LangModel
      .scoreBigram(d, d, "doc_id", "text", LmMinMeanP)
      .select(col("doc_id"), col("lm_ok"))
    scored
      .join(survivors, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .withColumn("reason",
        when(pmod(col("doc_id"), lit(DecontEvalMod)) === 0, "eval_slice")
          .when(col("quality") < 0.5, "quality")
          .when(!col("lang_ok"), "lang")
          .when(!col("rep_ok"), "repetition")
          .when(col("sv").isNull, "duplicate")
          .when(col("contaminated") === 1, "contaminated")
          .when(col("lm_ok").isNull || !col("lm_ok"), "lm")
          .otherwise("kept"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Assembled from the SAME factored CTEs as [[curationPipelineSql]]
    * (scored/rep kernels, dedup fingerprints, decontamination, LM), with
    * the CASE in the identical stage order. */
  lazy val curationReasonsSql: String =
    s"""WITH $scoredRepCtes,
       |survivors AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id, ${fnvHugeSql("ck")} AS f1, ${fnvAltHugeSql("ck")} AS f2
       |    FROM (SELECT doc_id,
       |            array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS ck
       |          FROM documents))
       |  GROUP BY f1, f2),
       |cont AS (SELECT doc_id, contaminated FROM (
       |$decontaminateSql
       |  )),
       |$lmCtes,
       |r AS (
       |  SELECT s.source,
       |    CASE WHEN ((s.doc_id % $DecontEvalMod) + $DecontEvalMod) % $DecontEvalMod = 0 THEN 'eval_slice'
       |         WHEN s.quality < 0.5 THEN 'quality'
       |         WHEN NOT s.lang_ok THEN 'lang'
       |         WHEN NOT rep.rep_ok THEN 'repetition'
       |         WHEN sv.doc_id IS NULL THEN 'duplicate'
       |         WHEN c.contaminated = 1 THEN 'contaminated'
       |         WHEN l.doc_id IS NULL OR NOT (l.mean_p >= $LmMinMeanP) THEN 'lm'
       |         ELSE 'kept' END AS reason
       |  FROM scored s JOIN rep USING (doc_id)
       |    LEFT JOIN survivors sv ON s.doc_id = sv.doc_id
       |    LEFT JOIN cont c ON s.doc_id = c.doc_id
       |    LEFT JOIN lmdoc l ON s.doc_id = l.doc_id)
       |SELECT source, reason, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM r GROUP BY source, reason""".stripMargin

  // chunking gate parameters — shared by the query and its oracle twin
  private[queries] val ChunkMaxTokens = 40
  private[queries] val ChunkStride = 32

  /** Context-window chunking ([[graft.operators.Chunking.slidingWindows]]):
    * 40-token windows at stride 32 (8-token overlap) over every document. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.slidingWindows(
      docs(s, dir), "doc_id", "text", ChunkMaxTokens, ChunkStride)

  /** Mirrors [[chunkWindows]]: same start offsets (0 ≤ w·stride < n), same
    * clamped slice, same single-space re-join. */
  lazy val chunkWindowsSql: String =
    s"""SELECT doc_id,
       |  CAST(u.st // $ChunkStride AS INT) AS chunk_id,
       |  CAST(least($ChunkMaxTokens, len(ts) - u.st) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(list_slice(ts, u.st + 1, u.st + $ChunkMaxTokens), ' ') AS chunk
       |FROM (
       |  SELECT doc_id, ts, unnest(list_transform(range(0, len(ts), $ChunkStride), s -> {st: s})) AS u
       |  FROM (SELECT doc_id, $tsSql AS ts FROM documents))""".stripMargin

  /** Per-source corpus health report — the observability query a corpus
    * operation runs per ingest source/domain: volume (docs, tokens),
    * quality mean (floor-quantized micro-units → ORDER-INDEPENDENT exact
    * aggregate, the [[graft.operators.Similarity.clusterReport]] device),
    * language-agreement count, and exact-duplicate involvement (docs whose
    * canonical 128-bit fingerprint occurs more than once corpus-wide).
    * One scan + one tiny fingerprint-keyed side-aggregation; every output
    * is exact across engines. */
  def sourceReport(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val d = docs(s, dir)
    val scored = d.select(
        col("doc_id"), col("source"), col("lang"),
        GraftFunctions.markerStats(col("text")).as("ms"),
        GraftFunctions.fingerprint128(
          GraftFunctions.canonicalKey(col("text"))).as("fp"))
      .select(col("doc_id"), col("source"), col("fp"),
        col("ms").getField("n_tokens").cast("long").as("n_tokens"),
        GraftFunctions.qualityScoreFrom(col("ms")).as("quality"),
        (GraftFunctions.langIdFrom(col("ms")) === col("lang")).as("lang_ok"))
    val dupFps = scored.groupBy(col("fp")).count()
      .filter(col("count") > 1).select(col("fp"))
    scored
      .join(dupFps.withColumn("is_dup", lit(1L)), Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(floor(col("quality") * lit(1000000.0)).cast("long")).as("sum_quality_q6"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("sum_quality_q6").cast("double") / col("n_docs").cast("double")
          / lit(1000000.0)).as("mean_quality_q"),
        col("n_lang_ok"), col("n_dup_docs"))
  }

  /** Mirrors [[sourceReport]] on the shared scored CTEs: same quality
    * expression, same language case chain, same two-stream FNV canonical
    * fingerprint, same quantized quality sum. */
  lazy val sourceReportSql: String =
    s"""WITH $scoredRepCtes,
       |fp AS (
       |  SELECT doc_id, ${fnvHugeSql("ck")} AS f1, ${fnvAltHugeSql("ck")} AS f2
       |  FROM (SELECT doc_id,
       |          array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS ck
       |        FROM documents)),
       |dupfp AS (
       |  SELECT f1, f2 FROM fp GROUP BY f1, f2 HAVING COUNT(*) > 1),
       |dupdoc AS (
       |  SELECT fp.doc_id, 1 AS is_dup FROM fp JOIN dupfp USING (f1, f2))
       |SELECT s.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CAST(floor(s.quality * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_quality_q,
       |  CAST(SUM(CASE WHEN s.lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       |  CAST(SUM(COALESCE(d.is_dup, 0)) AS BIGINT) AS n_dup_docs
       |FROM scored s LEFT JOIN dupdoc d USING (doc_id)
       |GROUP BY s.source""".stripMargin

  /** Int8 embedding quantization gate
    * ([[graft.operators.Similarity.quantizeInt8]]): per vector — the exact
    * scale plus integer digests of the quantized codes (sum and L1), every
    * output engine-portable exact. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(embeddings(s, dir), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        aggregate(col("qvec"), lit(0L), (acc, q) => acc + q.cast("long")).as("q_sum"),
        aggregate(col("qvec"), lit(0L), (acc, q) => acc + abs(q.cast("long"))).as("q_l1"))

  /** Mirrors [[embedQuantize]]: same max-abs scale, same
    * floor(x·127/s + 0.5) round-half-up, same sequential integer folds. */
  lazy val embedQuantizeSql: String =
    s"""WITH sc AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, scale,
       |    CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
       |         ELSE list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS INT))
       |    END AS qvec
       |  FROM sc)
       |SELECT vec_id, scale,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(qvec, v -> CAST(v AS BIGINT))), (a, b) -> a + b) AS q_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(qvec, v -> abs(CAST(v AS BIGINT)))), (a, b) -> a + b) AS q_l1
       |FROM q""".stripMargin

  /** Corpus snapshot diff ([[graft.operators.Versioning.diff]]): v2 is a
    * deterministic synthetic revision of the fixture corpus — drop
    * doc_id ≡ 0 (mod 13), append " rev2" to surviving doc_id ≡ 0 (mod 11),
    * re-add doc_id ≡ 0 (mod 17) under id+1,000,000 — identically in the
    * oracle, so every added/removed/modified/unchanged verdict is pinned. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val v2 = d.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(11)) === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.operators.Versioning.diff(d, v2, "doc_id", "text")
  }

  /** Mirrors [[corpusDiff]]: same synthetic v2, same two-stream raw-text
    * fingerprints, same full-outer classification. */
  lazy val corpusDiffSql: String =
    s"""WITH oldc AS (
       |  SELECT doc_id, ${fnvHugeSql("text")} AS f1, ${fnvAltHugeSql("text")} AS f2
       |  FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0),
       |newc AS (
       |  SELECT doc_id, ${fnvHugeSql("text")} AS f1, ${fnvAltHugeSql("text")} AS f2
       |  FROM v2)
       |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       |  CASE WHEN n.doc_id IS NULL THEN 'removed'
       |       WHEN o.doc_id IS NULL THEN 'added'
       |       WHEN o.f1 = n.f1 AND o.f2 = n.f2 THEN 'unchanged'
       |       ELSE 'modified' END AS status
       |FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id""".stripMargin

  /** Corpus export gate ([[graft.plans.CorpusExport.writeCurated]]): the
    * curated corpus written split-partitioned to a temp dir, manifest
    * recomputed from the WRITTEN files — the oracle therefore checks the
    * on-disk artifact, xlsx-roundtrip style. */
  def corpusExport(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_export")
    // the manifest is a 3-row aggregate: materialize it off the written
    // files, then reclaim the temp corpus (finally: a failed write in a
    // bench loop must not strand an iteration's multi-MB export either)
    try graft.plans.CorpusExport.writeCurated(s, dir, out.toString)
      .graftCheckpoint()
    finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  /** The delta LIFECYCLE gate ([[graft.plans.CorpusExport.applyDelta]]):
    * day-0 exports the corpus WITHOUT the doc_id ≡ 0 (mod 5) curated
    * docs, the fresh full curation diffs against it
    * ([[graft.plans.CorpusExport.writeCuratedDelta]] — the delta is
    * exactly those docs), and APPLY merges the delta into the base in
    * place, rewriting only affected split partitions. The returned
    * manifest is recomputed from the UPDATED on-disk corpus, which must
    * equal a from-scratch export's — so the gate shares
    * [[corpusExportSql]]. CorpusExportSpec pins that unaffected split
    * partitions keep their exact files. */
  def corpusApplyDelta(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_apply_delta")
    // ONE curation materialization feeds both the day-0 export and the
    // delta (a second full pipeline run — probe training included —
    // would double the gate's cost for no extra verification)
    val full = graft.plans.CorpusExport.curatedFull(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.plans.CorpusExport.writeCuratedFrom(
        s, full.filter(pmod(col("doc_id"), lit(5)) =!= 0), out.toString)
      graft.plans.CorpusExport.writeCuratedDeltaArtifacts(s, full, out.toString)
      graft.plans.CorpusExport.applyDelta(s, out.toString)
    } finally {
      full.unpersist(blocking = false)
      graft.plans.CorpusExport.deleteRecursively(out.toFile)
    }
  }

  /** Time-travel gate ([[graft.plans.Snapshots]] — the versioned
    * copy-on-write corpus store): v1 commits the corpus WITHOUT the
    * doc_id ≡ 0 (mod 5) slice, v2 commits that slice as a delta, v3
    * commits a takedown of the doc_id ≡ 0 (mod 7) docs — then all three
    * versions are read back AFTER every commit has landed. The returned
    * per-version manifests prove snapshot isolation end to end: if any
    * commit had touched an earlier version's files, v1/v2 would no
    * longer aggregate to their as-of-commit contents. */
  def corpusTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snapshots")
    val full = CorpusExport.curatedFull(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Snapshots.commitFull(s,
        full.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      // removals are SPLIT-KEYED (the doc's resident split comes straight
      // off the curated frame), so takedown discovery never scans the
      // corpus — the commit reads only the splits it rewrites
      Snapshots.commitDelta(s, root.toString,
        adds = full.filter(pmod(col("doc_id"), lit(5)) === 0),
        removedIds = full.select(col("split"), col("doc_id")).limit(0))
      Snapshots.commitDelta(s, root.toString,
        adds = full.limit(0),
        removedIds = full.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      Seq(1, 2, 3).map { v =>
        Snapshots.readAt(s, root.toString, v)
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("total_tokens"))
          .select(lit(s"v$v").as("version"), col("split"), col("lang"),
            col("n_docs"), col("total_tokens"))
      }.reduce(_ unionAll _).graftCheckpoint()
    } finally {
      full.unpersist(blocking = false)
      CorpusExport.deleteRecursively(root.toFile)
    }
  }

  /** Incremental-consumer CHANGES gate
    * ([[graft.plans.Snapshots.changesBetween]]): a three-version store
    * over the raw documents table — v1 = docs without the %5 slice,
    * v2 = +that slice (split-keyed empty removals), v3 = an UPDATE batch
    * (the %11∖%7∖%5 docs re-committed with n_chars+1 — in-place doc
    * replacement) together with the %7 takedowns — then the row-level
    * diffs v1→v3 and v2→v3, aggregated per (pair, change, split). The
    * store's immutability makes the diff read ONLY splits whose pointer
    * changed between the two version files (pointer-identical split ⇒
    * byte-identical files); the oracle replays every class in closed
    * form from `documents` alone. */
  def corpusChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_changes")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      val noneRm = d.select(col("split"), col("doc_id")).limit(0)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(5)) === 0),
        removedIds = noneRm)
      // v3: update a slice in place (replaced rows carry n_chars+1) and
      // take down the %7 docs; the update slice avoids the takedown set
      // (a doc in both would be re-added by the replace contract) and
      // the %5 set (those must stay pure "add" in the v1→v3 diff)
      val updates = d
        .filter(pmod(col("doc_id"), lit(11)) === 0 &&
          pmod(col("doc_id"), lit(7)) =!= 0 && pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("n_chars", col("n_chars") + 1)
      Snapshots.commitDelta(s, root.toString,
        adds = updates,
        removedIds = d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      Seq(1 -> 3, 2 -> 3).map { case (a, b) =>
        Snapshots.changesBetween(s, root.toString, a, b)
          .groupBy(col("change"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .select(lit(s"v$a..v$b").as("pair"), col("change"), col("split"),
            col("n_docs"), col("id_sum"))
      }.reduce(_ unionAll _).graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** DELETION-VECTOR takedown gate
    * ([[graft.plans.Snapshots.commitRemove]]): the merge-on-read tier —
    * v2 takes down the %7 docs and v3 the remaining %5 docs as TOMBSTONE
    * SIDECARS (the gate REQUIRES that neither commit wrote a split data
    * dir — a copy-on-write regression fails in-gate, not just in the
    * numbers), stacking two vectors on the splits both touched; v4 is a
    * normal delta re-adding the %35 docs with bumped n_chars, which
    * REWRITES every split and folds the tombstones in — the re-added
    * doc_ids must not be re-deleted by the stale sidecars. All four
    * versions read back AFTER every commit; the oracle replays the
    * membership algebra in closed form. */
  def corpusDv(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_dv")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s, d, root.toString)
      Snapshots.commitRemove(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      Snapshots.commitRemove(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(5)) === 0 &&
            pmod(col("doc_id"), lit(7)) =!= 0)
          .select(col("split"), col("doc_id")))
      // the merge-on-read claim, enforced in-gate: the takedown commits
      // wrote ONLY `-dv` sidecars, never a split data dir
      Seq(2, 3).foreach { v =>
        val dataDirs = Option(root.toFile.listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith(s"v$v-") &&
            !f.getName.endsWith("-dv"))
        require(dataDirs.isEmpty,
          s"takedown v$v rewrote split data: ${dataDirs.map(_.getName)}")
      }
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(35)) === 0)
          .withColumn("n_chars", col("n_chars") + 1),
        removedIds = d.select(col("split"), col("doc_id")).limit(0))
      Seq(1, 2, 3, 4).map { v =>
        Snapshots.readAt(s, root.toString, v)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("char_sum"))
          .select(lit(s"v$v").as("version"), col("split"),
            col("n_docs"), col("id_sum"), col("char_sum"))
      }.reduce(_ unionAll _).graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** OPTIMISTIC-CONCURRENCY gate: two GENUINELY CONCURRENT committers —
    * one adding the %3 docs, one taking down the %4==1 slice of the
    * seed — race on one store from two driver threads (a latch releases
    * them together). The claim protocol plus auto-rebase
    * ([[graft.plans.Snapshots.commitDelta]]) must land BOTH as a dense
    * v2/v3 chain with zero manual retries, whichever order they win;
    * the deltas are doc_id-disjoint, so the head's content is
    * order-independent and the oracle replays it in closed form. The
    * gate REQUIRES both commits succeeded (a refusal aborts it) and the
    * chain is dense. */
  def corpusConcurrent(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_conc")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(3)) =!= 0), root.toString)
      val noneRm = d.select(col("split"), col("doc_id")).limit(0)
      val start = new java.util.concurrent.CountDownLatch(1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val committers = Seq(
        Future {
          start.await()
          Snapshots.commitDelta(s, root.toString,
            adds = d.filter(pmod(col("doc_id"), lit(3)) === 0),
            removedIds = noneRm)
        },
        Future {
          start.await()
          Snapshots.commitDelta(s, root.toString,
            adds = d.limit(0),
            removedIds = d.filter(pmod(col("doc_id"), lit(4)) === 1 &&
                pmod(col("doc_id"), lit(3)) =!= 0)
              .select(col("split"), col("doc_id")))
        })
      start.countDown()
      val landed = committers.map(f => Await.result(f, 20.minutes))
      require(landed.toSet == Set(2, 3),
        s"both concurrent committers must land a dense chain, got $landed")
      Snapshots.readAt(s, root.toString, 3)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusConcurrent]] in closed form: the final membership
    * is order-independent — %3 adds ∪ (seed ∖ the %4==1 takedowns). */
  lazy val corpusConcurrentSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, n_chars
       |  FROM documents),
       |m AS (
       |  SELECT * FROM d WHERE doc_id % 3 = 0 OR doc_id % 4 <> 1)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
       |FROM m GROUP BY split""".stripMargin

  /** MERGE INTO gate ([[graft.plans.Snapshots.mergeInto]]) — the upsert
    * front door, three merges deep: (1) classic upsert of the %2 docs
    * with bumped n_chars (matched → replace, new → insert); (2) a
    * CONDITIONAL update of the %7 docs to n_chars = 0, gated on the
    * STORED row's parity (`existing.n_chars % 2 = 0`) — matched-but-
    * condition-false rows must stay untouched; (3) a delete-merge of
    * the %5 docs (matched → takedown, unmatched → skip). Every merge
    * compiles to one delta commit; the oracle replays the whole
    * three-step algebra in closed form. */
  def corpusMergeInto(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_merge")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(3)) =!= 0), root.toString)
      // (1) upsert: %2 docs, n_chars + 10
      require(Snapshots.mergeInto(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("n_chars", col("n_chars") + 10),
        Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert) == 2)
      // (2) conditional update: %7 docs -> n_chars = 0, only where the
      // STORED row's n_chars is even; unmatched %7 docs skipped
      require(Snapshots.mergeInto(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("n_chars", lit(0).cast(d.schema("n_chars").dataType)),
        Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Skip,
        matchedCondition =
          Some(pmod(col("existing.n_chars"), lit(2)) === 0)) == 3)
      // (3) delete-merge: %5 docs matched are taken down
      require(Snapshots.mergeInto(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(5)) === 0),
        Snapshots.WhenMatched.Delete, Snapshots.WhenNotMatched.Skip) == 4)
      Snapshots.readAt(s, root.toString, 4)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusMergeInto]] in closed form. Membership after the
    * three merges: (¬%3 ∨ %2) ∧ ¬%5. Content: n_chars+10 for the %2
    * docs, then 0 for %7 members whose post-upsert n_chars was even —
    * +10 preserves parity, so that is base-n_chars-even. */
  lazy val corpusMergeIntoSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, n_chars
       |  FROM documents),
       |mem AS (
       |  SELECT doc_id, split,
       |    CASE WHEN doc_id % 2 = 0 THEN n_chars + 10 ELSE n_chars END AS nc
       |  FROM d WHERE doc_id % 3 <> 0 OR doc_id % 2 = 0),
       |upd AS (
       |  SELECT doc_id, split,
       |    CASE WHEN doc_id % 7 = 0 AND nc % 2 = 0 THEN 0 ELSE nc END AS nc
       |  FROM mem),
       |fin AS (SELECT * FROM upd WHERE doc_id % 5 <> 0)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(nc) AS BIGINT) AS char_sum
       |FROM fin GROUP BY split""".stripMargin

  /** RESTORE gate ([[graft.plans.Snapshots.restore]]): a botched
    * takedown (the %2 docs — half the corpus, the oops) lands as v2;
    * `restore(1)` rolls the head back as v3 with ZERO data copied (the
    * gate REQUIRES v3 wrote no data dir at all), and pipelines keep
    * going — v4 commits the intended delta (%7 takedowns) on top. All
    * four versions read back AFTER everything; the botched v2 stays
    * readable for forensics. */
  def corpusRestore(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_restore")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s, d, root.toString)
      Snapshots.commitDelta(s, root.toString, adds = d.limit(0),
        removedIds = d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("split"), col("doc_id")))
      require(Snapshots.restore(s, root.toString, 1) == 3)
      // zero-copy claim, enforced in-gate: the restore wrote NO data dir
      val v3Dirs = Option(root.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v3-"))
      require(v3Dirs.isEmpty,
        s"restore must be pointer-only: ${v3Dirs.map(_.getName)}")
      Snapshots.commitDelta(s, root.toString, adds = d.limit(0),
        removedIds = d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      Seq(1, 2, 3, 4).map { v =>
        Snapshots.readAt(s, root.toString, v)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .select(lit(s"v$v").as("version"), col("split"),
            col("n_docs"), col("id_sum"))
      }.reduce(_ unionAll _).graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusRestore]] in closed form: v1 = all, v2 = ¬%2
    * (the oops), v3 = all again (the restore), v4 = ¬%7. */
  lazy val corpusRestoreSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split
       |  FROM documents),
       |m AS (
       |  SELECT 'v1' AS version, split, doc_id FROM d
       |  UNION ALL
       |  SELECT 'v2', split, doc_id FROM d WHERE doc_id % 2 <> 0
       |  UNION ALL
       |  SELECT 'v3', split, doc_id FROM d
       |  UNION ALL
       |  SELECT 'v4', split, doc_id FROM d WHERE doc_id % 7 <> 0)
       |SELECT version, split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM m GROUP BY version, split""".stripMargin

  /** Scheduled-MAINTENANCE gate ([[graft.plans.Snapshots.maintain]]):
    * a store accumulates a realistic mess — an update delta (%11 docs,
    * n_chars+1), a DV takedown (%7), a pointer-only retention trim of
    * the s3 split — and ONE maintain call folds the vectors,
    * consolidates the multi-dir chain and vacuums history. The gate
    * REQUIRES all three triggers fired and exactly one referenced data
    * dir remains; the oracle is the head's closed-form content —
    * maintenance must never change what the store says. */
  def corpusMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_maint")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s, d, root.toString)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("n_chars", col("n_chars") + 1),
        removedIds = d.select(col("split"), col("doc_id")).limit(0))
      // the takedown hits split s0 only, so the DV fold rewrites s0 and
      // the OTHER splits still reference the older delta dir — the
      // consolidation trigger must fire on genuinely multi-dir state
      Snapshots.commitRemove(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0 &&
            pmod(col("doc_id"), lit(4)) === 0)
          .select(col("split"), col("doc_id")))
      Snapshots.dropSplits(s, root.toString, Seq("s3"))
      val rep = Snapshots.maintain(s, root.toString,
        Snapshots.MaintenancePolicy(dvCompactFraction = Some(0.01),
          consolidateAfterDirs = Some(1), vacuumKeepLast = Some(1)))
      require(rep.dvCompacted.nonEmpty && rep.consolidated.nonEmpty &&
        rep.vacuumDropped.nonEmpty,
        s"every maintenance trigger had to fire: $rep")
      val liveDirs = Option(root.toFile.listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(liveDirs == 1, s"consolidation must leave ONE data dir: $liveDirs")
      Snapshots.readAt(s, root.toString,
          Snapshots.latestVersion(s, root.toString))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusMaintain]] in closed form: membership =
    * (doc_id % 4 ≠ 3) minus the s0-scoped %7 takedown, content +1 for
    * the %11 update slice. */
  lazy val corpusMaintainSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
       |    CASE WHEN doc_id % 11 = 0 THEN n_chars + 1 ELSE n_chars END AS nc
       |  FROM documents),
       |m AS (
       |  SELECT * FROM d
       |  WHERE doc_id % 4 <> 3 AND NOT (doc_id % 7 = 0 AND doc_id % 4 = 0))
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(nc) AS BIGINT) AS char_sum
       |FROM m GROUP BY split""".stripMargin

  /** DOC-INDEX gate ([[graft.plans.DocIndex]]): the standing
    * doc_id → split index that upgrades doc_id-only takedowns from a
    * corpus-wide semi-join to an index lookup. The corpus evolves
    * through adds AND cross-split moves (the %11∖%5 docs relocate —
    * exactly what makes a stale mapping dangerous); the index
    * materializes at v1 and CDC-refreshes per commit; `removeByIds`
    * takes down the %7 docs via the index as a sidecar-only DV commit
    * (REQUIRED in-gate: no split data dir written). The result reads
    * BOTH sides — the corpus head and the index itself — per split:
    * they must agree exactly, and the oracle replays the move/remove
    * algebra in closed form. */
  def corpusDocIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, DocIndex, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_dixc")
    val idx = java.nio.file.Files.createTempDirectory("graft_snap_dixi")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      require(DocIndex.materialize(s, root.toString, idx.toString) == 1)
      // v2: the %5 docs arrive AND the %11∖%5 docs MOVE across splits
      val movers = d.filter(pmod(col("doc_id"), lit(11)) === 0 &&
        pmod(col("doc_id"), lit(5)) =!= 0)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .unionByName(movers.withColumn("split",
            concat(lit("s"), pmod(col("doc_id") + 1, lit(4))))),
        removedIds = movers.select(col("split"), col("doc_id")))
      require(DocIndex.refresh(s, root.toString, idx.toString) == 2)
      // doc_id-only takedown THROUGH the index: sidecar-only commit
      require(DocIndex.removeByIds(s, root.toString, idx.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"))) == 3)
      val v3Data = Option(root.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v3-") &&
          !f.getName.endsWith("-dv"))
      require(v3Data.isEmpty,
        s"an indexed takedown must be sidecar-only: ${v3Data.map(_.getName)}")
      require(DocIndex.refresh(s, root.toString, idx.toString) == 3)
      val corpusSide = Snapshots.readAt(s, root.toString, 3)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .select(lit("corpus").as("side"), col("split"),
          col("n_docs"), col("id_sum"))
      val indexSide = DocIndex.read(s, idx.toString)
        .groupBy(col("target_split").as("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .select(lit("index").as("side"), col("split"),
          col("n_docs"), col("id_sum"))
      graft.core.Labeled(s, "d_corpus_docindex: corpus and index split counts") {
        corpusSide.unionAll(indexSide).graftCheckpoint()
      }
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(idx.toFile)
    }
  }

  /** Mirrors [[corpusDocIndex]] in closed form: membership = ¬%7;
    * split = s((id+1)%4) for the moved %11∖%5 docs, s(id%4) otherwise;
    * the index must mirror the corpus exactly. */
  lazy val corpusDocIndexSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 AND doc_id % 5 <> 0
       |         THEN 's' || CAST((doc_id + 1) % 4 AS VARCHAR)
       |         ELSE 's' || CAST(doc_id % 4 AS VARCHAR) END AS split
       |  FROM documents WHERE doc_id % 7 <> 0),
       |m AS (
       |  SELECT 'corpus' AS side, split, doc_id FROM d
       |  UNION ALL
       |  SELECT 'index', split, doc_id FROM d)
       |SELECT side, split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM m GROUP BY side, split""".stripMargin

  /** SQL-FRONT-DOOR gate ([[graft.sources.SnapshotSource]]): a store
    * with stats + bloom manifests and a deletion-vector takedown is read
    * back ENTIRELY through `spark.read.format("graft-snapshot")` and a
    * `CREATE TEMPORARY VIEW … USING` SQL view — the third-party tool's
    * path, never this repo's Scala API. In-gate REQUIREs: the front-door
    * head equals the `readAt` twin row-for-row (both directions), pushed
    * filters appear in the physical plan, and the manifest pruner
    * engages for a point lookup through the recorded blooms. Sides:
    * v1 (the CATALOG door — `SELECT … FROM graftsqlgate.store VERSION
    * AS OF 1`, Spark's native time-travel syntax through
    * [[graft.sources.SnapshotCatalog]]), head (DV-filtered format
    * read), sql (the temp view with a WHERE), point (an equality lookup
    * of the max doc_id). */
  def corpusSqlRead(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_sqlrd")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s, d, root.toString, statsCols = Seq("doc_id"),
        constraints = Nil, zorder = false, bloomCols = Seq("doc_id"))
      Snapshots.commitRemove(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      def fmt(opts: (String, String)*): DataFrame =
        opts.foldLeft(s.read.format("graft-snapshot")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(root.toString)
      // the front door must be the readAt twin, row for row
      val twin = Snapshots.readAt(s, root.toString, 2)
      val front = fmt()
      require(front.exceptAll(twin).isEmpty && twin.exceptAll(front).isEmpty,
        "format(graft-snapshot) head read must equal the readAt twin")
      // pushed filters are visible in the scan's physical plan
      val ranged = front.filter(col("doc_id") >= 1L)
      val plan = ranged.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual"),
        s"pushed filters must reach the scan:\n$plan")
      // the manifest pruner engages through the recorded blooms: a point
      // lookup must skip at least one of the four hash splits
      val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
      require(Snapshots.pruneReport(s, root.toString, 2,
          col("doc_id") === maxId).nonEmpty,
        "bloom pruning must engage for a point lookup")
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_read_gate
           |USING `graft-snapshot`
           |OPTIONS (path '${root.toString}', versionAsOf '2')""".stripMargin)
      // the v1 side reads through the CATALOG with Spark's native
      // time-travel syntax — the lakehouse user's literal first query
      s.conf.set("spark.sql.catalog.graftsqlgate",
        classOf[graft.sources.SnapshotCatalog].getName)
      s.conf.set("spark.sql.catalog.graftsqlgate.root",
        root.getParent.toString)
      try {
        def side(name: String, rows: DataFrame): DataFrame = rows
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .select(lit(name).as("side"), col("split"),
            col("n_docs"), col("id_sum"))
        side("v1", s.sql("SELECT split, doc_id FROM " +
            s"graftsqlgate.`${root.getFileName}` VERSION AS OF 1"))
          .unionAll(side("head", front))
          .unionAll(side("sql", s.sql(
            "SELECT split, doc_id FROM graft_sql_read_gate " +
              "WHERE doc_id % 2 = 0")))
          .unionAll(side("point", front.filter(col("doc_id") === maxId)))
          .graftCheckpoint()
      } finally {
        s.sql("DROP VIEW IF EXISTS graft_sql_read_gate")
        // the catalog NAME stays registered (instances cache per
        // session); its warehouse is the stable temp parent, so later
        // runs re-resolve their own store names through it safely
        ()
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusSqlRead]] in closed form: v1 = all docs, head/sql/
    * point = the ¬%7 membership after the DV takedown, sql additionally
    * %2, point = the max doc_id if it survived. */
  lazy val corpusSqlReadSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split
       |  FROM documents),
       |live AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
       |m AS (
       |  SELECT 'v1' AS side, split, doc_id FROM d
       |  UNION ALL
       |  SELECT 'head', split, doc_id FROM live
       |  UNION ALL
       |  SELECT 'sql', split, doc_id FROM live WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT 'point', split, doc_id FROM live
       |  WHERE doc_id = (SELECT MAX(doc_id) FROM documents))
       |SELECT side, split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM m GROUP BY side, split""".stripMargin

  /** SQL-FRONT-DOOR WRITE gate ([[graft.sources.SnapshotSource]]): the
    * store's second half for a third-party tool — day-2 arrives as a
    * `df.write.format("graft-snapshot").mode("append")` commit with a
    * `commitTag` (REDELIVERED in-gate: the ledger must answer with the
    * committed version, chain length unchanged), one synthetic row
    * lands via SQL `INSERT INTO` on an unpinned front-door view, and
    * the head count is REQUIRED to come back through the pushed
    * manifest COUNT(*). Output = the head's per-split aggregates read
    * through the format path; the oracle replays the write algebra in
    * closed form. */
  def corpusSqlWrite(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_sqlwr")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      // the owner creates the store with day 1 (the ¬%3 slice)
      Snapshots.commitFull(s, d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        root.toString)
      // day 2 (%3 slice) arrives THROUGH the front door, tagged …
      val day2 = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      day2.write.format("graft-snapshot").mode("append")
        .option("commitTag", "day-2").save(root.toString)
      require(Snapshots.latestVersion(s, root.toString) == 2)
      // … and its at-least-once REDELIVERY is ledger-skipped
      day2.write.format("graft-snapshot").mode("append")
        .option("commitTag", "day-2").save(root.toString)
      require(Snapshots.latestVersion(s, root.toString) == 2,
        "a redelivered commitTag write must not lengthen the chain")
      // one correction row lands via SQL INSERT INTO an unpinned view
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_write_gate
           |USING `graft-snapshot`
           |OPTIONS (path '${root.toString}')""".stripMargin)
      try {
        s.sql(
          "INSERT INTO graft_sql_write_gate VALUES (-1, 's0', 'zz', 7)")
        require(Snapshots.latestVersion(s, root.toString) == 3)
        // the head count answers from the MANIFEST (pushed COUNT(*))
        val expected = d.count() + 1
        require(s.read.format("graft-snapshot").load(root.toString)
          .count() == expected,
          "the pushed manifest count must see every front-door write")
        s.read.format("graft-snapshot").load(root.toString)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("char_sum"))
          .graftCheckpoint()
      } finally s.sql("DROP VIEW IF EXISTS graft_sql_write_gate"): Unit
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusSqlWrite]] in closed form: all documents plus the
    * inserted (-1, s0, zz, 7) correction row. */
  lazy val corpusSqlWriteSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
       |    n_chars
       |  FROM documents
       |  UNION ALL
       |  SELECT -1, 's0', 7)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
       |FROM m GROUP BY split""".stripMargin

  /** WALL-CLOCK-RETENTION gate ([[graft.plans.Snapshots.vacuumOlderThan]]):
    * a store takes three tagged daily deltas, then runs the retention
    * shape deployments actually schedule — time-based sweeps. In-gate
    * REQUIREs: a 1-hour retention drops NOTHING (every version is
    * seconds old — exactly where `vacuum(keepLast = 1)` would have
    * dropped three), a zero-retention sweep then drops everything but
    * the head (which survives regardless of age), and a REDELIVERED
    * day tag still answers from the durable ledger across the sweep.
    * Output = the head's per-split content after the sweeps — retention
    * must never change what the head says. */
  def corpusVacuumTime(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_vact")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      val none = d.select(col("split"), col("doc_id")).limit(0)
      Snapshots.commitFull(s, d.filter(pmod(col("doc_id"), lit(4)) === 0),
        root.toString)
      (1 to 3).foreach { k =>
        Snapshots.commitDelta(s, root.toString,
          adds = d.filter(pmod(col("doc_id"), lit(4)) === k),
          removedIds = none, tag = Some(s"day-$k"))
      }
      require(Snapshots.latestVersion(s, root.toString) == 4)
      // young versions survive a time sweep a count sweep would not
      val (d0, _) = Snapshots.vacuumOlderThan(s, root.toString,
        olderThanMs = 3600L * 1000L)
      require(d0.isEmpty, s"young versions must survive a 1h sweep: $d0")
      // zero retention: everything strictly older than now drops, the
      // HEAD survives regardless of age
      Thread.sleep(30)
      val (d1, _) = Snapshots.vacuumOlderThan(s, root.toString, 0L)
      require(d1 == Seq(1, 2, 3), s"expected v1..v3 dropped, got $d1")
      // the durable ledger answers a day redelivery across the sweep
      require(Snapshots.commitDelta(s, root.toString,
          adds = d.filter(pmod(col("doc_id"), lit(4)) === 2),
          removedIds = none, tag = Some("day-2")) == 3,
        "a redelivered day must answer from the ledger after the sweep")
      require(Snapshots.latestVersion(s, root.toString) == 4,
        "redelivery must not lengthen the chain")
      Snapshots.readAt(s, root.toString, 4)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusVacuumTime]] in closed form: retention never
    * changes the head — the full documents table, split s(id%4). */
  lazy val corpusVacuumTimeSql: String =
    s"""SELECT 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
       |FROM documents GROUP BY 1""".stripMargin

  /** SQL-FRONT-DOOR DELETE gate ([[graft.sources.SnapshotSource]]
    * `SupportsDelete` + [[graft.sources.SnapshotCatalog]]): the GDPR
    * takedown from PLAIN SQL — `DELETE FROM <catalog>.<store> WHERE …`
    * with no knowledge of this codebase. Three statements in-gate:
    *   1. a predicate delete (`doc_id < 100`) — victims resolved
    *      through the stats/bloom-PRUNED scan, committed SIDECAR-ONLY
    *      (REQUIREd: the set of data directories is unchanged; only a
    *      `-dv` sidecar appeared);
    *   2. a doc_id-IN delete routed through the STANDING
    *      [[graft.plans.DocIndex]] (the catalog's `docindex.<table>`
    *      conf) — index-cost victim resolution, and a preceding
    *      match-nothing delete REQUIREd to be a true no-op (no blank
    *      version);
    *   3. a stale-index delete REQUIREd to REFUSE (the index reflects
    *      the pre-delete head — resolving through it would mis-key).
    * The post-delete count is REQUIREd to answer through the pushed
    * manifest COUNT(*). Output = the head's per-(split, lang)
    * aggregates through the catalog door. */
  def corpusSqlDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, DocIndex, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_sqldel")
    val idx = java.nio.file.Files.createTempDirectory("graft_snap_sqldel_idx")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s, d, root.toString, statsCols = Seq("doc_id"),
        constraints = Nil, zorder = false, bloomCols = Seq("doc_id"))
      s.conf.set("spark.sql.catalog.graftsqldel",
        classOf[graft.sources.SnapshotCatalog].getName)
      s.conf.set("spark.sql.catalog.graftsqldel.root",
        root.getParent.toString)
      s.conf.set(
        s"spark.sql.catalog.graftsqldel.docindex.${root.getFileName}",
        idx.toString)
      val tbl = s"graftsqldel.`${root.getFileName}`"
      def dataDirs: Set[String] = {
        val p = new org.apache.hadoop.fs.Path(root.toString)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .filterNot(n => n == "_versions" || n.endsWith("-dv")).toSet
      }
      val dirsBefore = dataDirs
      // 1. predicate delete through the pruned scan — sidecar-only
      s.sql(s"DELETE FROM $tbl WHERE doc_id < 100")
      require(Snapshots.latestVersion(s, root.toString) == 2,
        "a predicate DELETE must commit exactly one version")
      require(dataDirs == dirsBefore,
        "DELETE must be sidecar-only: no data directory added or " +
          s"rewritten (before=$dirsBefore after=$dataDirs)")
      // the post-delete count answers off the pushed manifest COUNT(*)
      val expectAfter1 = d.filter(col("doc_id") >= 100).count()
      require(s.sql(s"SELECT COUNT(*) FROM $tbl").head().getLong(0) ==
        expectAfter1, "manifest COUNT(*) must see the deletion vectors")
      // 2. the standing index catches up to the post-delete head, then
      // serves doc_id-only deletes at index cost
      DocIndex.materialize(s, root.toString, idx.toString)
      s.sql(s"DELETE FROM $tbl WHERE doc_id = -1")
      require(Snapshots.latestVersion(s, root.toString) == 2,
        "a DELETE matching nothing is a no-op, never a blank version")
      s.sql(s"DELETE FROM $tbl WHERE doc_id IN (101, 102, 103)")
      require(Snapshots.latestVersion(s, root.toString) == 3,
        "the indexed IN-delete must commit")
      // 3. the index now reflects v2, the corpus v3: a further indexed
      // delete must REFUSE rather than resolve through stale entries
      val refused =
        try { s.sql(s"DELETE FROM $tbl WHERE doc_id IN (104)"); false }
        catch { case e: Throwable =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .take(8).exists(c => Option(c.getMessage)
              .exists(_.contains("refresh the index")))
        }
      require(refused, "a stale doc index must refuse the delete")
      s.sql(s"SELECT split, lang, doc_id, n_chars FROM $tbl")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .graftCheckpoint()
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(idx.toFile)
    }
  }

  /** BATCH CDF gate ([[graft.sources.SnapshotChangeFeed]] batch side):
    * the THIRD door onto the store's change feed — `spark.read
    * .format("graft-snapshot").option("changeFeed", "true")` replays
    * per-version row-level changes over a version range (the
    * table_changes shape), against the SAME closed-form oracle the
    * foreachBatch door (`s_stream_snapshot_changes`) and the streaming
    * front door (`s_stream_sql_changes`) share verbatim: one CDC body,
    * three doors, zero divergence. The v3 takedown here is a
    * DELETION-VECTOR commit — the feed must read tombstones as
    * `remove` rows exactly like a rewrite. In-gate REQUIRE: a bounded
    * `[2, 2]` range replays exactly v2. */
  def corpusSqlCdf(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_sqlcdf")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      val none = d.select(col("split"), col("doc_id")).limit(0)
      Snapshots.commitFull(s, d.filter(pmod(col("doc_id"), lit(3)) === 0),
        root.toString)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        removedIds = none)
      Snapshots.commitRemove(s, root.toString,
        d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      def cdf(opts: (String, String)*) =
        opts.foldLeft(s.read.format("graft-snapshot")
            .option("changeFeed", "true")) { case (r, (k, v)) =>
          r.option(k, v)
        }.load(root.toString)
      // the bounded range replays exactly v2 (the non-%3 adds)
      require(cdf("startingVersion" -> "2", "endingVersion" -> "2")
          .select(col("change")).distinct().collect()
          .map(_.getString(0)).toSeq == Seq("add"),
        "range [2,2] must contain only v2's adds")
      cdf()
        .groupBy(concat(lit("v"), col("_version").cast("string")).as("version"),
          col("change"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusSqlDelete]] in closed form: documents surviving
    * both deletes — doc_id ≥ 100 and ∉ {101, 102, 103}. */
  lazy val corpusSqlDeleteSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
       |    lang, n_chars
       |  FROM documents
       |  WHERE doc_id >= 100 AND doc_id NOT IN (101, 102, 103))
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
       |FROM m GROUP BY split, lang""".stripMargin

  /** Mirrors [[corpusDv]] in closed form. Membership: v1 = all,
    * v2 = ¬%7, v3 = ¬%7 ∧ ¬%5, v4 = v3 ∪ %35 (re-added with
    * n_chars+1). */
  lazy val corpusDvSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, n_chars
       |  FROM documents),
       |m AS (
       |  SELECT 'v1' AS version, split, doc_id, n_chars FROM d
       |  UNION ALL
       |  SELECT 'v2', split, doc_id, n_chars FROM d WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT 'v3', split, doc_id, n_chars FROM d
       |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT 'v4', split, doc_id, n_chars FROM d
       |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT 'v4', split, doc_id, n_chars + 1 FROM d WHERE doc_id % 35 = 0)
       |SELECT version, split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
       |FROM m GROUP BY version, split""".stripMargin

  /** INCREMENTAL-VIEW-MAINTENANCE gate ([[graft.plans.IncrementalAgg]]):
    * a per-(split, lang) rollup materializes at v1 of the corpus store,
    * then two deltas land (the %5 adds; the %11∖%7∖%5 in-place update
    * together with the %7 takedowns) and ONE incremental refresh brings
    * the view to v3 — reading only the deltas' pointer-changed splits,
    * retracting updated rows' old contributions via the CDC diff's
    * retraction side. The oracle is the from-scratch aggregate over the
    * final membership: refresh ≡ rebuild is the whole claim. */
  def corpusIncrAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, IncrementalAgg, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_iagg_store")
    val view = java.nio.file.Files.createTempDirectory("graft_iagg_view")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      val noneRm = d.select(col("split"), col("doc_id")).limit(0)
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      val spec = IncrementalAgg.Spec(Seq("split", "lang"), Seq("n_chars"))
      require(IncrementalAgg.materialize(
        s, root.toString, view.toString, spec) == 1)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(5)) === 0),
        removedIds = noneRm)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(11)) === 0 &&
            pmod(col("doc_id"), lit(7)) =!= 0 &&
            pmod(col("doc_id"), lit(5)) =!= 0)
          .withColumn("n_chars", col("n_chars") + 1),
        removedIds = d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      require(IncrementalAgg.refresh(s, root.toString, view.toString) == 3,
        "incremental refresh did not reach the store head")
      IncrementalAgg.read(s, view.toString)
        .select(col("split"), col("lang"), col("n_docs"),
          col("sum_n_chars").cast("long").as("total_chars"))
        .graftCheckpoint()
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(view.toFile)
    }
  }

  /** Mirrors [[corpusIncrAgg]] as the from-scratch aggregate over the
    * final membership (all ∖ %7, with +1 n_chars on %11∖%7∖%5). */
  lazy val corpusIncrAggSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, lang,
       |    n_chars + CASE WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0
       |      AND doc_id % 5 <> 0 THEN 1 ELSE 0 END AS n_chars
       |  FROM documents WHERE doc_id % 7 <> 0)
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM d GROUP BY split, lang""".stripMargin

  /** TIMESTAMP-AS-OF gate ([[graft.plans.Snapshots.readAsOf]]): two
    * commits land, and the corpus is read back AS OF each commit's
    * recorded stamp (from `history`'s `committed_at_ms`) plus as of
    * "now" — all three AFTER both commits. The stamps are runtime
    * values the oracle can never see, so the oracle pins what they
    * RESOLVE to: as-of v1's stamp must reproduce v1 exactly, as-of
    * v2's and as-of the far future must reproduce v2 — time-travel by
    * wall clock answering with version semantics. (Stamps are distinct
    * by construction: each commit runs full Spark write jobs between
    * them.) */
  def corpusReadAsOf(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_asof")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(5)) === 0),
        removedIds = d.select(col("split"), col("doc_id")).limit(0))
      val ts = Snapshots.history(s, root.toString)
        .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
      Seq("asof_v1" -> ts(1), "asof_v2" -> ts(2),
        "asof_now" -> (ts(2) + 86400000L))
        .map { case (name, t) =>
          Snapshots.readAsOf(s, root.toString, t)
            .groupBy(col("split"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).cast("long").as("total_chars"))
            .select(lit(name).as("as_of"), col("split"),
              col("n_docs"), col("total_chars"))
        }.reduce(_ unionAll _).graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusReadAsOf]]: v1 = ¬%5, v2 and the future = all. */
  lazy val corpusReadAsOfSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, n_chars
       |  FROM documents),
       |u AS (
       |  SELECT 'asof_v1' AS as_of, split, n_chars FROM d WHERE doc_id % 5 <> 0
       |  UNION ALL SELECT 'asof_v2', split, n_chars FROM d
       |  UNION ALL SELECT 'asof_now', split, n_chars FROM d)
       |SELECT as_of, split, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM u GROUP BY as_of, split""".stripMargin

  /** NDV-TRACKING VIEW gate ([[graft.plans.IncrementalAgg]] with
    * `ndvCols`): the per-split rollup carries a DataSketches HLL sketch
    * of doc_id, materialized over the %3 slice and incrementally MERGED
    * (sketches union, they don't recount) when the rest of the corpus
    * arrives as an add-only delta. doc_id is unique, so each split's
    * exact distinct count IS its row count — the oracle-computable
    * truth — and the sketch estimate must land within 5σ of it or the
    * job aborts via `raise_error` (the [[graft.queries.Relational
    * .approxDistinct]] verdict discipline: the hashed output carries
    * only exact values plus an enforced-true verdict). */
  def viewNdvIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, IncrementalAgg, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_ndv_store")
    val view = java.nio.file.Files.createTempDirectory("graft_ndv_view")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"))
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(3)) === 0), root.toString)
      require(IncrementalAgg.materialize(s, root.toString, view.toString,
        IncrementalAgg.Spec(Seq("split"), Nil, ndvCols = Seq("doc_id"))) == 1)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        removedIds = d.select(col("split"), col("doc_id")).limit(0))
      require(IncrementalAgg.refresh(s, root.toString, view.toString) == 2,
        "ndv view refresh did not reach the store head")
      val rse = 1.04 / math.sqrt(1 << 12) // lgK=12 HLL relative std error
      IncrementalAgg.read(s, view.toString)
        .select(col("split"), col("n_docs"),
          expr("hll_sketch_estimate(ndv_doc_id)").as("est"))
        .select(col("split"), col("n_docs"),
          when(abs(col("est").cast("double") - col("n_docs").cast("double"))
              <= lit(5 * rse) * col("n_docs").cast("double"), lit(true))
            .otherwise(raise_error(concat(
              lit("merged NDV estimate outside 5*rse for split "),
              col("split"), lit(": est="), col("est").cast("string"),
              lit(" exact="), col("n_docs").cast("string"))))
            .as("within_bound"))
        .graftCheckpoint()
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(view.toFile)
    }
  }

  /** Mirrors [[viewNdvIncr]]: doc_id is unique, so the exact distinct
    * per split is the row count; the verdict is enforced in-engine. */
  lazy val viewNdvIncrSql: String =
    """SELECT 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
      |  COUNT(*) AS n_docs, TRUE AS within_bound
      |FROM documents GROUP BY 1""".stripMargin

  /** NDV view SURVIVING REMOVES ([[graft.plans.IncrementalAgg.Spec]]
    * `ndvRebuild`): sketches cannot retract, so a takedown day used to
    * force a manual re-materialize — declared with `ndvRebuild = true`,
    * the refresh instead recomputes ONLY the diff's touched groups from
    * the head (counts, sums and fresh sketches) and keeps untouched
    * groups' stored rows. The gate lands ONE mixed delta (the %11∖%7
    * docs updated in place + the %7 takedowns) and refreshes once; the
    * estimates must land within 5σ of the exact per-split distinct
    * (doc_id unique ⇒ exact = row count), enforced in-query via
    * raise_error. */
  def viewNdvRemove(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, IncrementalAgg, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_ndvr_store")
    val view = java.nio.file.Files.createTempDirectory("graft_ndvr_view")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"))
      Snapshots.commitFull(s, d, root.toString)
      require(IncrementalAgg.materialize(s, root.toString, view.toString,
        IncrementalAgg.Spec(Seq("split"), Nil, ndvCols = Seq("doc_id"),
          ndvRebuild = true)) == 1)
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(11)) === 0 &&
          pmod(col("doc_id"), lit(7)) =!= 0),
        removedIds = d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("split"), col("doc_id")))
      require(IncrementalAgg.refresh(s, root.toString, view.toString) == 2,
        "ndv-rebuild refresh did not reach the store head")
      val rse = 1.04 / math.sqrt(1 << 12) // lgK=12 HLL relative std error
      IncrementalAgg.read(s, view.toString)
        .select(col("split"), col("n_docs"),
          expr("hll_sketch_estimate(ndv_doc_id)").as("est"))
        .select(col("split"), col("n_docs"),
          when(abs(col("est").cast("double") - col("n_docs").cast("double"))
              <= lit(5 * rse) * col("n_docs").cast("double"), lit(true))
            .otherwise(raise_error(concat(
              lit("rebuilt NDV estimate outside 5*rse for split "),
              col("split"), lit(": est="), col("est").cast("string"),
              lit(" exact="), col("n_docs").cast("string"))))
            .as("within_bound"))
        .graftCheckpoint()
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(view.toFile)
    }
  }

  /** Mirrors [[viewNdvRemove]]: post-takedown membership is ¬%7; doc_id
    * unique ⇒ exact distinct = row count; verdict enforced in-engine. */
  lazy val viewNdvRemoveSql: String =
    """SELECT 's' || CAST(doc_id % 4 AS VARCHAR) AS split,
      |  COUNT(*) AS n_docs, TRUE AS within_bound
      |FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1""".stripMargin

  /** BRANCH-AND-MERGE gate ([[graft.plans.Snapshots.createBranch]] /
    * [[graft.plans.Snapshots.mergeBranch]]): main commits the corpus
    * without the %5 slice, an experiment branch forks at v1 and commits
    * the %5 docs plus a +7 re-score of the %3 slice then a takedown of
    * the %13∖%5∖%3 docs, MAIN ADVANCES CONCURRENTLY (+1000 on the
    * disjoint %17 slice), and the branch merges back as one main commit
    * — its net diff, conflict-checked against main's post-fork history.
    * The returned manifests (main v1, branch head, merged head) are all
    * read AFTER the merge landed: isolation across chains is part of
    * what the oracle proves. */
  def corpusBranchMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_branch")
    try {
      val d = docs(s, dir)
        .withColumn("split", concat(lit("s"), pmod(col("doc_id"), lit(4))))
        .select(col("doc_id"), col("split"), col("lang"), col("n_chars"))
      val noneRm = d.select(col("split"), col("doc_id")).limit(0)
      val exp = Some("exp")
      Snapshots.commitFull(s,
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), root.toString)
      Snapshots.createBranch(s, root.toString, "exp", 1)
      // branch: add the %5 slice, re-score the %3∖%5 slice
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .unionByName(d.filter(pmod(col("doc_id"), lit(3)) === 0 &&
              pmod(col("doc_id"), lit(5)) =!= 0)
            .withColumn("n_chars", col("n_chars") + 7)),
        removedIds = noneRm, tag = None, branch = exp)
      // main advances concurrently on a DISJOINT slice
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(17)) === 0 &&
            pmod(col("doc_id"), lit(3)) =!= 0 &&
            pmod(col("doc_id"), lit(5)) =!= 0 &&
            pmod(col("doc_id"), lit(13)) =!= 0)
          .withColumn("n_chars", col("n_chars") + 1000),
        removedIds = noneRm)
      // branch: take down the %13∖%5∖%3 docs
      Snapshots.commitDelta(s, root.toString, adds = d.limit(0),
        removedIds = d.filter(pmod(col("doc_id"), lit(13)) === 0 &&
            pmod(col("doc_id"), lit(5)) =!= 0 &&
            pmod(col("doc_id"), lit(3)) =!= 0)
          .select(col("split"), col("doc_id")),
        tag = None, branch = exp)
      val merged = Snapshots.mergeBranch(s, root.toString, "exp")
      // every manifest reads AFTER the merge — cross-chain isolation
      Seq(
        "main_v1" -> Snapshots.readAt(s, root.toString, 1),
        "branch_head" -> Snapshots.readAt(s, root.toString, 3, exp),
        "merged" -> Snapshots.readAt(s, root.toString, merged))
        .map { case (name, frame) =>
          frame.groupBy(col("split"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).cast("long").as("total_chars"),
              sum(col("doc_id")).cast("long").as("id_sum"))
            .select(lit(name).as("version"), col("split"),
              col("n_docs"), col("total_chars"), col("id_sum"))
        }.reduce(_ unionAll _).graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusBranchMerge]] in closed form. Membership:
    * main v1 = ¬%5; branch head and merged = all ∖ (%13∧¬%5∧¬%3);
    * n_chars carries +7 on %3∖%5 in both branch head and merged, and
    * additionally +1000 on main's disjoint %17 slice in merged only. */
  lazy val corpusBranchMergeSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split, n_chars
       |  FROM documents),
       |u AS (
       |  SELECT 'main_v1' AS version, split, doc_id, n_chars FROM d
       |  WHERE doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT 'branch_head', split, doc_id,
       |    n_chars + CASE WHEN doc_id % 3 = 0 AND doc_id % 5 <> 0
       |      THEN 7 ELSE 0 END
       |  FROM d
       |  WHERE NOT (doc_id % 13 = 0 AND doc_id % 5 <> 0 AND doc_id % 3 <> 0)
       |  UNION ALL
       |  SELECT 'merged', split, doc_id,
       |    n_chars + CASE
       |      WHEN doc_id % 3 = 0 AND doc_id % 5 <> 0 THEN 7
       |      WHEN doc_id % 17 = 0 AND doc_id % 3 <> 0 AND doc_id % 5 <> 0
       |        AND doc_id % 13 <> 0 THEN 1000
       |      ELSE 0 END
       |  FROM d
       |  WHERE NOT (doc_id % 13 = 0 AND doc_id % 5 <> 0 AND doc_id % 3 <> 0))
       |SELECT version, split, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM u GROUP BY version, split""".stripMargin

  /** DATA-SKIPPING gate ([[graft.plans.Snapshots.readAtWhere]]): the
    * store commits `documents` under doc_id-RANGE splits (16 ids per
    * split) with min/max/null-count stats on `doc_id`, a delta updates
    * the %9 docs in place (rewritten splits recompute their stats;
    * pointer-carried splits keep theirs verbatim), and the filtered read
    * `doc_id <= max/4` is answered from the splits whose stats can match
    * — the gate REQUIRES that pruning engaged (most splits skipped,
    * driver-side, before any file opens) and the oracle proves the
    * pruned read is still exact. The 100 TB shape: a range query over a
    * range-partitioned corpus reads what can match, never the corpus. */
  def corpusStatsPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{CorpusExport, Snapshots}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_stats")
    try {
      val d0 = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      // ~8 range splits at ANY scale factor (width grows with the
      // corpus): the split rule is gate plumbing — the oracle never sees
      // it — but split COUNT is a real cost, and hundreds of tiny
      // partition dirs at sf0.1 would benchmark the filesystem, not the
      // pruning
      val maxId = d0.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val width = math.max(16L, (maxId + 1) / 8)
      val d = d0.withColumn("split",
        concat(lit("s"), floor(col("doc_id") / lit(width)).cast("string")))
      Snapshots.commitFull(s, d, root.toString, statsCols = Seq("doc_id"))
      Snapshots.commitDelta(s, root.toString,
        adds = d.filter(pmod(col("doc_id"), lit(9)) === 0)
          .withColumn("n_chars", col("n_chars") + 100),
        removedIds = d.select(col("split"), col("doc_id")).limit(0))
      val hi = maxId / 4
      val pred = col("doc_id") <= hi
      val pruned = Snapshots.pruneReport(s, root.toString, 2, pred)
      require(pruned.nonEmpty,
        "stats pruning did not engage on the range-split store")
      Snapshots.readAtWhere(s, root.toString, 2, pred)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .graftCheckpoint()
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Mirrors [[corpusStatsPrune]] in closed form: the %9 docs carry
    * n_chars+100, the read keeps doc_id <= floor(max/4). */
  lazy val corpusStatsPruneSql: String =
    s"""WITH m AS (
       |  SELECT CAST(FLOOR(MAX(doc_id) / 4) AS BIGINT) AS hi FROM documents),
       |d AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 9 = 0 THEN n_chars + 100 ELSE n_chars END AS n_chars
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM d, m WHERE d.doc_id <= m.hi GROUP BY lang""".stripMargin

  /** Mirrors [[corpusChanges]] in closed form. Membership: v1 = ¬%5,
    * v2 = all, v3 = (all ∖ %7) with the %11∖%7∖%5 slice content-updated.
    * v1→v3: adds = %5∖%7, removes = ¬%5∧%7, updates = %11∖%7∖%5.
    * v2→v3: removes = %7, updates = the same slice, adds = ∅. */
  lazy val corpusChangesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS split
       |  FROM documents),
       |ch AS (
       |  SELECT 'v1..v3' AS pair, 'add' AS change, split, doc_id FROM d
       |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT 'v1..v3', 'remove', split, doc_id FROM d
       |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
       |  UNION ALL
       |  SELECT 'v1..v3', 'update', split, doc_id FROM d
       |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT 'v2..v3', 'remove', split, doc_id FROM d
       |  WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT 'v2..v3', 'update', split, doc_id FROM d
       |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0)
       |SELECT pair, change, split, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM ch GROUP BY pair, change, split""".stripMargin

  /** Mirrors [[corpusTimeTravel]] in closed form: v1 = curated minus the
    * %5 slice, v2 = all curated, v3 = curated minus the %7 slice. */
  lazy val corpusTimeTravelSql: String =
    s"""WITH cur AS (
       |$curationPipelineSql
       |),
       |$splitAssignCtes,
       |sel AS (
       |  SELECT cur.doc_id, sp.split, cur.lang, cur.n_tokens
       |  FROM cur JOIN sp USING (doc_id))
       |SELECT 'v1' AS version, split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM sel WHERE doc_id % 5 <> 0 GROUP BY split, lang
       |UNION ALL
       |SELECT 'v2', split, lang, COUNT(*),
       |  CAST(SUM(n_tokens) AS BIGINT)
       |FROM sel GROUP BY split, lang
       |UNION ALL
       |SELECT 'v3', split, lang, COUNT(*),
       |  CAST(SUM(n_tokens) AS BIGINT)
       |FROM sel WHERE doc_id % 7 <> 0 GROUP BY split, lang""".stripMargin

  /** Mirrors [[corpusExport]]: the curation subquery joined to the split
    * buckets, aggregated per (split, lang). */
  lazy val corpusExportSql: String =
    s"""WITH cur AS (
       |$curationPipelineSql
       |),
       |$splitAssignCtes
       |SELECT sp.split, cur.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(cur.n_tokens) AS BIGINT) AS total_tokens
       |FROM cur JOIN sp USING (doc_id)
       |GROUP BY sp.split, cur.lang""".stripMargin

  /** Per-document deterministic train/val/test assignment: bucket =
    * FNV-1a(doc_id) mod 100 → 80/10/10. Hash-based (not sampled) so the
    * assignment is reproducible under any partitioning, any engine, and
    * any subset of the corpus — the property a training pipeline needs so
    * that test documents never drift into train between runs. The
    * content-stable bucket every split consumer shares ([[trainSplit]]'s
    * gate aggregate, the corpus export's partition column). */
  /** The content-stable 80/10/10 split rule as a column expression — ONE
    * definition shared by [[splitAssignments]] and the incremental-day
    * delta export ([[graft.plans.IncrementalDay]]), so a day's delta can
    * never be split differently than the base corpus. */
  private[graft] def splitColumnFor(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = pmod(GraftFunctions.fingerprint64(id.cast("string")), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  def splitAssignments(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"),
        splitColumnFor(col("doc_id")).as("split"),
        GraftFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  def trainSplit(s: SparkSession, dir: String): DataFrame =
    splitAssignments(s, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))

  /** Shared split-assignment CTEs (`sp(doc_id, n_tokens, split)`) — ONE
    * replica of the FNV-signed-pmod 80/10/10 bucket, bound by both the
    * split gate and the corpus-export gate (mirroring the Scala side's
    * single [[splitAssignments]]). */
  private[queries] lazy val splitAssignCtes: String = {
    // pmod over the SIGNED fingerprint: Spark's pmod(x, 100) = ((x % 100) + 100) % 100
    val signed = hugeToSignedSql("h")
    s"""sph AS (
       |  SELECT doc_id, ${fnvHugeSql("CAST(doc_id AS VARCHAR)")} AS h,
       |    CAST(len($tsSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |spb AS (
       |  SELECT doc_id, n_tokens, (($signed % 100) + 100) % 100 AS bucket FROM sph),
       |sp AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM spb)""".stripMargin
  }

  lazy val trainSplitSql: String =
    s"""WITH $splitAssignCtes
       |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM sp GROUP BY split""".stripMargin

  /** Content-stable stratified sample: per-language fractions over the
    * ALT hash stream (independent of the train-split stream). */
  val sampleFractions: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 0.25, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.05)

  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      docs(s, dir), col("doc_id"), col("lang"),
      sampleFractions.toMap, default = 0.1)
      .select(col("doc_id"), col("lang"))

  /** Quantile-calibrated quality filter
    * ([[graft.operators.Calibrate.keepTopFraction]]): the cutoff is the
    * corpus' own 30th quality percentile (keep the top 70%), computed in
    * one agg job — not a magic constant. Oracle-exact because Spark's
    * `percentile` interpolation ≡ DuckDB `quantile_cont` bit-for-bit (the
    * r_percentiles precedent) over bit-exact quality doubles. */
  def qualityCalibrate(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.operators.Calibrate.keepTopFraction(
      docs(s, dir).select(col("doc_id"),
        GraftFunctions.qualityScore(col("text")).as("quality")),
      col("quality"), keepFraction = 0.7)
  }

  lazy val qualityCalibrateSql: String =
    s"""WITH q AS (SELECT doc_id, $qualityExprSql AS quality FROM documents),
       |c AS (SELECT quantile_cont(quality, 0.3) AS cut FROM q)
       |SELECT doc_id, quality FROM q CROSS JOIN c WHERE quality >= cut""".stripMargin

  /** Per-source document cap ([[graft.operators.Sampling.capPerGroup]]):
    * at most [[SourceCapN]] docs per source, chosen by content-hash order
    * (unbiased, reproducible) — the per-domain limit of the
    * RefinedWeb/C4 recipes. The operator runs the salted two-phase form;
    * the oracle is the single-window form they provably equal. */
  def sourceCap(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.operators.Sampling.capPerGroup(
      docs(s, dir), "source", "doc_id",
      GraftFunctions.fingerprint64(col("text")), maxN = SourceCapN, salts = 4)
      .select(col("doc_id"), col("source"))
  }

  private[queries] val SourceCapN = 10

  lazy val sourceCapSql: String = {
    val signed = hugeToSignedSql("hu")
    s"""WITH hh AS (
       |  SELECT doc_id, source, ${fnvHugeSql("text")} AS hu FROM documents),
       |h AS (SELECT doc_id, source, $signed AS h FROM hh),
       |rk AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS rk
       |  FROM h)
       |SELECT doc_id, source FROM rk WHERE rk <= $SourceCapN""".stripMargin
  }

  val sampleStratifiedSql: String = {
    val cases = sampleFractions.map { case (lang, f) =>
      s"WHEN '$lang' THEN ${graft.operators.Sampling.threshold(f)}"
    }.mkString(" ")
    val signed = hugeToSignedSql("h")
    s"""WITH h AS (
       |  SELECT doc_id, lang, ${fnvAltHugeSql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |b AS (SELECT doc_id, lang, (($signed % 1000000) + 1000000) % 1000000 AS bucket FROM h)
       |SELECT doc_id, lang FROM b
       |WHERE bucket < CASE lang $cases ELSE ${graft.operators.Sampling.threshold(0.1)} END""".stripMargin
  }

  /** Target domain mixture for [[mixtureRebalance]] (shared with the oracle
    * builder so the weights can never drift between engines). */
  val mixtureWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1)

  /** Domain-mixture rebalancing: downsample each language to the target
    * mixture ([[graft.operators.Sampling.rebalanceToMixture]] — largest
    * corpus consistent with the weights, thresholds computed in-plan,
    * content-stable hash membership), reported as achieved per-language
    * counts. */
  def mixtureRebalance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.rebalanceToMixture(
      docs(s, dir), col("doc_id"), col("lang"), mixtureWeights.toMap)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))

  /** Mirrors [[mixtureRebalance]]: same weight literals, same fixed
    * double-association order for n_total and the thresholds, same
    * ALT-stream FNV bucket as [[sampleStratifiedSql]]. */
  val mixtureRebalanceSql: String = {
    val cases = mixtureWeights.map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
    val signed = hugeToSignedSql("hu")
    s"""WITH c AS (
       |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_g FROM documents GROUP BY lang),
       |w AS (
       |  SELECT lang, n_g, CASE lang $cases ELSE NULL END AS w_g FROM c),
       |ww AS (SELECT lang, n_g, w_g FROM w WHERE w_g IS NOT NULL),
       |t AS (SELECT MIN(n_g / w_g) AS n_total FROM ww),
       |thr AS (
       |  SELECT lang,
       |    CASE WHEN n_g / w_g = n_total THEN 1000000
       |         ELSE CAST(FLOOR(((n_total * w_g) / n_g) * 1000000.0) AS BIGINT) END AS thr
       |  FROM ww CROSS JOIN t),
       |h AS (
       |  SELECT doc_id, lang, ${fnvAltHugeSql("CAST(doc_id AS VARCHAR)")} AS hu
       |  FROM documents),
       |b AS (SELECT doc_id, lang, (($signed % 1000000) + 1000000) % 1000000 AS bucket FROM h),
       |kept AS (SELECT b.lang FROM b JOIN thr USING (lang) WHERE b.bucket < thr.thr)
       |SELECT lang, COUNT(*) AS n_docs FROM kept GROUP BY lang""".stripMargin
  }

  /** Sequence packing: documents → ≤2048-token bins per language
    * (cumulative-offset binning in doc_id order), reported per (lang, bin). */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val packed = graft.operators.Sampling.packByTokenBudget(
      docs(s, dir).select(col("doc_id"), col("lang"),
        GraftFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      order = col("doc_id"), nTokens = col("n_tokens"), part = col("lang"),
      budget = 2048)
    packed.groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  val packSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, CAST(len($tsSql) AS BIGINT) AS n FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n,
       |    SUM(n) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t),
       |b AS (
       |  SELECT lang, CAST(floor((cum - n) / CAST(2048 AS DOUBLE)) AS BIGINT) AS bin, n
       |  FROM c)
       |SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
       |FROM b GROUP BY lang, bin""".stripMargin

  /** Incremental ingest dedup: the doc_id %7==0 slice plays the incoming
    * batch, the rest the standing corpus; survivors are incoming docs whose
    * canonical content is new. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dedupAgainstCorpus(
      d.filter(pmod(col("doc_id"), lit(7)) === 0),
      d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      "text")
      .select(col("doc_id"), col("lang"))
  }

  /** Bloom-pre-filtered incremental ingest
    * ([[graft.operators.Dedup.bloomDedupAgainstCorpus]]): a corpus bloom
    * bitset probed inside the incoming scan routes definitely-new rows
    * AROUND the anti-join; only bloom hits reach it. Admit semantics are
    * identical to the plain anti-join — the oracle is the same predicate
    * at a different batch split (mod 5), so the hash check proves the
    * routing loses and invents nothing. */
  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.bloomDedupAgainstCorpus(
      d.filter(pmod(col("doc_id"), lit(5)) === 0),
      d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      "text", numBits = 1 << 16, numProbes = 4)
      .select(col("doc_id"), col("lang"))
  }

  /** NEAR-dup incremental ingest
    * ([[graft.operators.Dedup.nearDupAgainstCorpus]]): incoming slice =
    * doc_id ≡ 0 (mod 7) (the [[dedupIncremental]] convention), standing
    * corpus = the rest; admitted = incoming docs sharing no MinHash band
    * bucket with the corpus. */
  def nearDupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.nearDupAgainstCorpus(
      d.filter(pmod(col("doc_id"), lit(7)) === 0),
      d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      "doc_id", "text")
      .select(col("doc_id"), col("lang"))
  }

  /** Mirrors [[nearDupIncremental]] on the shared banding CTEs:
    * signatures are per-doc, so banding the whole corpus then splitting by
    * the slice predicate ≡ banding each side separately. */
  lazy val nearDupIncrementalSql: String =
    s"""WITH $minhashBandedCtes,
       |flagged AS (
       |  SELECT DISTINCT i.doc_id
       |  FROM banded i JOIN banded c
       |    ON i.band = c.band AND i.bucket = c.bucket
       |   AND i.doc_id % 7 = 0 AND c.doc_id % 7 <> 0)
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 7 = 0
       |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)""".stripMargin

  /** The incremental-ingest admit predicate at batch split `doc_id ≡ 0
    * (mod m)`: incoming docs whose 128-bit canonical fingerprint matches
    * no corpus doc — the oracle for BOTH the plain anti-join
    * ([[dedupIncremental]]) and its bloom-routed twin ([[dedupBloom]]),
    * which by construction computes the identical set (the bloom only
    * routes rows; the residual anti-join decides). */
  private[queries] def dedupIncrementalSqlAt(m: Int): String =
    s"""WITH fp AS (
       |  SELECT doc_id, lang, ${fnvHugeSql("ck")} AS f1, ${fnvAltHugeSql("ck")} AS f2
       |  FROM (SELECT doc_id, lang,
       |          array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS ck
       |        FROM documents))
       |SELECT i.doc_id, i.lang FROM fp i
       |WHERE i.doc_id % $m = 0 AND NOT EXISTS (
       |  SELECT 1 FROM fp c
       |  WHERE c.doc_id % $m <> 0 AND c.f1 = i.f1 AND c.f2 = i.f2)""".stripMargin

  lazy val dedupIncrementalSql: String = dedupIncrementalSqlAt(7)

  lazy val dedupBloomSql: String = dedupIncrementalSqlAt(5)
}

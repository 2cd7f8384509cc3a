package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Hostile-input behavior of the streaming gates: one poison record in a
  * crawl/embed feed must never kill a production stream (a crash would
  * poison-pill-loop on checkpoint replay) and must never land as silently
  * valid state. The ADMIT gate's verdict log IS its quarantine — poison
  * rows land visibly non-admitted; the VECTOR gate quarantines into
  * `vector_ingest_rejects` (before this guard, a 3-dim embedding landed
  * as a FAKE VALID index entry: codes [0,...], cluster 0 — measured). */
class HostileInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def rows(schema: StructType, rs: Row*) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rs: _*)), schema)

  test("ADMIT gate on poison rows: null doc_id / null text / empty text " +
      "land as visible non-admitted verdicts; the gate keeps admitting " +
      "clean documents afterwards") {
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_doc_wh").toString)
    operators.DedupIndex.build(spark, d, cmds)
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    try {
      streaming.DocStreams.admitAndIndexBatch(rows(docSchema,
        Row(null, freshB),
        Row(java.lang.Long.valueOf(9000001L), null),
        Row(java.lang.Long.valueOf(9000002L), ""),
        Row(java.lang.Long.valueOf(9000003L), freshA)),
        cmds, "ingest_verdicts", 0L)
      val v = cmds.table("ingest_verdicts").collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
          r.getBoolean(r.fieldIndex("admitted"))).toMap
      // every row is IN the log (visible), only the clean one admitted
      assert(v.size == 4, s"poison rows vanished from the log: $v")
      assert(v(Some(9000003L)), "the clean document was not admitted")
      assert(!v(Some(9000001L)) && !v(Some(9000002L)),
        "a null/empty text must never be admitted")
      // the gate still works: a later clean batch admits, and a dup of
      // the poisoned-batch admission is caught by the grown index
      streaming.DocStreams.admitAndIndexBatch(rows(docSchema,
        Row(java.lang.Long.valueOf(9000010L), freshB),
        Row(java.lang.Long.valueOf(9000011L), freshA)),
        cmds, "ingest_verdicts", 1L)
      val v2 = cmds.table("ingest_verdicts").collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
          r.getBoolean(r.fieldIndex("admitted"))).toMap
      assert(v2(Some(9000010L)), "gate stopped admitting after poison")
      assert(!v2(Some(9000011L)),
        "near-dup of the poisoned batch's admission slipped through")
    } finally { operators.DedupIndex.drop(spark, cmds); () }
  }

  test("VECTOR gate quarantine: null vec_id / null embedding / wrong-dim " +
      "/ empty embeddings land in vector_ingest_rejects with reasons — " +
      "never as fake index entries; clean rows encode; replays are no-ops") {
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_vec_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    val model = streaming.VectorStreams.freeze(
      cmds.table(operators.VectorIndex.tableName("centroids")),
      cmds.table(operators.VectorIndex.tableName("codebook")))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val good = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("embedding")).head.getSeq[Float](0)
    def codesOf = cmds.table(operators.VectorIndex.tableName("codes"))
      .filter(col("vec_id") >= 9100000L || col("vec_id").isNull)
    def assignOf = cmds.table(operators.VectorIndex.tableName("assign"))
      .filter(col("vec_id") >= 9100000L || col("vec_id").isNull)
    try {
      // null-element spelling: a right-width array with one null inside
      val nullElem: Seq[java.lang.Float] =
        null.asInstanceOf[java.lang.Float] +:
          good.tail.map(java.lang.Float.valueOf)
      val poisoned = rows(vecSchema,
        Row(null, good),
        Row(java.lang.Long.valueOf(9100001L), null),
        Row(java.lang.Long.valueOf(9100002L), Seq(1.0f, 2.0f, 3.0f)),
        Row(java.lang.Long.valueOf(9100003L), Seq.empty[Float]),
        // non-finite components quantize to VALID-looking longs
        // (CAST(NaN AS LONG) = 0, Infinity saturates) — without the
        // finite check these three would land as real index entries
        Row(java.lang.Long.valueOf(9100007L), good.updated(0, Float.NaN)),
        Row(java.lang.Long.valueOf(9100008L),
          good.updated(1, Float.PositiveInfinity)),
        Row(java.lang.Long.valueOf(9100009L), nullElem),
        Row(java.lang.Long.valueOf(9100004L), good.map(_ + 0.01f)))
      streaming.VectorStreams.ingestBatch(poisoned, cmds, model, 0L)
      // the ONLY index entry from this batch is the clean 64-dim row
      assert(codesOf.collect().map(_.get(0)).toSeq == Seq(9100004L),
        "poison rows reached the codes table")
      assert(assignOf.collect().map(_.get(0)).toSeq == Seq(9100004L),
        "poison rows reached the assign table")
      // every poison row is in the quarantine, with its reason
      val rej = cmds.table("vector_ingest_rejects").collect()
        .map(r => (Option(r.get(0)), r.getString(2))).toSet
      assert(rej == Set(
        (None, "null_vec_id"),
        (Some(9100001L), "null_embedding"),
        (Some(9100002L), "dim_mismatch"),
        (Some(9100003L), "dim_mismatch"),
        (Some(9100007L), "non_finite_embedding"),
        (Some(9100008L), "non_finite_embedding"),
        (Some(9100009L), "non_finite_embedding")), s"quarantine wrong: $rej")
      // replay of the same batch id: BOTH the quarantine and the index
      // appends are marker-skipped
      streaming.VectorStreams.ingestBatch(poisoned, cmds, model, 0L)
      assert(cmds.table("vector_ingest_rejects").count() == 7L,
        "replay duplicated quarantined rows")
      assert(codesOf.count() == 1L && assignOf.count() == 1L,
        "replay duplicated index entries")
      // an ALL-poison batch advances only the quarantine; the gate then
      // still encodes the next clean batch
      streaming.VectorStreams.ingestBatch(rows(vecSchema,
        Row(java.lang.Long.valueOf(9100005L), Seq(7.0f))),
        cmds, model, 1L)
      assert(cmds.table("vector_ingest_rejects").count() == 8L)
      assert(codesOf.count() == 1L, "all-poison batch touched the index")
      streaming.VectorStreams.ingestBatch(rows(vecSchema,
        Row(java.lang.Long.valueOf(9100006L), good.map(_ + 0.02f))),
        cmds, model, 2L)
      assert(codesOf.collect().map(_.get(0)).toSet ==
        Set(9100004L, 9100006L), "gate stopped encoding after poison")
    } finally { operators.VectorIndex.drop(spark, cmds); () }
  }

  test("batch serving kernels RAISE on malformed caller vectors (the " +
      "one-shot-SQL counterpart of the streams' quarantine): a NaN " +
      "query raises in searchVectors instead of quantizing to a valid-" +
      "looking zero vector; a NaN or wrong-width candidate raises in " +
      "decontamVectors instead of auditing a truncated cosine") {
    val vecSchema = StructType(Seq(StructField("q_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val candSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val good = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("embedding")).head.getSeq[Float](0)
    def allMsgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) {
        sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause
      }
      sb.toString
    }
    val nanQ = rows(vecSchema,
      Row(java.lang.Long.valueOf(1L), good.updated(0, Float.NaN)))
    val eQ = intercept[Throwable](
      operators.Similarity.searchVectors(spark, d, nanQ, 3).collect())
    assert(allMsgs(eQ).contains("non-finite"), allMsgs(eQ).take(400))
    val nanC = rows(candSchema,
      Row(java.lang.Long.valueOf(2L), good.updated(3, Float.NaN)))
    val eC = intercept[Throwable](
      operators.Similarity.decontamVectors(spark, d, nanC).collect())
    assert(allMsgs(eC).contains("non-finite"), allMsgs(eC).take(400))
    val shortC = rows(candSchema,
      Row(java.lang.Long.valueOf(3L), Seq(1.0f, 2.0f, 3.0f)))
    val eS = intercept[Throwable](
      operators.Similarity.decontamVectors(spark, d, shortC).collect())
    assert(allMsgs(eS).contains("does not match the corpus dimension"),
      allMsgs(eS).take(400))
    // clean inputs still flow: the guards change errors, never results
    val cleanC = rows(candSchema,
      Row(java.lang.Long.valueOf(4L), good.map(_ + 0.01f)))
    operators.Similarity.decontamVectors(spark, d, cleanC).collect()
    ()
  }

  test("hostile BMP payload: negative dimensions satisfy every header " +
      "consistency equation (width -1 -> rowBytes 0 -> imageSize 0 -> " +
      "fileSize 54 == payload length) but must decode as valid=false — " +
      "before the sign guard the pixel kernels threw " +
      "NegativeArraySizeException, a task-killing payload") {
    def le32(v: Int): Seq[Byte] = Seq(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val crafted: Array[Byte] = (
      Seq('B'.toByte, 'M'.toByte) ++ le32(54) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(-1) ++ le32(-1) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    ).toArray
    assert(crafted.length == 54)
    val m = operators.Multimodal.BmpCodec.decode(7L, crafted)
    assert(!m.valid, s"crafted negative-dim BMP decoded as valid: $m")
    // the pixel kernels degrade to invalid rows, never an exception
    assert(!operators.Multimodal.PerceptualHash.aHashBits(7L, crafted).valid)
    assert(!operators.Multimodal.PerceptualHash.aHash(7L, crafted).valid)
    assert(!operators.Multimodal.BmpCodec.resample2x(7L, crafted).valid)
    // a genuinely valid degenerate 0x0 image still decodes (the guard
    // rejects the SIGN, not small images)
    val empty: Array[Byte] = (
      Seq('B'.toByte, 'M'.toByte) ++ le32(54) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(0) ++ le32(0) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    ).toArray
    assert(operators.Multimodal.BmpCodec.decode(8L, empty).valid)
  }

  test("hostile BMP payload: 32-bit header arithmetic wraps — " +
      "width=1431655766 makes Int width*3 overflow to 2 so rowBytes=4, " +
      "and a 58-byte payload (height=1, imageSize=4, fileSize=58) " +
      "satisfies every Int consistency equation; the Long-domain check " +
      "must reject it before the pixel kernels index past the buffer") {
    def le32(v: Int): Seq[Byte] = Seq(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def bmp(fileSize: Int, width: Int, height: Int, imageSize: Int,
        payloadBytes: Int): Array[Byte] = (
      Seq('B'.toByte, 'M'.toByte) ++ le32(fileSize) ++ le32(0) ++
        le32(54) ++ le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(imageSize) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0) ++ Seq.fill(payloadBytes)(0x41.toByte)
    ).toArray
    // width*3 wraps: 1431655766*3 = 2^32+2 -> Int 2 -> rowBytes 4
    val wideWrap = bmp(58, 1431655766, 1, 4, 4)
    assert(wideWrap.length == 58)
    val m1 = operators.Multimodal.BmpCodec.decode(7L, wideWrap)
    assert(!m1.valid, s"width-wrap BMP decoded as valid: $m1")
    assert(!operators.Multimodal.PerceptualHash.aHashBits(7L, wideWrap).valid)
    assert(!operators.Multimodal.BmpCodec.resample2x(7L, wideWrap).valid)
    // rowBytes*height wraps: width=4 -> rowBytes 12; height=357913942
    // -> Int 12*height = 2^32+8 -> 8 == imageSize, fileSize 62
    val tallWrap = bmp(62, 4, 357913942, 8, 8)
    assert(tallWrap.length == 62)
    val m2 = operators.Multimodal.BmpCodec.decode(9L, tallWrap)
    assert(!m2.valid, s"height-wrap BMP decoded as valid: $m2")
    assert(!operators.Multimodal.PerceptualHash.aHashBits(9L, tallWrap).valid)
    assert(!operators.Multimodal.BmpCodec.resample2x(9L, tallWrap).valid)
    // a real image at the same header layout still decodes: width=4,
    // height=2, rowBytes=12, imageSize=24, fileSize=78
    val sane = bmp(78, 4, 2, 24, 24)
    val m3 = operators.Multimodal.BmpCodec.decode(10L, sane)
    assert(m3.valid, s"sane BMP rejected by the Long-domain guard: $m3")
    assert(m3.row_bytes == 12 && m3.image_bytes == 24)
  }

  test("BUILD/REFRESH VECTOR INDEX refuse a poisoned corpus: one NaN row " +
      "in the training input would silently absorb into every centroid " +
      "and code (kmeans sums take the NaN, quantization casts it to 0) " +
      "- the train-side audit raises instead, naming the vec_id") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_hostile_corpus").toString
    val good = spark.read.parquet(s"$d/embeddings.parquet")
    val bad = good.limit(1)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        transform(col("embedding"), _ => lit(Float.NaN)))
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_cwh").toString)
    // poisoned from the start: BUILD refuses
    good.unionByName(bad).write.parquet(s"$tmp/embeddings.parquet")
    val e1 = intercept[IllegalArgumentException](
      operators.VectorIndex.build(spark, tmp, cmds))
    assert(e1.getMessage.contains("non-finite"), e1.getMessage)
    // clean corpus builds; an EXTERNAL writer then appends garbage;
    // REFRESH audits the same way instead of encoding fake entries
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_hostile_corpus2").toString
    good.write.parquet(s"$tmp2/embeddings.parquet")
    try {
      operators.VectorIndex.build(spark, tmp2, cmds)
      bad.write.mode("append").parquet(s"$tmp2/embeddings.parquet")
      Graft.invalidate(spark, tmp2)
      val e2 = intercept[IllegalArgumentException](
        operators.VectorIndex.refresh(spark, tmp2, cmds))
      assert(e2.getMessage.contains("non-finite"), e2.getMessage)
    } finally { operators.VectorIndex.drop(spark, cmds); () }
  }

  test("hostile WAV payloads and text degrade, never crash: truncated/" +
      "oversized-claim headers decode valid=false, a degenerate zero-" +
      "channel-but-consistent header survives the window kernel, and " +
      "the text expressions are deterministic over lone surrogates, " +
      "empty and huge tokens") {
    def le32(v: Int): Seq[Byte] = Seq(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def wav(channels: Int, rate: Int, bits: Int,
        samples: Seq[Int]): Array[Byte] = {
      val dataSize = samples.size * 2
      ("RIFF".getBytes.toSeq ++ le32(36 + dataSize) ++
        "WAVE".getBytes.toSeq ++ "fmt ".getBytes.toSeq ++ le32(16) ++
        le16(1) ++ le16(channels) ++ le32(rate) ++
        le32(rate * channels * bits / 8) ++ le16(channels * bits / 8) ++
        le16(bits) ++ "data".getBytes.toSeq ++ le32(dataSize) ++
        samples.flatMap(le16)).toArray
    }
    val goodWav = wav(1, 8000, 16, Seq(5, -3, 100, 7))
    assert(operators.Multimodal.WavCodec.decode(1L, goodWav).valid)
    // truncated: header cut one byte short
    assert(!operators.Multimodal.WavCodec
      .decode(2L, goodWav.take(43)).valid)
    // oversized claim: dataSize says more than the payload carries
    val lying = goodWav.clone()
    lying(40) = (lying(40) + 8).toByte
    assert(!operators.Multimodal.WavCodec.decode(3L, lying).valid)
    // degenerate but self-consistent: zero channels (byteRate and
    // blockAlign both 0 satisfy the consistency equations) must not
    // crash the window kernel — it degrades to ordinary windows
    val zeroCh = wav(0, 8000, 16, Seq(1, 2))
    assert(operators.Multimodal.WavCodec.decode(4L, zeroCh).valid)
    val ws = operators.Multimodal.PcmFeatures.windows(4L, zeroCh, 8)
    assert(ws.forall(_.valid) && ws.nonEmpty)
    // text kernels: lone surrogate, empty, and a 1 MB single token are
    // deterministic and never crash (run twice, bit-identical)
    import spark.implicits._
    import graft.functions.GraftFunctions._
    val hostile = Seq("\ud800", "", "x" * (1 << 20), "a \ud800 b")
      .toDF("text")
    def probe() = hostile.select(
      simhash60(col("text")).as("sh"),
      poly_fingerprint(col("text")).as("pf"),
      word_shingles(col("text"), 2).as("wsh"),
      text_metrics(col("text")).as("tm")).collect().map(_.toString)
    val once = probe()
    assert(once.sameElements(probe()), "text kernels nondeterministic " +
      "over hostile input")
  }

  test("poison documents through the LIVE ADMIT stream: a micro-batch " +
      "with null ids and null/empty text neither kills the gate nor " +
      "admits anything malformed; admission continues") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_admit_wh").toString)
    operators.DedupIndex.build(spark, d, cmds)
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    try {
      val src = MemoryStream[(Option[Long], Option[String])]
      val q = streaming.DocStreams.admitAndIndex(
        src.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
        cmds)
      try {
        src.addData(
          (None, Some(freshA)),
          (Some(9300001L), None),
          (Some(9300002L), Some("")),
          (Some(9300003L), Some(freshB)))
        q.processAllAvailable()
        assert(q.isActive, "one poisoned batch killed the ADMIT gate")
        val v = cmds.table("ingest_verdicts").collect()
          .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
            r.getBoolean(r.fieldIndex("admitted"))).toMap
        assert(v.size == 4 && v(Some(9300003L)) &&
          !v(Some(9300001L)) && !v(Some(9300002L)),
          s"streamed poison verdicts wrong: $v")
        src.addData((Some(9300010L), Some(freshA.replace("amber",
          "silver"))))
        q.processAllAvailable()
        assert(cmds.table("ingest_verdicts")
          .filter(col("doc_id") === 9300010L && col("admitted")).count()
          == 1L, "admission stopped after streamed poison")
      } finally q.stop()
    } finally { operators.DedupIndex.drop(spark, cmds); () }
  }

  test("poison vectors through the LIVE stream: the gate's streaming " +
      "query survives a poisoned micro-batch (no poison-pill restart " +
      "loop) and keeps encoding the next batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_stream_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    val good = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("embedding")).head.getSeq[Float](0)
    // Option fields encode to NULLABLE columns — the poison shapes ride
    // through a genuine MemoryStream micro-batch, not a hand-built frame
    val src = MemoryStream[(Option[Long], Option[Seq[Float]])]
    val q = streaming.VectorStreams.ingest(
      src.toDF().select(col("_1").as("vec_id"),
        col("_2").cast("array<float>").as("embedding")), cmds)
    try {
      src.addData(
        (None, Some(good)),
        (Some(9200001L), None),
        (Some(9200002L), Some(Seq(1.0f))),
        (Some(9200003L), Some(good.map(_ + 0.03f))))
      q.processAllAvailable()
      assert(q.isActive, "one poisoned batch killed the stream")
      src.addData((Some(9200004L), Some(good.map(_ + 0.04f))))
      q.processAllAvailable()
      val enc = cmds.table(operators.VectorIndex.tableName("codes"))
        .filter(col("vec_id") >= 9200000L).collect().map(_.getLong(0))
      assert(enc.toSet == Set(9200003L, 9200004L),
        s"stream encoded the wrong set: ${enc.toSeq}")
      assert(cmds.table("vector_ingest_rejects").count() == 3L,
        "streamed poison rows missing from the quarantine")
    } finally {
      q.stop()
      operators.VectorIndex.drop(spark, cmds); ()
    }
  }

  test("poison QUERIES through the serving stream: a malformed query " +
      "costs its caller an absent answer plus a visible reject row — " +
      "never the stream (the batch kernel's dimension raise would " +
      "poison-pill-loop the checkpoint replay)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_hostile_serve_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    val good = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("embedding")).head.getSeq[Float](0)
      .map(_.toDouble + 0.001)
    try {
      val src = MemoryStream[(Option[Long], Option[Seq[Double]])]
      val q = streaming.VectorStreams.serve(
        src.toDF().select(col("_1").as("q_id"),
          col("_2").as("embedding")), d, cmds, "answers")
      try {
        src.addData(
          (Some(1L), Some(good)),
          (Some(2L), Some(Seq(1.0, 2.0))), // the dim the kernel raises on
          (Some(3L), None),
          (None, Some(good)))
        q.processAllAvailable()
        assert(q.isActive, "one malformed query killed the serve stream")
        val answered = cmds.table("answers").collect()
          .map(_.getLong(0)).toSet
        assert(answered == Set(1L),
          s"only the clean query answers: got $answered")
        val rej = cmds.table("answers_rejects").collect()
          .map(r => (Option(r.get(0)), r.getString(2))).toSet
        assert(rej == Set(
          (Some(2L), "dim_mismatch"),
          (Some(3L), "null_embedding"),
          (None, "null_q_id")), s"serve quarantine wrong: $rej")
        // the stream keeps serving after the poisoned batch
        src.addData((Some(5L), Some(good.map(_ + 0.002))))
        q.processAllAvailable()
        assert(cmds.table("answers").collect().map(_.getLong(0)).toSet
          == Set(1L, 5L), "serving stopped after poison")
      } finally q.stop()
    } finally { operators.VectorIndex.drop(spark, cmds); () }
  }
}

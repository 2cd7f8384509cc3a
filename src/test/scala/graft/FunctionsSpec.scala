package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Unit + property tests for the custom Catalyst expressions
  * (reference test analog: per-expression tests like
  * `expressions/TestArithmeticOperator.java` — SURVEY.md §5).
  * Property cases use a fixed-seed generator so failures reproduce. */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cos(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(GraftFunctions.cosine_sim(col("a"), col("b"))).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("cosine_sim: identical vectors -> 1.0") {
    assert(math.abs(cos(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)).get - 1.0) < 1e-12)
  }

  test("cosine_sim: orthogonal vectors -> 0.0") {
    assert(cos(Seq(1f, 0f), Seq(0f, 1f)).get === 0.0)
  }

  test("cosine_sim: zero vector -> 0.0 (not NaN)") {
    assert(cos(Seq(0f, 0f), Seq(1f, 2f)).get === 0.0)
  }

  test("cosine_sim: opposite vectors -> -1.0") {
    assert(math.abs(cos(Seq(1f, 2f), Seq(-1f, -2f)).get + 1.0) < 1e-12)
  }

  test("cosine_sim: null input -> null") {
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(df.select(GraftFunctions.cosine_sim(col("a"), col("b"))).head().isNullAt(0))
  }

  test("cosine_sim: plan result matches hand computation") {
    val viaPlan = cos(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)).get
    val expected = {
      val dot = 1.0 * 4 + 2.0 * 5 + 3.0 * 6
      dot / (math.sqrt(1.0 + 4 + 9) * math.sqrt(16.0 + 25 + 36))
    }
    assert(math.abs(viaPlan - expected) < 1e-12)
  }

  test("cosine_sim property: result always in [-1, 1] (100 seeded cases)") {
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(100)((
      Seq.fill(8)(rnd.nextFloat() * 200 - 100),
      Seq.fill(8)(rnd.nextFloat() * 200 - 100)))
    val rs = cases.toDF("a", "b")
      .select(GraftFunctions.cosine_sim(col("a"), col("b"))).as[Double].collect()
    assert(rs.forall(r => r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9))
  }

  test("poly_fingerprint: matches the documented fold") {
    val p = 9007199254740881L
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % p)
    val samples = Seq("", "a", "abc", "the quick brown fox", "x" * 1000)
    val got = samples.toDF("t")
      .select(GraftFunctions.poly_fingerprint(col("t"))).as[Long].collect()
    assert(got.toSeq == samples.map(ref))
  }

  test("poly_fingerprint property: bounded + deterministic (seeded strings)") {
    val rnd = new scala.util.Random(7)
    val samples = Seq.fill(50)(rnd.alphanumeric.take(rnd.nextInt(200)).mkString)
    val twice = (samples ++ samples).toDF("t")
      .select(GraftFunctions.poly_fingerprint(col("t"))).as[Long].collect()
    val (a, b) = twice.splitAt(samples.size)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(h => h >= 0 && h < 9007199254740881L))
  }

  test("extensions plugin: functions resolve with no per-session register call") {
    // TestSpark builds the session withExtensions(new GraftExtensions), so
    // the injection path runs for every suite; this pins that the injected
    // functions actually resolve and compute from SQL.
    val r = spark.sql(
      "SELECT dot_l(array(2L, 3L), array(5L, 7L)) d, " +
        "word_shingles('a b c', 2) s").head()
    assert(r.getLong(0) == 31L)
    assert(r.getSeq[String](1) == Seq("a b", "b c"))
  }

  test("sql registration: cosine_sim + poly_fingerprint callable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) c, " +
        "poly_fingerprint('abc') f").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) > 0)
  }

  test("sql: double-array literals are cast, not silently misread") {
    GraftFunctions.register(spark)
    // array(1.0, 2.0) is ARRAY<DOUBLE>; ExpectsInputTypes must insert a cast
    val r = spark.sql(
      "SELECT cosine_sim(array(3.0, 4.0), array(3.0, 4.0)) c, " +
        "dot_f(array(1.0, 2.0), array(3.0, 4.0)) d").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) === 11.0)
  }

  test("word_shingles: k-grams of whitespace tokens") {
    val got = Seq("the quick  brown fox ", "a b", "", "  ", "one two three")
      .toDF("t")
      .select(GraftFunctions.word_shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("the quick brown", "quick brown fox"))
    assert(got(1) == Seq.empty) // fewer than k tokens
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq.empty)
    assert(got(4) == Seq("one two three"))
  }

  test("word_shingles: equivalent to the HOF formulation on real docs") {
    val doc = Graft.table(spark, TestSpark.sfDir, "documents").limit(100)
    val toks = filter(split(trim(col("text")), "\\s+"), tk => tk =!= "")
    val hof = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val diff = doc.select(
      GraftFunctions.word_shingles(col("text"), 3).as("fast"), hof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("dot_f: known value, null propagation, norm identity") {
    val r = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
      .select(GraftFunctions.dot_f(col("a"), col("b"))).as[Double].head()
    assert(r === 32.0)
    val nullRow = Seq((Option.empty[Seq[Float]], Some(Seq(1f)))).toDF("a", "b")
      .select(GraftFunctions.dot_f(col("a"), col("b"))).head()
    assert(nullRow.isNullAt(0))
    // cosine == dot / (|a| * |b|) bit-for-bit (the d86/s90 rewrite identity)
    val (va, vb) = (Seq(0.3f, -1.2f, 4.5f, 0.01f), Seq(2f, 0.5f, -3f, 1f))
    val row = Seq((va, vb)).toDF("a", "b").select(
      GraftFunctions.cosine_sim(col("a"), col("b")).as("fused"),
      (GraftFunctions.dot_f(col("a"), col("b")) /
        (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))) *
         sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))))).as("split"))
      .head()
    assert(row.getDouble(0) == row.getDouble(1))
  }

  test("dot_l: exact integer dot, null propagation, zip_with equivalence") {
    val r = Seq((Seq(1000000L, -2000000L, 3L), Seq(4L, 5L, 6000000L)))
      .toDF("a", "b").select(GraftFunctions.dot_l(col("a"), col("b")))
      .as[Long].head()
    assert(r === 4000000L - 10000000L + 18000000L)
    val nullRow = Seq((Option.empty[Seq[Long]], Some(Seq(1L)))).toDF("a", "b")
      .select(GraftFunctions.dot_l(col("a"), col("b"))).head()
    assert(nullRow.isNullAt(0))
    // kernel == interpreted higher-order form on random vectors
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Seq.fill(16)(rnd.nextLong() % 1000000L),
      Seq.fill(16)(rnd.nextLong() % 1000000L)))
    val diff = rows.toDF("a", "b").select(
      GraftFunctions.dot_l(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(diff == 0)
  }

  test("simhash60 kernel == relational explode+tally formulation on real docs") {
    // include token-less docs: explode drops them, so signatures() must too
    // (a full-outer compare catches row-set drift an inner join would hide)
    val doc = Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
      .union(Seq((9000001L, ""), (9000002L, "   \t  "))
        .toDF("doc_id", "text"))
    val kernel = operators.SimHash.signatures(doc)
    val relational = operators.SimHash.signaturesRelational(doc)
    val diff = kernel.as("k").join(relational.as("r"), Seq("doc_id"), "full")
      .filter(col("k.simhash").isNull || col("r.simhash").isNull ||
        col("k.simhash") =!= col("r.simhash")).count()
    assert(diff == 0)
    assert(kernel.filter(col("doc_id") >= 9000000L).count() == 0,
      "token-less docs must be dropped, not emitted as signature 0")
    // and the signature space is 60-bit
    val sigs = kernel.select("simhash").as[Long].collect()
    assert(sigs.forall(s => s >= 0 && s < (1L << 60)))
  }

  test("hyperplane_sig kernel == relational explode+groupBy formulation") {
    // the relational form the kernel replaced (and the oracle still uses):
    // per-plane sign = parity of hash60("p_j"), dot > 0 sets bit p%bits
    val numPlanes = 16; val bits = 8
    val vecs = Graft.table(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")).as("vq"))
    val kernel = vecs.select(col("vec_id"),
      posexplode(GraftFunctions.hyperplane_sig(col("vq"), numPlanes, bits))
        .as(Seq("t", "bucket")))
    val sign = when(operators.Dedup.hash60(
      concat(col("p").cast("string"), lit("_"), col("j0").cast("string")))
      % 2 === 0, lit(1L)).otherwise(lit(-1L))
    val relational = vecs
      .select(col("vec_id"), posexplode(col("vq")).as(Seq("j0", "xq")))
      .select(col("vec_id"), col("j0"), col("xq"),
        explode(array((0 until numPlanes).map(lit): _*)).as("p"))
      .groupBy("vec_id", "p")
      .agg(sum(col("xq") * sign).as("dot"))
      .groupBy(col("vec_id"), (col("p") / bits).cast("int").as("t"))
      .agg(sum(when(col("dot") > 0,
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p % $bits AS INT))"))
        .otherwise(0L)).as("bucket"))
    val diff = kernel.as("k")
      .join(relational.as("r"), Seq("vec_id", "t"), "full")
      .filter(col("k.bucket").isNull || col("r.bucket").isNull ||
        col("k.bucket") =!= col("r.bucket")).count()
    assert(diff == 0, "kernel and relational signatures diverge")
  }

  test("hyperplane_sig: shape, bounds, null propagation, SQL registration") {
    val out = Seq(Seq(5L, -3L, 7L, 1L)).toDF("v")
      .select(GraftFunctions.hyperplane_sig(col("v"), 16, 8).as("sig"))
      .as[Seq[Long]].head()
    assert(out.length == 2, "16 planes / 8 bits = 2 tables")
    assert(out.forall(b => b >= 0 && b < 256), "buckets are 8-bit")
    val nullRow = Seq(Option.empty[Seq[Long]]).toDF("v")
      .select(GraftFunctions.hyperplane_sig(col("v"), 8, 8)).head()
    assert(nullRow.isNullAt(0))
    val viaSql = spark.sql(
      "SELECT hyperplane_sig(array(5L, -3L, 7L, 1L), 16, 8)")
      .as[Seq[Long]].head()
    assert(viaSql == out, "SQL registration must match the Column API")
  }

  test("vector_sum_l: elementwise sums == explode+groupBy, null/empty rules") {
    // aggregate kernel == the relational formulation it replaced, on real
    // quantized embeddings grouped by label
    val e = Graft.table(spark, TestSpark.sfDir, "embeddings")
      .select(col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")).as("vq"))
    val kernel = e.groupBy("label")
      .agg(GraftFunctions.vector_sum_l(col("vq")).as("vsum"))
      .select(col("label"), posexplode(col("vsum")).as(Seq("j0", "sq")))
    val relational = e
      .select(col("label"), posexplode(col("vq")).as(Seq("j0", "xq")))
      .groupBy("label", "j0").agg(sum("xq").as("sq"))
    val diff = kernel.as("k").join(relational.as("r"), Seq("label", "j0"), "full")
      .filter(col("k.sq").isNull || col("r.sq").isNull ||
        col("k.sq") =!= col("r.sq")).count()
    assert(diff == 0, "vector_sum_l diverges from the explode formulation")
    // SUM convention: all-NULL group -> NULL; mixed lengths zero-pad
    val mixed = Seq(
      (1, Some(Seq(1L, 2L))), (1, Some(Seq(10L, 20L, 30L))), (1, None),
      (2, None)).toDF("g", "v")
      .groupBy("g").agg(GraftFunctions.vector_sum_l(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Long](1))).toMap
    assert(mixed(1).contains(Seq(11L, 22L, 30L)))
    assert(mixed(2).isEmpty, "all-NULL group must sum to NULL")
    // SQL registration
    val viaSql = spark.sql(
      "SELECT vector_sum_l(v) FROM VALUES (array(1L,2L)), (array(3L,4L)) t(v)")
      .as[Seq[Long]].head()
    assert(viaSql == Seq(4L, 6L))
  }

  test("text_metrics: one-pass kernel matches the regex formulation") {
    // the kernel replaces t71's two regexp_replace passes + tokenize +
    // array_distinct; equivalence on edge shapes pins the class definitions
    // (ASCII [[:punct:]], [0-9], RE2 \s token split, code-point chars)
    val docs = Seq(
      "", " ", "\t\n\f\r", "plain words here",
      "  leading and trailing  ", "the the the a in is of to and",
      "punct!!! (all) [kinds]: {of}; <marks>... 100% #1 @x `y` ~z~",
      "digits 0123456789 mixed a1b2c3", "one-token",
      "café über straße",   // non-ASCII letters: not punct
      "a  b\t\tc\n\nd", "!@#$%^&*()").toDF("text")
    val toks = operators.TextAnalysis.tokens(col("text"))
    val regex = docs.select(
      length(col("text")).cast("long").as("n_chars"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[\\p{Punct}]", "")))
        .cast("long").as("n_punct"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", "")))
        .cast("long").as("n_digits"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, tk => tk.isin("the", "and", "of", "to", "a", "in", "is")))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val kernel = docs.select(
      GraftFunctions.text_metrics(col("text")).as("m")).select("m.*")
    assert(kernel.collect().toSeq == regex.collect().toSeq,
      "text_metrics diverges from the regex formulation")
    // null in -> null out; SQL registration works
    val viaSql = spark.sql(
      "SELECT text_metrics(s).n_tokens FROM VALUES ('a b c'), (NULL) t(s)")
      .collect()
    assert(viaSql(0).getLong(0) == 3L && viaSql(1).isNullAt(0))
  }

  test("hash60: non-negative, under 2^60, engine-portable formula") {
    val got = Seq("a", "b", "abc", "").toDF("s")
      .select(operators.Dedup.hash60(col("s"))).as[Long].collect()
    assert(got.forall(h => h >= 0 && h < (1L << 60)))
    // cross-checked against DuckDB: ('0x'||substr(md5('abc'),1,15))::BIGINT
    assert(got(2) == 648541476951500027L)
  }

  test("pq_codes_l == the interpreted array_min(struct(dist, cid)) " +
      "selection, elementwise, on 500 random vectors against a random " +
      "codebook drawn from a TIE-RICH domain (values in {0,1} force " +
      "frequent equal distances, so the cid-ASC tiebreak is exercised, " +
      "not just the distance order)") {
    import FunctionsSpec.{BookC, BookM}
    val rnd = new scala.util.Random(13)
    val book = (0 until 8).map(m => BookM(m,
      (0L until 8L).map(cid =>
        BookC(cid, Seq.fill(8)(rnd.nextInt(2).toLong)))))
    val rows = (0 until 500).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(2).toLong), book))
    val df = rows.toDF("id", "vq", "book")
    val interp = df.select(col("id"),
      transform(col("book"), e =>
        array_min(transform(e("bm"), c =>
          struct(
            aggregate(
              zip_with(slice(col("vq"), e("m") * 8 + 1, lit(8)), c("cq"),
                (x, y) => (x - y) * (x - y)),
              lit(0L), (a, el) => a + el).as("dist"),
            c("cid").as("cid"))))).as("enc"))
      .select(col("id"), transform(col("enc"), x => x("cid")).as("codes"))
    def asMap(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      d.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = asMap(df.select(col("id"),
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8).as("codes")))
    val twin = asMap(interp)
    assert(fused.size == 500 && fused == twin,
      "fused kernel diverges from the interpreted selection on " +
        s"${twin.count { case (k, v) => fused(k) != v }} row(s)")
    // SQL face takes the literal sub-width
    df.limit(3).createOrReplaceTempView("pq_codes_probe")
    val viaSql = spark.sql(
      "SELECT id, pq_codes_l(vq, book, 8) AS codes FROM pq_codes_probe")
    assert(asMap(viaSql) == twin.view.filterKeys(_ < 3).toMap)
  }

  test("fused kernels COMPILE under codegen — no silent interpreter " +
      "fallback: UnsafeProjection.create swallows Janino errors and " +
      "degrades to interpreted eval (results stay right, the 100x " +
      "speedup silently vanishes — this caught pq_codes_l emitting a " +
      "line starting with '||', which Expression.reduceCodeSize's " +
      "stripMargin re-embedding ate as margin characters). " +
      "GenerateUnsafeProjection.generate THROWS on a compile error, " +
      "and both kernels exceed the 1024-char split threshold, so the " +
      "reduceCodeSize wrapping path is exactly what compiles here") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    val la = ArrayType(LongType)
    val bookT = ArrayType(StructType(Seq(
      StructField("m", IntegerType),
      StructField("bm", ArrayType(StructType(Seq(
        StructField("cid", LongType), StructField("cq", la))))))))
    GenerateUnsafeProjection.generate(Seq(functions.PqCodesL(
      BoundReference(0, la, nullable = true),
      BoundReference(1, bookT, nullable = true), 8)))
    val centsT = ArrayType(StructType(Seq(
      StructField("clabel", LongType), StructField("cqa", la),
      StructField("ncq", LongType))))
    GenerateUnsafeProjection.generate(Seq(functions.NearestCentroidL(
      BoundReference(0, la, nullable = true),
      BoundReference(1, LongType, nullable = false),
      BoundReference(2, centsT, nullable = true))))
  }

  test("pq_codes_l NULL-distance semantics match the interpreted zip_with " +
      "form on a POISONED book (the pathological-corpus shape: dim-4 " +
      "vectors make m >= 1 PQ slices empty and vector_sum_l yields null " +
      "cq arrays): null cq, window/cq length mismatch, and null vq " +
      "elements all read as NULL distance, which array_min's struct " +
      "ordering sorts FIRST — poisoned candidates WIN, ties by cid ASC") {
    import FunctionsSpec.{BookC, BookM}
    def interpTwin(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.select(col("id"),
        transform(col("book"), e =>
          array_min(transform(e("bm"), c =>
            struct(
              aggregate(
                zip_with(slice(col("vq"), e("m") * 8 + 1, lit(8)), c("cq"),
                  (x, y) => (x - y) * (x - y)),
                lit(0L), (a, el) => a + el).as("dist"),
              c("cid").as("cid"))))).as("enc"))
        .select(col("id"), transform(col("enc"), x => x("cid")).as("codes"))
    def asMap(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      d.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val poisonedBook = Seq(
      BookM(0, Seq(
        BookC(3L, Seq.fill(8)(1L)),
        BookC(7L, null),          // null cq -> null dist
        BookC(5L, null))),        // null-dist tie -> cid 5 wins
      BookM(1, Seq(
        BookC(2L, Seq.fill(4)(0L)),  // length mismatch -> null dist
        BookC(9L, Seq.fill(8)(0L)))))
    val clean = Seq((1L, Seq.fill(64)(1L), poisonedBook))
      .toDF("id", "vq", "book")
    val fusedClean = asMap(clean.select(col("id"),
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8).as("codes")))
    assert(fusedClean == asMap(interpTwin(clean)),
      "fused kernel diverges from interpreted twin on the poisoned book")
    assert(fusedClean(1L) == Seq(5L, 2L),
      s"null-dist candidates must win with cid-ASC ties: ${fusedClean(1L)}")
    // null vq ELEMENT: every m=0 candidate's window covers it -> all null
    // dist -> smallest cid wins; m=1 window is clean
    val goodBook = Seq(
      BookM(0, Seq(BookC(3L, Seq.fill(8)(1L)),
        BookC(6L, Seq.fill(8)(2L)))),
      BookM(1, Seq(BookC(4L, Seq.fill(8)(1L)),
        BookC(8L, Seq.fill(8)(9L)))))
    val holed = Seq((2L, Seq.fill(64)(1L), goodBook))
      .toDF("id", "vq", "book")
      .withColumn("vq",
        expr("transform(vq, (x, i) -> IF(i = 3, CAST(NULL AS BIGINT), x))"))
    val fusedHoled = asMap(holed.select(col("id"),
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8).as("codes")))
    assert(fusedHoled == asMap(interpTwin(holed)),
      "fused kernel diverges from interpreted twin on a null vq element")
    assert(fusedHoled(2L) == Seq(3L, 4L),
      s"m=0 all-null-dist -> cid 3; m=1 clean -> cid 4: ${fusedHoled(2L)}")
    // null bm STRUCT ELEMENT: transform maps it to struct(null, null),
    // the absolute minimum of the (dist, cid) null-first ordering — the
    // winning code is NULL, not the best real candidate
    val base = Seq((3L, Seq.fill(64)(1L), goodBook)).toDF("id", "vq", "book")
    val nulledCand = base.withColumn("book", expr(
      "transform(book, e -> named_struct('m', e.m, 'bm', " +
        "transform(e.bm, (c, i) -> IF(e.m = 0 AND i = 1, " +
        "CAST(NULL AS struct<cid:bigint,cq:array<bigint>>), c))))"))
    val fusedNc = asMap(nulledCand.select(col("id"),
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8).as("codes")))
    assert(fusedNc == asMap(interpTwin(nulledCand)),
      "fused kernel diverges from interpreted twin on a null bm element")
    assert(fusedNc(3L) == Seq(null, 4L),
      s"null candidate must WIN m=0 (null code); m=1 clean: ${fusedNc(3L)}")
    // null m FIELD: slice(vq, null, 8) nulls every candidate's distance
    // -> smallest cid wins
    val nulledM = base.withColumn("book", expr(
      "transform(book, e -> named_struct('m', " +
        "IF(e.m = 0, CAST(NULL AS INT), e.m), 'bm', e.bm))"))
    val fusedNm = asMap(nulledM.select(col("id"),
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8).as("codes")))
    assert(fusedNm == asMap(interpTwin(nulledM)),
      "fused kernel diverges from interpreted twin on a null m field")
    assert(fusedNm(3L) == Seq(3L, 4L),
      s"null m -> all-null dists -> smallest cid 3: ${fusedNm(3L)}")
    // nearest_centroid_l: a null vq ELEMENT routes to nothing (null),
    // never an NPE in the primitive hoist
    val ncHoled = holed
      .withColumn("nq", lit(60L))
      .withColumn("cents", expr(
        "array(named_struct('clabel', 1L, 'cqa', vq, 'ncq', 60L))"))
      .select(GraftFunctions.nearest_centroid_l(
        col("vq"), col("nq"), col("cents"))).head()
    assert(ncHoled.isNullAt(0),
      "nearest_centroid_l must return null on a null-holed vq")
    // SQL-face misuse fails with the function's own message, not a raw
    // NPE/IndexOutOfBounds during analysis
    base.createOrReplaceTempView("pq_misuse_probe")
    val twoArg = intercept[Exception](spark.sql(
      "SELECT pq_codes_l(vq, book) FROM pq_misuse_probe").collect())
    assert(twoArg.getMessage.contains("pq_codes_l"), twoArg.getMessage)
    val nullSub = intercept[Exception](spark.sql(
      "SELECT pq_codes_l(vq, book, CAST(NULL AS INT)) FROM pq_misuse_probe")
      .collect())
    assert(nullSub.getMessage.contains("pq_codes_l"), nullSub.getMessage)
  }

  test("pq_codes_l edges: empty bm -> null element; empty book -> empty " +
      "codes; null vq or book -> null result") {
    import FunctionsSpec.{BookC, BookM}
    val full = BookM(0, Seq(BookC(7L, Seq.fill(8)(1L))))
    val empty = BookM(1, Seq.empty)
    val df = Seq((1L, Seq.fill(16)(1L), Seq(full, empty)))
      .toDF("id", "vq", "book")
    val got = df.select(
      GraftFunctions.pq_codes_l(col("vq"), col("book"), 8)).head()
    val codes = got.getSeq[Any](0)
    assert(codes == Seq(7L, null),
      s"expected [7, null] (empty bm has no winner), got $codes")
    // slice to an EMPTY array via slice(book, 1, 0)
    val emptied = df.select(GraftFunctions.pq_codes_l(
      col("vq"), slice(col("book"), 1, 0), 8)).head()
    assert(emptied.getSeq[Any](0).isEmpty, "empty book must yield empty codes")
    val nulled = df.select(
      GraftFunctions.pq_codes_l(lit(null).cast("array<bigint>"),
        col("book"), 8),
      GraftFunctions.pq_codes_l(col("vq"),
        lit(null).cast(
          "array<struct<m:int,bm:array<struct<cid:bigint,cq:array<bigint>>>>>"),
        8)).head()
    assert(nulled.isNullAt(0) && nulled.isNullAt(1))
  }
}

object FunctionsSpec {
  /** A `pq_codes_l` codebook row: the field names and types the kernel's
    * `book` argument reads (array<struct<m, bm: array<struct<cid, cq>>>>). */
  final case class BookC(cid: Long, cq: Seq[Long])
  final case class BookM(m: Int, bm: Seq[BookC])
}

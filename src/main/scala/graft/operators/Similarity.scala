package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Graft
import graft.functions.GraftFunctions

/** Similarity search over embedding columns (SURVEY.md §7.8 extension; the
  * reference has no vector surface at all).
  *
  * - brute-force top-k: broadcast the (small) query set against the corpus —
  *   at 100 TB the corpus side stays partitioned, the query side is the
  *   broadcast, and the cosine kernel is a codegen'd Catalyst expression
  *   (graft.functions.CosineSim), so the scan is a single map-side stage
  *   followed by a per-query top-k (TakeOrdered-style window).
  * - LSH bucketing: deterministic random-hyperplane signatures; at scale,
  *   candidate generation becomes an equi-join on the bucket id instead of a
  *   cross join. Components are quantized to 1e-6 so the signature is integer
  *   arithmetic — bit-identical on any engine or partition order.
  */
object Similarity {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Graft.table(s, d, n)

  private def dotl(a: Column, b: Column): Column = GraftFunctions.dot_l(a, b)

  /** Cosine from an integer dot product + squared norms, zero-vector safe:
    * a degenerate (all-zero) embedding has similarity 0 to everything — it
    * matches nothing — instead of a DIVIDE_BY_ZERO that kills the whole job
    * under ANSI mode. At 100 TB, zero vectors EXIST (failed embedder calls,
    * padding rows); one of them must not abort a corpus-wide scan. The
    * quantized oracles carry the same CASE guard, so both engines agree on
    * degenerate corpora too. */
  private def cosQ(dot: Column, n1: Column, n2: Column): Column =
    when(n1 === 0 || n2 === 0, lit(0.0))
      .otherwise(dot.cast("double") /
        (sqrt(n1.cast("double")) * sqrt(n2.cast("double"))))

  /** Embeddings with 1e-6-quantized integer components. */
  private def quantizedVecs(s: SparkSession, d: String): DataFrame =
    Graft.tableParallel(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")).as("vq"))

  /** IVF assignment shared by s93 and d92: each vector's nearest
    * label-centroid by quantized cosine (`cluster`, ties → smaller label).
    * Exact-integer centroids via VectorSumL: one array buffer per label
    * per partition crosses the shuffle — no posexplode, no rows×dims tuple
    * volume; the ~|labels| centroid rows broadcast. The output is SLIM
    * (vec_id, label, cluster): sims are computed map-side against the
    * broadcast centroids and projected down BEFORE the per-vector window,
    * so the vec_id exchange + sort never carries the component arrays —
    * consumers that need the vectors (d92's pair scoring) equi-join them
    * back from the scan once. */
  /** Exact-integer label centroids with their squared norms —
    * (clabel, cqa, ncq). ~|labels| rows; always broadcast at the consumer. */
  private def labelCentroids(s: SparkSession, d: String): DataFrame =
    quantizedVecs(s, d)
      .groupBy(col("label").as("clabel"))
      .agg(GraftFunctions.vector_sum_l(col("vq")).as("vsum"),
        count(col("vq")).as("cnt"))
      .select(col("clabel"),
        transform(col("vsum"),
          sq => round(sq.cast("double") / col("cnt")).cast("long")).as("cqa"))
      .withColumn("ncq", dotl(col("cqa"), col("cqa")))

  /** Centroid-count cap for the one-row-broadcast assignment form. Above
    * it the broadcast struct array (k × ~530 B — a 64-dim long vector +
    * norms per centroid) stops being executor-trivial (256k ≈ 140 MB) and
    * assignment switches to the shuffled-agg form, which carries NO
    * per-node structure proportional to k at all. The assignment entry
    * points take the cap as a `broadcastCap` parameter, which is how the
    * threshold-switch parity spec crosses it. */
  private[graft] val centBroadcastCap: Long = 262144L

  /** EXACT nearest-centroid assignment, map-side: the ~k centroid rows
    * collapse into ONE broadcast row (a sorted struct array) and each
    * vector takes `array_max` over struct(sim, -clabel, clabel) — the
    * selection the s93 oracle specifies, and by construction the rank-1
    * row of a (sim DESC, clabel ASC) window: max sim wins, sim ties take the smaller clabel, and the
    * third field (the original-typed clabel, carried so `cluster` keeps
    * its input type) can never decide because (sim, -clabel) is already
    * unique per centroid. Every payload column on `vecs` passes through
    * untouched.
    *
    * This is the scale fix for the round-12 measured wall: the previous
    * crossJoin+window shape materialized n × k slim rows THROUGH AN
    * EXCHANGE (at ×1000: 2M vecs × 10k centroids = 2×10^10 rows — 509 s
    * wall and an 8 GiB-heap OOM); here the n × k distance evaluations
    * stream through one whole-stage-codegen map with nothing widening the
    * plan, so build cost is the arithmetic itself, map-side parallel. */
  private def assignArgmaxBroadcast(vecs: DataFrame,
      centArr: DataFrame, centsOne: Option[DataFrame] = None): DataFrame = {
    // the argmax itself is the fused codegen kernel
    // (functions.NearestCentroidL), NOT array_max(transform(...)):
    // higher-order functions are CodegenFallback, so the transform form
    // evaluates every one of the n × k candidates interpreted with a
    // boxed struct per candidate — measured minutes-to-hours at the
    // ×1000 fixture where the fused loop takes the arithmetic's time
    val clabelType = centArr.schema("clabel").dataType
    val one = centsOne.getOrElse(centsOneRow(centArr))
    vecs
      .withColumn("nq", dotl(col("vq"), col("vq")))
      .crossJoin(broadcast(one))
      .withColumn("cluster", GraftFunctions.nearest_centroid_l(
        col("vq"), col("nq"), col("cents")).cast(clabelType))
      .drop("cents", "nq")
  }

  /** The one-row (clabel-sorted) centroid array
    * [[assignArgmaxBroadcast]] broadcasts. */
  private def centsOneRow(centArr: DataFrame): DataFrame =
    centArr.agg(sort_array(collect_list(
      struct(col("clabel").cast("long").as("clabel"), col("cqa"),
        col("ncq").cast("long").as("ncq")))).as("cents"))

  /** EXACT nearest-centroid assignment with NO per-node centroid
    * structure: vectors × centroid-chunks as a plain (non-broadcast)
    * join, argmax'd by a partial-aggregating `max(struct(sim, -clabel,
    * clabel, payload...))` groupBy — each task folds its centroid chunk
    * into one candidate row per vector BEFORE the exchange, so shuffle
    * volume is n × (#centroid partitions) slim rows, never n × k, and
    * no executor or the driver ever holds more than one centroid
    * partition. This is the past-the-broadcast-cap form: same n × k
    * arithmetic, same bit-exact answer (the parity spec pins it against
    * [[assignArgmaxBroadcast]]), distributed against the stored centroid
    * table however large k grows. `payload` columns are constant within
    * a vec_id (attributes of the vector), so riding the struct tail is
    * exact — (sim, -clabel) is already unique per candidate.
    *
    * Cost profile, honestly: the per-candidate CONSTANT here is higher
    * than the broadcast form's — max-of-struct aggregates don't run in
    * whole-stage codegen, so each of the n × k candidate rows pays an
    * interpreted aggregate update where the fused kernel
    * ([[graft.functions.NearestCentroidL]]) pays a few multiply-adds.
    * This form is the MEMORY-safety path (no per-node structure ∝ k),
    * not the speed path; if a real corpus crosses the 256k-centroid cap,
    * the known next step is chunked centroid arrays (~cap centroids per
    * chunk row, the fused kernel per (vector × chunk), a ≤ k/cap-row
    * per-vector merge) — deferred until a workload needs it. */
  private def assignArgmaxShuffled(vecs: DataFrame, centArr: DataFrame,
      payload: Seq[String]): DataFrame = {
    val cand = struct(
      cosQ(dotl(col("vq"), col("cqa")), col("nq"), col("ncq")).as("sim") +:
        (-col("clabel").cast("long")).as("ncl") +:
        col("clabel").as("cl") +:
        payload.map(col): _*)
    vecs
      .withColumn("nq", dotl(col("vq"), col("vq")))
      .crossJoin(centArr)
      .select(col("vec_id"), cand.as("cand"))
      .groupBy("vec_id")
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id") +:
        payload.map(p => col("best")(p).as(p)) :+
        col("best")("cl").as("cluster"): _*)
  }

  private def ivfAssignment(s: SparkSession, d: String): DataFrame =
    assignArgmaxBroadcast(quantizedVecs(s, d), labelCentroids(s, d))
      .select(col("vec_id"), col("label"), col("cluster"))

  /** OPT-IN two-level coarse assignment (`BUILD VECTOR INDEX ON embeddings
    * USING COARSE`): route each vector through ~√k super-centroids
    * map-side, then argmax EXACTLY but only within the routed shard's
    * centroids via a shuffled equi-join on the shard id. Work drops from
    * n×k to ~2·n·√k distance evaluations and the only broadcast structure
    * is the √k super table — at k ∝ n this is the path past the point
    * where even distributed exact n×k is too hot (SCALE.md's measured
    * ×1000 wall). NOT bit-parity with the exact assignment: a vector near
    * a shard boundary may land on a near-tied neighboring centroid —
    * that trade is judged by the s102/s105 recall machinery (the coarse
    * spec measures agreement and serve recall), which is why coarse is
    * opt-in and the exact path stays the default.
    *
    * Super-centroids are trained by 2 exact-integer Lloyd rounds over the
    * CENTROIDS themselves (k points — corpus-independent cost), seeded by
    * the √k smallest clabels, with the same quantized-cosine routing and
    * ROUND(SUM/COUNT) recentering as every other kernel here, so shard
    * geometry is deterministic on any engine or partition order. */
  private[graft] def assignCoarseTwoLevel(vecs: DataFrame,
      cents: DataFrame): DataFrame = {
    val k = cents.count()
    val kSup = math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val cpts = cents.select(col("clabel").as("vec_id"), col("cqa").as("vq"))
    def asCent(sups: DataFrame): DataFrame = sups.select(
      col("sclabel").as("clabel"), col("scqa").as("cqa"),
      col("sncq").as("ncq"))
    var sups = cents.orderBy("clabel").limit(kSup)
      .select(col("clabel").cast("long").as("sclabel"),
        col("cqa").as("scqa"))
      .withColumn("sncq", dotl(col("scqa"), col("scqa")))
      .localCheckpoint()
    (1 to 2).foreach { _ =>
      sups = assignArgmaxBroadcast(cpts, asCent(sups))
        .groupBy(col("cluster").cast("long").as("sclabel"))
        .agg(GraftFunctions.vector_sum_l(col("vq")).as("vsum"),
          count(lit(1)).as("cnt"))
        .select(col("sclabel"),
          transform(col("vsum"),
            x => round(x.cast("double") / col("cnt")).cast("long"))
            .as("scqa"))
        .withColumn("sncq", dotl(col("scqa"), col("scqa")))
        .localCheckpoint()
    }
    // each centroid's shard under the FINAL supers — the same routing the
    // vectors use, so a vector and its exact-nearest centroid disagree
    // only when they straddle a super boundary
    val shardCents = assignArgmaxBroadcast(cpts, asCent(sups))
      .select(col("cluster").as("shard"), col("vec_id").as("clabel"))
      .join(cents, "clabel")
      .select(col("shard"), col("clabel"), col("cqa"), col("ncq"))
      .localCheckpoint() // k rows; bounds the train lineage out of the plan
    // vectors may only route among supers that HOLD centroids: the final
    // centroid→super re-assignment runs against the recentered supers, so
    // a super every centroid fled (a standard post-recenter Lloyd flip)
    // can be empty yet still be some vector's nearest — routing there
    // would INNER-join that vector out of the assignment silently (a
    // permanent coverage hole). Restricting the routing table to live
    // shards closes the hole by construction; build() still audits
    // coverage row-for-row afterwards.
    val liveSups = sups.join(
      shardCents.select(col("shard").as("sclabel")).distinct(), "sclabel")
      .localCheckpoint()
    val routed = assignArgmaxBroadcast(vecs, asCent(liveSups))
      .withColumnRenamed("cluster", "shard")
    // within-shard exact argmax: corpus × shard-centroids equi-join on
    // the shard id (both sides free to shuffle — the 100 TB shape), then
    // the same partial-aggregating max(struct) as assignArgmaxShuffled
    routed
      .withColumn("nq", dotl(col("vq"), col("vq")))
      .join(shardCents, "shard")
      .select(col("vec_id"), struct(
        cosQ(dotl(col("vq"), col("cqa")), col("nq"), col("ncq")).as("sim"),
        (-col("clabel").cast("long")).as("ncl"),
        col("clabel").as("cl"),
        col("label")).as("cand"))
      .groupBy("vec_id")
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("best")("label").as("label"),
        col("best")("cl").as("cluster"))
  }

  /** Shared s93/d92 oracle CTE chain: quantized components, exact-integer
    * centroids, cosine-vs-centroid assignment (declared before `defs`:
    * object init is textual order). */
  private val ivfCtes =
    """comp AS (
      |  SELECT vec_id, label, j - 1 AS j0,
      |         CAST(ROUND(x * 1000000) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
      |               generate_subscripts(embedding, 1) AS j
      |        FROM embeddings)),
      |cent AS (
      |  SELECT label AS clabel, j0,
      |         CAST(ROUND(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
      |  FROM comp GROUP BY label, j0),
      |dots AS (
      |  SELECT vec_id, label, clabel, SUM(xq * cq) AS dotq
      |  FROM comp JOIN cent USING (j0)
      |  GROUP BY vec_id, label, clabel),
      |nv AS (SELECT vec_id, SUM(xq * xq) AS nq FROM comp GROUP BY vec_id),
      |nc AS (SELECT clabel, SUM(cq * cq) AS ncq FROM cent GROUP BY clabel),
      |assign AS (
      |  SELECT vec_id, label, assigned_label
      |  FROM (SELECT d.vec_id, d.label, d.clabel AS assigned_label,
      |               ROW_NUMBER() OVER (
      |                 PARTITION BY d.vec_id
      |                 ORDER BY CASE WHEN nv.nq = 0 OR nc.ncq = 0 THEN 0.0
      |                          ELSE CAST(d.dotq AS DOUBLE) /
      |                          (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.ncq AS DOUBLE)))
      |                          END DESC,
      |                          d.clabel) AS rnk
      |        FROM dots d JOIN nv ON d.vec_id = nv.vec_id
      |                    JOIN nc ON d.clabel = nc.clabel)
      |  WHERE rnk = 1)""".stripMargin

  private val s93OracleSql =
    s"""WITH $ivfCtes
       |SELECT vec_id, label, assigned_label, assigned_label = label AS correct
       |FROM assign""".stripMargin

  /** d92's cluster-scoped pair scoring + drop set, as CTEs (shared with
    * the p101 capstone). */
  private val d92Ctes =
    """pairs AS (
      |  SELECT v FROM (
      |    SELECT a.vec_id AS v,
      |           ROUND(CASE WHEN na.nq = 0 OR nb.nq = 0 THEN 0.0
      |                 ELSE CAST(SUM(ca.xq * cb.xq) AS DOUBLE) /
      |                 (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE)))
      |                 END, 6) AS sim
      |    FROM assign a JOIN assign b
      |           ON a.assigned_label = b.assigned_label AND b.vec_id < a.vec_id
      |    JOIN comp ca ON ca.vec_id = a.vec_id
      |    JOIN comp cb ON cb.vec_id = b.vec_id AND cb.j0 = ca.j0
      |    JOIN nv na ON na.vec_id = a.vec_id
      |    JOIN nv nb ON nb.vec_id = b.vec_id
      |    GROUP BY a.vec_id, b.vec_id, na.nq, nb.nq)
      |  WHERE sim > 0.3),
      |drops AS (SELECT DISTINCT v AS vec_id FROM pairs)""".stripMargin

  private val d92OracleSql =
    s"""WITH $ivfCtes,
       |$d92Ctes
       |SELECT a.vec_id, a.assigned_label AS cluster,
       |       d.vec_id IS NOT NULL AS dropped
       |FROM assign a LEFT JOIN drops d USING (vec_id)""".stripMargin

  /** s98 oracle: distributed Lloyd unrolled to `iters` iterations as a CTE
    * chain — the assignment argmax is relational (ROW_NUMBER per vec_id by
    * sim DESC, cid ASC = the Spark side's array_max over (sim, -cid)
    * structs), centroids are the same exact-integer ROUND(SUM/COUNT), so
    * every iteration agrees bit-for-bit with the engine. */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    def assignCte(i: Int, p: Int) =
      s"""a$i AS (
         |  SELECT vec_id, cid, sim FROM (
         |    SELECT d.vec_id, d.cid, d.sim,
         |           ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                              ORDER BY d.sim DESC, d.cid) AS rnk
         |    FROM (
         |      SELECT comp.vec_id, c.cid,
         |             CASE WHEN nv.nq = 0 OR nc.ncq = 0 THEN 0.0
         |                  ELSE CAST(SUM(comp.xq * c.cq) AS DOUBLE) /
         |                       (SQRT(CAST(nv.nq AS DOUBLE)) *
         |                        SQRT(CAST(nc.ncq AS DOUBLE))) END AS sim
         |      FROM comp JOIN c$p c USING (j0)
         |           JOIN nv ON nv.vec_id = comp.vec_id
         |           JOIN nc$p nc ON nc.cid = c.cid
         |      GROUP BY comp.vec_id, c.cid, nv.nq, nc.ncq) d) t
         |  WHERE rnk = 1)"""
    def ncCte(p: Int) =
      s"nc$p AS (SELECT cid, SUM(cq * cq) AS ncq FROM c$p GROUP BY cid)"
    def centCte(i: Int) =
      s"""c$i AS (
         |  SELECT a.cid, comp.j0,
         |         CAST(ROUND(CAST(SUM(comp.xq) AS DOUBLE) / COUNT(*))
         |              AS BIGINT) AS cq
         |  FROM a$i a JOIN comp ON comp.vec_id = a.vec_id
         |  GROUP BY a.cid, comp.j0)"""
    val chain = (1 to iters).map { i =>
      s"${ncCte(i - 1)},\n${assignCte(i, i - 1)},\n${centCte(i)}"
    }.mkString(",\n")
    s"""WITH comp AS (
       |  SELECT vec_id, j - 1 AS j0,
       |         CAST(ROUND(x * 1000000) AS BIGINT) AS xq
       |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
       |               generate_subscripts(embedding, 1) AS j
       |        FROM embeddings)),
       |nv AS (SELECT vec_id, SUM(xq * xq) AS nq FROM comp GROUP BY vec_id),
       |c0 AS (SELECT vec_id AS cid, j0, xq AS cq FROM comp
       |       WHERE vec_id < $k),
       |$chain,
       |${ncCte(iters)},
       |${assignCte(iters + 1, iters)}
       |SELECT vec_id, cid AS cluster, ROUND(sim, 6) AS sim
       |FROM a${iters + 1}""".stripMargin
  }

  /** Shared s101/s102 oracle chain: IVF coarse CTEs + the PQ Lloyd chain
    * (component CTE renamed `pcomp` to avoid the clash with ivfCtes'
    * `comp`) + planted queries, probes, ADC LUT and candidate scoring —
    * ends at `adc` = (q_id, vec_id, adq). Declared before `defs` (object
    * init is textual order). */
  private def ivfpqCtesWith(qcompCte: String): String =
    s"""$ivfCtes,
       |${pqChainCtes(8, 2, "pcomp")},
       |comp0 AS (
       |  SELECT vec_id, j - 1 AS j0, x
       |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
       |               generate_subscripts(embedding, 1) AS j
       |        FROM embeddings)),
       |$qcompCte,
       |qn2 AS (SELECT q_id, CAST(SUM(xq * xq) AS BIGINT) AS n2
       |        FROM qcomp GROUP BY q_id),
       |qcd AS (
       |  SELECT q.q_id, c.clabel,
       |         CAST(SUM(q.xq * c.cq) AS BIGINT) AS dotq
       |  FROM qcomp q JOIN cent c USING (j0)
       |  GROUP BY q.q_id, c.clabel),
       |probes AS (
       |  SELECT q_id, clabel FROM (
       |    SELECT d.q_id, d.clabel,
       |           ROW_NUMBER() OVER (
       |             PARTITION BY d.q_id
       |             ORDER BY CASE WHEN qn2.n2 = 0 OR nc.ncq = 0
       |                      THEN 0.0
       |                      ELSE CAST(d.dotq AS DOUBLE) /
       |                      (SQRT(CAST(qn2.n2 AS DOUBLE)) *
       |                       SQRT(CAST(nc.ncq AS DOUBLE))) END DESC,
       |                      d.clabel) AS rnk
       |    FROM qcd d JOIN qn2 ON d.q_id = qn2.q_id
       |               JOIN nc ON d.clabel = nc.clabel)
       |  WHERE rnk <= 2),
       |qsub AS (SELECT q_id, j0 // 8 AS m, j0 % 8 AS jj, xq
       |         FROM qcomp),
       |lut AS (
       |  SELECT q.q_id, c.m, c.cid,
       |         SUM((q.xq - c.cq) * (q.xq - c.cq)) AS dq
       |  FROM qsub q JOIN c2 c ON c.m = q.m AND c.jj = q.jj
       |  GROUP BY 1, 2, 3),
       |candq AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM probes p JOIN assign a ON a.assigned_label = p.clabel),
       |adc AS (
       |  SELECT cd.q_id, cd.vec_id, SUM(l.dq) AS adq
       |  FROM candq cd
       |  JOIN a3 a ON a.vec_id = cd.vec_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.m = a.m
       |            AND l.cid = a.cid
       |  GROUP BY 1, 2)""".stripMargin

  /** The planted s95 query set as a qcomp CTE (±0.001 by dim parity,
    * quantized) — the fixture every s9x/s10x oracle shares. */
  private lazy val ivfpqCtes = ivfpqCtesWith(
    """qcomp AS (
      |  SELECT vec_id AS q_id, j0,
      |         CAST(ROUND((x + CASE WHEN j0 % 2 = 0 THEN 0.001
      |                               ELSE -0.001 END) * 1000000)
      |              AS BIGINT) AS xq
      |  FROM comp0 WHERE vec_id < 10)""".stripMargin)

  /** s108's EXTERNAL query set: midpoints of adjacent corpus vectors
    * (vec_id 10..19 paired with vec_id+1) — genuinely out-of-corpus
    * points, so the oracle exercises [[searchVectors]]'s arbitrary-vector
    * quantization, not the planted fixture. Both engines average the
    * DOUBLE-cast components then round once — identical IEEE ops on
    * identical inputs, so the quantized grids agree bit-for-bit. */
  private lazy val externalQcompCte =
    """qcomp AS (
      |  SELECT a.vec_id AS q_id, a.j0,
      |         CAST(ROUND(((a.x + b.x) / 2) * 1000000) AS BIGINT) AS xq
      |  FROM comp0 a JOIN comp0 b
      |    ON b.vec_id = a.vec_id + 1 AND b.j0 = a.j0
      |  WHERE a.vec_id BETWEEN 10 AND 19)""".stripMargin

  private lazy val s101OracleSql =
    s"""WITH $ivfpqCtes
       |SELECT q_id, neighbor_id, approx_sq FROM (
       |  SELECT q_id, vec_id AS neighbor_id,
       |         ROUND(CAST(adq AS DOUBLE) / 1e12, 6) AS approx_sq,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY adq, vec_id) AS rnk
       |  FROM adc)
       |WHERE rnk <= 3""".stripMargin

  private lazy val s102OracleSql =
    s"""WITH $ivfpqCtes,
       |atop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY adq, vec_id) AS rnk
       |    FROM adc) WHERE rnk <= 3),
       |ex AS (
       |  SELECT q.q_id, p.vec_id,
       |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
       |  FROM qcomp q JOIN pcomp p ON p.j0 = q.j0
       |  GROUP BY 1, 2),
       |et AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY dq, vec_id) AS rnk
       |    FROM ex) WHERE rnk <= 3)
       |SELECT e.q_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       |       ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / 3, 6) AS recall_at_3
       |FROM et e LEFT JOIN atop a
       |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
       |GROUP BY e.q_id""".stripMargin

  private lazy val s103OracleSql =
    s"""WITH $ivfpqCtes,
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY adq, vec_id) AS rnk
       |    FROM adc) WHERE rnk <= 10),
       |ex AS (
       |  SELECT sh.q_id, sh.vec_id,
       |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
       |  FROM short sh JOIN qcomp q ON q.q_id = sh.q_id
       |  JOIN pcomp p ON p.vec_id = sh.vec_id AND p.j0 = q.j0
       |  GROUP BY 1, 2)
       |SELECT q_id, neighbor_id, exact_sq FROM (
       |  SELECT q_id, vec_id AS neighbor_id,
       |         ROUND(CAST(dq AS DOUBLE) / 1e12, 6) AS exact_sq,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY dq, vec_id) AS rnk
       |  FROM ex)
       |WHERE rnk <= 3""".stripMargin

  /** The s104 merged-tier chain (after `ivfpqCtes`), ending at `mtop` =
    * (q_id, vec_id, tier, dq, rnk ≤ 3) — shared by s104 and s105. The
    * fresh segment is the REAL index delta (corpus ∖ assignment), which
    * in the oracle — whose `assign` CTE is by construction complete over
    * the corpus — is the empty set: with a fully-covering index s104
    * degenerates to the indexed tier, exactly as the engine's anti-join
    * finds nothing to brute-force. The non-empty lifecycle (build →
    * ingest → fresh-tier serve → refresh → empty again) is pinned by the
    * EngineSqlSpec lifecycle test over an appendable corpus. */
  private def deltaCtesK(k: Int): String =
    s"""itop AS (SELECT q_id, vec_id, dq, tier FROM (
      |    SELECT q_id, vec_id, adq AS dq, 'indexed' AS tier,
      |           ROW_NUMBER() OVER (PARTITION BY q_id
      |                              ORDER BY adq, vec_id) AS rnk
      |    FROM adc)
      |  WHERE rnk <= $k),
      |fresh AS (SELECT e.vec_id FROM embeddings e
      |          WHERE e.vec_id NOT IN (SELECT vec_id FROM assign)),
      |dx AS (
      |  SELECT q.q_id, p.vec_id,
      |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
      |  FROM qcomp q JOIN pcomp p ON p.j0 = q.j0
      |  JOIN fresh fr ON fr.vec_id = p.vec_id
      |  GROUP BY 1, 2),
      |dtop AS (SELECT q_id, vec_id, dq, tier FROM (
      |    SELECT q_id, vec_id, dq, 'fresh' AS tier,
      |           ROW_NUMBER() OVER (PARTITION BY q_id
      |                              ORDER BY dq, vec_id) AS rnk
      |    FROM dx) WHERE rnk <= $k),
      |u AS (SELECT * FROM itop UNION ALL SELECT * FROM dtop),
      |mtop AS (SELECT q_id, vec_id, tier, dq FROM (
      |    SELECT q_id, vec_id, tier, dq,
      |           ROW_NUMBER() OVER (PARTITION BY q_id
      |                              ORDER BY dq, vec_id) AS rnk
      |    FROM u) WHERE rnk <= $k)""".stripMargin

  private lazy val deltaCtes = deltaCtesK(3)

  private lazy val s104OracleSql =
    s"""WITH $ivfpqCtes,
       |$deltaCtes
       |SELECT q_id, vec_id AS neighbor_id, tier,
       |       ROUND(CAST(dq AS DOUBLE) / 1e12, 6) AS sq_dist
       |FROM mtop""".stripMargin

  private lazy val s105OracleSql =
    s"""WITH $ivfpqCtes,
       |$deltaCtes,
       |ex AS (
       |  SELECT q.q_id, p.vec_id,
       |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
       |  FROM qcomp q JOIN pcomp p ON p.j0 = q.j0
       |  GROUP BY 1, 2),
       |et AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY dq, vec_id) AS rnk
       |    FROM ex) WHERE rnk <= 3),
       |rec AS (
       |  SELECT e.q_id, CAST(COUNT(m.vec_id) AS BIGINT) AS n_hits
       |  FROM et e LEFT JOIN mtop m
       |    ON m.q_id = e.q_id AND m.vec_id = e.vec_id
       |  GROUP BY e.q_id),
       |hits AS (SELECT CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       |                CAST(COUNT(*) AS BIGINT) AS n_queries FROM rec),
       |cnt AS (
       |  SELECT CAST(SUM(CASE WHEN a.vec_id IS NOT NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_indexed,
       |         CAST(SUM(CASE WHEN a.vec_id IS NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh
       |  FROM embeddings e LEFT JOIN assign a ON a.vec_id = e.vec_id),
       |fs AS (SELECT CAST(SUM(CASE WHEN tier = 'fresh' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_fresh_served FROM mtop)
       |SELECT n_indexed, n_fresh,
       |       ROUND(CAST(n_fresh AS DOUBLE) / (n_indexed + n_fresh), 6)
       |         AS fresh_frac,
       |       n_fresh_served, total_hits, n_queries,
       |       ROUND(CAST(total_hits AS DOUBLE) / (n_queries * 3), 6)
       |         AS mean_recall_at_3,
       |       (CAST(n_fresh AS DOUBLE) / (n_indexed + n_fresh) >= 0.05)
       |         OR (CAST(total_hits AS DOUBLE) <
       |             CAST(n_queries AS DOUBLE) * 3 * 0.7) AS rebuild
       |FROM cnt, hits, fs""".stripMargin

  /** s111's oracle: the SAME full-corpus training/assignment/ADC chain,
    * with both the exact ground truth and the ADC candidate ranking
    * restricted to the deterministic `vec_id % 23 = 5 OR vec_id < 10`
    * sample (the slice plus the planted sources — see
    * [[indexHealthSampled]] for why the sources must be in) — exact on
    * the sample, so the hash-compare still binds. Filtering `adc` after
    * scoring ≡ filtering candidates before it (per-row scores commute
    * with the filter), which keeps the chain shared with s101/s105. */
  private lazy val s111OracleSql =
    s"""WITH $ivfpqCtes,
       |sadc AS (SELECT q_id, vec_id, adq FROM adc
       |         WHERE vec_id % 23 = 5 OR vec_id < 10),
       |atop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY adq, vec_id) AS rnk
       |    FROM sadc) WHERE rnk <= 3),
       |sex AS (
       |  SELECT q.q_id, p.vec_id,
       |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
       |  FROM qcomp q JOIN pcomp p ON p.j0 = q.j0
       |  WHERE p.vec_id % 23 = 5 OR p.vec_id < 10
       |  GROUP BY 1, 2),
       |set3 AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY dq, vec_id) AS rnk
       |    FROM sex) WHERE rnk <= 3),
       |rec AS (
       |  SELECT e.q_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits
       |  FROM set3 e LEFT JOIN atop a
       |    ON a.q_id = e.q_id AND a.vec_id = e.vec_id
       |  GROUP BY e.q_id),
       |shits AS (SELECT CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       |                 CAST(COUNT(*) AS BIGINT) AS n_queries FROM rec),
       |scnt AS (
       |  SELECT CAST(SUM(CASE WHEN a.vec_id IS NOT NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_indexed,
       |         CAST(SUM(CASE WHEN a.vec_id IS NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh
       |  FROM embeddings e LEFT JOIN assign a ON a.vec_id = e.vec_id
       |  WHERE e.vec_id % 23 = 5 OR e.vec_id < 10)
       |SELECT n_indexed, n_fresh,
       |       ROUND(CAST(n_fresh AS DOUBLE) / (n_indexed + n_fresh), 6)
       |         AS fresh_frac,
       |       total_hits, n_queries,
       |       ROUND(CAST(total_hits AS DOUBLE) / (n_queries * 3), 6)
       |         AS mean_recall_at_3,
       |       (CAST(n_fresh AS DOUBLE) / (n_indexed + n_fresh) >= 0.05)
       |         OR (CAST(total_hits AS DOUBLE) <
       |             CAST(n_queries AS DOUBLE) * 3 * 0.25) AS rebuild
       |FROM scnt, shits""".stripMargin

  /** d103's complete oracle — exposed so the p103 defense-in-depth
    * scorecard (Dedup.scala) can nest the semantic leg as a derived
    * table without duplicating the CTE chain. */
  private[graft] lazy val d103OracleSql: String =
    s"""WITH $ivfCtes,
       |tp AS (
       |  SELECT t.vec_id, t.assigned_label AS cluster,
       |         e.vec_id AS eval_id,
       |         ROUND(CASE WHEN nt.nq = 0 OR ne.nq = 0 THEN 0.0
       |               ELSE CAST(SUM(ct.xq * ce.xq) AS DOUBLE) /
       |               (SQRT(CAST(nt.nq AS DOUBLE)) *
       |                SQRT(CAST(ne.nq AS DOUBLE)))
       |               END, 6) AS sim
       |  FROM assign t JOIN assign e
       |         ON e.assigned_label = t.assigned_label
       |        AND e.vec_id % 23 = 0 AND t.vec_id % 23 <> 0
       |  JOIN comp ct ON ct.vec_id = t.vec_id
       |  JOIN comp ce ON ce.vec_id = e.vec_id AND ce.j0 = ct.j0
       |  JOIN nv nt ON nt.vec_id = t.vec_id
       |  JOIN nv ne ON ne.vec_id = e.vec_id
       |  GROUP BY t.vec_id, t.assigned_label, e.vec_id,
       |           nt.nq, ne.nq)
       |SELECT vec_id, cluster, eval_id, sim FROM (
       |  SELECT vec_id, cluster, eval_id, sim,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY sim DESC, eval_id)
       |           AS rnk
       |  FROM tp WHERE sim > 0.3)
       |WHERE rnk = 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "s90_ann_bruteforce",
      (s, d) => {
        // Norms precomputed per vector; dot/(nq*nc) is bit-identical to the
        // fused cosine kernel (same accumulation order, norms just cached).
        val e = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
          sqrt(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        val dot = GraftFunctions.dot_f(col("q_emb"), col("embedding"))
        broadcast(q).join(e, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            round(when(col("q_nrm") === 0.0 || col("nrm") === 0.0, 0.0)
              .otherwise(dot / (col("q_nrm") * col("nrm"))), 6).as("sim"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
      },
      Some("""SELECT * FROM (
                SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
                       ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]), 6) AS sim,
                       ROW_NUMBER() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                                               e.embedding::DOUBLE[]), 6) DESC,
                                  e.vec_id) AS rnk
                FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
                WHERE q.vec_id < 10)
              WHERE rnk <= 10""")),

    QueryDef(
      "s92_label_centroids", // IVF coarse-quantizer training step: per-label
                             // centroid from 1e-6-quantized components so the
                             // mean is exact-integer and engine-portable.
                             // Vectors stay whole through the aggregation
                             // (VectorSumL elementwise-sum aggregate): the
                             // shuffle carries one buffer per label per
                             // partition instead of rows x dims exploded
                             // tuples — 1/64th of the volume here, 1/dims
                             // at any scale. The oracle keeps the unnest
                             // formulation; sums are exact integers, so the
                             // two agree bit-for-bit.
      (s, d) => Graft.tableParallel(s, d, "embeddings")
        .select(col("label"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000000).cast("long")).as("vq"))
        .groupBy("label")
        // count(vq), not count(*): VectorSumL skips NULL vectors, so the
        // divisor must too (the corpus has none — this keeps the mean
        // honest if one appears; vectors are fixed-dim by construction)
        .agg(GraftFunctions.vector_sum_l(col("vq")).as("vsum"),
          count(col("vq")).as("n"))
        .select(col("label"), col("n"), posexplode(col("vsum")).as(Seq("j0", "sq")))
        .select(col("label"), col("j0"),
          ((col("sq").cast("double") / col("n")) / 1000000).as("centroid")),
      Some("""SELECT label, j - 1 AS j0,
                     (CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE)
                      / COUNT(*)) / 1000000 AS centroid
              FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                           generate_subscripts(embedding, 1) AS j
                    FROM embeddings)
              GROUP BY label, j0""")),

    QueryDef(
      "s93_ivf_assign", // IVF assignment: nearest centroid by cosine, all in
                        // exact integer dot products (quantized components).
                        // The vectors stay as array<long> columns end-to-end:
                        // centroids collapse to ~|labels| broadcast rows and
                        // every dot product is the codegen'd DotL kernel over
                        // the array — no vec×dim×label row explosion, no
                        // shuffle proportional to dimensionality. (The
                        // oracle keeps the positional-explode formulation;
                        // both are exact integer arithmetic, so they agree
                        // bit-for-bit.)
      (s, d) => ivfAssignment(s, d)
        .select(col("vec_id"), col("label"),
          col("cluster").as("assigned_label"),
          (col("cluster") === col("label")).as("correct")),
      Some(s93OracleSql)),

    QueryDef(
      "d92_semantic_dedup", // SemDeDup-style cluster-scoped embedding dedup
                            // (Abbas et al. 2023, arXiv:2303.09540): assign
                            // every vector to its nearest coarse centroid,
                            // then search for semantic duplicates ONLY
                            // within a cluster — the pairwise work is
                            // bounded by cluster size (k is chosen so
                            // clusters stay small), never corpus². The
                            // greedy one-pass keep rule drops any vector
                            // with a smaller-id neighbor above the
                            // threshold in its cluster. All similarity
                            // arithmetic is the quantized-integer cosine
                            // (engine-exact); the within-cluster pair join
                            // is an EQUI-join on the cluster id — this is
                            // d86's labeled brute-force made scale-shaped.
      (s, d) => semanticDecisions(s, d),
      Some(d92OracleSql)),

    QueryDef(
      "d103_semantic_decontam", // embedding-level DECONTAMINATION — the
                            // semantic sibling of d88 (n-gram contamination)
                            // and the cross-set analog of d92 (SemDeDup):
                            // training vectors whose embedding is
                            // near-identical to an EVAL-set vector leak the
                            // benchmark into the training corpus even when
                            // no n-gram matches (paraphrases, translations,
                            // reformatted dumps). Eval slice = vec_id % 23
                            // = 0 (deterministic, cross-cutting clusters);
                            // candidates come from the SAME coarse-cluster
                            // equi-join d92 uses — per-cluster work is
                            // |train∩c|×|eval∩c|, never corpus×eval (at
                            // 100 TB the eval side is still TBs — too big
                            // to broadcast, exactly right to shuffle on
                            // the cluster key). Each contaminated train
                            // vector reports its single BEST eval match
                            // (max cosine, smaller eval_id on ties — the
                            // rank key is the ROUNDED sim both engines
                            // compute identically from exact integers), so
                            // the output is an actionable drop list with
                            // provenance, not a pair dump.
      (s, d) => decontamVectors(s, d,
        Graft.tableParallel(s, d, "embeddings")
          .filter(col("vec_id") % 23 =!= 0)
          .select("vec_id", "embedding")),
      Some(d103OracleSql)),

    QueryDef(
      "s94_ann_bucketed", // the 100 TB ANN path end-to-end: LSH bucket
                          // equi-join -> within-bucket exact ranking. Queries
                          // are planted near-copies (±0.001 per component by
                          // dim parity) of vectors 0..9, so the true nearest
                          // neighbor is known and the recall spec can gate
                          // the bucketing against s90's brute force. Two
                          // independent 8-plane tables: candidate generation
                          // is an equi-join on (table, bucket) — never an
                          // all-pairs product — and ranking touches only
                          // the candidates. All scoring is quantized-integer
                          // (dot_l kernel), bit-identical in the oracle.
      (s, d) => {
        val numPlanes = 16; val bitsPerTable = 8; val k = 3
        val base = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("xd"))
        def quant(c: Column): Column =
          transform(c, x => round(x * 1000000).cast("long"))
        val corpus = base.select(col("vec_id"), quant(col("xd")).as("vq"))
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
            quant(transform(col("xd"), (x, j) =>
              x + when(j % 2 === 0, 0.001).otherwise(-0.001))).as("vq"))
        // deterministic hyperplane signs from the portable hash — identical
        // bucketing in any engine, no stored model. The signature is the
        // map-side HyperplaneSig codegen kernel: one (table, bucket) pair
        // per hash table per row, so candidate generation is scan →
        // equi-join with ZERO pre-join shuffles (the posexplode + double
        // groupBy formulation this replaces shuffled dims×planes rows per
        // vector — a 16× amplification of the corpus at 100 TB). The
        // oracle keeps the relational formulation; both compute the same
        // integer arithmetic, so they agree bit-for-bit.
        def buckets(df: DataFrame, idCol: String): DataFrame =
          df.select(col(idCol),
            posexplode(GraftFunctions.hyperplane_sig(
              col("vq"), numPlanes, bitsPerTable)).as(Seq("t", "bucket")))
        val cand = buckets(queries, "q_id").as("q")
          .join(buckets(corpus, "vec_id").as("c"),
            col("q.t") === col("c.t") && col("q.bucket") === col("c.bucket"))
          .select(col("q_id"), col("vec_id")).distinct()
        val w = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        cand
          .join(broadcast(queries.withColumnRenamed("vq", "qv")), "q_id")
          .join(corpus, "vec_id")
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            cosQ(dotl(col("qv"), col("vq")),
              dotl(col("qv"), col("qv")), dotl(col("vq"), col("vq")))
              .as("sim"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
      },
      Some("""WITH comp0 AS (
             |  SELECT vec_id, j - 1 AS j0, x
             |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
             |               generate_subscripts(embedding, 1) AS j
             |        FROM embeddings)),
             |ccomp AS (
             |  SELECT vec_id, j0, CAST(ROUND(x * 1000000) AS BIGINT) AS xq
             |  FROM comp0),
             |qcomp AS (
             |  SELECT vec_id AS q_id, j0,
             |         CAST(ROUND((x + CASE WHEN j0 % 2 = 0 THEN 0.001
             |                               ELSE -0.001 END) * 1000000)
             |              AS BIGINT) AS xq
             |  FROM comp0 WHERE vec_id < 10),
             |planes AS (SELECT unnest(range(16)) AS p),
             |sgn AS (
             |  SELECT p.p, c.j0,
             |         CASE WHEN ('0x' || substr(md5(p.p::VARCHAR || '_' || c.j0::VARCHAR), 1, 15))::BIGINT % 2 = 0
             |              THEN 1 ELSE -1 END AS s
             |  FROM planes p CROSS JOIN (SELECT DISTINCT j0 FROM comp0) c),
             |cbuck AS (
             |  SELECT vec_id, CAST(p // 8 AS INT) AS t,
             |         CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(p % 8 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
             |  FROM (SELECT vec_id, p, SUM(xq * s) AS dot
             |        FROM ccomp JOIN sgn USING (j0) GROUP BY vec_id, p)
             |  GROUP BY vec_id, t),
             |qbuck AS (
             |  SELECT q_id, CAST(p // 8 AS INT) AS t,
             |         CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(p % 8 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
             |  FROM (SELECT q_id, p, SUM(xq * s) AS dot
             |        FROM qcomp JOIN sgn USING (j0) GROUP BY q_id, p)
             |  GROUP BY q_id, t),
             |cand AS (
             |  SELECT DISTINCT q.q_id, c.vec_id
             |  FROM qbuck q JOIN cbuck c ON q.t = c.t AND q.bucket = c.bucket),
             |cnorm AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM ccomp GROUP BY vec_id),
             |qnorm AS (SELECT q_id, CAST(SUM(xq * xq) AS BIGINT) AS n2 FROM qcomp GROUP BY q_id),
             |dots AS (
             |  SELECT cand.q_id, cand.vec_id, CAST(SUM(q.xq * c.xq) AS BIGINT) AS dotq
             |  FROM cand JOIN qcomp q ON cand.q_id = q.q_id
             |            JOIN ccomp c ON cand.vec_id = c.vec_id AND c.j0 = q.j0
             |  GROUP BY cand.q_id, cand.vec_id)
             |SELECT q_id, neighbor_id, sim, rnk FROM (
             |  SELECT d.q_id, d.vec_id AS neighbor_id,
             |         CASE WHEN qn.n2 = 0 OR cn.n2 = 0 THEN 0.0
             |         ELSE CAST(d.dotq AS DOUBLE) /
             |           (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(cn.n2 AS DOUBLE)))
             |         END AS sim,
             |         ROW_NUMBER() OVER (
             |           PARTITION BY d.q_id
             |           ORDER BY CASE WHEN qn.n2 = 0 OR cn.n2 = 0 THEN 0.0
             |                    ELSE CAST(d.dotq AS DOUBLE) /
             |                    (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(cn.n2 AS DOUBLE)))
             |                    END DESC,
             |                    d.vec_id) AS rnk
             |  FROM dots d JOIN qnorm qn ON d.q_id = qn.q_id
             |              JOIN cnorm cn ON d.vec_id = cn.vec_id)
             |WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "s91_lsh_buckets", // deterministic random-hyperplane signatures via the
                         // map-side HyperplaneSig kernel: one codegen scan,
                         // no explode, no shuffle at all — the signature is
                         // a per-row value (the oracle keeps the relational
                         // unnest + double-aggregate formulation; identical
                         // integer arithmetic, bit-for-bit agreement)
      (s, d) => Graft.tableParallel(s, d, "embeddings")
        .select(col("vec_id"),
          element_at(GraftFunctions.hyperplane_sig(
            transform(col("embedding"),
              x => round(x.cast("double") * 1000000).cast("long")), 8, 8), 1)
            .as("bucket")),
      Some("""WITH comp AS (
                SELECT vec_id, j - 1 AS j0,
                       CAST(ROUND(x * 1000000) AS BIGINT) AS xq
                FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
                             generate_subscripts(embedding, 1) AS j
                      FROM embeddings)),
              dots AS (
                SELECT vec_id, p,
                       SUM(xq * CASE WHEN ('0x' || substr(md5(p::VARCHAR || '_' || j0::VARCHAR), 1, 15))::BIGINT % 2 = 0
                                     THEN 1 ELSE -1 END) AS dot
                FROM comp CROSS JOIN (SELECT unnest(range(8)) AS p)
                GROUP BY vec_id, p)
              SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
                          AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id""")),

    QueryDef(
      "s95_ivf_probe", // the IVF ANN QUERY path end-to-end (s92 trains the
                       // coarse quantizer, s93 is the build-side assignment;
                       // this is the search): each query scores the
                       // ~|labels| broadcast centroids map-side, probes its
                       // nprobe=2 nearest clusters, and exact-ranks ONLY
                       // the vectors assigned to those clusters — candidate
                       // generation is an equi-join on the cluster id, so
                       // the scored set is bounded by nprobe/|clusters| of
                       // the corpus instead of all of it. Queries are the
                       // same planted near-copies as s94 (±0.001 per
                       // component by dim parity), so the true neighbor is
                       // known and recall is spec-gated. All scoring is the
                       // quantized-integer dot_l kernel — bit-identical in
                       // the oracle.
      (s, d) => {
        val nprobe = 2; val k = 3
        val base = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("xd"))
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
            transform(
              transform(col("xd"), (x, j) =>
                x + when(j % 2 === 0, 0.001).otherwise(-0.001)),
              x => round(x * 1000000).cast("long")).as("qv"))
          .withColumn("qn", dotl(col("qv"), col("qv")))
        // probe: queries × broadcast centroids is |queries|·|labels| rows of
        // map-side arithmetic; the top-nprobe window partitions by q_id
        val wp = Window.partitionBy("q_id")
          .orderBy(col("csim").desc, col("clabel").asc)
        val probes = queries
          .crossJoin(broadcast(labelCentroids(s, d)))
          .select(col("q_id"), col("qv"), col("qn"), col("clabel"),
            cosQ(dotl(col("qv"), col("cqa")), col("qn"), col("ncq"))
              .as("csim"))
          .withColumn("rnk", row_number().over(wp))
          .filter(col("rnk") <= nprobe)
          .select(col("q_id"), col("qv"), col("qn"), col("clabel"))
        // candidates: equi-join probed clusters against the build-side
        // assignment. `probes` is bounded by |queries|·nprobe — broadcast
        // it, so the corpus-sized assignment side never shuffles here
        // (Catalyst's stats can't see that the window output is tiny and
        // would plan a two-exchange sort-merge join)
        val cand = broadcast(probes)
          .join(ivfAssignment(s, d).select(col("vec_id"),
            col("cluster").as("clabel")), "clabel")
        val wr = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        cand
          .join(quantizedVecs(s, d).select(col("vec_id"), col("vq")), "vec_id")
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            cosQ(dotl(col("qv"), col("vq")),
              col("qn"), dotl(col("vq"), col("vq"))).as("sim"))
          .withColumn("rnk", row_number().over(wr))
          .filter(col("rnk") <= k)
      },
      Some(s"""WITH $ivfCtes,
              |comp0 AS (
              |  SELECT vec_id, j - 1 AS j0, x
              |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
              |               generate_subscripts(embedding, 1) AS j
              |        FROM embeddings)),
              |qcomp AS (
              |  SELECT vec_id AS q_id, j0,
              |         CAST(ROUND((x + CASE WHEN j0 % 2 = 0 THEN 0.001
              |                               ELSE -0.001 END) * 1000000)
              |              AS BIGINT) AS xq
              |  FROM comp0 WHERE vec_id < 10),
              |qn AS (SELECT q_id, CAST(SUM(xq * xq) AS BIGINT) AS n2
              |       FROM qcomp GROUP BY q_id),
              |qcd AS (
              |  SELECT q.q_id, c.clabel, CAST(SUM(q.xq * c.cq) AS BIGINT) AS dotq
              |  FROM qcomp q JOIN cent c USING (j0)
              |  GROUP BY q.q_id, c.clabel),
              |probes AS (
              |  SELECT q_id, clabel FROM (
              |    SELECT d.q_id, d.clabel,
              |           ROW_NUMBER() OVER (
              |             PARTITION BY d.q_id
              |             ORDER BY CASE WHEN qn.n2 = 0 OR nc.ncq = 0 THEN 0.0
              |                      ELSE CAST(d.dotq AS DOUBLE) /
              |                      (SQRT(CAST(qn.n2 AS DOUBLE)) *
              |                       SQRT(CAST(nc.ncq AS DOUBLE))) END DESC,
              |                      d.clabel) AS rnk
              |    FROM qcd d JOIN qn ON d.q_id = qn.q_id
              |               JOIN nc ON d.clabel = nc.clabel)
              |  WHERE rnk <= 2),
              |candq AS (
              |  SELECT p.q_id, a.vec_id
              |  FROM probes p JOIN assign a ON a.assigned_label = p.clabel),
              |dotsq AS (
              |  SELECT cd.q_id, cd.vec_id, CAST(SUM(q.xq * c.xq) AS BIGINT) AS dotq
              |  FROM candq cd JOIN qcomp q ON cd.q_id = q.q_id
              |                JOIN comp c ON cd.vec_id = c.vec_id AND c.j0 = q.j0
              |  GROUP BY cd.q_id, cd.vec_id)
              |SELECT q_id, neighbor_id, sim, rnk FROM (
              |  SELECT d.q_id, d.vec_id AS neighbor_id,
              |         CASE WHEN qn.n2 = 0 OR nv.nq = 0 THEN 0.0
              |         ELSE CAST(d.dotq AS DOUBLE) /
              |           (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(nv.nq AS DOUBLE)))
              |         END AS sim,
              |         ROW_NUMBER() OVER (
              |           PARTITION BY d.q_id
              |           ORDER BY CASE WHEN qn.n2 = 0 OR nv.nq = 0 THEN 0.0
              |                    ELSE CAST(d.dotq AS DOUBLE) /
              |                    (SQRT(CAST(qn.n2 AS DOUBLE)) *
              |                     SQRT(CAST(nv.nq AS DOUBLE))) END DESC,
              |                    d.vec_id) AS rnk
              |  FROM dotsq d JOIN qn ON d.q_id = qn.q_id
              |               JOIN nv ON d.vec_id = nv.vec_id)
              |WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "s96_knn_graph", // mutual-kNN graph over the corpus — the edge set
                       // behind SNN/graph clustering and graph-based dedup.
                       // EVERY vector acts as a query through the IVF probe
                       // path (s95's algorithm with queries = corpus): score
                       // the broadcast centroids map-side, probe the
                       // nprobe=2 nearest clusters, exact-rank only vectors
                       // assigned there, keep the top-3, then retain edges
                       // where BOTH endpoints list each other. Mutuality is
                       // ONE aggregation, not a self-join: canonicalize each
                       // directed edge to (least, greatest) and keep pairs
                       // seen exactly twice — a self-join of the edge list
                       // against its own reversal re-executes the entire
                       // probe/rank pipeline (plan-audited: 10 scans, zero
                       // exchange reuse), while the groupBy sees the knn
                       // subtree once. The oracle mirrors the same probe
                       // algorithm, so approximate candidate generation
                       // still hash-matches. Scale shape: probe work is
                       // |corpus|·|labels| map-side rows against broadcast
                       // centroids; candidates are bounded by cluster sizes
                       // (equi-join on cluster id, never all-pairs); the
                       // mutual aggregation shuffles a top-3-bounded edge
                       // list on fixed-width keys. Symmetric sims are
                       // exact: the integer dot is identical in both
                       // directions and the norm product commutes in
                       // double, so MIN(sim) over the pair is the value.
      (s, d) => {
        val cents = labelCentroids(s, d)
        val e = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
          .withColumn("nq", dotl(col("vq"), col("vq")))
        val wp = Window.partitionBy("vec_id")
          .orderBy(col("csim").desc, col("clabel").asc)
        // One scored top-2 frame feeds BOTH sides: the probe set is the
        // top-2 clusters per vector and the build-side assignment is that
        // frame's rank-1 rows (assignment = argmax is by definition the
        // first probe) — so the assignment needs no second scoring pipeline
        // and, since rank-1 rows already carry the vector, no join back to
        // the scan either. (The two consumers still each execute the
        // scoring subtree — column pruning gives them different exchange
        // subtrees, so ReuseExchange cannot unify them; the win kept here
        // is the dropped third scan + join, measured ~10%.)
        val top2 = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("vq"), col("nq"), col("clabel"),
            cosQ(dotl(col("vq"), col("cqa")), col("nq"), col("ncq"))
              .as("csim"))
          .withColumn("rnk", row_number().over(wp))
          .filter(col("rnk") <= 2)
          .select(col("vec_id"), col("vq"), col("nq"), col("clabel"),
            col("rnk"))
          .repartition(col("vec_id"))
        val probes = top2.select("vec_id", "vq", "nq", "clabel")
        // rank-1 rows already carry that vector's components and norm —
        // the build side needs no further join back to the scan
        val asg = top2.filter(col("rnk") === 1)
          .select(col("vec_id").as("nbr"), col("clabel"),
            col("vq").as("nvq"), col("nq").as("nnq"))
        val wr = Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("nbr").asc)
        // BOTH join sides are corpus-sized (2 probe rows / 1 assignment row
        // per vector, each carrying its vq array) — unlike s95, where the
        // probe side is |queries|·nprobe-bounded and broadcasts. Here the
        // only shape that survives 100 TB is a shuffle join on cluster id:
        // each side ships once, partition work is bounded by cluster sizes,
        // and AQE's skew split can fan out an oversized cluster. The merge
        // hint pins that shape — without it Spark's size estimate would
        // broadcast the probe frame at toy scale and OOM at corpus scale.
        val knn = probes.hint("merge").join(asg, "clabel")
          .filter(col("nbr") =!= col("vec_id"))
          .select(col("vec_id"), col("nbr"),
            cosQ(dotl(col("vq"), col("nvq")),
              col("nq"), col("nnq")).as("sim"))
          .withColumn("rnk", row_number().over(wr))
          .filter(col("rnk") <= 3)
          .select(col("vec_id"), col("nbr"), col("sim"))
        knn.groupBy(least(col("vec_id"), col("nbr")).as("v1"),
            greatest(col("vec_id"), col("nbr")).as("v2"))
          .agg(count(lit(1)).as("cnt"), min(col("sim")).as("msim"))
          .filter(col("cnt") === 2)
          .select(col("v1"), col("v2"), round(col("msim"), 6).as("sim"))
      },
      Some(s"""WITH $ivfCtes,
              |probes AS (
              |  SELECT vec_id, clabel FROM (
              |    SELECT d.vec_id, d.clabel,
              |           ROW_NUMBER() OVER (
              |             PARTITION BY d.vec_id
              |             ORDER BY CASE WHEN nv.nq = 0 OR nc.ncq = 0 THEN 0.0
              |                      ELSE CAST(d.dotq AS DOUBLE) /
              |                      (SQRT(CAST(nv.nq AS DOUBLE)) *
              |                       SQRT(CAST(nc.ncq AS DOUBLE))) END DESC,
              |                      d.clabel) AS rnk
              |    FROM dots d JOIN nv ON d.vec_id = nv.vec_id
              |                JOIN nc ON d.clabel = nc.clabel)
              |  WHERE rnk <= 2),
              |cands AS (
              |  SELECT p.vec_id, a.vec_id AS nbr
              |  FROM probes p JOIN assign a ON a.assigned_label = p.clabel
              |  WHERE a.vec_id <> p.vec_id),
              |qarr AS (SELECT vec_id, list(xq ORDER BY j0) AS va
              |         FROM comp GROUP BY vec_id),
              |pairdot AS (
              |  -- per-pair dot as exact integer list math (quantized values
              |  -- are <= 6e5, 64-dim sums <= 2e13 -- far inside the 2^53
              |  -- exact-double range); the equivalent unnest-join GROUP BY
              |  -- formulation trips DuckDB's join order at corpus-as-query
              |  -- scale (measured 245 s vs ~2 s at sf0.1)
              |  SELECT c.vec_id, c.nbr,
              |         CAST(list_sum(list_transform(range(len(a.va)),
              |              i -> a.va[i+1] * b.va[i+1])) AS BIGINT) AS dotq
              |  FROM cands c JOIN qarr a ON a.vec_id = c.vec_id
              |               JOIN qarr b ON b.vec_id = c.nbr),
              |knn AS (
              |  SELECT vec_id, nbr, sim FROM (
              |    SELECT p.vec_id, p.nbr,
              |           CASE WHEN a.nq = 0 OR b.nq = 0 THEN 0.0
              |                ELSE CAST(p.dotq AS DOUBLE) /
              |                (SQRT(CAST(a.nq AS DOUBLE)) *
              |                 SQRT(CAST(b.nq AS DOUBLE))) END AS sim,
              |           ROW_NUMBER() OVER (
              |             PARTITION BY p.vec_id
              |             ORDER BY CASE WHEN a.nq = 0 OR b.nq = 0 THEN 0.0
              |                      ELSE CAST(p.dotq AS DOUBLE) /
              |                      (SQRT(CAST(a.nq AS DOUBLE)) *
              |                       SQRT(CAST(b.nq AS DOUBLE))) END DESC,
              |                      p.nbr) AS rnk
              |    FROM pairdot p JOIN nv a ON a.vec_id = p.vec_id
              |                   JOIN nv b ON b.vec_id = p.nbr)
              |  WHERE rnk <= 3)
              |SELECT v1, v2, ROUND(msim, 6) AS sim FROM (
              |  SELECT LEAST(vec_id, nbr) AS v1, GREATEST(vec_id, nbr) AS v2,
              |         COUNT(*) AS cnt, MIN(sim) AS msim
              |  FROM knn GROUP BY 1, 2)
              |WHERE cnt = 2""".stripMargin)),

    QueryDef(
      "s97_embed_quantize", // int8 scalar quantization of the embedding
                            // store — the compression step a 100 TB vector
                            // corpus ships before ANN serving (4x smaller
                            // than f32, distance-preserving to ~1/512 of
                            // each dimension's span). Per-dim min/max are
                            // aggregated from a posexploded branch whose
                            // partial agg collapses to |dims| rows per
                            // partition map-side (the shuffle carries 64
                            // rows x partitions, NOT rows x dims), pivoted
                            // into two arrays on ONE row and broadcast;
                            // codes + reconstruction error are then pure
                            // map-side array math. The stats and coder
                            // branches are TWO pruned parquet scans on
                            // purpose — NOT a t91-style shared exchange:
                            // here the shareable frame is as large as the
                            // input, so materializing it to shuffle disk to
                            // save a columnar re-read costs more I/O than
                            // the second scan at any corpus size. Zero
                            // rows-sized exchanges anywhere (spec-pinned).
                            // All arithmetic is integer micro-units until
                            // the final rounded division: engine-exact at
                            // any partitioning.
      (s, d) => {
        val base = quantizedVecs(s, d)
        // per-dim stats: explode AFTER the exchange; partial min/max means
        // the shuffle above this agg moves |dims| rows per task
        val stats = base
          .select(posexplode(col("vq")))
          .groupBy(col("pos").as("j"))
          .agg(min(col("col")).as("minq"), max(col("col")).as("maxq"))
          .agg(sort_array(collect_list(struct(col("j"), col("minq"))))
            .as("mins0"),
            sort_array(collect_list(struct(col("j"), col("maxq"))))
              .as("maxs0"))
          .select(transform(col("mins0"), m => m("minq")).as("mins"),
            transform(col("maxs0"), m => m("maxq")).as("maxs"))
        base.crossJoin(broadcast(stats))
          .select(col("vec_id"), col("vq"), col("mins"), col("maxs"),
            transform(col("vq"), (x, i) => {
              val mn = element_at(col("mins"), i + 1)
              val mx = element_at(col("maxs"), i + 1)
              when(mx === mn, 0L).otherwise(
                round((x - mn).cast("double") * 255.0 /
                  (mx - mn).cast("double")).cast("long"))
            }).as("codes"))
          .select(col("vec_id"),
            size(col("vq")).as("n_dims"),
            aggregate(col("codes"), lit(0L), (acc, c) => acc + c)
              .as("code_sum"),
            // recon_j = min_j + code_j*span_j/255 (micro-units); |err|
            // rounds to an integer micro-unit per dim BEFORE the fold, so
            // the sum is order-free and engine-exact
            round(aggregate(
              zip_with(
                transform(col("codes"), (c, i) => {
                  val mn = element_at(col("mins"), i + 1)
                  val mx = element_at(col("maxs"), i + 1)
                  mn.cast("double") + c.cast("double") *
                    (mx - mn).cast("double") / 255.0
                }),
                col("vq"),
                (r, x) => round(abs(r - x.cast("double"))).cast("long")),
              lit(0L), (acc, e) => acc + e).cast("double") /
              (size(col("vq")) * 1000000), 6).as("mean_abs_err"))
      },
      Some("""WITH comp AS (
              |  SELECT vec_id, j - 1 AS j0,
              |         CAST(ROUND(x * 1000000) AS BIGINT) AS xq
              |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
              |               generate_subscripts(embedding, 1) AS j
              |        FROM embeddings)),
              |stats AS (
              |  SELECT j0, MIN(xq) AS minq, MAX(xq) AS maxq
              |  FROM comp GROUP BY j0),
              |coded AS (
              |  SELECT vec_id, xq, minq, maxq,
              |         CASE WHEN maxq = minq THEN 0
              |              ELSE CAST(ROUND(CAST(xq - minq AS DOUBLE) * 255.0 /
              |                   CAST(maxq - minq AS DOUBLE)) AS BIGINT)
              |         END AS code
              |  FROM comp JOIN stats USING (j0))
              |SELECT vec_id, CAST(COUNT(*) AS INT) AS n_dims,
              |       CAST(SUM(code) AS BIGINT) AS code_sum,
              |       ROUND(CAST(SUM(CAST(ROUND(ABS(
              |             (CAST(minq AS DOUBLE) + CAST(code AS DOUBLE) *
              |              CAST(maxq - minq AS DOUBLE) / 255.0) - xq))
              |           AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000), 6)
              |         AS mean_abs_err
              |FROM coded GROUP BY vec_id""".stripMargin)),

    QueryDef(
      "s98_kmeans_train", // distributed Lloyd — the codebook TRAINING step
                          // the IVF family assumes done: s92/s93/s95/d92
                          // take label centroids as a given coarse
                          // quantizer, but at 100 TB the codebook is
                          // trained, not handed down. Deterministic
                          // spherical k-means: seeds are the k lowest-id
                          // vectors, then `iters` rounds of (assign to the
                          // max-cosine centroid, recenter as the exact-
                          // integer member mean), then a final assignment.
                          //
                          // Scale shape per iteration: the k centroids
                          // collapse to ONE broadcast row holding a
                          // cid-sorted struct array, each vector computes
                          // its argmax with a single codegen'd array_max
                          // over (sim, -cid) structs — assignment is pure
                          // map-side, NO per-vector shuffle, no k-fold row
                          // expansion (contrast a crossJoin+window: that
                          // ships corpus×k rows into a sort exchange).
                          // Recentering shuffles only k×partitions
                          // VectorSumL buffers (map-side partial agg). So
                          // an iteration costs one corpus scan + a
                          // k-bounded shuffle — the textbook distributed
                          // Lloyd layout; iterating over a persisted
                          // columnar snapshot instead of re-scanning is a
                          // deployment choice the plan already permits.
                          // All arithmetic is quantized-integer (dot_l)
                          // until the final double division; argmax ties
                          // break to the smaller cid; empty clusters drop
                          // from the codebook identically in both engines
                          // (standard Lloyd degeneracy — re-seeding is a
                          // policy layer, not plan shape).
      (s, d) => kmeansTrain(s, d, 8, 3),
      Some(kmeansOracleSql(8, 3))),

    QueryDef(
      "s99_pq_encode", // product quantization — the RESIDUAL compression
                       // step after s98's coarse quantizer: split each
                       // 64-dim vector into M=8 contiguous 8-dim
                       // subvectors, train an independent k=8 codebook per
                       // subspace (2 Lloyd rounds, squared-L2 on quantized
                       // integers — PQ is a Euclidean method, unlike the
                       // cosine coarse stage), then encode every vector as
                       // 8 code ids = 8 bytes replacing 256 bytes of f32.
                       //
                       // Scale shape: TRAINING explodes to rows×M subvector
                       // tuples, but assignment joins a broadcast of the
                       // M×k codebook (64 rows) and the recenter shuffle
                       // carries only M×k×partitions 8-dim partial-sum
                       // buffers (VectorSumL, map-side combine). ENCODING
                       // never explodes and never shuffles: the whole
                       // trained codebook collapses to ONE broadcast row
                       // (nested m-sorted array of cid-sorted (cid, cq)
                       // structs) and each vector computes all 8 argmins
                       // in a single codegen'd projection — at 100 TB the
                       // encode pass is scan + map, nothing else. All
                       // arithmetic is exact integer ((x-c)^2 sums ≤
                       // 8·(2e6)^2 ≈ 3.2e13, far inside Long) until the
                       // final /1e12 error normalization; argmin ties
                       // break to the smaller cid via array_min over
                       // (dist, cid) structs, bit-identical to the
                       // oracle's ROW_NUMBER (ORDER BY dist, cid).
      (s, d) => pqEncode(s, d, 8, 8, 2),
      Some(pqOracleSql(8, 8, 2))),

    QueryDef(
      "s100_pq_adc_search", // ADC top-k — the SERVING step that justifies
                            // s99's codes: queries stay raw f32 vectors,
                            // the corpus is only its 8-byte PQ codes, and
                            // per query a 64-entry lookup table of exact
                            // subspace distances (query-subvector ×
                            // codebook entry) broadcasts to every scanner;
                            // each corpus vector's approximate distance is
                            // then 8 map lookups + an integer fold — the
                            // classic asymmetric-distance computation
                            // (Jégou et al.), which at 100 TB scans codes
                            // (32× less I/O than raw vectors) with zero
                            // shuffle before the per-query top-k window.
                            // LUT keys are m*100+cid in a MAP, not a
                            // positional array, so a dropped (empty)
                            // cluster cannot shift indexing. All distances
                            // exact integers; ties break to the smaller
                            // neighbor id; self-matches excluded like s90.
      (s, d) => pqAdcSearch(s, d, 8, 8, 2, 5, 3),
      Some(pqAdcOracleSql(8, 2, 5, 3))),

    QueryDef(
      "s101_ivfpq_search", // the COMPLETE IVF-PQ serving stack (Jégou et
                           // al.): coarse quantizer routes each query to
                           // its nprobe=2 nearest clusters (s95's probe),
                           // PQ codes + a per-query ADC lookup table rank
                           // ONLY the vectors assigned there — the
                           // architecture every production vector store
                           // (FAISS IVFPQ) runs. Queries are the s95
                           // planted near-copies, so recall is
                           // spec-gated against the known true neighbor.
                           // Scale shape: centroids, probes, and the
                           // 10-row LUT-map frame all broadcast; the two
                           // corpus-sized frames (assignment, codes)
                           // meet candidates through equi-joins bounded
                           // by nprobe/|clusters| of the corpus; ADC
                           // scoring is 8 map lookups + an integer fold
                           // per candidate. Exact integer arithmetic
                           // end-to-end; ties break to the smaller
                           // neighbor id.
      (s, d) => ivfpqSearch(s, d)
        .select(col("q_id"), col("neighbor_id"),
          round(col("adq").cast("double") / 1e12, 6).as("approx_sq")),
      Some(s101OracleSql)),

    QueryDef(
      "s102_index_recall", // index-quality AUDIT — the observability
                           // surface a production vector store ships
                           // beside its index: recall@3 of the s101
                           // IVF-PQ path against the exact squared-L2
                           // ground truth, per query. The exact side is
                           // the labeled brute-force baseline (broadcast
                           // planted queries × corpus — |queries|-bounded
                           // map work, the s90 shape); the approximate
                           // side is the s101 pipeline unchanged; the
                           // audit is a left join of two 3-row-per-query
                           // frames. Exposes coarse-routing misses and
                           // PQ misranking as a number a dashboard can
                           // alert on. A query with zero overlap still
                           // reports (n_hits = 0) — silent-miss-proof.
      (s, d) => {
        val approx = ivfpqSearch(s, d)
          .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
        exactTop3(s, d).join(approx, Seq("q_id", "neighbor_id"), "left")
          .groupBy("q_id")
          .agg(count(col("hit")).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            round(col("n_hits").cast("double") / 3, 6).as("recall_at_3"))
      },
      Some(s102OracleSql)),

    QueryDef(
      "p101_embedding_prep", // the VECTOR-side pipeline capstone (p100's
                             // twin for the embedding corpus): the
                             // artifact table a vector warehouse publishes
                             // per release — every vector's coarse cluster
                             // route, its SemDeDup keep/drop verdict, its
                             // 8-byte PQ codes and reconstruction error,
                             // in ONE row. Composes d92's decision chain
                             // with s99's encode on the shared scans; the
                             // final assembly is one equi-join on vec_id
                             // between two corpus-sized frames — at scale
                             // both sides arrive partitioned by the same
                             // key. Serving reads THIS table: route by
                             // cluster, skip dropped, ADC over codes.
      (s, d) => semanticDecisions(s, d)
        .join(pqEncode(s, d, 8, 8, 2), "vec_id")
        .select(col("vec_id"), col("cluster"), col("dropped"),
          col("codes"), col("sq_err")),
      Some(s"""WITH $ivfCtes,
              |$d92Ctes,
              |${pqChainCtes(8, 2, "pcomp")},
              |enc AS (
              |  SELECT vec_id,
              |         string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m)
              |           AS codes,
              |         ROUND(CAST(SUM(dist) AS DOUBLE) / 1e12, 6)
              |           AS sq_err
              |  FROM a3 GROUP BY vec_id)
              |SELECT a.vec_id, a.assigned_label AS cluster,
              |       dr.vec_id IS NOT NULL AS dropped,
              |       e.codes, e.sq_err
              |FROM assign a
              |LEFT JOIN drops dr USING (vec_id)
              |JOIN enc e USING (vec_id)""".stripMargin)),

    QueryDef(
      "s103_ann_rerank", // two-stage retrieval — the production pattern
                         // every PQ-compressed vector store runs (FAISS
                         // IVFPQR, ScaNN's reorder stage): the 8-byte ADC
                         // scan is cheap but approximate, so its top-10
                         // shortlist is RERANKED by exact squared L2
                         // against the raw vectors before returning
                         // top-3. Fixes PQ misranking within the probed
                         // clusters (s102 measures it; this buys the
                         // recall back) at a cost independent of corpus
                         // size: the |queries|×10 shortlist broadcasts
                         // into one equi-join that fetches 10 raw vectors
                         // per query — the corpus never shuffles and the
                         // exact kernel runs 100 times, not 100M. Serve-
                         // path aware: with a built index the shortlist
                         // plan reads the stored artifacts and trains
                         // nothing.
      (s, d) => annRerank(s, d),
      Some(s103OracleSql)),

    QueryDef(
      "s104_delta_search", // index freshness — the fresh-segment pattern
                           // (Lucene's uncommitted segment, Milvus's
                           // growing segment): vectors that arrived AFTER
                           // the index build are absent from the stored
                           // IVF assignment and PQ codes, yet search must
                           // still see them. The fresh segment is the
                           // REAL corpus ∖ assignment delta — the same
                           // anti-join REFRESH VECTOR INDEX performs —
                           // so what this query serves is exactly what
                           // the index has not absorbed (empty on a
                           // fully-refreshed index; the EngineSqlSpec
                           // lifecycle pins the non-empty path). The
                           // indexed tier serves the s101 IVF-PQ chain
                           // over the stored frames; the fresh tier
                           // brute-forces the delta exactly against the
                           // broadcast queries; per-segment top-3 lists
                           // merge losslessly into the global top-3
                           // (same integer squared-L2 units). The tier
                           // column makes staleness OBSERVABLE — a
                           // dashboard alerting on fresh-tier hit rate
                           // knows when to rebuild. Scale shape: the
                           // delta anti-join shuffles on vec_id (both
                           // sides corpus-sized — shuffle_hash pinned);
                           // queries broadcast; the fresh scan is
                           // map-side; no other corpus-sized exchange.
      (s, d) => deltaSearch(s, d),
      Some(s104OracleSql)),

    QueryDef(
      "s105_index_health", // the one-row index HEALTH CARD — the page an
                           // on-call engineer reads before deciding to
                           // rebuild: segment accounting (indexed vs
                           // fresh counts and the fresh fraction),
                           // recall@3 of the ACTUALLY-SERVED s104 path
                           // (stale index + fresh delta) against exact
                           // ground truth, how many served results came
                           // from the fresh tier, and a rebuild verdict
                           // (fresh fraction ≥ 5% OR recall < 0.7).
                           // Distinct from s102, which audits the
                           // full-corpus s101 path: this card measures
                           // what production serves, so staleness damage
                           // shows up in the number. Segment counts come
                           // from the REAL stored assignment (one LEFT
                           // join on vec_id), so n_fresh is the true
                           // unabsorbed delta — REFRESH drives it to 0
                           // and flips the verdict (the EngineSqlSpec
                           // lifecycle pins exactly that loop). Scale
                           // shape: one corpus×assignment equi-join for
                           // the accounting, the |queries|-bounded exact
                           // baseline, and 1-row cross-join assembly
                           // (d99's pattern); integer hit counts keep
                           // every rate engine-exact.
      (s, d) => indexHealth(s, d),
      Some(s105OracleSql)),

    QueryDef(
      "s106_filtered_search", // metadata-FILTERED ANN — the feature every
                              // production vector store exposes ("top-k
                              // among vectors WHERE <predicate>"), here
                              // over the IVF-PQ serving stack with an
                              // even-label predicate standing in for the
                              // tenant/language/license filter of a real
                              // deployment. This is PRE-filtering: the
                              // slim (vec_id) allow-list equi-joins into
                              // the ROUTING table before any codes are
                              // fetched or ADC-scored, so (a) filtered-out
                              // vectors cost nothing downstream and (b)
                              // every query still gets k results from the
                              // probed clusters regardless of filter
                              // selectivity — post-filtering the top-k
                              // instead would return < k (recall loss),
                              // the classic filtered-ANN failure mode.
                              // Scale shape: s101's chain unchanged (the
                              // allow-list join is one more vec_id
                              // equi-join on the cluster-bounded candidate
                              // frame); the neighbor-label decoration
                              // joins the |queries|×k result BROADCAST
                              // against the corpus (s103's discipline).
                              // Serve-path aware through artifactFrames.
      (s, d) => {
        val (centroids, assign, codebook, codes) = artifactFrames(s, d)
        val allowed = Graft.tableParallel(s, d, "embeddings")
          .filter(col("label") % 2 === 0)
          .select(col("vec_id"), col("label"))
        val assignF = assign
          .join(allowed.select("vec_id"), "vec_id")
          .select(col("vec_id"), col("cluster"))
        val top = ivfpqSearchOn(s, d, centroids, assignF, codebook, codes,
          k = 3)
        broadcast(top)
          .join(allowed.select(col("vec_id").as("neighbor_id"),
            col("label")), "neighbor_id")
          .select(col("q_id"), col("neighbor_id"),
            round(col("adq").cast("double") / 1e12, 6).as("approx_sq"),
            col("label"))
      },
      Some(s"""WITH $ivfpqCtes,
              |lab AS (SELECT vec_id, label FROM embeddings
              |        WHERE label % 2 = 0),
              |fadc AS (
              |  SELECT a.q_id, a.vec_id, a.adq, l.label
              |  FROM adc a JOIN lab l ON l.vec_id = a.vec_id)
              |SELECT q_id, neighbor_id, approx_sq, label FROM (
              |  SELECT q_id, vec_id AS neighbor_id,
              |         ROUND(CAST(adq AS DOUBLE) / 1e12, 6) AS approx_sq,
              |         label,
              |         ROW_NUMBER() OVER (PARTITION BY q_id
              |                            ORDER BY adq, vec_id) AS rnk
              |  FROM fadc)
              |WHERE rnk <= 3""".stripMargin)),

    QueryDef(
      "s111_index_health_sampled", // the QUERY-CADENCE health card: the
                           // s105 signals computed over the
                           // deterministic vec_id % 23 = 5 (plus
                           // planted sources) sample
                           // universe — exact top-3 among sampled
                           // vectors vs the ADC tier restricted to the
                           // same sample, plus sampled segment
                           // accounting. s105's exact baseline is
                           // deliberately corpus-sized (audit cadence);
                           // this card is what a dashboard polls BETWEEN
                           // audits — the heavy O(n·d·|q|) distance work
                           // drops to the ~4% sample while staleness
                           // damage (sampled fresh vectors invisible to
                           // the ADC tier) still moves the number. Exact
                           // on the sample ⇒ still hash-compared against
                           // the DuckDB twin. Scale shape: one cheap
                           // corpus scan to take the sample, then every
                           // stage is sample-bounded; no new
                           // corpus-sized exchange.
      (s, d) => indexHealthSampled(s, d),
      Some(s111OracleSql)),

    QueryDef(
      "s107_nprobe_sweep", // the TUNING CURVE every IVF deployment
                           // publishes before fixing its serving config:
                           // recall@3 and candidates-scanned at nprobe ∈
                           // {1, 2, 4}. Recall rises with probes while
                           // scan cost rises linearly in the probed
                           // cluster mass — this one table is how the
                           // latency/recall operating point gets chosen
                           // (and re-checked after drift; the s105 card
                           // alerts, this query answers "would more
                           // probes fix it?"). Scale shape: the ranked
                           // probe table is |queries|×|clusters| (both
                           // bounded) computed once; each sweep point is
                           // the s101 chain at its nprobe — candidates
                           // stay cluster-bounded equi-joins — and the
                           // scan-cost column is an ARITHMETIC join of
                           // probes × cluster sizes (never a second
                           // corpus pass). Exact integer hits; recall is
                           // one division by the in-plan truth count.
      (s, d) => {
        val (centroids, assign, codebook, codes) = artifactFrames(s, d)
        // et is |queries|·3 rows consumed twice (truth count + the hit
        // semi-join). The r13 localCheckpoint here was MEASURED SLOWER
        // and reverted (r14 interleaved same-JVM A/B, min-of-5: ckpt
        // 2.270 s vs lineage 1.729 s): the eager materialization barrier
        // + blockmanager write costs more than the second brute-force
        // pass it saves. That pass is NOT count-only: pruning drops the
        // truth-count consumer's payload columns, but its |queries| x
        // |corpus| scoring join and top-3 ranking still run in full, so
        // at scale this doubles a corpus-sized pass — re-measure at a
        // larger scale factor before treating the revert as scale-safe.
        val et = exactTop3(s, d)
        val truth = et.agg(count(lit(1)).as("n_truth"))
        val sizes = assign.groupBy(col("cluster").as("clabel"))
          .agg(count(lit(1)).as("csz"))
        val wp = Window.partitionBy("q_id")
          .orderBy(col("csim").desc, col("clabel").asc)
        val ranked = plantedQueries(s, d)
          .crossJoin(broadcast(centroids))
          .select(col("q_id"), col("clabel"),
            cosQ(dotl(col("qv"), col("cqa")), col("qn"), col("ncq"))
              .as("csim"))
          .withColumn("rnk", row_number().over(wp))
        // ONE pipeline for the whole sweep: nprobe=1 candidates are a
        // crnk-prefix of nprobe=2 of nprobe=4, so the widest ADC chain
        // runs ONCE and each candidate explodes into the sweep points it
        // participates in (np ≥ its cluster's rank). One (nprobe, q_id)
        // window, one semi join, one aggregate then replace three
        // unioned branches — the sweep costs one chain plus a
        // |points|-bounded fan-out, not |points| chains' worth of
        // stages. The 3-row np spine left-joins the aggregates so a
        // zero-hit sweep point still reports 0, as the per-branch
        // count() did.
        val sweeps = array(lit(1), lit(2), lit(4))
        val byPoint = ivfpqCandidates(s, d, centroids, assign, codebook,
            codes, nprobe = 4)
          .select(col("q_id"), col("neighbor_id"), col("adq"),
            explode(filter(sweeps, np => np >= col("crnk")))
              .as("nprobe"))
        val wr = Window.partitionBy("nprobe", "q_id")
          .orderBy(col("adq").asc, col("neighbor_id").asc)
        val hits = byPoint
          .withColumn("rnk", row_number().over(wr))
          .filter(col("rnk") <= 3)
          .join(et, Seq("q_id", "neighbor_id"), "left_semi")
          .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
        val cands = ranked
          .select(col("clabel"),
            explode(filter(sweeps, np => np >= col("rnk"))).as("nprobe"))
          .join(broadcast(sizes), "clabel")
          .groupBy("nprobe")
          .agg(sum(col("csz")).as("n_candidates"))
        s.range(1)
          .select(explode(sweeps).as("nprobe"))
          .join(hits, Seq("nprobe"), "left")
          .join(cands, Seq("nprobe"), "left")
          .crossJoin(broadcast(truth))
          .select(col("nprobe"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth").cast("double"), 6).as("recall_at_3"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      },
      Some(s"""WITH $ivfpqCtes,
              |prk AS (
              |  SELECT d.q_id, d.clabel,
              |         ROW_NUMBER() OVER (
              |           PARTITION BY d.q_id
              |           ORDER BY CASE WHEN qn2.n2 = 0 OR nc.ncq = 0
              |                    THEN 0.0
              |                    ELSE CAST(d.dotq AS DOUBLE) /
              |                    (SQRT(CAST(qn2.n2 AS DOUBLE)) *
              |                     SQRT(CAST(nc.ncq AS DOUBLE))) END DESC,
              |                    d.clabel) AS rnk
              |  FROM qcd d JOIN qn2 ON d.q_id = qn2.q_id
              |             JOIN nc ON d.clabel = nc.clabel),
              |ex AS (
              |  SELECT q.q_id, p.vec_id,
              |         SUM((q.xq - p.xq) * (q.xq - p.xq)) AS dq
              |  FROM qcomp q JOIN pcomp p ON p.j0 = q.j0
              |  GROUP BY 1, 2),
              |et AS (SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY q_id
              |                              ORDER BY dq, vec_id) AS rnk
              |    FROM ex) WHERE rnk <= 3),
              |trth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM et),
              |csz AS (SELECT assigned_label AS clabel,
              |               CAST(COUNT(*) AS BIGINT) AS csz
              |        FROM assign GROUP BY 1),
              |sw AS (SELECT unnest([1, 2, 4]) AS nprobe),
              |cd2 AS (
              |  SELECT s.nprobe, p.q_id, a.vec_id
              |  FROM sw s JOIN prk p ON p.rnk <= s.nprobe
              |  JOIN assign a ON a.assigned_label = p.clabel),
              |adc2 AS (
              |  SELECT cd.nprobe, cd.q_id, cd.vec_id, SUM(l.dq) AS adq
              |  FROM cd2 cd
              |  JOIN a3 a ON a.vec_id = cd.vec_id
              |  JOIN lut l ON l.q_id = cd.q_id AND l.m = a.m
              |            AND l.cid = a.cid
              |  GROUP BY 1, 2, 3),
              |top2 AS (SELECT nprobe, q_id, vec_id FROM (
              |    SELECT nprobe, q_id, vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY nprobe, q_id
              |                              ORDER BY adq, vec_id) AS rnk
              |    FROM adc2) WHERE rnk <= 3),
              |hits AS (
              |  SELECT s.nprobe, CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits
              |  FROM sw s LEFT JOIN (
              |    SELECT t2.nprobe, t2.vec_id
              |    FROM top2 t2 JOIN et e ON e.q_id = t2.q_id
              |                          AND e.vec_id = t2.vec_id) t
              |    ON t.nprobe = s.nprobe
              |  GROUP BY 1),
              |cands AS (
              |  SELECT s.nprobe,
              |         CAST(COALESCE(SUM(c.csz), 0) AS BIGINT)
              |           AS n_candidates
              |  FROM sw s JOIN prk p ON p.rnk <= s.nprobe
              |  JOIN csz c ON c.clabel = p.clabel
              |  GROUP BY 1)
              |SELECT h.nprobe, h.n_hits,
              |       ROUND(CAST(h.n_hits AS DOUBLE) /
              |             CAST(trth.n_truth AS DOUBLE), 6) AS recall_at_3,
              |       c.n_candidates
              |FROM hits h JOIN cands c USING (nprobe)
              |CROSS JOIN trth""".stripMargin)),

    QueryDef(
      "s108_search_vectors", // the PRODUCTION serve call: top-k for
                             // ARBITRARY query vectors a caller hands in
                             // — every other s-query probes the planted
                             // fixture; this one pushes genuinely
                             // out-of-corpus points (midpoints of
                             // adjacent corpus vectors, vec_id 10..19 ×
                             // +1) through the public [[searchVectors]]
                             // API: caller-side (q_id, embedding) frame
                             // → corpus-grid quantization → the same
                             // two-tier indexed+fresh kernel s104 pins.
                             // The query-frame build is two slim
                             // 10-row-bounded scans equi-joined on
                             // vec_id (filters pushed to parquet) —
                             // serve cost never depends on how the
                             // caller sourced the vectors. Scale shape
                             // inherited from twoTierServe: queries
                             // broadcast, one ADC chain + one anti-join
                             // over the corpus, |q|×k-bounded result.
      (s, d) => {
        val e = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val a = e.filter(col("vec_id").between(10, 19))
        val b = e.filter(col("vec_id").between(11, 20))
          .select((col("vec_id") - 1).as("vec_id"),
            col("embedding").as("emb_b"))
        val q = a.join(b, "vec_id")
          .select(col("vec_id").as("q_id"),
            zip_with(col("embedding"), col("emb_b"),
              (x, y) => (x.cast("double") + y.cast("double")) / 2)
              .as("embedding"))
        searchVectors(s, d, q, k = 3)
      },
      Some(s"""WITH ${ivfpqCtesWith(externalQcompCte)},
              |$deltaCtes
              |SELECT q_id, vec_id AS neighbor_id, tier,
              |       ROUND(CAST(dq AS DOUBLE) / 1e12, 6) AS sq_dist
              |FROM mtop""".stripMargin)),

    QueryDef(
      "s109_mmr_diversify", // DIVERSIFIED retrieval — maximal marginal
                            // relevance over each query's shortlist: a
                            // training-data sampler that takes plain
                            // top-k gets near-duplicate neighbors (the
                            // corpus is full of them — that is what the
                            // d-family proves); MMR greedily picks
                            // argmax λ·rel(q,d) − (1−λ)·max sim(d,
                            // selected), trading relevance against
                            // redundancy. Two-phase scale shape: the
                            // shortlist is s90's brute-force top-10
                            // (swap in the s101/s103 indexed chain at
                            // scale — MMR only needs SOME shortlist
                            // source), then the greedy runs PER QUERY
                            // over ≤10 candidates inside mapGroups —
                            // the O(k·n²) pairwise work touches ten
                            // rows in one task, never a corpus join.
                            // Every value the greedy compares is an
                            // EXACT INTEGER: components quantize to
                            // 1e-6 units (the s92/s97 convention), rel
                            // and pairwise sims are integer dot
                            // products in that space, and λ = 0.7
                            // becomes score = 7·rel − 3·maxSim in
                            // deci-units — no float ever crosses an
                            // engine boundary (a 6-dp-rounded cosine
                            // variant of this operator hit a rounding
                            // boundary at sf0.01: the two engines'
                            // cosine kernels differ in the last ulp).
                            // Ties break on vec_id; the oracle unrolls
                            // the k=3 greedy into three CTE stages —
                            // two independent derivations of the same
                            // selection must agree on every pick AND
                            // every score.
      (s, d) => {
        val eI = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"),
            x => round(x.cast("double") * 1000000).cast("long"))
            .as("emb"))
        val q = eI.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        val rel = aggregate(
          zip_with(col("q_emb"), col("emb"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
        val w = Window.partitionBy("q_id")
          .orderBy(col("rel").desc, col("vec_id").asc)
        val shortlist = broadcast(q)
          .join(eI, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), rel.as("rel"), col("emb"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("q_id"), col("vec_id"), col("rel"), col("emb"))
        mmrGreedy(s, shortlist, kSel = 3)
      },
      Some(s"""WITH comp AS (
             |  SELECT vec_id, j - 1 AS j0,
             |         CAST(ROUND(x * 1000000) AS BIGINT) AS xq
             |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
             |               generate_subscripts(embedding, 1) AS j
             |        FROM embeddings)),
             |sl AS (
             |  SELECT * FROM (
             |    SELECT q_id, vid, rel,
             |           ROW_NUMBER() OVER (PARTITION BY q_id
             |             ORDER BY rel DESC, vid) AS rnk
             |    FROM (SELECT qc.vec_id AS q_id, cc.vec_id AS vid,
             |                 SUM(qc.xq * cc.xq) AS rel
             |          FROM comp qc
             |          JOIN comp cc ON cc.j0 = qc.j0
             |                      AND cc.vec_id != qc.vec_id
             |          WHERE qc.vec_id < 10
             |          GROUP BY 1, 2))
             |  WHERE rnk <= 10),
             |${mmrTailSql("comp")}""".stripMargin)),

    QueryDef(
      "s110_search_diversify", // DIVERSIFIED SERVING — the composition
                               // s109's comment used to promise: MMR over
                               // the INDEXED shortlist. s109 proves the
                               // greedy against a brute-force top-10;
                               // this query runs the same exact-integer
                               // greedy (λ=0.7: 7·rel − 3·maxSim in
                               // deci-units, ties on vec_id) over the
                               // shortlist the PRODUCTION serve chain
                               // returns — searchVectors' two-tier
                               // indexed+fresh top-10 for s108's external
                               // midpoint queries — so a caller gets
                               // diversified answers at index price, not
                               // brute-force price. Scale shape: the
                               // serve kernel's own (queries broadcast,
                               // one ADC chain + one anti-join over the
                               // corpus); the diversify stage adds ONE
                               // more corpus touch — a broadcast probe of
                               // the |q|·10-bounded shortlist ids against
                               // the quantized scan to fetch exact
                               // components for rerank — and the greedy
                               // runs per query over ≤10 rows inside
                               // mapGroups. The oracle re-derives the
                               // same shortlist through the s108 CTE
                               // chain widened to top-10, then unrolls
                               // the identical greedy — two independent
                               // derivations of both STAGES must agree
                               // on every pick and every score.
      (s, d) => {
        val a = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id").between(10, 19))
        val b = Graft.tableParallel(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id").between(11, 20))
          .select((col("vec_id") - 1).as("vec_id"),
            col("embedding").as("emb_b"))
        val q = a.join(b, "vec_id")
          .select(col("vec_id").as("q_id"),
            zip_with(col("embedding"), col("emb_b"),
              (x, y) => (x.cast("double") + y.cast("double")) / 2)
              .as("embedding"))
        searchVectorsDiversified(s, d, q, k = 3, shortK = 10)
      },
      Some(s"""WITH ${ivfpqCtesWith(externalQcompCte)},
              |${deltaCtesK(10)},
              |sl AS (
              |  SELECT m.q_id, m.vec_id AS vid,
              |         CAST(SUM(q.xq * p.xq) AS BIGINT) AS rel
              |  FROM mtop m
              |  JOIN qcomp q ON q.q_id = m.q_id
              |  JOIN pcomp p ON p.vec_id = m.vec_id AND p.j0 = q.j0
              |  GROUP BY 1, 2),
              |${mmrTailSql("pcomp")}""".stripMargin))
  )

  /** The three-stage greedy unroll shared by the s109 and s110 oracles:
    * expects a CTE `sl(q_id, vid, rel)` (the shortlist with exact integer
    * relevance) and a per-vector component CTE `$compCte(vec_id, j0, xq)`
    * for the pairwise sims; emits ranks 1..3 with λ=0.7 deci-unit scores
    * (7·rel − 3·maxSim), ties on vid — [[mmrGreedy]]'s exact contract. */
  private def mmrTailSql(compCte: String): String =
    s"""ps AS (
       |  SELECT a.q_id, a.vid AS d1, b.vid AS d2,
       |         SUM(ca.xq * cb.xq) AS s
       |  FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.vid <> b.vid
       |  JOIN $compCte ca ON ca.vec_id = a.vid
       |  JOIN $compCte cb ON cb.vec_id = b.vid AND cb.j0 = ca.j0
       |  GROUP BY 1, 2, 3),
       |p1 AS (SELECT q_id, vid, rel, 7 * rel AS score
       |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |               ORDER BY rel DESC, vid) AS r FROM sl)
       |       WHERE r = 1),
       |mc2 AS (SELECT sl.q_id, sl.vid, sl.rel,
       |              7 * sl.rel - 3 * ps.s AS score
       |       FROM sl
       |       JOIN p1 ON p1.q_id = sl.q_id AND sl.vid <> p1.vid
       |       JOIN ps ON ps.q_id = sl.q_id AND ps.d1 = sl.vid
       |              AND ps.d2 = p1.vid),
       |p2 AS (SELECT q_id, vid, rel, score
       |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |               ORDER BY score DESC, vid) AS r FROM mc2)
       |       WHERE r = 1),
       |mc3 AS (SELECT sl.q_id, sl.vid,
       |              7 * sl.rel - 3 * GREATEST(s1.s, s2.s) AS score
       |       FROM sl
       |       JOIN p1 ON p1.q_id = sl.q_id
       |       JOIN p2 ON p2.q_id = sl.q_id
       |       JOIN ps s1 ON s1.q_id = sl.q_id AND s1.d1 = sl.vid
       |                 AND s1.d2 = p1.vid
       |       JOIN ps s2 ON s2.q_id = sl.q_id AND s2.d1 = sl.vid
       |                 AND s2.d2 = p2.vid
       |       WHERE sl.vid <> p1.vid AND sl.vid <> p2.vid),
       |p3 AS (SELECT q_id, vid, score
       |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |               ORDER BY score DESC, vid) AS r FROM mc3)
       |       WHERE r = 1)
       |SELECT q_id, CAST(1 AS INTEGER) AS rank, vid AS vec_id,
       |       CAST(score AS BIGINT) AS mmr_score_q FROM p1
       |UNION ALL
       |SELECT q_id, CAST(2 AS INTEGER), vid, CAST(score AS BIGINT)
       |FROM p2
       |UNION ALL
       |SELECT q_id, CAST(3 AS INTEGER), vid, CAST(score AS BIGINT)
       |FROM p3""".stripMargin

  /** d92's SemDeDup decision table (vec_id, cluster, dropped) — see the
    * d92 QueryDef doc for the plan shape; shared with the p101 capstone.
    * Only the pair scoring needs the component arrays — they join back
    * from the map-side scan on vec_id, so the assignment window never
    * ships them (see ivfAssignment). */
  private def semanticDecisions(s: SparkSession, d: String): DataFrame = {
    val asg = ivfAssignment(s, d) // slim: (vec_id, label, cluster)
    val av = asg.join(
      quantizedVecs(s, d).select(col("vec_id"), col("vq"))
        .withColumn("nq", dotl(col("vq"), col("vq"))), "vec_id")
    val smaller = av.select(col("cluster").as("c2"),
      col("vec_id").as("v2"), col("vq").as("vq2"), col("nq").as("nq2"))
    val drops = av.join(smaller,
        col("cluster") === col("c2") && col("v2") < col("vec_id"))
      .select(col("vec_id"),
        round(cosQ(dotl(col("vq"), col("vq2")), col("nq"), col("nq2")),
          6).as("sim"))
      .filter(col("sim") > 0.3)
      .select(col("vec_id")).distinct()
      .withColumn("dup", lit(true))
    asg.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup"), lit(false)).as("dropped"))
  }

  /** Squared L2 between two equal-length quantized integer vectors —
    * exact Long arithmetic, codegen'd higher-order functions. */
  private def l2q(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, e) => acc + e)

  private val pqSub = 8 // PQ subspace width (embedding dim 64 / m)

  /** PQ building blocks shared by s99 (encode) and s100 (ADC search):
    * `base` = (vec_id, vq), `subs` = the per-subspace explosion,
    * `trained` = the (m, cid, cq) codebook after `iters` Lloyd rounds
    * under exact-integer squared L2 (seeds: subvectors of the k lowest-id
    * vectors; see s99's QueryDef doc for the plan shape). */
  private def pqParts(s: SparkSession, d: String, m: Int, k: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val base = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
    val subs = base
      .select(col("vec_id"), explode(transform(
        sequence(lit(0), lit(m - 1)),
        mm => struct(mm.as("m"),
          slice(col("vq"), mm * pqSub + 1, lit(pqSub)).as("sv")))).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
    val seeds = subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cq"))
    // one broadcast of the M×k codebook, argmin computed map-side; the
    // per-candidate argmin runs through the fused pq_codes_l kernel
    // (the sub-vector is its own m=0 slice against a one-entry book) —
    // Lloyd train is iters × n × m × k interpreted candidates otherwise,
    // the dominant ×1000 BUILD stage once route assignment was fused.
    // Selection is pqEnc's own min (dist, cid); the s99/s100 oracles
    // re-derive the whole train relationally in DuckDB, so the fusion
    // stays hash-pinned end-to-end.
    def assign(cents: DataFrame): DataFrame =
      subs.join(broadcast(cents.groupBy("m")
          .agg(sort_array(collect_list(struct(col("cid"), col("cq"))))
            .as("book"))), "m")
        .select(col("vec_id"), col("m"), col("sv"),
          element_at(GraftFunctions.pq_codes_l(col("sv"),
            array(struct(lit(0).as("m"), col("book").as("bm"))), pqSub), 1)
            .as("cid"))
    def recenter(asg: DataFrame): DataFrame =
      asg.groupBy(col("m"), col("cid"))
        .agg(GraftFunctions.vector_sum_l(col("sv")).as("vsum"),
          count(lit(1)).as("cnt"))
        .select(col("m"), col("cid"),
          transform(col("vsum"),
            sq => round(sq.cast("double") / col("cnt")).cast("long"))
            .as("cq"))
    val trained = (1 to iters).foldLeft(seeds)(
      (c, _) => recenter(assign(c)))
    (base, subs, trained)
  }

  /** The one-row (m-sorted, cid-sorted-within-m) codebook frame every
    * encode path broadcasts — the layout the fused `pq_codes_l` kernel
    * iterates. */
  private def bookOneRow(trained: DataFrame): DataFrame =
    trained.groupBy("m")
      .agg(sort_array(collect_list(struct(col("cid"), col("cq"))))
        .as("bm"))
      .agg(sort_array(collect_list(struct(col("m"), col("bm"))))
        .as("book"))

  /** Map-side PQ CODES against a one-row broadcast codebook via the fused
    * codegen kernel — the scale-path encode (BUILD artifacts, REFRESH
    * deltas, the streaming VECTOR gate all store/serve codes only). The
    * per-subspace selection is bit-identical to [[pqEnc]]'s
    * `array_min(struct(dist, cid))` (parity spec in FunctionsSpec; the
    * interpreted form paid a boxed slice + struct alloc per
    * vector × sub-centroid candidate — the measured residual of the
    * ×1000 ingest batch after the route argmax was fused). */
  private def pqCodes(base: DataFrame, trained: DataFrame): DataFrame =
    base.crossJoin(broadcast(bookOneRow(trained)))
      .select(col("vec_id"),
        GraftFunctions.pq_codes_l(col("vq"), col("book"), pqSub).as("codes"))

  /** Map-side PQ encode against a one-row broadcast codebook — zero
    * shuffles; returns (vec_id, enc) with enc = m-ordered (dist, cid).
    * Kept interpreted for the paths that need per-subspace DISTANCES
    * (s99's reconstruction error, s100's shared scan) — inline oracle
    * queries, not scale paths; everything that stores or serves codes
    * goes through [[pqCodes]]. */
  private def pqEnc(base: DataFrame, trained: DataFrame): DataFrame = {
    val book1 = bookOneRow(trained)
    base.crossJoin(broadcast(book1))
      .select(col("vec_id"),
        transform(col("book"), e =>
          array_min(transform(e("bm"), c =>
            struct(l2q(slice(col("vq"), e("m") * pqSub + 1, lit(pqSub)),
              c("cq")).as("dist"), c("cid").as("cid"))))).as("enc"))
  }

  /** Product-quantization train + encode (see s99's QueryDef doc for the
    * plan shape). `m` subspaces of dim/m dims, `k` centroids each, `iters`
    * Lloyd rounds under squared L2; returns one row per vector with the
    * dash-joined code string and the total squared reconstruction error
    * (de-quantized to original units). */
  private[graft] def pqEncode(
      s: SparkSession, d: String, m: Int, k: Int, iters: Int): DataFrame = {
    val (base, _, trained) = pqParts(s, d, m, k, iters)
    pqEnc(base, trained)
      .select(col("vec_id"),
        concat_ws("-",
          transform(col("enc"), x => x("cid").cast("string"))).as("codes"),
        round(aggregate(col("enc"), lit(0L), (a, x) => a + x("dist"))
          .cast("double") / 1e12, 6).as("sq_err"))
  }

  /** The s95 planted query set (vec_id < 10, ±0.001 perturbation by dim
    * parity), quantized, with its squared norm. */
  private def plantedQueries(s: SparkSession, d: String): DataFrame =
    Graft.tableParallel(s, d, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(
          transform(col("embedding"), (x, j) =>
            x.cast("double") + when(j % 2 === 0, 0.001).otherwise(-0.001)),
          x => round(x * 1000000).cast("long")).as("qv"))
      .withColumn("qn", dotl(col("qv"), col("qv")))

  /** True when embedding `v` holds a null, NaN or ±Infinity component —
    * the values the 1e-6 quantization would silently turn into a
    * valid-looking vector (NaN casts to 0L, Infinity saturates). Shared
    * by the corpus audit, the caller-facing kernel guards and the stream
    * twins' poison split. */
  private[graft] def nonFiniteComponent(v: Column): Column =
    exists(v, x =>
      x.isNull || isnan(x) || abs(x) === lit(Float.PositiveInfinity))

  /** Train-side corpus audit for the STORED-index paths (BUILD/REFRESH):
    * a null/non-finite/ragged embedding in the corpus would silently
    * poison the trained artifacts — kmeans sums absorb NaN, the
    * quantization casts it to 0L, and every centroid/code downstream is
    * garbage with no visible error (the stream/caller guards cover
    * ingest and queries; this covers the training input itself). One
    * bounded job: LIMIT 1 over the violation filter, ≤1 driver row.
    * Deliberately NOT applied to the inline-training oracle pipelines —
    * a one-shot query over a corpus is the caller's own data, and the
    * extra scan would tax every s-query; an index is long-lived shared
    * state and earns the audit. */
  private[graft] def requireFiniteCorpus(s: SparkSession, d: String): Unit = {
    val dim = VectorIndex.pqM * pqSub
    val bad = Graft.tableParallel(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id").isNull || col("embedding").isNull ||
        size(col("embedding")) =!= dim ||
        nonFiniteComponent(col("embedding")))
      .limit(1).collect()
    require(bad.isEmpty,
      s"corpus $d carries a null/non-finite/ragged embedding (vec_id " +
        s"${bad.headOption.map(r => String.valueOf(r.get(0))).getOrElse("?")}) " +
        "- training would silently absorb it into every centroid and " +
        "code; clean the corpus before BUILD/REFRESH")
  }

  /** The four trained artifacts [[VectorIndex.build]] materializes —
    * exactly the frames the inline search paths would compute, so stored
    * and inline answers are bit-identical. */
  private[graft] def indexArtifacts(s: SparkSession, d: String,
      mode: String = "exact",
      broadcastCap: Long = centBroadcastCap): Seq[(String, DataFrame)] = {
    val (base, _, trained) =
      pqParts(s, d, VectorIndex.pqM, VectorIndex.pqK, VectorIndex.pqIters)
    // materialize the centroid frame once (k rows — the one corpus-sized
    // aggregation): the count below picks the assignment form, and the
    // assignment + stored-table write reuse the materialized rows
    // instead of re-running the corpus aggregation per consumer
    val cents = labelCentroids(s, d).localCheckpoint()
    val vecs = quantizedVecs(s, d)
    val assign = mode match {
      case "coarse" => assignCoarseTwoLevel(vecs, cents)
      case _ =>
        // threshold switch: one-row broadcast argmax while the centroid
        // set is executor-trivial; past the cap, the shuffled-agg form
        // with no per-node k-proportional structure. Both EXACT and
        // bit-identical (parity spec) — only the plan shape changes.
        if (cents.count() <= broadcastCap) assignArgmaxBroadcast(vecs, cents)
        else assignArgmaxShuffled(vecs, cents, Seq("label"))
    }
    Seq(
      "centroids" -> cents,
      "assign" -> assign.select(col("vec_id"), col("cluster")),
      "codebook" -> trained,
      "codes" -> pqCodes(base, trained))
  }

  /** The four IVF-PQ artifact frames — stored index tables when a
    * provenance-matching [[VectorIndex]] exists, the inline-training
    * pipelines otherwise. Same deterministic frames either way, so every
    * consumer (s101 search, s103 rerank, s104 delta) is bit-identical
    * served or not. */
  private def artifactFramesStored(s: SparkSession, d: String)
      : ((DataFrame, DataFrame, DataFrame, DataFrame), Boolean) =
    VectorIndex.served(s, d) match {
      case Some(ix) =>
        ((ix.centroids, ix.assign, ix.codebook, ix.codes), true)
      case None =>
        val (_, _, trained) = pqParts(s, d, 8, 8, 2)
        val codes = pqCodes(
          quantizedVecs(s, d).select(col("vec_id"), col("vq")), trained)
        ((labelCentroids(s, d),
          ivfAssignment(s, d).select(col("vec_id"), col("cluster")),
          trained, codes), false)
    }

  private def artifactFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    artifactFramesStored(s, d)._1

  /** The servable coverage id set — assign ∩ codes, the SAME intersection
    * `REFRESH VECTOR INDEX` drains ([[VectorIndex.refresh]]): a vector in
    * only ONE coverage table (crash between the two artifact appends)
    * cannot be served by the ADC tier, so it must fall in the fresh
    * tier, not between tiers.
    *
    * COST of the intersection is a corpus-sized shuffle join, so the
    * common case takes a metadata fast path: the two tables are NESTED
    * at every commit boundary — BUILD publishes identical id sets, and
    * each refresh append atomically jumps one side to a superset of the
    * other (manifest publishes are all-or-nothing pointer swaps, and
    * each side appends exactly its missing slice of a common delta).
    * Two nested finite sets with EQUAL cardinality are equal, so equal
    * row counts (parquet footer metadata on the stored tables — no data
    * scan, no shuffle) prove equal coverage and assign alone suffices.
    * The nesting premise holds because BUILD/REFRESH are the tables'
    * ONLY writers — the Engine refuses direct DML on index artifacts
    * (system tables, guarded in `Engine.localName`), since offsetting
    * deletes (equal counts, different ids) would break it silently.
    * Unequal counts are precisely the straggler signature, and only
    * then does coverage pay the intersection join. The inline-training
    * fallback derives both frames from the full corpus in one pipeline
    * — coverage is complete by construction (and counting would execute
    * the training chain), so it always uses assign directly. */
  private def coveredIds(assign: DataFrame, codes: DataFrame,
      stored: Boolean): DataFrame = {
    val a = assign.select("vec_id")
    if (!stored || footerCount(assign) == footerCount(codes)) a
    else a.join(codes.select("vec_id"), Seq("vec_id"))
  }

  /** Exact row count of a stored parquet table from file FOOTERS —
    * driver-side metadata IO (the already-resolved listing via
    * `inputFiles` plus one footer read per file), zero Spark jobs. The
    * stored index tables are written as a handful of files per version,
    * so this is O(files) milliseconds; a deployment that shards coverage
    * tables into thousands of files should persist counts in the table
    * manifest instead (REFRESH already computes both ends). */
  private val footerCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def footerCount(df: DataFrame): Long = {
    val files = df.inputFiles.sorted
    // memoized by the exact file list: version dirs are immutable (a
    // mutation writes a NEW version directory), so a repeated file set
    // always has the same count — the serve suite probes the same two
    // coverage tables per query and pays the footer reads once.
    // BOUNDED: every refresh publishes new version paths (fresh keys),
    // so a long-running session interleaving maintenance would
    // accumulate dead keys forever; stale entries are never re-read, so
    // a full clear at the bound only re-reads the live tables' footers
    if (footerCountCache.size > 256) footerCountCache.clear()
    footerCountCache.computeIfAbsent(files.mkString("\u0000"), _ => {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
    })
  }

  /** Full IVF-PQ search over the planted query set (see s101's QueryDef
    * doc for the plan shape): returns (q_id, neighbor_id, adq) — the
    * top-k ADC-ranked candidates from the nprobe=2 probed clusters.
    * Shared by s101 (the search, k=3), s102 (the recall audit) and s103
    * (the rerank shortlist, k=10).
    *
    * Train/serve split: with a stored [[VectorIndex]] for this corpus the
    * plan reads the four index tables and contains ZERO training stages
    * (no Lloyd rounds, no VectorSumL recentering); without one it trains
    * inline — same frames, same answer, just rebuilt per query. */
  private[graft] def ivfpqSearch(
      s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val (centroids, assign, codebook, codes) = artifactFrames(s, d)
    ivfpqSearchOn(s, d, centroids, assign, codebook, codes, k)
  }

  /** The IVF-PQ serve pipeline against explicit artifact frames
    * (stored tables or inline-trained, per [[ivfpqSearch]]). `nprobe`
    * defaults to the published serving configuration; s107 sweeps it. */
  /** ADC-scored candidates from the `nprobe` highest-ranked clusters,
    * each row carrying its probed cluster's rank (`crnk`) — the shared
    * kernel under [[ivfpqSearchOn]] and s107's sweep. Because the
    * nprobe=1 candidate set is a PREFIX (by crnk) of nprobe=2 of
    * nprobe=4, one chain at the widest point serves every narrower one
    * as a filter — s107 exploits exactly that. */
  private def ivfpqCandidates(s: SparkSession, d: String,
      centroids: DataFrame, assign: DataFrame, codebook: DataFrame,
      codes: DataFrame, nprobe: Int,
      queriesOpt: Option[DataFrame] = None): DataFrame = {
    val queries = queriesOpt.getOrElse(plantedQueries(s, d))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("csim").desc, col("clabel").asc)
    val probes = queries
      .crossJoin(broadcast(centroids))
      .select(col("q_id"), col("clabel"),
        cosQ(dotl(col("qv"), col("cqa")), col("qn"), col("ncq"))
          .as("csim"))
      .withColumn("crnk", row_number().over(wp))
      .filter(col("crnk") <= nprobe)
      .select(col("q_id"), col("clabel"), col("crnk"))
    val qsubs = queries
      .select(col("q_id"), explode(transform(
        sequence(lit(0), lit(7)),
        mm => struct(mm.as("m"),
          slice(col("qv"), mm * 8 + 1, lit(8)).as("sv")))).as("e"))
      .select(col("q_id"), col("e.m").as("m"), col("e.sv").as("sv"))
    // the per-query LUT is UNPACKED into a dense 800-slot array (position
    // key+1 holds the subspace distance): element_at on an ARRAY is O(1),
    // while on the map it was a linear scan of all m·k entries — at 8
    // lookups per corpus row the ADC tier paid ~8·m·k comparisons per
    // VECTOR. One 800-slot unpack per QUERY buys O(1) per corpus-row
    // lookup; missing keys (dropped empty clusters) hold null exactly as
    // the map returned null, so scores are bit-identical.
    val lutq = qsubs.join(broadcast(codebook), "m")
      .select(col("q_id"),
        (col("m") * 100 + col("cid")).cast("long").as("key"),
        l2q(col("sv"), col("cq")).as("dq"))
      .groupBy("q_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("key"), col("dq"))))).as("qmap"))
      .select(col("q_id"), transform(sequence(lit(0L), lit(799L)),
        i => element_at(col("qmap"), i)).as("qlut"))
    val cand = broadcast(probes)
      .join(assign.select(col("vec_id"),
        col("cluster").as("clabel")), "clabel")
      .select(col("q_id"), col("vec_id"), col("crnk"))
    cand.join(codes, "vec_id")
      .join(broadcast(lutq), "q_id")
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("codes"),
          sequence(lit(0), lit(7)),
          (code, mm) => element_at(col("qlut"),
            (mm * 100 + code + lit(1)).cast("int"))),
          lit(0L), (a, x) => a + x).as("adq"),
        col("crnk"))
  }

  private def ivfpqSearchOn(s: SparkSession, d: String,
      centroids: DataFrame, assign: DataFrame, codebook: DataFrame,
      codes: DataFrame, k: Int, nprobe: Int = 2,
      queriesOpt: Option[DataFrame] = None): DataFrame = {
    val wr = Window.partitionBy("q_id")
      .orderBy(col("adq").asc, col("neighbor_id").asc)
    ivfpqCandidates(s, d, centroids, assign, codebook, codes, nprobe,
        queriesOpt)
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("neighbor_id"), col("adq"))
  }

  /** s103: two-stage retrieval — the IVF-PQ ADC shortlist (top-10 per
    * query) reranked by EXACT squared L2 against the raw vectors, top-3
    * kept. The |queries|×10-bounded shortlist broadcasts into one
    * equi-join with the corpus scan (the only corpus-sized work is
    * fetching 10 raw vectors per query), so rerank cost is independent of
    * corpus size. Serve-path aware through [[ivfpqSearch]]. */
  private[graft] def annRerank(s: SparkSession, d: String): DataFrame = {
    val short = ivfpqSearch(s, d, k = 10)
      .select(col("q_id"), col("neighbor_id"))
    val base = quantizedVecs(s, d)
      .select(col("vec_id").as("neighbor_id"), col("vq"))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("dq").asc, col("neighbor_id").asc)
    broadcast(short)
      .join(base, "neighbor_id")
      .join(broadcast(plantedQueries(s, d).select(col("q_id"), col("qv"))),
        "q_id")
      .select(col("q_id"), col("neighbor_id"),
        l2q(col("qv"), col("vq")).as("dq"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("neighbor_id"),
        round(col("dq").cast("double") / 1e12, 6).as("exact_sq"))
  }

  /** Semantic-decontamination kernel shared by the batch operator (d103)
    * and the streaming ingest gate
    * ([[graft.streaming.VectorStreams.decontamGate]]): flag every CANDIDATE
    * vector in `vecs` (vec_id, embedding) whose cosine to some eval-set
    * vector of corpus `d` (the deterministic vec_id % 23 == 0 slice)
    * exceeds `thr`, reporting each flagged vector's single BEST eval match
    * (max rounded sim, smaller eval_id on ties) — an actionable drop list
    * with provenance, not a pair dump. Candidates are routed to the SAME
    * label-centroid clusters the corpus assignment uses (the ~|labels|
    * centroid frame broadcasts — routing is map-side; the per-vector
    * argmax window carries only (vec_id, clabel, sim), never the component
    * arrays, and the arrays are equi-joined back from the input once,
    * ivfAssignment's discipline), and the candidate×eval pairing is a
    * cluster EQUI-join — per-cluster work is |cand∩c|×|eval∩c|, never
    * candidates×eval (at 100 TB the eval side is still TBs: too big to
    * broadcast, exactly right to shuffle on the cluster key). The batch
    * operator passes the whole train side; the stream passes one
    * micro-batch — the plan is identical either way, so streamed verdicts
    * are bit-identical to batch verdicts for the same vectors (the
    * StreamingSpec parity test proves it). */
  private[graft] def decontamVectors(s: SparkSession, d: String,
      vecs: DataFrame, thr: Double = 0.3): DataFrame = {
    val centArr = labelCentroids(s, d)
    val clabelType = centArr.schema("clabel").dataType
    val centsOne = centArr.agg(sort_array(collect_list(
      struct(col("clabel").cast("long").as("clabel"), col("cqa"),
        col("ncq").cast("long").as("ncq")))).as("cents"))
    // guardDim: the CALLER-supplied leg raises in-plan on a width
    // mismatch against the broadcast centroids (dot_l truncates to the
    // shorter input, so a wrong-width candidate would otherwise score a
    // silently-truncated cosine — searchVectors' failure mode, and this
    // kernel is just as SQL-reachable via DECONTAM VECTORS USING t).
    // The in-plan size(cqa) comparison costs nothing and needs no extra
    // driver read of the corpus. The eval leg derives from the corpus
    // itself and skips the guard.
    // map-side argmax over the one-row broadcast centroid array via the
    // fused codegen kernel (assignArgmaxBroadcast's shape — same
    // (sim DESC, clabel ASC) selection the old per-vector window
    // computed, without materializing candidates×k rows through an
    // exchange and without the interpreted higher-order path). The
    // guardDim raise_error now fires BEFORE the kernel, against the
    // corpus dimension read off the broadcast centroid array — same
    // in-plan check, same message, and it still precedes the kernel's
    // min-length truncation. Payload (vq, nq) passes through the map
    // stage, so the join-back of the component arrays is gone too.
    def assign(vq: DataFrame, guardDim: Boolean = false): DataFrame =
      vq.withColumn("nq", dotl(col("vq"), col("vq")))
        .crossJoin(broadcast(centsOne))
        .withColumn("vqg",
          if (guardDim)
            when(size(col("vq")) =!=
                size(element_at(col("cents"), 1)("cqa")),
              raise_error(concat(
                lit("decontamVectors: candidate dimension "),
                size(col("vq")).cast("string"),
                lit(" does not match the corpus dimension "),
                size(element_at(col("cents"), 1)("cqa")).cast("string"),
                lit(" (vec_id "), col("vec_id").cast("string"), lit(")"))))
              .otherwise(col("vq"))
          else col("vq"))
        .withColumn("cluster", GraftFunctions.nearest_centroid_l(
          col("vqg"), col("nq"), col("cents")).cast(clabelType))
        .drop("cents", "vqg")
    val cand = assign(vecs.select(col("vec_id"),
      // non-finite guard BEFORE quantization — see searchVectors: a
      // NaN component casts to 0L and an Infinity saturates, so a
      // malformed candidate would otherwise audit as a VALID vector
      when(nonFiniteComponent(col("embedding")),
        raise_error(concat(
          lit("decontamVectors: non-finite or null component in " +
            "candidate embedding (vec_id "),
          col("vec_id").cast("string"), lit(")"))))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long"))).as("vq")),
      guardDim = true)
    val ev = assign(quantizedVecs(s, d)
        .filter(col("vec_id") % 23 === 0).select("vec_id", "vq"))
      .select(col("cluster").as("ec"), col("vec_id").as("eval_id"),
        col("vq").as("evq"), col("nq").as("enq"))
    val wr = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("eval_id").asc)
    cand.join(ev, col("cluster") === col("ec"))
      .select(col("vec_id"), col("cluster"), col("eval_id"),
        round(cosQ(dotl(col("vq"), col("evq")),
          col("nq"), col("enq")), 6).as("sim"))
      .filter(col("sim") > thr)
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("cluster"), col("eval_id"), col("sim"))
  }

  /** A vector index's route+encode model in the form the kernel joins:
    * the centroid frame, its one-row array while k is under the
    * broadcast cap (None past it: the shuffled-agg argmax reads `cents`
    * itself) and the one-row codebook. [[encodeModel]] builds it lazily
    * per REFRESH call; `VectorStreams.freeze` builds it once per stream
    * and holds every frame as a driver-side local relation. */
  final case class EncodeModel(cents: DataFrame,
      centsOne: Option[DataFrame], book: DataFrame)

  /** The [[EncodeModel]] of a centroid and codebook frame: one count of
    * the centroids picks the join form. */
  private[graft] def encodeModel(cents: DataFrame, codebook: DataFrame,
      broadcastCap: Long = centBroadcastCap): EncodeModel =
    EncodeModel(cents,
      if (cents.count() <= broadcastCap) Some(centsOneRow(cents)) else None,
      bookOneRow(codebook))

  /** [[routeAndEncode]] against an index's centroid and codebook frames
    * (REFRESH's delta; the parity spec crosses `broadcastCap`). */
  private[graft] def routeAndEncode(vecs: DataFrame,
      cents: DataFrame, codebook: DataFrame,
      broadcastCap: Long = centBroadcastCap): DataFrame =
    routeAndEncode(vecs, encodeModel(cents, codebook, broadcastCap))

  /** Coarse route + PQ encode of arriving vectors against an index's
    * model — the one kernel behind REFRESH's delta, the streaming VECTOR
    * gate and `VectorStreams.routeAndEncode`. Rows are bit-identical to
    * BUILD's assign/codes for the same vectors (the parity spec pins both
    * join forms). The centroid side broadcasts as one row while k is
    * under [[centBroadcastCap]] and the argmax carries `vq` through to
    * the encode; past the cap, the shuffled-agg argmax keeps no per-node
    * structure ∝ k and joins `vq` back. The M×k codebook is 64 rows,
    * always broadcast. On a streaming `vecs` with static model frames the
    * broadcast form is stream–static joins only: no state store. */
  private[graft] def routeAndEncode(vecs: DataFrame,
      model: EncodeModel): DataFrame = {
    val vq = vecs.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000).cast("long")).as("vq"))
    val routed = model.centsOne match {
      case Some(one) => assignArgmaxBroadcast(vq, model.cents, Some(one))
      case None =>
        assignArgmaxShuffled(vq, model.cents, Seq.empty).join(vq, "vec_id")
    }
    routed.crossJoin(broadcast(model.book))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        GraftFunctions.pq_codes_l(col("vq"), col("book"), pqSub).as("codes"))
  }

  /** Exact squared-L2 top-3 ground truth for the planted query set — the
    * labeled brute-force baseline (broadcast queries × corpus, the s90
    * shape) shared by s102's recall audit and s105's health card. */
  private def exactTop3(s: SparkSession, d: String,
      baseOpt: Option[DataFrame] = None): DataFrame = {
    // baseOpt narrows the ground-truth universe (s111's sampled card);
    // default is the whole corpus
    val base = baseOpt.getOrElse(
      quantizedVecs(s, d).select(col("vec_id"), col("vq")))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("dq").asc, col("neighbor_id").asc)
    base
      .crossJoin(broadcast(plantedQueries(s, d)
        .select(col("q_id"), col("qv"))))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        l2q(col("qv"), col("vq")).as("dq"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("neighbor_id"))
  }

  /** s104: fresh-segment search over the REAL index delta — the
    * immutable index serves exactly the vectors its stored coverage
    * holds; the fresh segment is corpus ∖ coverage ([[coveredIds]] —
    * the SAME assign∩codes set `REFRESH VECTOR INDEX` drains,
    * [[VectorIndex.refresh]]), found by a LEFT ANTI join on vec_id —
    * never a synthesized id slice. The fresh
    * delta is brute-forced EXACTLY against the broadcast queries, the
    * indexed tier is the s101 ADC chain over the stored frames, and the
    * two per-segment top-3 lists merge into a global top-3 (both sides
    * are squared-L2 in the same integer units; per-side top-3 then
    * global top-3 is lossless). On a fully-refreshed index the delta is
    * EMPTY and the query degenerates to the indexed tier — the honest
    * answer, and what the DuckDB oracle (whose assignment is complete by
    * construction) mirrors; the non-empty lifecycle is pinned by the
    * EngineSqlSpec build→ingest→serve→refresh test. Scale shape: the
    * delta anti-join is a corpus×assignment equi-join on vec_id — both
    * sides corpus-sized, so it MUST be free to shuffle; the shuffle_hash
    * hint pins the hash (not sort-merge) strategy deterministically at
    * every SF, with the slim (vec_id) assignment projection as build
    * side. The fresh scan itself is map-side against |queries| broadcast
    * rows; no other new corpus-sized exchange anywhere. */
  private[graft] def deltaSearch(s: SparkSession, d: String): DataFrame =
    twoTierServe(s, d, plantedQueries(s, d), k = 3)

  /** The two-tier serve kernel behind [[deltaSearch]] (s104) and the
    * production [[searchVectors]] API: indexed-tier ADC over the stored
    * (or inline-trained) artifacts, exact brute force over the fresh
    * delta, lossless per-side-then-global top-k merge. `queries` is the
    * NORMALIZED frame (q_id, qv, qn) — quantized integer components plus
    * the squared norm, exactly [[plantedQueries]]'s shape — so every
    * caller shares one plan and the s104 oracle also pins this kernel. */
  private def twoTierServe(s: SparkSession, d: String,
      queries: DataFrame, k: Int): DataFrame = {
    val base = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
    val ((centroids, assign, codebook, codes), stored) =
      artifactFramesStored(s, d)
    val wr = Window.partitionBy("q_id")
      .orderBy(col("dq").asc, col("neighbor_id").asc)
    val indexedTop =
      ivfpqSearchOn(s, d, centroids, assign, codebook, codes, k = k,
          queriesOpt = Some(queries))
        .select(col("q_id"), col("neighbor_id"),
          col("adq").as("dq"), lit("indexed").as("tier"))
    // coverage per [[coveredIds]] — assign ∩ codes when the stored
    // counts disagree (straggler), assign alone otherwise
    val deltaTop = base
      .join(coveredIds(assign, codes, stored).hint("shuffle_hash"),
        Seq("vec_id"), "left_anti")
      .crossJoin(broadcast(queries.select(col("q_id"), col("qv"))))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        l2q(col("qv"), col("vq")).as("dq"), lit("fresh").as("tier"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .drop("rnk")
    indexedTop.union(deltaTop)
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("neighbor_id"), col("tier"),
        round(col("dq").cast("double") / 1e12, 6).as("sq_dist"))
  }

  /** PRODUCTION serve API: two-tier IVF-PQ top-k over ARBITRARY query
    * vectors — the piece every prior serve path hardwired to the planted
    * fixture. `queries` carries (q_id: long, embedding: array<numeric>)
    * with the corpus dimensionality (64); components are quantized with
    * the corpus's own 1e-6 grid so query-vs-code distances live in the
    * same integer units as BUILD wrote. Output is s104's schema —
    * (q_id, neighbor_id, tier, sq_dist) — with tier marking whether the
    * neighbor came off the immutable index or the fresh (not yet
    * refreshed) delta. Scale shape inherited from the kernel: queries
    * broadcast (serve batches are query-bounded, never corpus-sized),
    * the corpus is touched once by the ADC chain and once by the
    * anti-join; k and |queries| only size the broadcast and the final
    * window. Reference analog: IndexScanNode serving arbitrary probe
    * keys against a stored index (plans/IndexScanNode.java:17-51), not
    * just the keys the build happened to see. */
  def searchVectors(s: SparkSession, d: String,
      queries: DataFrame, k: Int = 3): DataFrame = {
    // dimension contract enforced IN the plan: a wrong-width query would
    // otherwise slice short subvectors and ADC-score garbage silently —
    // the worst failure mode for a serving API. raise_error rides the
    // same projection, so the check is free row-parallel work, not a
    // driver-side pre-pass over the caller's frame.
    val dim = VectorIndex.pqM * pqSub
    val q = queries
      .select(col("q_id").cast("long").as("q_id"),
        when(size(col("embedding")) =!= dim,
          raise_error(concat(lit(s"searchVectors: query dimension "),
            size(col("embedding")).cast("string"),
            lit(s" does not match the corpus dimension $dim (q_id "),
            col("q_id").cast("string"), lit(")"))))
          // non-finite guard BEFORE quantization: CAST(NaN AS LONG) is 0
          // and Infinity saturates, so a NaN/Inf/null-component query
          // would otherwise quantize to a VALID-looking vector and serve
          // confidently wrong neighbors — the same silent failure mode
          // as a short slice, so the same in-plan raise
          .when(nonFiniteComponent(col("embedding")),
            raise_error(concat(
              lit("searchVectors: non-finite or null component in " +
                "query embedding (q_id "),
              col("q_id").cast("string"), lit(")"))))
          .otherwise(transform(col("embedding"),
            x => round(x.cast("double") * 1000000).cast("long"))).as("qv"))
      .withColumn("qn", dotl(col("qv"), col("qv")))
    twoTierServe(s, d, q, k)
  }

  /** The MMR greedy kernel shared by s109 (brute-force shortlist), s110
    * and the production [[searchVectorsDiversified]] (indexed shortlist):
    * per query, greedily pick argmax wRel·rel − wRed·maxSim(candidate,
    * already-selected) over the remaining shortlist, ties on vec_id.
    * `shortlist` carries exactly (q_id, vec_id, rel, emb) — exact integer
    * relevance and quantized integer components — so every value the
    * greedy compares is an exact integer and two engines cannot disagree
    * in the last ulp. Groups are shortlist-bounded (tens of rows), so the
    * O(kSel·n²) pairwise work runs in ONE task per query inside
    * mapGroups — never a corpus join; this is the legitimate use of the
    * iterative escape hatch (an inherently sequential kernel over a
    * bounded group). */
  private def mmrGreedy(s: SparkSession, shortlist: DataFrame, kSel: Int,
      wRel: Long = 7L, wRed: Long = 3L): DataFrame = {
    import s.implicits._
    shortlist.as[(Long, Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long,
          it: Iterator[(Long, Long, Long, Seq[Long])]) =>
        def dotL(a: Seq[Long], b: Seq[Long]): Long = {
          var acc = 0L; var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }
          acc
        }
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.toSeq.sortBy(_._2): _*)
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Seq[Long])]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Long)]
        var rank = 1
        while (rank <= kSel && remaining.nonEmpty) {
          def score(c: (Long, Long, Long, Seq[Long])): Long = {
            val maxSim =
              if (selected.isEmpty) 0L
              else selected.iterator.map(p => dotL(c._4, p._2)).max
            wRel * c._3 - wRed * maxSim
          }
          val best = remaining.minBy(c => (-score(c), c._2))
          out += ((qid, rank, best._2, score(best)))
          selected += ((best._2, best._4))
          remaining -= best
          rank += 1
        }
        out.iterator
      }
      .toDF("q_id", "rank", "vec_id", "mmr_score_q")
  }

  /** PRODUCTION diversified serve: MMR over the INDEXED shortlist — the
    * composition of [[searchVectors]] (two-tier IVF-PQ top-shortK at index
    * price) and [[mmrGreedy]] (exact-integer λ-weighted reranking), so a
    * retrieval caller gets non-redundant neighbors without ever paying
    * s109's brute-force shortlist. `lambdaTenths` is λ in tenths (7 =
    * λ 0.7, the s109 convention): score = λ·rel − (1−λ)·maxSim in
    * deci-units, every operand an exact integer.
    *
    * Scale shape: stage 1 is the serve kernel verbatim (queries
    * broadcast, one ADC chain + one coverage anti-join over the corpus);
    * stage 2 adds ONE corpus touch — a broadcast semi-probe of the
    * |q|·shortK-bounded shortlist ids against the quantized scan to fetch
    * exact components (rerank reads true vectors, the standard two-stage
    * retrieval discipline) — and the greedy itself is per-query work over
    * shortK rows. No new corpus-sized exchange anywhere; the plan guard
    * pins it. SQL face: `SEARCH VECTORS USING t TOP k DIVERSIFY <λ>`. */
  def searchVectorsDiversified(s: SparkSession, d: String,
      queries: DataFrame, k: Int = 3, shortK: Int = 10,
      lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1 && shortK >= k,
      s"DIVERSIFY needs 1 <= k <= shortK; got k=$k shortK=$shortK")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"DIVERSIFY lambda is a weight in [0,1] in tenths; got $lambdaTenths")
    val sl = searchVectors(s, d, queries, k = shortK)
      .select(col("q_id"), col("neighbor_id"))
    // exact integer components for rerank: candidates via a broadcast
    // probe of the bounded shortlist against the quantized corpus scan;
    // query components re-derive through the same quantization
    // searchVectors used (identical IEEE ops on identical inputs)
    val eI = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
    val cand = eI.join(broadcast(sl),
        eI("vec_id") === sl("neighbor_id"))
      .select(col("q_id"), col("vec_id"), col("vq").as("emb"))
    val qv = queries
      .select(col("q_id").cast("long").as("q_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")).as("q_emb"))
    val withRel = cand.join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"),
        dotl(col("q_emb"), col("emb")).as("rel"), col("emb"))
    mmrGreedy(s, withRel, kSel = k,
      wRel = lambdaTenths.toLong, wRed = (10 - lambdaTenths).toLong)
  }

  /** s105: the one-row index HEALTH CARD — what production actually
    * serves (the s104 stale-index + fresh-delta path) audited against
    * exact ground truth, plus the segment accounting that decides when to
    * rebuild. Every input is a bounded frame: corpus-sized work is one
    * segment-count aggregate and the ground-truth baseline's broadcast
    * scan; the card assembles 1-row aggregates by cross join (d99's
    * pattern). Integer hit counts make every derived rate engine-exact. */
  private[graft] def indexHealth(s: SparkSession, d: String): DataFrame = {
    val base = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
    // segment accounting against the REAL stored coverage
    // ([[coveredIds]] — the same set the s104 delta and REFRESH use; one
    // LEFT join on vec_id, same shuffle_hash discipline) — so n_fresh is
    // the true corpus ∖ servable count
    val ((_, assign, _, codes), stored) = artifactFramesStored(s, d)
    val cnt = base.select("vec_id")
      .join(coveredIds(assign, codes, stored)
          .select(col("vec_id"), lit(1).as("ix"))
        .hint("shuffle_hash"), Seq("vec_id"), "left")
      .agg(sum(when(col("ix").isNotNull, 1L).otherwise(0L))
          .as("n_indexed"),
        sum(when(col("ix").isNull, 1L).otherwise(0L))
          .as("n_fresh"))
    // served is |queries|·k rows consumed TWICE (recall hits + fresh-tier
    // count); materializing it runs the two-tier serve chain once (the
    // q73/d96 pruning-fork mechanics make subtree reuse unreliable).
    // CONFIRMED r14 by interleaved same-JVM A/B vs the uncheckpointed
    // baseline: wash at min-of-5 (2.813 vs 2.764), ckpt ahead at
    // min-of-7 (2.220 vs 2.432); kept on the structural argument (the
    // serve chain runs once, guaranteed, at any scale).
    val served = Graft.cut(deltaSearch(s, d))
    val hits = exactTop3(s, d)
      .join(served.select(col("q_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
      .agg(sum(col("n_hits")).cast("long").as("total_hits"),
        count(lit(1)).as("n_queries"))
    val freshServed = served.agg(
      sum(when(col("tier") === "fresh", 1L).otherwise(0L))
        .as("n_fresh_served"))
    healthCardSelect(cnt.crossJoin(hits).crossJoin(freshServed),
      mid = Seq("n_fresh_served"))
  }

  /** The health-card projection BOTH cards share — segment rates,
    * recall@3, and the rebuild verdict. The formula and the fresh-
    * fraction threshold (≥ 5%) live here once; the recall threshold is
    * a parameter because the two cards measure DIFFERENT recalls with
    * different healthy plateaus: s105 audits the served path against
    * full-corpus ground truth (healthy ≈ 1.0, alert < 0.7), while
    * s111's within-sample recall includes PQ rank-shuffling among
    * uniformly-distant sampled strangers (healthy ≈ 0.40–0.43 measured
    * stable from sf0.001 to ×1000, alert < 0.25 ≈ a 40% relative drop).
    * One threshold for both would false-alarm on every fresh index
    * (measured: a perfect ×1000 index read 0.40 on the sampled card).
    * `mid` columns slot between the segment and recall fields (s105's
    * n_fresh_served). */
  private def healthCardSelect(df: DataFrame, mid: Seq[String],
      recallAlert: Double = 0.7): DataFrame =
    df.select(Seq(col("n_indexed"), col("n_fresh"),
      round(col("n_fresh").cast("double") /
        (col("n_indexed") + col("n_fresh")).cast("double"), 6)
        .as("fresh_frac")) ++
      mid.map(col) ++ Seq(
      col("total_hits"), col("n_queries"),
      round(col("total_hits").cast("double") /
        (col("n_queries") * 3).cast("double"), 6)
        .as("mean_recall_at_3"),
      (col("n_fresh").cast("double") /
        (col("n_indexed") + col("n_fresh")).cast("double") >= 0.05 ||
        col("total_hits").cast("double") <
          col("n_queries").cast("double") * 3 * recallAlert)
        .as("rebuild")): _*)

  /** s111: the QUERY-CADENCE variant of the s105 health card. s105 is
    * linear by design — its exact ground truth deliberately scans the
    * whole corpus (16.4 s at ×1000, SCALE.md), which is right at AUDIT
    * cadence and wrong between audits. This card computes the same
    * signals over the deterministic `vec_id % 23 = 5 OR vec_id < 10`
    * sample universe:
    * exact top-3 among sampled vectors vs the ADC tier restricted to the
    * same sample — exact ON THE SAMPLE, so it stays hash-comparable
    * against DuckDB while the heavy O(n·d·|q|) distance work drops to
    * the sample fraction (~4%). Staleness damage still shows: a sampled
    * vector outside the stored coverage is invisible to the ADC tier and
    * costs recall, and the segment accounting reports the sampled fresh
    * fraction. Plain-modulo sampling keeps the two engines trivially
    * aligned; a deployment with sparse/skewed ids should swap in
    * pmod(xxhash64(vec_id), m) — same plan, engine-local choice. */
  private[graft] def indexHealthSampled(s: SparkSession, d: String)
      : DataFrame = {
    // The sample must CONTAIN the audit queries' home neighborhood
    // (vec_id < 10 — the planted sources): with a pure random slice the
    // "exact top-3 within the sample" are uniformly-distant strangers
    // whose ADC ranks reshuffle under quantization noise, and the card
    // read 0.13 recall on a FRESHLY-BUILT perfect index at ×1000 (a
    // false rebuild alarm). Seeding the sample with the sources gives
    // the card s105-comparable semantics: a healthy index finds the
    // planted neighbor (high recall), staleness and drift pull it down.
    val samp = col("vec_id") % 23 === 5 || col("vec_id") < 10
    val ((cents, assign, book, codes), stored) = artifactFramesStored(s, d)
    val base = quantizedVecs(s, d).filter(samp)
      .select(col("vec_id"), col("vq"))
    val cnt = base.select("vec_id")
      .join(coveredIds(assign, codes, stored)
          .select(col("vec_id"), lit(1).as("ix"))
        .hint("shuffle_hash"), Seq("vec_id"), "left")
      .agg(sum(when(col("ix").isNotNull, 1L).otherwise(0L))
          .as("n_indexed"),
        sum(when(col("ix").isNull, 1L).otherwise(0L))
          .as("n_fresh"))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("dq").asc, col("neighbor_id").asc)
    val exact = base
      .crossJoin(broadcast(plantedQueries(s, d)
        .select(col("q_id"), col("qv"))))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        l2q(col("qv"), col("vq")).as("dq"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("neighbor_id"))
    // ADC tier over the SAME sample universe: restricting the coverage
    // frames before candidate generation ≡ restricting scored rows after
    // (per-row scores commute with the filter) — the oracle filters
    // after, this side filters before so only sampled codes are read
    val approx = ivfpqSearchOn(s, d, cents, assign.filter(samp), book,
      codes.filter(samp), k = 3)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
    val hits = exact
      .join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
      .agg(sum(col("n_hits")).cast("long").as("total_hits"),
        count(lit(1)).as("n_queries"))
    healthCardSelect(cnt.crossJoin(hits), mid = Nil, recallAlert = 0.25)
  }

  /** PQ asymmetric-distance (ADC) top-k: queries stay raw, the corpus is
    * its 8-byte PQ codes; per query a |m|·|k|-entry lookup table of exact
    * subspace distances broadcasts, and each corpus vector's approximate
    * distance is m map-side map lookups over its codes.
    *
    * Train/serve split like [[ivfpqSearch]]: a stored [[VectorIndex]]
    * with MATCHING training params supplies codebook + codes (the serve
    * plan reads two index tables and trains nothing); otherwise the
    * codebook trains inline. */
  private[graft] def pqAdcSearch(s: SparkSession, d: String, m: Int,
      k: Int, iters: Int, nq: Int, topk: Int): DataFrame = {
    val stored =
      if (m == VectorIndex.pqM && k == VectorIndex.pqK &&
        iters == VectorIndex.pqIters) VectorIndex.served(s, d)
      else None
    stored match {
      case Some(ix) => pqAdcSearchOn(s, d, m, ix.codebook, ix.codes, nq, topk)
      case None =>
        val (base, _, trained) = pqParts(s, d, m, k, iters)
        val codes = pqEnc(base, trained)
          .select(col("vec_id"),
            transform(col("enc"), x => x("cid")).as("codes"))
        pqAdcSearchOn(s, d, m, trained, codes, nq, topk)
    }
  }

  /** The ADC serve pipeline against explicit codebook/codes frames. */
  private def pqAdcSearchOn(s: SparkSession, d: String, m: Int,
      codebook: DataFrame, codes: DataFrame, nq: Int,
      topk: Int): DataFrame = {
    // query subvectors: nq-bounded, straight off the corpus scan (the
    // queries stay RAW vectors — that is the asymmetric in ADC)
    val qsubs = quantizedVecs(s, d).select(col("vec_id"), col("vq"))
      .filter(col("vec_id") < nq)
      .select(col("vec_id"), explode(transform(
        sequence(lit(0), lit(m - 1)),
        mm => struct(mm.as("m"),
          slice(col("vq"), mm * pqSub + 1, lit(pqSub)).as("sv")))).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
    // per-query LUT: |queries|×m×k exact subspace distances; keyed
    // m*100+cid (a dropped empty cluster cannot shift the keying) and
    // UNPACKED into a dense m·100-slot array per query — element_at on
    // an ARRAY is O(1) where the map lookup scanned all m·k entries per
    // code (see ivfpqCandidates); missing keys hold null, exactly the
    // map's answer, so scores are bit-identical
    val lut = qsubs
      .select(col("vec_id").as("q_id"), col("m"), col("sv"))
      .join(broadcast(codebook), "m")
      .select(col("q_id"),
        (col("m") * 100 + col("cid")).cast("long").as("key"),
        l2q(col("sv"), col("cq")).as("dq"))
      .groupBy("q_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("key"), col("dq"))))).as("qmap"))
      .select(col("q_id"), transform(
        sequence(lit(0L), lit(m * 100L - 1)),
        i => element_at(col("qmap"), i)).as("qlut"))
      .agg(collect_list(struct(col("q_id"), col("qlut"))).as("qs"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adq").asc, col("neighbor_id").asc)
    codes.crossJoin(broadcast(lut))
      .select(col("vec_id"), col("codes"), explode(col("qs")).as("q"))
      .select(col("vec_id").as("neighbor_id"), col("q")("q_id").as("q_id"),
        aggregate(zip_with(col("codes"),
            sequence(lit(0), lit(m - 1)),
            (code, mm) => element_at(col("q")("qlut"),
              (mm * 100 + code + lit(1)).cast("int"))),
          lit(0L), (a, x) => a + x).as("adq"))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topk)
      .select(col("q_id"), col("neighbor_id"),
        round(col("adq").cast("double") / 1e12, 6).as("approx_sq"))
  }

  /** s99/s100 oracle chain: the same per-subspace Lloyd unrolled as CTEs —
    * assignment is ROW_NUMBER per (vec_id, m) by exact-integer squared L2
    * (ties → smaller cid), recentering the same ROUND(SUM/COUNT), so every
    * iteration agrees bit-for-bit with the engine. Ends at a{iters+1} =
    * the final per-(vec_id, m) code assignment with its distance. `cn`
    * renames the component CTE so the chain can compose with ivfCtes
    * (which owns the name `comp`) in one WITH clause. */
  private def pqChainCtes(k: Int, iters: Int, cn: String = "comp"): String = {
    def assignCte(i: Int, p: Int, keepDist: Boolean) = {
      val distCol = if (keepDist) ", dist" else ""
      s"""a$i AS (
         |  SELECT vec_id, m, cid$distCol FROM (
         |    SELECT vec_id, m, cid, dist,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |                              ORDER BY dist, cid) AS rnk
         |    FROM (SELECT s.vec_id, s.m, c.cid,
         |                 SUM((s.xq - c.cq) * (s.xq - c.cq)) AS dist
         |          FROM sub s JOIN c$p c ON c.m = s.m AND c.jj = s.jj
         |          GROUP BY 1, 2, 3))
         |  WHERE rnk = 1)"""
    }
    def centCte(i: Int) =
      s"""c$i AS (
         |  SELECT a.m, a.cid, s.jj,
         |         CAST(ROUND(CAST(SUM(s.xq) AS DOUBLE) / COUNT(*))
         |              AS BIGINT) AS cq
         |  FROM a$i a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
         |  GROUP BY 1, 2, 3)"""
    val chain = (1 to iters).map { i =>
      s"${assignCte(i, i - 1, keepDist = false)},\n${centCte(i)}"
    }.mkString(",\n")
    s"""$cn AS (
       |  SELECT vec_id, j - 1 AS j0,
       |         CAST(ROUND(x * 1000000) AS BIGINT) AS xq
       |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
       |               generate_subscripts(embedding, 1) AS j
       |        FROM embeddings)),
       |sub AS (SELECT vec_id, j0 // 8 AS m, j0 % 8 AS jj, xq FROM $cn),
       |c0 AS (SELECT j0 // 8 AS m, vec_id AS cid, j0 % 8 AS jj, xq AS cq
       |       FROM $cn WHERE vec_id < $k),
       |$chain,
       |${assignCte(iters + 1, iters, keepDist = true)}""".stripMargin
  }

  private def pqOracleSql(m: Int, k: Int, iters: Int): String =
    s"""WITH ${pqChainCtes(k, iters)}
       |SELECT vec_id,
       |       string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS codes,
       |       ROUND(CAST(SUM(dist) AS DOUBLE) / 1e12, 6) AS sq_err
       |FROM a${iters + 1}
       |GROUP BY vec_id""".stripMargin

  /** s100 oracle: LUT = exact subspace distances query×codebook; approx
    * distance = Σ over the corpus codes; top-k per query (ties → smaller
    * neighbor id), self excluded. */
  private def pqAdcOracleSql(k: Int, iters: Int, nq: Int,
      topk: Int): String =
    s"""WITH ${pqChainCtes(k, iters)},
       |qsub AS (SELECT vec_id AS q_id, m, jj, xq FROM sub
       |         WHERE vec_id < $nq),
       |lut AS (
       |  SELECT q.q_id, c.m, c.cid,
       |         SUM((q.xq - c.cq) * (q.xq - c.cq)) AS dq
       |  FROM qsub q JOIN c$iters c ON c.m = q.m AND c.jj = q.jj
       |  GROUP BY 1, 2, 3),
       |approx AS (
       |  SELECT l.q_id, a.vec_id, SUM(l.dq) AS adq
       |  FROM a${iters + 1} a JOIN lut l ON l.m = a.m AND l.cid = a.cid
       |  GROUP BY 1, 2)
       |SELECT q_id, vec_id AS neighbor_id,
       |       ROUND(CAST(adq AS DOUBLE) / 1e12, 6) AS approx_sq
       |FROM (SELECT q_id, vec_id, adq,
       |             ROW_NUMBER() OVER (PARTITION BY q_id
       |                                ORDER BY adq, vec_id) AS rnk
       |      FROM approx WHERE vec_id <> q_id)
       |WHERE rnk <= $topk""".stripMargin

  /** Distributed Lloyd (see s98's QueryDef doc for the plan shape); exposed
    * so the spec can compare the trained codebook (`iters` > 0) against the
    * raw seed codebook (`iters` = 0) on the same objective. */
  private[graft] def kmeansTrain(
      s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    val e = quantizedVecs(s, d)
      .select(col("vec_id"), col("vq"))
      .withColumn("nq", dotl(col("vq"), col("vq")))
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("vq").as("cq"),
        col("nq").as("ncq"))
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents.agg(
          sort_array(collect_list(
            struct(col("cid"), col("cq"), col("ncq")))).as("cents"))))
        .select(col("vec_id"), col("vq"),
          array_max(transform(col("cents"), c =>
            struct(
              cosQ(dotl(col("vq"), c("cq")), col("nq"), c("ncq"))
                .as("sim"),
              (-c("cid")).as("ncid")))).as("best"))
        .select(col("vec_id"), col("vq"),
          (-col("best")("ncid")).as("cid"), col("best")("sim").as("sim"))
    def recenter(asg: DataFrame): DataFrame =
      asg.groupBy(col("cid"))
        .agg(GraftFunctions.vector_sum_l(col("vq")).as("vsum"),
          count(lit(1)).as("cnt"))
        .select(col("cid"),
          transform(col("vsum"),
            sq => round(sq.cast("double") / col("cnt")).cast("long"))
            .as("cq"))
        .withColumn("ncq", dotl(col("cq"), col("cq")))
    val trained = (1 to iters).foldLeft(seeds)(
      (c, _) => recenter(assign(c)))
    assign(trained).select(col("vec_id"), col("cid").as("cluster"),
      round(col("sim"), 6).as("sim"))
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: partition the vector
  * space with k-means, then search only the `nprobe` clusters whose
  * centroids are nearest to the query — the classic trade of recall for a
  * k/nprobe-fold reduction in candidates. At 100 TB: the index build is a
  * fixed number of Lloyd passes (each one broadcast-join + keyed agg over
  * the corpus); search is a centroid broadcast (k × dim doubles — tiny),
  * a cluster-keyed join (never all-pairs), and a per-query top-k window.
  *
  * The k-means fit is a DETERMINISTIC, SQL-reproducible Lloyd's loop
  * (replacing the earlier MLlib fit, whose k-means|| init is not
  * reproducible outside Spark): initial centroids are the k
  * smallest-vec_id vectors; each E-step assigns by squared Euclidean
  * distance with ties broken on cluster id; each M-step computes
  * per-dimension means as vec_id-ordered left folds (the bit-identical
  * cross-engine summation proven by ext_label_centroid); iteration count
  * is fixed. Empty clusters simply drop out of the M-step group-by —
  * identically on every engine. Centroids are collected to the driver
  * between passes and re-broadcast as literals — k × dim doubles, the
  * same driver sync MLlib's own Lloyd iteration performs; doubles
  * round-trip the driver bit-exactly. A production run would persist the
  * base projection across passes; semantics are unchanged without it.
  *
  * Exact cosine within probed clusters reuses the fold formulation
  * (ExtQueries.dotFold) so IVF results are comparable to the brute-force
  * baseline in IvfSpec's recall measurement.
  */
object Ivf {

  private[ext] val dotFold =
    "aggregate(zip_with(%s, %s, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  private val sqDistFold =
    "aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"

  /** Strict left fold of one group's values in vec_id order — grouped
    * double SUM is partition-order-dependent; this is not (see
    * ext_label_centroid's rationale).
    */
  private val orderedMean =
    "aggregate(transform(array_sort(collect_list(struct(vec_id, v))), x -> x.v), 0D, (a, x) -> a + x)"

  final case class Index(assigned: DataFrame, centroids: DataFrame)

  /** One E-step: nearest centroid by squared Euclidean distance, ties to
    * the smaller cluster id. Keeps every base column (callers carry
    * different payloads — the IVF path has `nrm`, the PQ path doesn't).
    */
  private[ext] def assign(base: DataFrame, cents: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"dist", $"cluster")
    base.crossJoin(broadcast(cents.select(col("cluster"), col("ce"))))
      .withColumn("dist", expr(sqDistFold.format("e", "ce")))
      .withColumn("rk", row_number().over(w))
      .where($"rk" === 1)
      .select(base.columns.toIndexedSeq.map(col) :+ $"cluster": _*)
  }

  /** One M-step: per-(cluster, dimension) ordered-fold mean, reassembled
    * into centroid arrays, collected (k × dim doubles) for the next pass.
    */
  private def meanCentroids(assigned: DataFrame): Seq[(Int, Seq[Double])] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .select($"cluster", $"vec_id", posexplode($"e"))
      .toDF("cluster", "vec_id", "pos", "v")
      .groupBy($"cluster", $"pos")
      .agg((expr(orderedMean) / count(lit(1)).cast("double")).as("c"))
      .groupBy($"cluster")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
        .as("ce"))
      .as[(Int, Seq[Double])]
      .collect().toSeq.sortBy(_._1)
  }

  private def centroidsDf(
      spark: SparkSession, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cluster", "ce")
  }

  /** Sub-keyed E-step — [[assign]] for a frame that carries a `sub`
    * column (the PQ subspace id): nearest centroid of the SAME sub by
    * squared Euclidean distance, ties to the smaller cluster id. The
    * per-(sub, vec_id) window reproduces [[assign]]'s per-vec_id
    * tie-break within each subspace exactly.
    */
  private[ext] def assignSub(base: DataFrame, cents: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"sub", $"vec_id").orderBy($"dist", $"cluster")
    base.join(broadcast(cents.select($"sub", $"cluster", $"ce")), Seq("sub"))
      .withColumn("dist", expr(sqDistFold.format("e", "ce")))
      .withColumn("rk", row_number().over(w))
      .where($"rk" === 1)
      .select(base.columns.toIndexedSeq.map(col) :+ $"cluster": _*)
  }

  /** `(sub, cluster, ce)` rows as a broadcastable literal frame. */
  private[ext] def centsSubDf(spark: SparkSession,
      cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("sub", "cluster", "ce")
  }

  /** All m PQ subspace fits as ONE sub-keyed Lloyd chain over a
    * `(vec_id, sub, e)` frame. The m fits are independent, so they used
    * to run as m concurrent driver-synced chains — m seed collects plus
    * m·iters M-step collects, each a multi-stage Spark job; this runs
    * the identical math batched: one seed job + `iters` M-step jobs do
    * every subspace's work at once (measured round 14: the IVF-PQ query
    * dropped from ~22 driver-synced actions to ~10). Per-(sub, …)
    * grouping and windows keep each fit's formulation — k smallest-
    * vec_id seeds, squared-distance tie-breaks, vec_id-ordered M-step
    * folds — bit-identical to the sequential per-subspace fits and to
    * the DuckDB oracle's per-subspace CTE chains.
    */
  private[ext] def fitSub(base: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // seeds: the k smallest-vec_id vectors per sub; cluster id = rank-1
    // (exactly [[fit]]'s orderBy(vec_id).limit(k).zipWithIndex per sub)
    val wSeed = Window.partitionBy($"sub").orderBy($"vec_id")
    var cents: Seq[(Int, Int, Seq[Double])] = base
      .withColumn("rk", row_number().over(wSeed))
      .where($"rk" <= k)
      .select($"sub", ($"rk" - 1).as("cluster"), $"e")
      .as[(Int, Int, Seq[Double])]
      .collect().toSeq.sortBy(t => (t._1, t._2))
    for (_ <- 1 to iters)
      cents = assignSub(base, centsSubDf(spark, cents))
        .select($"sub", $"cluster", $"vec_id", posexplode($"e"))
        .toDF("sub", "cluster", "vec_id", "pos", "v")
        .groupBy($"sub", $"cluster", $"pos")
        .agg((expr(orderedMean) / count(lit(1)).cast("double")).as("c"))
        .groupBy($"sub", $"cluster")
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("ce"))
        .as[(Int, Int, Seq[Double])]
        .collect().toSeq.sortBy(t => (t._1, t._2))
    centsSubDf(spark, cents)
  }

  /** `iters` deterministic Lloyd passes over a `(vec_id, e, …)` frame
    * from the k smallest-vec_id seeds; returns the final centroids.
    * Shared by the IVF index build and the per-subspace PQ codebook fit.
    */
  private[ext] def fit(
      base: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = base.sparkSession
    import spark.implicits._
    var cents: Seq[(Int, Seq[Double])] = base
      .orderBy($"vec_id").limit(k)
      .select($"e").as[Seq[Double]].collect().toSeq
      .zipWithIndex.map { case (e, i) => (i, e) }
    for (_ <- 1 to iters)
      cents = meanCentroids(assign(base, centroidsDf(spark, cents)))
    cents
  }

  /** Build the index: `iters` deterministic Lloyd passes from the k
    * smallest-vec_id seeds. `assigned` carries (vec_id, e, nrm, cluster)
    * under the FINAL centroids; `centroids` is ≤ k rows of
    * (cluster, ce, cnrm).
    */
  /** The shared (vec_id, e, nrm) projection of an embeddings frame. */
  private def project(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .withColumn("nrm", expr(s"sqrt(${dotFold.format("e", "e")})"))
  }

  /** Assign NEW vectors to an existing index's FROZEN centroids — one
    * E-step, no refit: the incremental-ingest path. A production ANN
    * service absorbs a delta load this way (re-clustering a 100 TB
    * corpus per ingest is a non-starter); the index drifts from optimal
    * as the distribution moves, which the PSI/KS monitors are for, and
    * a periodic rebuild restores it. Returns (vec_id, e, nrm, cluster)
    * like [[build]]'s `assigned`. No materialization point here: unlike
    * [[build]]'s multi-pass reads, the projection feeds exactly one
    * E-step join.
    */
  def assignNew(index: Index, emb: DataFrame): DataFrame =
    assign(project(emb), index.centroids)

  def build(emb: DataFrame, k: Int, iters: Int = 2): Index = {
    // persisted across passes: seeds + each Lloyd E-step + the final
    // assignment all read this projection — one scan, not iters+2
    buildOn(graft.queries.Mat(project(emb)), k, iters)
  }

  /** [[build]] with a CORPUS-SCALED cluster count, k = max(kMin, ⌈√N⌉)
    * — the published IVF sizing rule (FAISS: cells ≈ √N), which keeps
    * the Lloyd assignment N·k at N^1.5 instead of the N² a
    * constant-cluster-size law costs. N comes from the SAME
    * materialized projection every Lloyd pass reads (a count over the
    * checkpointed blocks), not a separate scan of the source — at
    * 100 TB a standalone count() is a whole extra corpus pass. Returns
    * the index, the k it chose, and N (callers derive relative caps
    * from both).
    */
  def buildScaled(emb: DataFrame, kMin: Long, iters: Int)
      : (Index, Long, Long) = {
    val base = graft.queries.Mat(project(emb))
    val n = base.count()
    val k = math.max(kMin, math.ceil(math.sqrt(n.toDouble)).toLong)
    (buildOn(base, k.toInt, iters), k, n)
  }

  private def buildOn(base: DataFrame, k: Int, iters: Int): Index = {
    val spark = base.sparkSession
    import spark.implicits._
    val centroids = centroidsDf(spark, fit(base, k, iters))
      .withColumn("cnrm", expr(s"sqrt(${dotFold.format("ce", "ce")})"))
    Index(assign(base, centroids), centroids)
  }

  // ---- DuckDB oracle generator ----
  // The same Lloyd loop unrolled as a WITH chain, one (assign, mean) CTE
  // pair per iteration — every double op mirrors the Spark side
  // one-to-one (left folds in index order; vec_id-ordered M-step sums;
  // identical tie-breaks), so the driver's hash compare is exact.

  private[graft] def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> $a[i+1]*$b[i+1]), (x,y) -> x+y)"

  private[graft] def duckSqDist(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> ($a[i+1]-$b[i+1])*($a[i+1]-$b[i+1])), (x,y) -> x+y)"

  private[graft] def duckAssign(from: String, cents: String): String =
    s"""  SELECT vec_id, e, cluster FROM (
       |    SELECT s.vec_id, s.e, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |             ${duckSqDist("s.e", "c.ce")}, c.cluster) AS rk
       |    FROM $from s CROSS JOIN $cents c)
       |  WHERE rk = 1""".stripMargin

  private def duckMean(from: String): String =
    s"""  SELECT cluster, list(c ORDER BY pos) AS ce FROM (
       |    SELECT cluster, pos,
       |           list_reduce([CAST(0 AS DOUBLE)] || list(v ORDER BY vec_id), (x,y) -> x+y)
       |             / CAST(COUNT(*) AS DOUBLE) AS c
       |    FROM (SELECT cluster, vec_id, unnest(range(len(e))) AS pos,
       |                 unnest(e) AS v FROM $from)
       |    GROUP BY 1, 2)
       |  GROUP BY 1""".stripMargin

  /** Prefix-parametrized Lloyd fit+assign chain over any `(vec_id, e)`
    * CTE: emits `<p>c0 … <p>cent, <p>asg(vec_id, e, cluster)`. Used by
    * the PQ oracle, which runs one chain per subspace.
    */
  private[graft] def duckFitAssignCtes(
      src: String, k: Int, iters: Int, p: String): String = {
    val lloyd = (1 to iters).map { i =>
      val prev = if (i == 1) s"${p}c0" else s"${p}c${i - 1}"
      s"""${p}a$i AS (
         |${duckAssign(src, prev)}),
         |${p}c$i AS (
         |${duckMean(s"${p}a$i")})""".stripMargin
    }.mkString(",\n")
    s"""${p}c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |         e AS ce
       |  FROM (SELECT vec_id, e FROM $src ORDER BY vec_id LIMIT $k)),
       |$lloyd,
       |${p}cent AS (SELECT cluster, ce FROM ${p}c$iters),
       |${p}asg AS (
       |${duckAssign(src, s"${p}cent")})""".stripMargin
  }

  /** The index build as a reusable CTE chain ending in
    * `asg(vec_id, e, nrm, cluster)` — the final assignment under the
    * converged centroids (plus `cent(cluster, ce, cnrm)`). Shared by the
    * IVF-search oracle below and the SemDeDup oracle
    * ([[graft.queries.SemanticQueries]]); parameter-matched to [[build]].
    */
  private[graft] def duckAsgCtes(k: Int, iters: Int): String = {
    val lloyd = (1 to iters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""a$i AS (
         |${duckAssign("e", prev)}),
         |c$i AS (
         |${duckMean(s"a$i")})""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e, sqrt(${duckDot("e", "e")}) AS nrm FROM e),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |         e AS ce
       |  FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT $k)),
       |$lloyd,
       |cent AS (
       |  SELECT cluster, ce, sqrt(${duckDot("ce", "ce")}) AS cnrm
       |  FROM c$iters),
       |af AS (
       |${duckAssign("e", "cent")}),
       |asg AS (
       |  SELECT a.vec_id, a.e, n.nrm, a.cluster
       |  FROM af a JOIN n ON a.vec_id = n.vec_id)""".stripMargin
  }

  /** [[duckAsgCtes]] with a DATA-DERIVED cluster count: `kExpr` is a
    * SQL aggregate over the projected corpus (e.g.
    * `GREATEST(16, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT))`) evaluated in
    * a one-row `kk` CTE; the seed CTE filters `ROW_NUMBER() - 1 < kk.k`
    * instead of `LIMIT k` (same rows — the window and the limit share
    * the vec_id order). The Lloyd chain itself is k-agnostic, so only
    * the seeding differs from the static variant. Used by the SemDeDup
    * oracle, whose k scales with corpus size (`k ≈ N / targetClusterSize`
    * — fixed k would make within-cluster pair cost quadratic in N).
    */
  private[graft] def duckAsgCtesDynK(kExpr: String, iters: Int): String = {
    val lloyd = (1 to iters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""a$i AS (
         |${duckAssign("e", prev)}),
         |c$i AS (
         |${duckMean(s"a$i")})""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e, sqrt(${duckDot("e", "e")}) AS nrm FROM e),
       |kk AS (SELECT $kExpr AS k, COUNT(*) AS n FROM e),
       |c0 AS (
       |  SELECT cluster, ce FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |           e AS ce
       |    FROM e) s CROSS JOIN kk
       |  WHERE s.cluster < kk.k),
       |$lloyd,
       |cent AS (
       |  SELECT cluster, ce, sqrt(${duckDot("ce", "ce")}) AS cnrm
       |  FROM c$iters),
       |af AS (
       |${duckAssign("e", "cent")}),
       |asg AS (
       |  SELECT a.vec_id, a.e, n.nrm, a.cluster
       |  FROM af a JOIN n ON a.vec_id = n.vec_id)""".stripMargin
  }

  /** The full build+search as one DuckDB query over `embeddings`,
    * parameter-matched to [[build]]/[[search]].
    */
  def duckOracleSql(
      k: Int, iters: Int, maxQid: Int, topK: Int, nprobe: Int): String = {
    s"""WITH ${duckAsgCtes(k, iters)},
       |q AS (
       |  SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
       |  WHERE vec_id < $maxQid),
       |probes AS (
       |  SELECT qid, qe, qn, cluster FROM (
       |    SELECT q.qid, q.qe, q.qn, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |             ${duckDot("q.qe", "c.ce")} / (q.qn * c.cnrm) DESC,
       |             c.cluster) AS crank
       |    FROM q CROSS JOIN cent c)
       |  WHERE crank <= $nprobe),
       |cand AS (
       |  SELECT p.qid, s.vec_id AS nid,
       |         ${duckDot("p.qe", "s.e")} / (p.qn * s.nrm) AS cos
       |  FROM probes p JOIN asg s ON p.cluster = s.cluster
       |  WHERE p.qid <> s.vec_id)
       |SELECT qid, rank, nid, cos FROM (
       |  SELECT qid, nid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
       |  FROM cand)
       |WHERE rank <= $topK ORDER BY qid, rank""".stripMargin
  }

  /** Normalize a `(vec_id, embedding)` frame into the query shape
    * `(qid, qe, qn)` shared by IVF search and IVF-PQ.
    */
  private[ext] def queryFrame(queries: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qe"))
      .withColumn("qn", expr(s"sqrt(${dotFold.format("qe", "qe")})"))
  }

  /** The `nprobe` nearest clusters per query by exact centroid cosine
    * (ties to the smaller cluster id): `(qid, qe, qn, cluster)`. The
    * single probe implementation both [[search]] and
    * [[Pq.searchIvfPq]] use — the tie-break and cosine formulation must
    * stay bit-identical to the oracles, so it exists exactly once.
    */
  private[ext] def probe(
      index: Index, q: DataFrame, nprobe: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val wProbe = Window.partitionBy($"qid").orderBy($"ccos".desc, $"cluster")
    q.crossJoin(broadcast(index.centroids))
      .withColumn("ccos",
        expr(dotFold.format("qe", "ce")) / ($"qn" * $"cnrm"))
      .withColumn("crank", row_number().over(wProbe))
      .where($"crank" <= nprobe)
      .select($"qid", $"qe", $"qn", $"cluster")
  }

  /** Probe the `nprobe` nearest clusters per query, exact cosine inside,
    * top-k per query.
    */
  def search(
      index: Index, queries: DataFrame, topK: Int, nprobe: Int)
      : DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probes = probe(index, queryFrame(queries), nprobe)
    val wTop = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    probes
      .join(index.assigned
        .select($"vec_id".as("nid"), $"e", $"nrm", $"cluster"),
        Seq("cluster"))
      .where($"qid" =!= $"nid")
      .withColumn("cos", expr(dotFold.format("qe", "e")) / ($"qn" * $"nrm"))
      .withColumn("rank", row_number().over(wTop))
      .where($"rank" <= topK)
      .select($"qid", $"rank", $"nid", $"cos")
  }
}

package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path. The
  * pairwise dot/norm kernel is [[VecDot]], a custom codegen expression
  * (see its scaladoc for the measured comparison against the
  * higher-order-function and unrolled-sum forms).
  *
  * Scale: brute force is O(|Q| x |C| x d) with the query side
  * broadcast — right for small query batches against a large corpus
  * (each corpus partition streams once). The LSH path shrinks the
  * candidate set per query to one bucket chain per table; recall is
  * tuned by (tables, bits) — property-tested in SimilaritySpec on
  * clustered data.
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns, computed in
    * double. The non-hot reference form: higher-order functions, which
    * Spark runs interpreted (CodegenFallback). The pairwise paths below
    * score through [[vecDot]] with results bit-identical to this form;
    * it stays as the readable definition SimilaritySpec checks.
    */
  def cosine(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    val da = d(a); val db = d(b)
    val dot = aggregate(zip_with(da, db, (x, y) => x * y), lit(0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(da, lit(0d), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(db, lit(0d), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** The pairwise-scoring kernel: [[VecDot]], a custom codegen
    * expression (one plan node, tight JIT-able loop). See VecDot's
    * scaladoc for why neither the higher-order-function form
    * (CodegenFallback — interpreted per pair) nor an unrolled term sum
    * (method past HotSpot's 8000-byte JIT ceiling; planning blow-up)
    * survives in the O(n^2) loop. Results are bit-identical to the
    * HOF form: same 0.0-seeded positional IEEE fold.
    */
  private def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftInternalAccess.exprColumn(VecDot(
      org.apache.spark.sql.GraftInternalAccess.columnExpr(a),
      org.apache.spark.sql.GraftInternalAccess.columnExpr(b)))

  /** Per-row precomputation for pairwise scoring: the vector norm is
    * hoisted out of the O(n^2) pair loop — bitwise-identical to
    * [[cosine]] (same expressions, same evaluation order) — and the
    * vector column stays the RAW float array (half the shuffle bytes
    * of the double-cast array the HOF form materialized).
    */
  private def prep(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vAlias: String, nAlias: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vAlias))
      .withColumn(nAlias, sqrt(vecDot(col(vAlias), col(vAlias))))

  /** dot(a, b) / (na * nb) over precomputed columns. */
  private def pairCos(va: Column, vb: Column, na: Column, nb: Column): Column =
    vecDot(va, vb) / (na * nb)

  /** Exact top-k cosine neighbors for each query vector. `queries` and
    * `corpus` both need (idCol, vecCol); self-matches (same id) are
    * excluded. Query side is broadcast: corpus never shuffles.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = prep(queries, idCol, vecCol, "query_id", "_qv", "_qn")
    // spread the streamed corpus over all cores: a small corpus file
    // scans as one partition, which would serialize |Q| x |C| scoring
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "_cv", "_cn")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(pairCos(col("_qv"), col("_cv"), col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold),
    * exact brute force — the oracle/verify formulation.
    */
  def nearDupPairs(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = prep(embeddings, idCol, vecCol, "id_a", "_va", "_na")
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    val b = prep(embeddings, idCol, vecCol, "id_b", "_vb", "_nb")
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(pairCos(col("_va"), col("_vb"), col("_na"), col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplanes: `tables` tables of `bits`
    * planes each, dimension `dim`, derived from a fixed seed (no
    * wall-clock, reproducible across runs). Package-visible so the
    * q18 DuckDB oracle can inline the identical constants.
    */
  private[graft] def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Exact near-duplicate pairs via BLOCKED pairwise scoring — the
    * distributed all-pairs scheme: each vector is hashed to one of
    * `blocks` blocks; every unordered block pair (i, j), i <= j,
    * becomes one join key; the left side replicates each vector to
    * tasks {(own, j) | j >= own}, the right side to
    * {(i, own) | i <= own}. The equi-join on the task key co-locates
    * exactly the rows of blocks i and j, so the plan is a plain
    * shuffled hash/sort-merge join — NO CartesianProduct, NO
    * BroadcastNestedLoopJoin, NO whole-table broadcast — and the
    * O(n^2/2) cosine work spreads evenly over blocks*(blocks+1)/2
    * tasks that scale out horizontally. Replication factor is
    * ~blocks/2 per side (tune `blocks` ~ sqrt(2 * desired tasks)).
    *
    * Near-dup at a WEAK cosine threshold (like q16's 0.45) is
    * inherently all-pairs — no LSH family prunes reliably there; for
    * dup-detection thresholds (>= ~0.8) prefer [[lshTopK]]-style
    * bucketing. Output is bit-identical to [[nearDupPairs]].
    *
    * `blocks = 0` (default) auto-tunes from the session's default
    * parallelism: B ~ sqrt(2 * cores) makes B(B+1)/2 ~ cores scoring
    * tasks at the minimum ~B/2 replication that still keeps every
    * core busy. Larger inputs warrant more blocks (per-task pair
    * count is (n/B)^2); callers with a known row count can pass it.
    */
  def nearDupPairsBlocked(
      embeddings: DataFrame,
      threshold: Double,
      blocks: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val b =
      if (blocks > 0) blocks
      else math.max(2, math.ceil(math.sqrt(
        2.0 * embeddings.sparkSession.sparkContext.defaultParallelism)).toInt)
    nearDupPairsBlockedAt(embeddings, threshold, b, idCol, vecCol)
  }

  private def nearDupPairsBlockedAt(
      embeddings: DataFrame,
      threshold: Double,
      blocks: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val base = prep(embeddings, idCol, vecCol, "_id", "_v", "_n")
      .withColumn("_blk", pmod(xxhash64(col("_id")), lit(blocks)).cast("int"))
    // The pair EXPLOSION happens inside the scoring join, invisible to
    // AQE: the join's shuffle inputs are only n*B/2 vector rows, so
    // adaptive coalescing would funnel all B(B+1)/2 scoring tasks into
    // one or two post-shuffle partitions and serialize the O(n^2)
    // cosine work (measured: 14 s -> 1 s at 2k vectors x 32 cores).
    // An explicit numbered repartition by the task key pins the
    // partitioning — AQE does not coalesce user-specified repartitions
    // — and both sides arriving HashPartitioning(_task, N) means the
    // join itself adds no further shuffle. 2x oversubscription spreads
    // hash-collided task keys.
    val numParts = blocks * (blocks + 1)
    val left = base
      .withColumn("_task", explode(transform(
        sequence(col("_blk"), lit(blocks - 1)), j => col("_blk") * blocks + j)))
      .select(col("_task"), col("_id").as("id_a"), col("_v").as("_va"), col("_n").as("_na"))
      .repartition(numParts, col("_task"))
    val right = base
      .withColumn("_task", explode(transform(
        sequence(lit(0), col("_blk")), i => i * blocks + col("_blk"))))
      .select(col("_task"), col("_id").as("id_b"), col("_v").as("_vb"), col("_n").as("_nb"))
      .repartition(numParts, col("_task"))
    // off-diagonal task (i, j), i < j: blocks are disjoint, every
    // unordered pair appears exactly once (its block-i member only on
    // the left) — keep all, normalize id order afterwards. Diagonal
    // task (i, i): both sides hold block i, dedup with id_a < id_b.
    // pairCos is symmetric bit-for-bit (IEEE multiply commutes, fold
    // order is positional), so cosine needs no operand swap.
    val onDiagonal = col("_task") % blocks === floor(col("_task") / blocks).cast("int")
    left.join(right, Seq("_task"))
      .filter(!onDiagonal || col("id_a") < col("id_b"))
      .withColumn("cos", round(pairCos(col("_va"), col("_vb"), col("_na"), col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
  }

  /** LSH-bucketed approximate top-k: sign-of-projection bucket key per
    * table; candidates = corpus vectors sharing a bucket with the query
    * in ANY table; exact cosine rank within candidates. One shuffle on
    * (table, bucket) instead of a cross join — the 100 TB path.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      dim: Int,
      tables: Int = 8,
      bits: Int = 8,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(tables, bits, dim, seed)

    // each plane is ONE array<double> literal (not dim literal nodes):
    // the projection is a single VecDot plan node per (table, bit), so
    // the whole bucket computation is ~tables x bits compact nodes —
    // codegen'd loops instead of tables x bits interpreted
    // aggregate(zip_with(...)) lambdas per vector, at no planning cost
    def planeLit(t: Int, b: Int): Column =
      org.apache.spark.sql.GraftInternalAccess.exprColumn(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          planes(t)(b),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)))

    def bucketKeys(vec: Column): Column = array((0 until tables).map { t =>
      (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
        val proj = vecDot(vec, planeLit(t, b))
        shiftleft(acc, 1) + when(proj >= 0d, 1L).otherwise(0L)
      }
    }: _*)

    // per-vector norm computed ONCE before the bucket explode — the
    // former per-candidate cosine() recomputed both norms per pair
    def withBuckets(df: DataFrame, id: String, v: String, nrm: String) = df
      .select(col(idCol).as(id), col(vecCol).as(v),
        sqrt(vecDot(col(vecCol), col(vecCol))).as(nrm),
        posexplode(bucketKeys(col(vecCol))))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")

    val qb = withBuckets(queries, "query_id", "_qv", "_qn")
    // corpus-side bucket keys cost tables*bits projections per vector;
    // spread them — a single-file corpus otherwise scans as one task
    val cb = withBuckets(
      corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism),
      "neighbor_id", "_cv", "_cn")
    val candidates = qb.join(cb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("_qv"), col("_qn"),
        col("neighbor_id"), col("_cv"), col("_cn"))
      .distinct()
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .withColumn("score",
        round(vecDot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }
}

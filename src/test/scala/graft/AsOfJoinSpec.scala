package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.{AsOfJoin, FeatureWindows}
import graft.silver.SilverBuilder

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val gold = FeatureWindows.rangeFeatures(
    SilverBuilder.build(TranscriptGen.transcripts(spark, nConvs = 30, avgTurns = 20)))
    .select("conv_id", "turn_idx", "ts", "turns_cnt_1h", "chars_sum_1h").cache()

  private lazy val queries = {
    // before-first, between-turns, exactly-at-turn, after-last
    val mid = gold.filter(pmod(col("turn_idx"), lit(3)) === 1)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 7 SECONDS")).as("ts"))
    val exact = gold.filter(pmod(col("turn_idx"), lit(4)) === 2).select(col("conv_id"), col("ts"))
    val pre = gold.groupBy("conv_id").agg(min(col("ts")).as("ts"))
      .select(col("conv_id"), (col("ts") - expr("INTERVAL 10 MINUTES")).as("ts"))
    val post = gold.groupBy("conv_id").agg(max(col("ts")).as("ts"))
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 30 DAYS")).as("ts"))
    mid.unionByName(exact).unionByName(pre).unionByName(post)
      .withColumn("q_id", monotonically_increasing_id()).cache()
  }

  private val payload = Seq("turn_idx", "turns_cnt_1h", "chars_sum_1h")

  test("union+window as-of equals the brute-force max_by oracle (incl. ties and null cases)") {
    val fast = AsOfJoin.asOf(queries, gold, payload)
      .withColumnRenamed("turn_idx", "m_turn")
    val slow = AsOfJoin.asOfOracle(queries, gold, payload)
      .withColumnRenamed("turn_idx", "m_turn")
    assert(fast.count() == queries.count())
    assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0)
  }

  test("query before first turn yields null payload; at/after turns yields that turn") {
    val got = AsOfJoin.asOf(queries, gold, payload)
    val pre = got.join(gold.groupBy("conv_id").agg(min("ts").as("ts0")), "conv_id")
      .filter(col("ts") < col("ts0"))
    assert(pre.count() > 0 && pre.filter(col("turns_cnt_1h").isNotNull).count() == 0)
    // a query exactly at a turn's ts must see that turn (inclusive)
    val exact = got.join(gold.select(col("conv_id"), col("ts"), col("turn_idx").as("g_turn")),
      Seq("conv_id", "ts"))
    assert(exact.count() > 0)
    assert(exact.filter(col("turn_idx") < col("g_turn")).count() == 0)
  }

  test("tie at equal ts resolves to the highest turn_idx") {
    import spark.implicits._
    val h = Seq(("c1", 0, 100L, 10L), ("c1", 1, 100L, 20L), ("c1", 2, 200L, 30L))
      .toDF("conv_id", "turn_idx", "tsec", "v")
      .select(col("conv_id"), col("turn_idx"), timestamp_seconds(col("tsec")).as("ts"), col("v"))
    val q = Seq(("c1", 100L), ("c1", 150L)).toDF("conv_id", "tsec")
      .select(col("conv_id"), timestamp_seconds(col("tsec")).as("ts"))
    val got = AsOfJoin.asOf(q, h, Seq("v")).select("v").as[Long].collect().toSeq.sorted
    assert(got == Seq(20L, 20L))
  }

  test("latestPerKey returns one row per conversation, the max (ts, turn_idx)") {
    val latest = AsOfJoin.latestPerKey(gold)
    assert(latest.count() == gold.select("conv_id").distinct().count())
    val viaAsOf = AsOfJoin.asOf(
      gold.groupBy("conv_id").agg((max(col("ts")) + expr("INTERVAL 1 DAY")).as("ts")),
      gold, payload)
    val a = latest.select(col("conv_id"), col("turn_idx"))
    val b = viaAsOf.select(col("conv_id"), col("turn_idx"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("asOfSegmented == asOf on the standard fixture (all null/tie/exact cases)") {
    val plain = AsOfJoin.asOf(queries, gold, payload).withColumnRenamed("turn_idx", "m_turn")
    val seg = AsOfJoin.asOfSegmented(queries, gold, payload, segmentSecs = 86400L)
      .withColumnRenamed("turn_idx", "m_turn")
    assert(seg.count() == queries.count())
    assert(seg.exceptAll(plain).count() == 0 && plain.exceptAll(seg).count() == 0)
  }

  test("asOfSegmented parallelizes a mega-conversation across segments") {
    // one dense 40k-turn conversation spanning ~2 weeks
    val mega = FeatureWindows.rangeFeatures(SilverBuilder.build(
      TranscriptGen.transcripts(spark, nConvs = 1, avgTurns = 2, megaConvs = 1, megaTurns = 40000)))
      .select("conv_id", "turn_idx", "ts", "turns_cnt_1h", "chars_sum_1h")
    val q = mega.filter(pmod(col("turn_idx"), lit(10)) === 3)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 13 SECONDS")).as("ts"))
      .withColumn("q_id", monotonically_increasing_id())
    val seg = AsOfJoin.asOfSegmented(q, mega, payload, segmentSecs = 86400L)
      .withColumnRenamed("turn_idx", "m_turn")
    val plain = AsOfJoin.asOf(q, mega, payload).withColumnRenamed("turn_idx", "m_turn")
    assert(seg.count() == q.count())
    assert(seg.exceptAll(plain).count() == 0 && plain.exceptAll(seg).count() == 0)
    // the big window must run over (conv_id, _seg), not bare conv_id
    val plan = seg.queryExecution.executedPlan.toString
    assert(plan.contains("_seg"), plan.take(3000))
  }

  test("asOfAuto routes oversize conversations to the segmented path, rest to plain") {
    // planted 40k-turn mega + normal conversations; a 1000-row
    // threshold forces the mega onto the segmented branch
    val mix = FeatureWindows.rangeFeatures(SilverBuilder.build(
      TranscriptGen.transcripts(spark, nConvs = 10, avgTurns = 12, megaConvs = 1, megaTurns = 40000)))
      .select("conv_id", "turn_idx", "ts", "turns_cnt_1h", "chars_sum_1h").cache()
    val q = mix.filter(pmod(col("turn_idx"), lit(7)) === 2)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 9 SECONDS")).as("ts"))
      .withColumn("q_id", monotonically_increasing_id()).cache()
    val auto = AsOfJoin.asOfAuto(q, mix, payload, heavyThreshold = 1000L,
      segmentSecs = 86400L).withColumnRenamed("turn_idx", "m_turn")
    val plain = AsOfJoin.asOf(q, mix, payload).withColumnRenamed("turn_idx", "m_turn")
    assert(auto.count() == q.count())
    assert(auto.exceptAll(plain).count() == 0 && plain.exceptAll(auto).count() == 0)
    // the heavy branch is present (union of the two forms) and runs
    // over (conv_id, _seg)
    val plan = auto.queryExecution.executedPlan.toString
    assert(plan.contains("Union") && plan.contains("_seg"), plan.take(3000))
    // metadata-supplied sizes skip the history count: below-threshold
    // sizes give the pure plain plan
    import spark.implicits._
    val sizes = mix.select("conv_id").distinct().withColumn("count", lit(5L))
    val viaMeta = AsOfJoin.asOfAuto(q, mix, payload, heavyThreshold = 1000L,
      convSizes = Some(sizes))
    assert(!viaMeta.queryExecution.executedPlan.toString.contains("_seg"))
  }

  test("latestForKeys respects the key set") {
    import spark.implicits._
    val present = gold.select("conv_id").distinct().orderBy("conv_id").limit(5)
      .as[String].collect().toSeq
    // a repeated key and a key with no history
    val keys = (present :+ present.head :+ "conv_without_history").toDF("conv_id")
    val got = AsOfJoin.latestForKeys(gold, keys)
    val want = AsOfJoin.latestPerKey(gold).filter(col("conv_id").isin(present: _*))
    assert(got.count() == present.size)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  /** `latestForKeys(history, keys)` equals `latestPerKey` restricted to
    * the non-null keys; returns the lookup's rows.
    */
  private def lookupMatchesLatest(history: DataFrame, keys: Seq[String]): Array[Row] = {
    import spark.implicits._
    val got = AsOfJoin.latestForKeys(history, keys.toDF("conv_id"))
    val want = AsOfJoin.latestPerKey(history).filter(col("conv_id").isin(keys.filter(_ != null): _*))
    assert(got.columns.toSeq == history.columns.toSeq)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    got.collect()
  }

  /** Turns as (conv_id, turn_idx, ts seconds, v), in the given order,
    * all in one partition.
    */
  private def turns(rows: (String, Int, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "tsec", "v").coalesce(1)
      .select(col("conv_id"), col("turn_idx"), timestamp_seconds(col("tsec")).as("ts"), col("v"))
  }

  test("latestForKeys: at equal ts the higher turn_idx wins, in either input order") {
    val h = turns(("c1", 2, 200L, 30L), ("c1", 1, 200L, 20L), ("c1", 0, 100L, 10L),
      ("c2", 0, 100L, 10L), ("c2", 1, 200L, 20L), ("c2", 2, 200L, 30L))
    val got = lookupMatchesLatest(h, Seq("c1", "c2"))
    assert(got.map(_.getAs[Int]("turn_idx")).toSeq == Seq(2, 2))
  }

  test("latestForKeys: a ts-inverted conversation returns its newest row by ts") {
    val h = turns(("c1", 0, 300L, 10L), ("c1", 1, 100L, 20L), ("c1", 2, 200L, 30L))
    val got = lookupMatchesLatest(h, Seq("c1"))
    assert(got.map(_.getAs[Int]("turn_idx")).toSeq == Seq(0))
  }

  test("latestForKeys: a key whose rows span several partitions") {
    // an in-memory history takes the gold-scan fallback; its result is
    // local like the state-table path's
    import spark.implicits._
    val spread = gold.repartition(7)
    val keys = gold.select("conv_id").distinct().orderBy("conv_id").limit(5).as[String].collect().toSeq
    val parts = spread.filter(col("conv_id") === keys.head)
      .select(spark_partition_id()).distinct().count()
    assert(parts > 1, s"key ${keys.head} sits in $parts partition(s)")
    assert(lookupMatchesLatest(spread, keys).length == keys.size)
    assert(AsOfJoin.latestForKeys(spread, keys.toDF("conv_id"))
      .queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("latestForKeys: an empty key set returns zero rows with the history schema") {
    import spark.implicits._
    val got = AsOfJoin.latestForKeys(gold, Seq.empty[String].toDF("conv_id"))
    assert(got.schema == gold.schema)
    assert(got.count() == 0)
  }

  test("latestForKeys: a null key matches nothing") {
    val h = turns(("c1", 0, 100L, 10L), ("c1", 1, 200L, 20L), (null, 0, 300L, 99L))
    val got = lookupMatchesLatest(h, Seq(null, "c1"))
    assert(got.map(_.getAs[String]("conv_id")).toSeq == Seq("c1"))
    assert(lookupMatchesLatest(h, Seq(null)).isEmpty)
  }

  private val start = 1704067200L
  private val sliceSecs = 8L * 86400

  /** A backfilled table's gold, as readers open it. */
  private def committedHistory(dir: String): DataFrame =
    spark.read.parquet(s"$dir/gold").drop("slice_id")

  private lazy val lookupBronze =
    TranscriptGen.transcripts(spark, nConvs = 12, avgTurns = 10).cache()

  test("latestForKeys on a committed gold table launches no Spark job; its result is local") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lookup").toString
    Backfill.run(spark, lookupBronze, dir, start, sliceSecs, 4)
    val history = committedHistory(dir)
    val keys = history.select("conv_id").distinct().orderBy("conv_id").limit(3)
      .as[String].collect().toSeq
    val (got, jobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
      AsOfJoin.latestForKeys(history, (keys :+ keys.head).toDF("conv_id")))
    assert(jobs == 0)
    assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (rows, after) = TestListenerBus.jobsDuring(spark.sparkContext)(got.collect())
    assert(after == 0 && rows.length == keys.size)
    assert(got.columns.toSeq == history.columns.toSeq)
    val want = AsOfJoin.latestPerKey(history).filter(col("conv_id").isin(keys: _*)).collect()
    assert(rows.toSet == want.toSet)
    val (_, emptyJobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
      AsOfJoin.latestForKeys(history, Seq.empty[String].toDF("conv_id")).collect())
    assert(emptyJobs == 0)
  }

  test("latestForKeys: a gold table with an uncommitted slice dir falls back to the gold scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lookup_crash").toString
    intercept[RuntimeException](Backfill.run(spark, lookupBronze, dir, start, sliceSecs, 4,
      failAfterGoldWriteOfSlice = Some(Backfill.sliceId(start + 2 * sliceSecs))))
    val history = committedHistory(dir)
    // the crashed slice's rows are in the listing but not in the state
    // table's committed view: only a gold scan answers for them
    val keys = history.filter(col("ts") >= timestamp_seconds(lit(start + 2 * sliceSecs)))
      .select("conv_id").distinct().orderBy("conv_id").limit(3).as[String].collect().toSeq
    assert(keys.nonEmpty)
    val (got, jobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
      AsOfJoin.latestForKeys(history, keys.toDF("conv_id")))
    assert(jobs > 0)
    assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    lookupMatchesLatest(history, keys)
  }
}

package graft

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
}

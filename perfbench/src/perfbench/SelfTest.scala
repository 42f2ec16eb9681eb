package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Backfill, SparkEntry}
import graft.gen.TranscriptGen
import graft.gold.AsOfJoin

/** Tests of the benchmark's own code: `python3 perfbench/run.py
  * --selftest`. Exits non-zero when any test fails.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => System.err.println(e); false }
    if (!passed) failures += 1
    println(s"${if (passed) "PASS" else "FAIL"}  $name")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (work, data) = (m("work"), m("data"))
    val spark = Main.session()

    val raw = TranscriptGen.transcripts(spark, 300, avgTurns = 12, megaConvs = 1, megaTurns = 400)
    def shaped(seed: Long) = Inputs.shape(raw, seed, maxOffsetSecs = Inputs.Day,
      megaConvs = 1, megaSpacingSecs = 3 * Inputs.Day)

    test("seed transform is deterministic per seed") {
      rows(shaped(7)) == rows(shaped(7)) && rows(shaped(7)) != rows(shaped(8))
    }
    test("seed transform relabels injectively and moves whole conversations") {
      val s = shaped(7)
      val shift = s.groupBy(substring_index(col("conv_id"), "_", -2).as("orig"))
        .agg(countDistinct(col("conv_id")).as("ids"))
        .join(raw.groupBy(col("conv_id").as("orig")).count(), "orig")
      s.select("conv_id").distinct().count() == raw.select("conv_id").distinct().count() &&
        shift.filter(col("ids") =!= 1).isEmpty
    }
    test("seed transform keeps per-conversation turn order") {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      Seq(7L, 8L, -3L).forall { seed =>
        shaped(seed).withColumn("prev", lag(col("ts"), 1).over(w))
          .filter(col("prev") > col("ts")).isEmpty
      }
    }

    // a small committed backfill for the output-check tests
    val bronze = Inputs.transcripts(spark, 5L, 400, megaConvs = 1, megaTurns = 3000,
      maxOffsetSecs = Inputs.Day).cache()
    val out = s"$work/backfill"
    Backfill.run(spark, bronze, out, Inputs.Epoch, 10 * Inputs.Day, 4)
    val gold = spark.read.parquet(s"$out/gold").drop("slice_id").cache()
    val convs = gold.select("conv_id").distinct().orderBy("conv_id").limit(30)
      .collect().map(_.getString(0)).toSeq
    val victim = convs.head

    test("gold check accepts the engine's gold") {
      Checks.goldMatchesDeclarative(gold, bronze, Some(convs)) &&
        gold.count() == Checks.expectedGoldRows(bronze) &&
        Checks.allCommitted(spark, out, Inputs.Epoch, 10 * Inputs.Day, 4)
    }
    test("gold check rejects one changed feature value") {
      val bad = gold.withColumn("turns_cnt_1h",
        when(col("conv_id") === victim && col("turn_idx") === 1, col("turns_cnt_1h") + 1)
          .otherwise(col("turns_cnt_1h")))
      !Checks.goldMatchesDeclarative(bad, bronze, Some(convs))
    }

    val payload = Workload.Payload
    val queries = gold.select(col("conv_id"), (col("ts") + expr("INTERVAL 60 SECONDS")).as("ts"))
    val asOf = AsOfJoin.asOfAuto(queries, gold, payload).cache()
    test("as-of check accepts the engine's batch") {
      Checks.asOfMatchesOracle(asOf, queries, gold, payload, convs)
    }
    test("as-of check rejects one dropped row") {
      val drop = asOf.filter(col("conv_id") === victim).limit(1)
      !Checks.asOfMatchesOracle(asOf.exceptAll(drop), queries, gold, payload, convs)
    }

    val keys = convs.take(10)
    val expected = Checks.latestRows(gold, keys)
    val looked = AsOfJoin.latestForKeys(gold,
      spark.createDataFrame(keys.map(Tuple1(_))).toDF("conv_id")).collect().toSeq
    test("lookup check accepts the engine's lookup and rejects a stale row") {
      val stale = gold.filter(col("conv_id") === looked.head.getAs[String]("conv_id") &&
        col("turn_idx") === 0).collect().head
      Checks.lookupMatches(looked, keys, expected) &&
        !Checks.lookupMatches(stale +: looked.tail, keys, expected)
    }

    val pinned = Pinned.load(s"$data/oracle_digests.json")
    val q20 = SparkEntry.queries("q20_conv_stats")(spark, s"$data/sf0.1").cache()
    test("query digest matches the pinned oracle digest and rejects one altered row") {
      val first = q20.orderBy("conv_id").limit(1)
      val altered = q20.exceptAll(first)
        .unionByName(first.withColumn("n_turns", col("n_turns") + 1))
      pinned.get("q20_conv_stats").contains(Digest.of(q20)) &&
        !pinned.get("q20_conv_stats").contains(Digest.of(altered))
    }

    test("BENCHMARK.json lists exactly the per-layer metrics the traced run prints") {
      val root = new java.io.File(data).getAbsoluteFile.getParentFile.getParentFile
      val spec = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(root, "BENCHMARK.json"))
      val listed = (0 until spec.get("per_layer").size).map { i =>
        val n = spec.get("per_layer").get(i)
        n.get("name").asText -> n.get("unit").asText
      }
      listed == Layers.Names
    }

    spark.stop()
    println(s"$failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}

package perfbench

import graft.aram._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ranking transformer on a set of match docs: features →
  * labels → group split → fitted preprocessing → scorer → model-store round
  * trip, with every step in its own span and every output checked.
  */
object RankPipeline {

  /** Weights of the rule scorer over scaled features, mirroring the label's
    * performance-score terms.
    */
  val RuleWeights: Map[String, Double] = Map("kda" -> 0.25, "damage_per_min" -> 0.20,
    "kill_participation" -> 0.15, "gold_per_min" -> 0.10, "death_share" -> -0.15,
    "gold_efficiency" -> 0.15)

  private val featureValueCols = PlayerFeatures.featureCols.filterNot(_ == "timestamp")

  /** Train on `docs` and check the result; returns the feature rows.
    * `pinnedWithin1 ± tolerance` is the accepted share of held-out players
    * ranked within ±1 of their label rank.
    */
  def train(ctx: Ctx, docs: DataFrame, dir: String, pinnedWithin1: Double,
      tolerance: Double): Long = {
    val spark = ctx.spark
    val (feats, featureRows) = ctx.span("aram.features") {
      val f = PlayerFeatures.extract(docs).cache()
      (f, f.count())
    }
    val labeled = ctx.span("aram.labels") {
      val l = Labeling.label(feats).cache()
      l.count()
      l
    }
    val (train, test) = ctx.span("aram.split") {
      val (tr, te) = Preprocess.splitByGroup(labeled, "match_id", 0.2, ctx.seed)
      val trc = tr.cache(); val tec = te.cache()
      Check(trc.count() > 0 && tec.count() > 0, "empty train or test split")
      (trc, tec)
    }
    val fitted = ctx.span("aram.pipeline.fit")(Pipeline.fit(train))
    val trainT = ctx.span("aram.pipeline.transform") {
      val t = Pipeline.transform(fitted, train).cache()
      t.count()
      t
    }
    ctx.span("aram.modelstore.save") {
      ModelStore.saveClip(spark, fitted.clip, s"$dir/clip")
      ModelStore.saveScaler(spark, fitted.scaler, s"$dir/scaler")
      ModelStore.saveEncoder(fitted.encoder, s"$dir/encoder")
      ModelStore.saveWeights(spark, RuleWeights, s"$dir/weights")
    }
    val (reloaded, weights) = ctx.span("aram.modelstore.load") {
      (Pipeline.Fitted(
        ModelStore.loadEncoder(spark, s"$dir/encoder", "champion"),
        ModelStore.loadClip(spark, s"$dir/clip"),
        ModelStore.loadScaler(spark, s"$dir/scaler")),
        ModelStore.loadWeights(spark, s"$dir/weights"))
    }
    ctx.span("check") {
      checkTrain(feats, labeled)
      val a = Pipeline.transform(fitted, test).drop("timestamp")
      val b = Pipeline.transform(reloaded, test).drop("timestamp")
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      Check(diff == 0, s"$diff rows differ after the model-store round trip")
      Check(weights == RuleWeights, s"scorer weights changed on reload: $weights")
      val ranked = Ranking.predictedRanks(
        Pipeline.ruleScorer(RuleWeights)(Pipeline.transform(fitted, test)),
        "predicted_score", Seq("match_id"), "puuid")
      val acc = graft.ops.Aggregates.rankAccuracy(ranked, "rank_in_match", "predicted_rank")
        .head().getAs[Double]("within1_acc")
      ctx.layer("aram.rank_within1_acc") = acc
      Check(math.abs(acc - pinnedWithin1) <= tolerance,
        f"rank_within1_acc $acc%.4f outside $pinnedWithin1 ± $tolerance")
    }
    Seq(feats, labeled, train, test, trainT).foreach(_.unpersist())
    featureRows
  }

  /** Features have no nulls; every match has 10 players whose label ranks
    * lie in 1..10.
    */
  private def checkTrain(feats: DataFrame, labeled: DataFrame): Unit = {
    val nulls = feats.select(featureValueCols.map(c => count(when(col(c).isNull, 1))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).sum
    Check(nulls == 0, s"$nulls null feature values")
    val bad = labeled.groupBy("match_id")
      .agg(count(lit(1)).as("n"), min("rank_in_match").as("lo"), max("rank_in_match").as("hi"))
      .filter(col("n") =!= 10 || col("lo") < 1 || col("hi") > 10).count()
    Check(bad == 0, s"$bad matches with a bad label-rank set")
  }
}

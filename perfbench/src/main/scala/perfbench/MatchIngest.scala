package perfbench

import graft.aram.MatchFixtures
import graft.streaming.{IngestTopology, UpsertSink}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** `match-ingest`: the crawl topology (stage 1 users → match ids, stage 2
  * match ids → docs, self-feeding) over file queues for [[Rounds]] rounds,
  * then compaction and a current-state read, and then the ranking
  * transformer over the stored docs with the rule scorer (features, labels,
  * split, fitted preprocessing, ranks, model-store round trip). The unit op
  * is one stage run.
  *
  * The API tables come from a seeded pool of [[Pool]] players: each match
  * draws its 10 participants from the pool, so the pool size sets how many
  * ids matches share and with it the dedup ratio. Every 7th match is
  * non-ARAM, every 13th has no detail (a failed fetch) and every 5th has no
  * timeline.
  *
  * Sizes follow the crawl probe this workload was specified from: 4,000
  * matches over a 3,000-player pool crawled for 4 rounds. The benchmark
  * keeps the probe's 3:4 pool-to-match ratio, and with it each player's
  * share of matches (about 13), at a fifth of the size so that a pass fits
  * one run. At that size the crawl reaches every reachable match in 3
  * rounds and a 4th reads no ids, so it runs 3. Each player's match list
  * stays well under the reference's page of `count=100` match ids, so the
  * page limit never cuts a list.
  */
final class MatchIngest extends Workload {
  val name = "match-ingest"
  val rowUnit = "queue ids (rows read by stage 1 and stage 2)"
  val timedAction = "AvailableNow stage runs to termination; features through the noop sink"

  val Matches = 800
  /** 3/4 of [[Matches]], rounded to a prime so a match's 10 pool slots
    * `r + j·s mod Pool` are distinct.
    */
  val Pool = 601
  val Rounds = 3
  val Ts = "2024-01-01 00:00:00"

  /** Pinned share of held-out players the rule scorer ranks within ±1 of
    * their label rank, and the tolerance the check allows across seeds.
    */
  val PinnedWithin1 = 0.75
  val Within1Tolerance = 0.06

  def sizes: Map[String, Any] = Map("matches" -> Matches, "player_pool" -> Pool,
    "rounds" -> Rounds)

  /** The independently computed outcome the pass must reproduce. */
  private final case class Expected(seedUsers: Seq[String], stored: Set[String],
      featureRows: Long)
  private var expected: Expected = _

  private def api(ctx: Ctx, t: String) = ctx.spark.read.parquet(s"${ctx.work}/ingest/api/$t")

  private def player(matchId: Column, j: Column, seed: Long): Column = {
    val r = pmod(xxhash64(matchId, lit(seed)), lit(Pool.toLong))
    val s = pmod(xxhash64(matchId, lit(seed + 1)), lit(Pool.toLong - 1)) + 1
    concat(lit("P-"), lpad(pmod(r + j.cast("long") * s, lit(Pool.toLong)).cast("string"), 6, "0"))
  }

  def setup(ctx: Ctx): Unit = {
    val seed = ctx.seed
    val raw = MatchFixtures.matches(ctx.spark, Matches, seed)
      .withColumn("mid", col("metadata.matchId"))
    val mid = col("mid")
    val docs = raw.select(
      struct(mid.as("matchId"),
        transform(col("metadata.participants"), (_, j) => player(mid, j, seed)).as("participants"))
        .as("metadata"),
      col("info").withField("participants",
        transform(col("info.participants"), (p, j) => p.withField("puuid", player(mid, j, seed))))
        .as("info"),
      col("timeline"),
      mid,
      substring(mid, 4, 6).cast("int").as("idx"))
    val base = s"${ctx.work}/ingest/api"
    docs.filter(col("idx") % 13 =!= 4)
      .select(mid.as("match_id"), struct(col("metadata"), col("info")).as("detail"))
      .write.mode("overwrite").parquet(s"$base/details")
    docs.filter(col("idx") % 5 =!= 2)
      .select(mid.as("match_id"), col("timeline"))
      .write.mode("overwrite").parquet(s"$base/timelines")
    docs.select(explode(col("metadata.participants")).as("user_id"), mid.as("mid"))
      .groupBy("user_id").agg(sort_array(collect_list("mid")).as("match_ids"))
      .write.mode("overwrite").parquet(s"$base/user_matches")
    expected = expect(ctx)
  }

  /** Breadth-first crawl over the collected API tables, round by round, in
    * plain Scala: the reference semantics the topology must reproduce.
    */
  private def expect(ctx: Ctx): Expected = {
    val details = api(ctx, "details").select(col("match_id"), col("detail.info.gameMode"),
      col("detail.info.gameDuration"), col("detail.metadata.participants")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getSeq[String](3))).toMap
    val timelines = api(ctx, "timelines").select("match_id").collect().map(_.getString(0)).toSet
    val userMatches = api(ctx, "user_matches").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val seedUsers = details("KR_000000")._3
    var seenUsers = seedUsers.toSet
    var seenMatches = Set.empty[String]
    var frontier = seedUsers.toSet
    var stored = Set.empty[String]
    (1 to Rounds).foreach { _ =>
      val fresh = frontier.flatMap(u => userMatches.getOrElse(u, Nil)) -- seenMatches
      seenMatches ++= fresh
      val fetched = fresh.filter(m => details.contains(m) || timelines.contains(m))
      stored ++= fetched.filter(m => details.get(m).exists(_._1 == "ARAM"))
      frontier = fetched.flatMap(m => details.get(m).map(_._3).getOrElse(Nil)) -- seenUsers
      seenUsers ++= frontier
    }
    val featureRows = 10L * stored.count(m => details(m)._2 >= 300L)
    Expected(seedUsers, stored, featureRows)
  }

  private final class Dirs(root: String) {
    val users = s"$root/users"; val matches = s"$root/matches"
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
  }

  private def seedQueue(ctx: Ctx, d: Dirs): Unit = {
    val ts = java.sql.Timestamp.valueOf(Ts)
    val rows = expected.seedUsers.map(u => Row(u, ts))
    ctx.spark.createDataFrame(rows.asJava, IngestTopology.idSchema)
      .coalesce(1).write.mode("overwrite").json(d.users)
  }

  private def stage1(ctx: Ctx, d: Dirs): StreamingQuery =
    IngestTopology.userToMatchIds(ctx.spark, d.users, d.matches, api(ctx, "user_matches"), d.ckpt)

  private def stage2(ctx: Ctx, d: Dirs): StreamingQuery =
    IngestTopology.matchIdsToDocs(ctx.spark, d.matches, d.users, api(ctx, "details"),
      api(ctx, "timelines"), d.sink, d.ckpt)

  def warm(ctx: Ctx): Unit = {
    val d = new Dirs(s"${ctx.work}/ingest/warm")
    Disk.delete(s"${ctx.work}/ingest/warm")
    seedQueue(ctx, d)
    stage1(ctx, d).awaitTermination()
  }

  /** Run one stage to completion and fold its progress into the layer
    * metrics. Returns the rows its source read.
    */
  private def runStage(ctx: Ctx, key: String, q: StreamingQuery): Long = {
    q.awaitTermination()
    val progress = q.recentProgress
    def ms(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    ctx.add(s"streaming.$key.trigger_s", ms("triggerExecution"))
    ctx.add(s"streaming.$key.add_batch_s", ms("addBatch"))
    ctx.add(s"streaming.$key.planning_s", ms("queryPlanning"))
    ctx.add(s"streaming.$key.wal_commit_s", ms("walCommit"))
    val in = progress.map(_.numInputRows).sum
    val states = progress.flatMap(_.stateOperators.headOption)
    ctx.add("streaming.dedup.rows_in", in.toDouble)
    ctx.add("streaming.dedup.rows_out", states.map(_.numRowsUpdated).sum.toDouble)
    states.lastOption.foreach { s =>
      ctx.layer(s"streaming.state.$key.rows") = s.numRowsTotal.toDouble
      ctx.layer(s"streaming.state.$key.mem_bytes") =
        math.max(ctx.layer.getOrElse(s"streaming.state.$key.mem_bytes", 0.0), s.memoryUsedBytes.toDouble)
    }
    in
  }

  private def current(ctx: Ctx, d: Dirs): DataFrame =
    UpsertSink.readCurrent(ctx.spark, d.sink, Seq("match_id"), Seq("ts"))

  /** The stored state as sorted (match id, game mode, has timeline) keys. */
  private def snapshot(ctx: Ctx, d: Dirs): Seq[(String, String, Boolean)] =
    current(ctx, d).select(col("match_id"), col("detail.info.gameMode"), col("timeline").isNotNull)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq.sorted

  def pass(ctx: Ctx, p: Pass): Unit = {
    val root = s"${ctx.work}/pass_${p.index}"
    val d = new Dirs(root)
    seedQueue(ctx, d)
    (1 to Rounds).foreach { r =>
      var ids = 0L
      p.op("streaming.stage1")(ids += runStage(ctx, "stage1", stage1(ctx, d)))
      p.op("streaming.stage2")(ids += runStage(ctx, "stage2", stage2(ctx, d)))
      ctx.add(s"streaming.round$r.ids", ids.toDouble)
      p.rows += ids
    }
    p.op("check", unit = false) {
      // before compaction, on the raw deltas: stage 2's permanent dedup
      // must write each match once across all of them
      val keys = ctx.spark.read.parquet(s"${d.sink}/delta_*")
        .agg(count(lit(1)), countDistinct("match_id")).head()
      Check(keys.getLong(0) == keys.getLong(1),
        s"${keys.getLong(0)} delta rows hold only ${keys.getLong(1)} distinct match ids")
    }
    var before: Seq[(String, String, Boolean)] = Nil
    p.op("streaming.upsert.read", unit = false) {
      ctx.add("streaming.upsert.bytes_written", Disk.size(d.sink).toDouble)
      before = snapshot(ctx, d)
    }
    p.op("streaming.upsert.compact", unit = false) {
      UpsertSink.compact(ctx.spark, d.sink, Seq("match_id"), Seq("ts"))
      ctx.add("streaming.upsert.compacted_bytes", Disk.size(d.sink).toDouble)
    }
    p.op("check", unit = false) {
      val after = snapshot(ctx, d)
      Check(after == before, "stored state changed across compaction")
      val nonAram = after.count(_._2 != "ARAM")
      Check(nonAram == 0, s"$nonAram non-ARAM docs stored")
      val got = after.map(_._1).toSet
      Check(got == expected.stored,
        s"stored ${got.size} docs, expected ${expected.stored.size}; " +
          s"missing ${(expected.stored -- got).take(3)}, extra ${(got -- expected.stored).take(3)}")
    }
    p.op("rank", unit = false) {
      val featureRows = RankPipeline.train(ctx, current(ctx, d).select("detail.*"),
        s"$root/models", PinnedWithin1, Within1Tolerance)
      Check(featureRows == expected.featureRows,
        s"$featureRows feature rows, expected ${expected.featureRows}")
    }
  }
}

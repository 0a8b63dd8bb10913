package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]").appName("digest-spec")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame() = {
    import spark.implicits._
    Seq((1L, "a", 0.5, Map("k" -> 1)), (2L, "b", -0.0, Map("k" -> 2)), (3L, "c", 2.25, Map.empty[String, Int]))
      .toDF("id", "name", "score", "tags").withColumn("timestamp", current_timestamp())
  }

  private def digest(df: org.apache.spark.sql.DataFrame) = Digest.observed(df, Digest.noop)._1

  test("the digest ignores row order, partitioning and the timestamp column") {
    val base = digest(frame())
    assert(base.rows === 3)
    assert(digest(frame().orderBy(col("id").desc).repartition(3)) === base)
    assert(digest(frame().withColumn("timestamp", lit(null).cast("timestamp"))) === base)
  }

  test("negative zero digests like zero") {
    assert(digest(frame()) === digest(frame().withColumn("score",
      when(col("id") === 2, lit(0.0)).otherwise(col("score")))))
  }

  test("a perturbed output fails the digest check") {
    val base = digest(frame())
    val perturbed = frame().withColumn("score",
      when(col("id") === 3, col("score") + 1e-9).otherwise(col("score")))
    assert(digest(perturbed) !== base)
    assert(digest(frame().filter(col("id") =!= 1)) !== base)
    assert(digest(frame().union(frame().limit(1))) !== base)
  }

  test("the written plan's shape counts windows, joins, aggregates and generators") {
    import org.apache.spark.sql.expressions.Window
    val df = frame().withColumn("r", rank().over(Window.orderBy("id")))
      .join(frame().groupBy("name").count(), "name")
    val shape = Digest.shape(Digest.observed(df, Digest.noop)._2)
    assert(shape === Map("Window" -> 1, "Join" -> 1, "Aggregate" -> 1, "Generate" -> 0))
    val line = Digest.line("q", digest(df), shape)
    val tsv = java.io.File.createTempFile("digests", ".tsv")
    try {
      java.nio.file.Files.write(tsv.toPath, s"# header\n$line\n".getBytes("UTF-8"))
      assert(Digest.load(tsv.getPath) === Map("q" -> (digest(df), shape)))
    } finally tsv.delete()
  }
}

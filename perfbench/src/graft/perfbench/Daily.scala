package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ai.{DictionaryTranslator, HttpLlmScorer}
import graft.core.{PipelineConfig, TableStore}
import graft.ingest.{CsvSource, Schemas}
import graft.model.{AuxDimsJob, GamesDimJob, ReviewsFactJob}
import graft.pipeline.{Pipeline, Stage}
import graft.quality.{DQEngine, IsInRange, IsUnique}
import graft.semantic.ReviewMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The daily reference pipeline: an op is one run of the reference DAG,
  * `dimensions ∥ reviews_fact → quality_checks → semantic_layer`, through
  * `graft.pipeline.Pipeline.run`, over the landing zone as it stands after
  * one day's files have landed. A pass is the backfill day followed by the
  * daily increments, from an empty database.
  *
  * The fact job scores review texts with the production `HttpLlmScorer`
  * against an in-process [[LlmStub]]. After every op the tables are
  * checked against the generator's own expectations (`expect.json`).
  */
final class Daily(spark: SparkSession, zone: String, nproc: Int, tr: Tracer)
    extends Workload {
  import Daily._

  private val expect: JsonNode = new ObjectMapper().readTree(new java.io.File(s"$zone/expect.json"))
  private val days = expect.get("days").asInt
  private val prompt = expect.get("prompt").asText
  private val passing = expect.get("passing").elements.asScala.map(_.asLong).toVector
  private val translator = DictionaryTranslator(
    expect.get("dictionary").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap)

  val stub = new LlmStub(nproc, ServiceMicros, PerTextMicros, prompt)
  private val scorer = new HttpLlmScorer(stub.endpoint, "bench-model", prompt)

  val mix: Seq[String] = (0 to days).map(d => s"dag_day$d")
  override def order(rng: scala.util.Random): Seq[String] = mix

  /** Rows scored per run; the warm-up runs the same DAG at a small batch. */
  var batchSize: Int = expect.get("batch").asInt

  private def config(day: Int) = PipelineConfig(catalog = "perfbench",
    schema = "daily", rawLocation = s"$zone/day_$day", batchSize = batchSize)
  private var store = new TableStore(spark, config(0))

  /** Rows the fact job appended in each op, in op order. */
  val appended = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** Bytes that landed for each op: that day's reviews file plus the dims. */
  def landedBytes(day: Int): Long =
    expect.get("per_day").get(day).get("bytes").asLong + expect.get("dim_bytes").asLong

  override def startPass(): Unit = {
    store.dropAll()
    store = new TableStore(spark, config(0))
  }

  def run(op: String): () => Option[String] = {
    val day = op.stripPrefix("dag_day").toInt
    val cfg = config(day)
    var rows = 0L
    Pipeline.run(Seq(
      Stage("dimensions")(() => tr("stage.dimensions") {
        tr("model.aux_dims")(new AuxDimsJob(spark, store, cfg, translator).run())
        tr("model.games_dim")(new GamesDimJob(spark, store, cfg).run())
      }),
      Stage("reviews_fact")(() => tr("stage.reviews_fact") {
        rows = tr("model.reviews_fact")(new ReviewsFactJob(spark, store, cfg, scorer).run())
      }),
      Stage("quality_checks", deps = Seq("dimensions", "reviews_fact"))(() =>
        tr("stage.quality_checks") {
          val fact = tr("tables.load")(store.load("fact", "reviews"))
          tr("quality.gate")(DQEngine.gate(DQEngine.applyChecks(fact, Rules)))
        }),
      Stage("semantic_layer", deps = Seq("quality_checks"))(() =>
        tr("stage.semantic_layer") {
          val dfs = tr("semantic.compile")(metricQueries())
          tr("semantic.exec")(dfs.foreach(_.collect()))
        })))
    appended += rows
    () => check(day, rows)
  }

  /** ≙ `semantic_layer.sql`'s view, registered, plus the analyst queries. */
  private def metricQueries(): Seq[DataFrame] = {
    val view = ReviewMetrics(store)
    view.registerView(spark, "review_metrics")
    Seq(
      view.query(spark, Seq("review_count", "avg_weighted_score"), Seq("genre")),
      view.query(spark, Seq("review_count", "positive_review_pct", "negative_review_pct"),
        Seq("game_name"), having = Some("review_count >= 3")),
      spark.sql("SELECT category, SUM(review_count) AS reviews FROM review_metrics GROUP BY category"))
  }

  private def check(day: Int, rows: Long): Option[String] = {
    // each run lands min(batch, backlog) fresh passing rows in id order
    val landedAfter = (0 to day).scanLeft(0) { (landed, d) =>
      math.min(landed + batchSize, expect.get("per_day").get(d).get("passing_total").asInt)
    }.tail
    val before = if (day == 0) 0 else landedAfter(day - 1)
    val want = passing.take(landedAfter(day))
    val fact = store.load("fact", "reviews")
    val keys = fact.select("recommendationid").collect().map(_.getLong(0)).sorted.toVector
    val fresh = fact.filter(col("recommendationid").between(passing(before), want.last))
      .select("recommendationid", "review_text", "sponsored_review", "sentiment_score", "weighted_score")
      .collect()
    val dims = Seq("categories", "genres", "developers", "publishers").map(t =>
      t -> (store.load("dim", t).count(), expect.get("dims").get(t).asLong))
    val games = store.load("dim", "games").count()
    val badScore = fresh.find { r =>
      val text = r.getString(1)
      val s = if (text == null || text.isEmpty) 0 else LlmStub.scoreOf(text)
      r.getInt(3) != s || r.getDouble(4) != s * (if (r.getBoolean(2)) 0.5 else 1.0)
    }
    if (keys != want) Some(s"day $day: fact holds ${keys.size} keys (${keys.distinct.size} distinct), expected the first ${want.size} passing rows")
    else if (rows != want.size - before) Some(s"day $day: appended $rows rows, expected ${want.size - before}")
    else if (badScore.isDefined) Some(s"day $day: wrong score on ${badScore.get}")
    else dims.collectFirst { case (t, (got, exp)) if got != exp => s"day $day: dim_$t has $got rows, expected $exp" }
      .orElse(if (games != expect.get("games").asLong) Some(s"day $day: dim_games has $games rows") else None)
  }

  /** Parses every reviews file through `CsvSource.read` and checks the
    * per-class counts the generator wrote, then checks that the
    * production scorer's per-row and batched paths return the stub's
    * scores. Returns one message per failure.
    */
  def selfTest(): Seq[String] = {
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 to days).foreach { d =>
      val raw = CsvSource.read(spark, f"$zone/files/reviews_$d%03d.csv", Schemas.reviews)
      val spam = col("author_playtime_at_review") <= 0 || col("author_playtime_forever") <= 1
      val early = col("written_during_early_access")
      val got = raw.agg(
        count(lit(1)).as("rows"),
        sum(when(spam, 1).otherwise(0)).as("spam"),
        sum(when(early && !spam, 1).otherwise(0)).as("early_access"),
        sum(when(col("received_for_free"), 1).otherwise(0)).as("sponsored"),
        sum(when(col("review_text").isNull, 1).otherwise(0)).as("null_text"),
        sum(when(col("review_text").contains("\n"), 1).otherwise(0)).as("multiline"),
        sum(when(!spam && !early, 1).otherwise(0)).as("passing")).head()
      val exp = expect.get("per_day").get(d)
      got.schema.fieldNames.zipWithIndex.foreach { case (k, i) =>
        if (got.getLong(i) != exp.get(k).asLong)
          fails += s"reviews_$d: $k parsed ${got.getLong(i)}, generated ${exp.get(k).asLong}"
      }
    }
    val samples = expect.get("multiline_samples").fields.asScala.map(e => e.getKey.toLong -> e.getValue.asText).toMap
    val parsed = CsvSource.read(spark, s"$zone/day_$days/reviews.csv", Schemas.reviews)
      .filter(col("recommendationid").isin(samples.keys.toSeq: _*))
      .select("recommendationid", "review_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    if (parsed != samples) fails += "multiline review texts do not round-trip through CsvSource.read"
    val texts = samples.values.toSeq ++ Seq("fun", "", null, "a \"quoted\" word")
    val want = texts.map(t => if (t == null || t.isEmpty) 0 else LlmStub.scoreOf(t))
    if (texts.map(scorer.score) != want) fails += "HttpLlmScorer.score disagrees with the stub"
    if (scorer.scoreBatch(texts.iterator).toSeq != want) fails += "HttpLlmScorer.scoreBatch disagrees with the stub"
    fails.toSeq
  }

  override def close(): Unit = {
    store.dropAll()
    stub.stop()
  }
}

object Daily {
  /** ≙ `data_quality.py:24-35`. */
  val Rules = Seq(IsUnique(Seq("recommendationid")), IsInRange("weighted_score", -5, 5))

  /** Rows each warm-up run scores: every code path, little waiting. */
  val WarmUpBatch = 40

  /** The stub's cost per request and per text in it. */
  val ServiceMicros = 8000L
  val PerTextMicros = 500L
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.model.{AnalysisConfig, PostsMapping, Taxonomy}
import graft.pipeline.{AnalysisReport, Pipeline}
import graft.sql.{GraftFunctions, OracleSql}
import graft.text.SimpleAnalyzer

import Harness.{Op, timeOp}

/** The reference pipeline over a generated corpus: ingest →
  * `Pipeline.run` → `writeReports` → `writeCharts`, plus a collect of the
  * two frames no sink writes. `data` holds `corpus.parquet`,
  * `warm.parquet` and `config.json` from `perfbench/gen.py`. */
final class PipelineWorkload(data: String, out: String) extends Workload {
  private val cfg: AnalysisConfig = {
    val j = new ObjectMapper().readTree(Files.readString(Paths.get(data, "config.json"), UTF_8))
    def strings(key: String) = j.get(key).elements().asScala.map(_.asText).toSeq
    val industries = j.get("industries").elements().asScala.map { pair =>
      pair.get(0).asText -> pair.get(1).elements().asScala.map(_.asText).toSeq
    }.toSeq
    AnalysisConfig(
      taxonomy = Taxonomy(industries),
      channelBlacklist = strings("blacklist"),
      noisePatterns = strings("noise"),
      stopwords = strings("stopwords"),
      posts = PostsMapping(idCol = "post_id", textCol = "text",
        channelCol = "channel_username", viewsCol = "views", tsCol = Some("full_date")))
  }
  private val analyzer = SimpleAnalyzer(cfg.stopwords)
  private var report: AnalysisReport = null
  private var collected: Seq[(String, Array[Row], DataFrame)] = Nil

  def pass(spark: SparkSession, tracer: Tracer): Seq[Op] =
    run(spark, tracer, "corpus.parquet", out)

  /** One untraced pass over the small warm-up corpus. */
  def warmUp(spark: SparkSession): Unit = {
    run(spark, new Tracer(spark.sparkContext, "warm-up"), "warm.parquet", s"$out/warm-up")
    cleanup(spark)
  }

  private def run(spark: SparkSession, tracer: Tracer, input: String, out: String): Seq[Op] = {
    val steps = mutable.ArrayBuffer.empty[Op]
    def step(name: String)(body: => Unit): Unit =
      steps += (if (steps.forall(_.ok)) timeOp(name)(tracer.span(name)(body)) else Op(name, 0.0, ok = false))
    var posts: DataFrame = null
    step("io.read") { posts = spark.read.parquet(s"$data/$input") }
    step("pipeline.construct") { report = Pipeline.run(posts, cfg, analyzer) }
    step("io.sink_reports") { Pipeline.writeReports(report, s"$out/reports") }
    step("io.sink_charts") { Pipeline.writeCharts(report, s"$out/charts") }
    step("ops.exec") {
      collected = Seq("top_posts" -> report.topPosts, "most_active_channels" -> report.mostActiveChannels)
        .map { case (name, df) => (name, df.collect(), df) }
    }
    steps.toSeq
  }

  override def cleanup(spark: SparkSession): Unit = {
    if (report != null) Pipeline.unpersist(report)
    report = null
    super.cleanup(spark)
  }

  /** The last pass's collected frames as parquet, plus the DuckDB oracle
    * SQL for every checked output over a view named `corpus`. */
  def writeCheckOutputs(spark: SparkSession): Seq[Op] = {
    val dumps = collected.map { case (name, rows, df) =>
      timeOp(name)(dump(spark.createDataFrame(rows.toSeq.asJava, df.schema), s"$out/check/$name"))
    }
    val sql = Map(
      "industry_counts" -> OracleSql.industryCounts(cfg, "corpus"),
      "keyword_breakdown" -> OracleSql.keywordBreakdown(cfg, "corpus"),
      "word_frequency" -> OracleSql.wordFrequency(cfg, "corpus", minLen = 2, topN = 50),
      "channel_audit" -> OracleSql.channelAudit(cfg, "corpus", 5, 3),
      "top_posts" -> OracleSql.topPostsPerIndustry(cfg, "corpus", 20),
      "most_active_channels" -> OracleSql.mostActiveChannels(cfg, "corpus", 15),
      "top_channels_by_views" -> OracleSql.topChannelsByViews(cfg, "corpus", 15),
      "word_frequency_by_category" ->
        OracleSql.wordFrequencyByCategory(cfg, "corpus", minLen = 2, topN = 50),
      "time_series" -> OracleSql.resampleCount("corpus", "full_date", "week", "INTERVAL 7 DAY"))
    writeOracleSql(s"$out/oracle_sql.json", sql)
    dumps
  }
}

/** Catalog queries in a fixed order, each built, planned and written to
  * the `noop` sink. Every pass runs in a new session of the same Spark
  * context, so the session-scoped memos start empty. */
final class CatalogWorkload(tables: String, out: String, queries: Seq[String]) extends Workload {
  require(queries.forall(SparkEntry.queries.contains),
    s"unknown queries: ${queries.filterNot(SparkEntry.queries.contains).mkString(",")}")
  private val frames = mutable.Map.empty[String, DataFrame]

  private def freshSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  /** One untraced pass in a throwaway session. */
  def warmUp(spark: SparkSession): Unit = {
    pass(spark, new Tracer(spark.sparkContext, "warm-up"))
    cleanup(spark)
  }

  def pass(spark: SparkSession, tracer: Tracer): Seq[Op] = {
    val s = tracer.span("session.register")(freshSession(spark))
    frames.clear()
    queries.map { q =>
      timeOp(q)(tracer.span("query", q) {
        val df = tracer.span("queries.construct", q)(SparkEntry.queries(q)(s, tables))
        tracer.span("sql.plan", q)(df.queryExecution.executedPlan)
        tracer.span("ops.exec", q)(df.write.format("noop").mode("overwrite").save())
        frames(q) = df
      })
    }
  }

  /** The last pass's result frames, written once more as parquet: the
    * memos and checkpoints they read are still held. */
  def writeCheckOutputs(spark: SparkSession): Seq[Op] = {
    val ops = queries.map(q => timeOp(q)(dump(frames(q), s"$out/check/$q")))
    writeOracleSql(s"$out/oracle_sql.json",
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    ops
  }
}

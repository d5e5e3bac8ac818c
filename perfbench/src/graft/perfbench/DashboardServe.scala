package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.{Chatbot, Dashboard, Insights}
import graft.etl.Observations
import graft.forecast.Forecast
import graft.sim.{IndexStore, Ivf}
import graft.sources.Tables
import graft.text.{Bm25, Tfidf}

/** dashboard_serve — a closed loop of one user, who sends the next
  * request of a seeded order when the previous answer arrives, over
  * artifacts built and warmed at setup: the memoized observations
  * panel and trend stats, the saved TF-IDF, BM25 and IVF indexes and
  * the fitted Holt horizons. The order holds whole cycles of the
  * distinct requests, each once a cycle: Dashboard B1-B6, Insights,
  * Chatbot (both intents), saved TF-IDF and BM25 search, saved IVF knn
  * and one-series forecasts. Every answer is compared with a reference
  * computed once at setup from un-memoized or fresh paths.
  */
final class DashboardServe(ctx: Ctx) extends Workload {
  import DashboardServe._

  private val spark = ctx.spark
  private val sched = ctx.schedule
  private val sf = s"${ctx.data}/sf"
  private val tfidfDir = s"${ctx.work}/tfidf"
  private val bm25Dir = s"${ctx.work}/bm25"
  private val ivfDir = s"${ctx.work}/ivf"

  private def strings(key: String): IndexedSeq[String] =
    sched.get(key).asScala.map(_.asText).toIndexedSeq
  private val searchPool = strings("search")
  private val questionPool = strings("questions")
  private val intent = sched.get("intent").asText
  private val knnPool = sched.get("knn").asScala.map(_.asLong).toIndexedSeq
  private val seriesPool = sched.get("series").asScala.map(s => (s.get(0).asText, s.get(1).asText))
    .toIndexedSeq
  private val requests = sched.get("requests").asScala.map(r => Req(r.get(0).asText, r.get(1).asInt))
    .toIndexedSeq
  private val warm = sched.get("warm").asScala.map(_.asInt).toIndexedSeq
  private val order = sched.get("order").asScala.map(_.asInt).toIndexedSeq

  def setup(): Unit = {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the artifacts are independent: build them side by side
    graft.Par.jobs(Seq(
      () => { Observations.panel(spark, sf).count(); Insights.trendStats(spark, sf).count() },
      () => Tfidf.save(Tfidf.index(docs, "doc_id", "text"), tfidfDir),
      () => IndexStore.saveGiven(Tables.embeddings(spark, sf).select("vec_id", "embedding"),
        ivfDir),
      () => Bm25.save(spark, docs, "doc_id", "text", bm25Dir)))
    Main.log("built")
    // the reference answers and the warm-up, side by side: a request
    // of each kind fills the memos, compiles the plans and lets the JIT
    // reach the serving paths; its answers are checked once the
    // references are in
    val warmAnswers = TrieMap.empty[Int, Seq[Row]]
    graft.Par.jobs(truthJobs() ++ warm.indices.map(i => () =>
      warmAnswers(i) = serve(requests(warm(i))).collect().toSeq))
    truth(Req("chat_intent", 0)) = truth(Req("rising", 0))
    warm.indices.foreach { i =>
      val r = requests(warm(i))
      ctx.call(layerOf(r.kind), r.kind)(warmAnswers(i))(check(r, _))
    }
    ctx.info ++= Seq("rows" -> sched.get("rows"),
      "input_bytes" -> Stats.bytes(sf), "distinct_requests" -> requests.size,
      "clients" -> 1, "warm_requests" -> warm.size, "window_requests" -> order.size,
      "knn_k" -> K)
  }

  /** The served call for a request. */
  private def serve(r: Req): DataFrame = r.kind match {
    case "b1" => Dashboard.topNLatest(spark, sf)
    case "b2" => Dashboard.countryTrend(spark, sf)
    case "b3" => Dashboard.explorerFilter(spark, sf)
    case "b4" => Dashboard.topCountriesMean(spark, sf)
    case "b5" => Dashboard.topCountriesSum(spark, sf)
    case "b6" => Dashboard.pivotHeatmap(spark, sf)
    case "rising" => Insights.fastestRising(spark, sf)
    case "insight" => Insights.insightText(spark, sf)
    case "chat_intent" => Chatbot.answer(spark, sf, intent)._2
    case "chat" => Chatbot.answer(spark, sf, questionPool(r.arg))._2
    case "tfidf" => Tfidf.searchSaved(spark, tfidfDir, searchPool(r.arg), K)
    case "bm25" => Bm25.servedTopK(spark, bm25Dir, searchPool(r.arg), K)
    case "knn" => IndexStore.servedKnnGiven(spark, ivfDir, col("vec_id") === knnPool(r.arg), K)
    case "forecast" =>
      val (g, i) = seriesPool(r.arg)
      Forecast.holtForecast(Observations.panel(spark, sf))
        .filter(col("geo") === g && col("indicator") === i).orderBy("year")
  }

  private def layerOf(kind: String): String = kind match {
    case "tfidf" | "bm25" => "text"
    case "knn" => "sim"
    case "forecast" => "forecast"
    case _ => "analytics"
  }

  private val truth = TrieMap.empty[Req, Seq[Row]]
  private var trendTruth: Map[(String, String), Row] = Map.empty

  /** The jobs that fill `truth` and `trendTruth`. */
  private def truthJobs(): Seq[() => Unit] = {
    // built once for the reference queries, apart from the panel memo
    val b = Observations.build(spark, sf).localCheckpoint(true)
    val ref = new DashboardReference(b)
    trendTruth = ref.trend.collect().map(r =>
      (r.getAs[String]("geo"), r.getAs[String]("indicator")) -> r).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    def put(r: Req)(df: => DataFrame): () => Unit = () => truth(r) = df.collect().toSeq
    val jobs: Seq[() => Unit] =
      Seq(put(Req("b1", 0))(ref.b1), put(Req("b2", 0))(ref.b2), put(Req("b3", 0))(ref.b3),
        put(Req("b4", 0))(ref.b4), put(Req("b5", 0))(ref.b5), put(Req("b6", 0))(ref.b6),
        put(Req("rising", 0))(ref.fastestRising)) ++
      searchPool.indices.flatMap(i => Seq(
        put(Req("tfidf", i))(Tfidf.searchTopK(spark, docs, "doc_id", "text", searchPool(i), K)),
        put(Req("bm25", i))(Bm25.topK(spark, docs, "doc_id", "text", searchPool(i), K)))) ++
      knnPool.indices.map(i => put(Req("knn", i))(
        Ivf.knnGivenCentroids(emb, col("vec_id") === knnPool(i), K).orderBy("query_id", "rank"))) ++
      seriesPool.indices.map { i =>
        val (g, ind) = seriesPool(i)
        put(Req("forecast", i))(Forecast.holtForecast(b)
          .filter(col("geo") === g && col("indicator") === ind).orderBy("year"))
      }
    jobs
  }

  private def check(r: Req, got: Seq[Row]): Boolean = r.kind match {
    case "insight" =>
      got.size == trendTruth.size && got.forall { row =>
        trendTruth.get((row.getString(0), row.getString(1))).exists { t =>
          val s = row.getString(2)
          s.startsWith(s"For ${row.getString(0)}, the indicator '${row.getString(1)}' changed from ") &&
            s.contains(s" in ${t.getAs[Int]("start_year")} to ") &&
            s.endsWith(s"Overall trend: ${t.getAs[String]("trend_label")}.")
        }
      }
    case "chat" =>
      // semantic answer: five (geo|indicator, cosine) rows of the
      // insight corpus, best first
      val cos = got.map(_.getDouble(1))
      got.size == 5 && got.forall(row => row.getString(0).split('|') match {
        case Array(g, i) => trendTruth.contains((g, i))
        case _ => false
      }) && cos.forall(c => c > 0 && c <= 1 + 1e-9) && cos == cos.sorted.reverse
    case _ => got == truth(r)
  }

  /** The closed loop of one client: it sends the order's next request
    * when the previous answer arrives, until the order is served;
    * `seconds` is only a ceiling, past which no request starts.
    */
  def run(): Units = {
    val start = System.nanoTime()
    val deadline = start + ctx.seconds * 1000000000L
    val brute = sched.get("knn_brute")
    var hits, total = 0L
    var served = 0
    while (served < order.size && System.nanoTime() < deadline) {
      // a traced run traces each distinct request in one of the two
      // cycles and not in the other, so every request kind has both
      // sides of the overhead
      if (ctx.trace) ctx.tracer.on = (order(served) + served / requests.size) % 2 == 1
      val r = requests(order(served))
      ctx.call(layerOf(r.kind), r.kind, ctx.newRequest())(serve(r).collect().toSeq)(
        check(r, _)).foreach { got =>
        if (r.kind == "knn") {
          val want = brute.get(knnPool(r.arg).toString).asScala.map(_.asLong).toSet
          hits += got.count(x => want(x.getAs[Long]("neighbor_id")))
          total += want.size
        }
      }
      served += 1
    }
    ctx.layerMetrics("sim.knn_recall_at_k") = if (total == 0) 0.0 else hits.toDouble / total
    Units(served.toDouble, (System.nanoTime() - start) / 1e9)
  }
}

object DashboardServe {
  val K = 10
  final case class Req(kind: String, arg: Int)
}

/** Independent reference for the dashboard and insight answers: the
  * same questions asked of `Observations.build` (the un-memoized
  * panel) with plain DataFrame operations.
  */
final class DashboardReference(b: DataFrame) {
  private def latest = b.join(broadcast(b.agg(max("year").as("ly"))), col("year") === col("ly"))

  def b1: DataFrame = latest.groupBy("geo").agg(graft.Fp.davg(col("value")).as("avg_value"))
    .orderBy(desc("avg_value"), asc("geo")).limit(10)
  def b2: DataFrame = b.filter(col("geo") === "NATION_0" && col("indicator") === "1-URGENT")
    .select("year", "value").distinct().orderBy("year")
  def b3: DataFrame = b.filter(col("geo") === "NATION_1" && col("indicator") === "5-LOW" &&
      col("year").between(1996, 2000))
    .select("geo", "indicator", "year", "value", "n_obs").orderBy("year")
  def b4: DataFrame = b.filter(col("indicator") === "1-URGENT" && col("year").between(1996, 2000))
    .groupBy("geo").agg(graft.Fp.davg(col("value")).as("avg_value"))
    .orderBy(desc("avg_value"), asc("geo")).limit(10)
  def b5: DataFrame = latest.groupBy("geo").agg(graft.Fp.dsum2(col("value")).as("sum_value"))
    .orderBy(desc("sum_value"), asc("geo")).limit(10)
  def b6: DataFrame = b.filter(col("indicator") === "1-URGENT").groupBy("geo")
    .agg(graft.Fp.dsum2(col("value")).as("total"), (1995 to 2001).map(y =>
      graft.Fp.dsum2(when(col("year") === y, col("value"))).as(y.toString)): _*)
    .drop("total").orderBy("geo")

  /** Endpoint trend per (geo, indicator): first/last year and value. */
  def trend: DataFrame = b.groupBy("geo", "indicator").agg(
      min("year").as("start_year"), max("year").as("end_year"),
      min_by(col("value"), col("year")).as("start_value"),
      max_by(col("value"), col("year")).as("end_value"))
    .withColumn("slope_per_year", (col("end_value") - col("start_value")) /
      greatest(col("end_year") - col("start_year"), lit(1)))
    .withColumn("trend_label", when(col("slope_per_year") > 0.01, "rising")
      .when(col("slope_per_year") < -0.01, "declining").otherwise("stable"))

  def fastestRising: DataFrame = trend.filter(col("indicator") === "1-URGENT")
    .orderBy(desc("slope_per_year"), asc("geo")).limit(1)
    .select("geo", "indicator", "start_year", "end_year", "start_value", "end_value",
      "slope_per_year")
}

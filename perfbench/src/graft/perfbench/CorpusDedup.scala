package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupQueries, NearDup}
import graft.etl.Clean
import graft.pipeline.Corpus
import graft.relational.SnapshotStore
import graft.sources.Tables
import graft.text.TextQueries

/** corpus_dedup — one nightly batch job in a fresh JVM. First the
  * warehouse loads: for each seeded batch, `Clean.load` of its rows
  * and `SnapshotStore.applyDiff` of its change feed to the versioned
  * store initialised at setup, each followed by a fresh `readCurrent`
  * checked against the cumulative truth. Then a pass of the LLM-data
  * pipeline over a seeded corpus with planted copies (3% exact, 3%
  * near): language ID and quality, exact dedup, the MinHash near-dup
  * index, SimHash with hamming verification, word-trigram Jaccard
  * pairs, connected components, then the corpus keep-list and
  * decontamination.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._

  private val spark = ctx.spark
  private val dir = s"${ctx.data}/sf"
  private val facts = ctx.schedule
  private val corpusDir = s"${ctx.data}/corpus"
  private val corpus = facts.get("corpus")
  private val nDocs = corpus.get("docs").asLong
  private val plants = corpus.get("plants").asScala.toSeq
  private val exactPairs = plants.filter(_.get(2).asText == "exact")
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  /** Planted near-duplicates the MinHash index must find at the floor. */
  private val nearPairs = plants
    .filter(p => p.get(2).asText == "near" && p.get(3).asDouble >= RecallJaccard)
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet

  private val wh = facts.get("warehouse")
  private val snapDir = s"${ctx.work}/snapshot"
  private val loadDir = s"${ctx.work}/loaded"
  private def batchDir(kind: String, b: Int) = s"${ctx.data}/batches/$kind/batch=$b"

  /** The warehouse's current state, the orders snapshot as version 1;
    * then the warm-up: the first batch against a copy of the store, so
    * the window's warehouse calls run warm.
    */
  def setup(): Unit = {
    SnapshotStore.init(Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_totalprice"), col("o_orderstatus"), col("o_orderdate").cast("timestamp")), snapDir)
    val warmDir = s"${ctx.work}/warm"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(snapDir),
      new java.io.File(s"$warmDir/snapshot"))
    batch(0, s"$warmDir/snapshot", s"$warmDir/loaded")
    ctx.info ++= Seq("corpus_docs" -> nDocs, "planted_exact" -> exactPairs.size,
      "planted_near" -> plants.count(_.get(2).asText == "near"),
      "planted_near_recall_set" -> nearPairs.size,
      "corpus_parquet_bytes" -> Stats.bytes(s"$corpusDir/documents.parquet"),
      "corpus_text_bytes" -> corpus.get("text_bytes").asLong)
  }

  private def pairSet(rows: Seq[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The pass is measured by its throughput (work_per_s), the
    * warehouse calls by their latency.
    */
  override def inLatency(op: Op): Boolean = op.layer == "etl" || op.layer == "relational"

  /** The warehouse loads, then the pass: a nightly batch's Spark jobs
    * after the loads, with only the pass's own paths still cold.
    */
  def run(): Units = {
    ctx.tracer.on = ctx.trace
    load()
    val passS = pass()
    ctx.info ++= storageFacts()
    ctx.tracer.on = false
    Units(nDocs.toDouble, passS)
  }

  /** The pass: each stage is one timed call, checked against the
    * plants. Returns the pass's seconds.
    */
  private def pass(): Double = {
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, corpusDir)
    val n = nDocs
    val req = ctx.newRequest()
    ctx.call("text", "langid", req)(TextQueries.langId(spark, corpusDir)
      .groupBy("pred_lang").count().collect().toSeq)(_.map(_.getLong(1)).sum == n)
    ctx.call("text", "quality", req)(TextQueries.textQuality(spark, corpusDir)
      .agg(count(lit(1)), sum("n_tokens")).head())(_.getLong(0) == n)
    ctx.call("dedup", "exact", req)(DedupQueries.dedupExact(spark, corpusDir)
      .filter(col("n_copies") === 4).count())(_ == exactPairs.size.toLong)
    val ix = ctx.call("dedup", "neardup_index", req) {
      val ix = NearDup.index(docs)
      (ix, pairSet(ix.pairs.select("doc_a", "doc_b").collect().toSeq))
    } { case (_, pairs) =>
      val hit = nearPairs.count(pairs)
      ctx.layerMetrics("dedup.planted_recall") = hit.toDouble / math.max(1, nearPairs.size)
      exactPairs.subsetOf(pairs) && hit >= math.ceil(RecallFloor * nearPairs.size)
    }
    ctx.call("dedup", "simhash", req) {
      val sims = Dedup.simhash(docs, "doc_id", "text").localCheckpoint(true)
      val cand = Dedup.bucketPairs(Dedup.simhashBuckets(sims, n)).localCheckpoint(true)
      (cand.count(), pairSet(Dedup.hammingVerify(cand, sims, 6)
        .select("doc_a", "doc_b").collect().toSeq))
    } { case (cnt, v) =>
      ctx.layerMetrics("dedup.candidate_pairs") = cnt.toDouble
      ctx.layerMetrics("dedup.verify_yield") = v.size.toDouble / math.max(1L, cnt)
      exactPairs.subsetOf(v)
    }
    ctx.call("dedup", "ngram", req)(pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect().toSeq))(exactPairs.subsetOf(_))
    ix.foreach { case (index, _) =>
      ctx.call("dedup", "clusters", req)(index.labels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap) { lab =>
        exactPairs.forall { case (a, b) => lab.get(a).exists(lab.get(b).contains) }
      }
    }
    ctx.call("pipeline", "clean", req)(Corpus.corpusClean(spark, corpusDir)
      .agg(count(lit(1)), sum(when(!col("keep_exact"), 1).otherwise(0))).head())(r =>
      r.getLong(0) == n && r.getLong(1) == exactPairs.size.toLong)
    ctx.call("pipeline", "decontaminate", req)(Corpus.decontaminate(spark, corpusDir)
      .agg(count(lit(1)), sum("n_shared")).head())(_.getLong(0) <= n)
    (System.nanoTime() - t0) / 1e9
  }

  /** The warehouse loads, each checked by a fresh read. */
  private def load(): Unit = {
    val plan = wh.get("batches").asScala.toSeq
    val writeAmp = plan.indices.map(batch(_, snapDir, loadDir))
    val committed = plan.size * (wh.get("batch_user_rows").get("load").asLong +
      wh.get("batch_user_rows").get("feed").asLong)
    ctx.layerMetrics("relational.write_amp") = writeAmp.sum / math.max(1, writeAmp.size)
    ctx.layerMetrics("relational.store_per_live") =
      Stats.bytes(snapDir).toDouble / Stats.bytes(s"$snapDir/v=${plan.size + 1}")
    ctx.info ++= Seq("warehouse_batches" -> plan.size, "warehouse_rows" -> committed,
      "store_bytes" -> Stats.bytes(snapDir))
  }

  /** Batch `b` of the plan: load its rows into `loaded`, apply its
    * change feed to the store at `snap`, read the store back. Returns
    * the apply's bytes written per change-feed byte.
    */
  private def batch(b: Int, snap: String, loaded: String): Double = {
    val p = wh.get("batches").get(b)
    val req = ctx.newRequest()
    var writeAmp = 0.0
    ctx.call("etl", "load", req)(Clean.load(spark.read.parquet(batchDir("load", b)), loaded,
      p.get("load_mode").asText))(_ => spark.read.parquet(loaded).count() ==
      p.get("loaded_rows").asLong)
    ctx.call("relational", "apply", req)(SnapshotStore.applyDiff(spark, snap,
      spark.read.parquet(batchDir("feed", b)))) { v =>
      writeAmp = Stats.bytes(s"$snap/v=$v").toDouble / Stats.bytes(batchDir("feed", b))
      v == b + 2L
    }
    ctx.call("relational", "read_current", req)(SnapshotStore.readCurrent(spark, snap)
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)") * 100)).head())(r =>
      r.getLong(0) == p.get("live_orders").asLong &&
        r.getDecimal(1).longValueExact() == p.get("live_cents").asLong)
    writeAmp
  }

  /** The checkpointed shingle sets of the pass against the
    * block manager's storage memory.
    */
  private def storageFacts(): Seq[(String, Any)] = {
    val sets = NearDup.index(Tables.documents(spark, corpusDir)).sets
    val ids = sets.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val info = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
    Seq("shingle_mem_bytes" -> info.map(_.memSize).sum,
      "shingle_disk_bytes" -> info.map(_.diskSize).sum,
      "storage_memory_bytes" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum)
  }
}

object CorpusDedup {
  /** Planted near-duplicates at or above this char-5-gram Jaccard
    * must be found by the MinHash index at the recall floor.
    */
  val RecallJaccard = 0.8
  val RecallFloor = 0.9
}

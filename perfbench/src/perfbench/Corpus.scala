package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

object Corpus {
  val kinds: Seq[String] = Seq("corpus.dedup", "corpus.ivf", "corpus.lsh")
}

/** LLM-data operators: `Dedup.dedupeCorpus` over a zipf-vocabulary corpus
  * with planted near and exact duplicates, and 64-query ANN batches
  * (`Similarity.ivfTopK`, `Similarity.lshTopK`) over clustered embeddings
  * whose queries are noisy copies of corpus vectors. Exact top-10 ground
  * truth is computed at set-up. Each cycle ends with the lakehouse ops of
  * [[Lake]] on a table of their own. */
final class Corpus(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "corpus"
  val opKinds = Corpus.kinds ++ Lake.kinds
  val mainKinds = Set("corpus.dedup")
  val sideKinds = Set("corpus.ivf", "corpus.lsh")
  val aliases = Seq(
    "main_rows_per_s" -> "corpus_dedup_docs_per_s",
    "side_p50_ms" -> "corpus_ann_p50_ms",
    "stored_bytes_per_row" -> "lake_stored_bytes_per_row",
    "quality" -> "corpus_ann_recall_at10")

  private val lake = new Lake(spark, seed, cores)

  private val nDocs = 10000
  private val nVecs = 20000
  private val dim = 32
  private val batches = 8
  private val perBatch = 64
  private val k = 10
  /** Recall floors: well under what both indexes reach on these inputs. */
  private val ivfFloor = 0.8
  private val lshFloor = 0.5

  private var docsDir: String = _
  private var vecsDir: String = _
  private var texts: Array[String] = _
  private var planted = 0
  private var vecs: Array[Array[Float]] = _
  private var queries: Array[DataFrame] = _
  private var truth: Array[Map[Long, Set[Long]]] = _
  private var cursor = 0

  def setup(dir: Path): Unit = {
    val rnd = new Random(seed)
    val (ts, p) = Gen.corpus(rnd, nDocs)
    texts = ts
    planted = p
    docsDir = dir.resolve("docs").toString
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val docRows = texts.indices.map(i => Row(i.toLong, texts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, cores), docSchema)
      .write.parquet(docsDir)

    vecs = Gen.embeddings(rnd, nVecs, dim, 64)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    vecsDir = dir.resolve("vecs").toString
    val vecRows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, cores), vecSchema)
      .write.parquet(vecsDir)

    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val qs = Array.tabulate(batches, perBatch) { (b, j) =>
      val base = vecs(rnd.nextInt(nVecs))
      (1000000000L + b * perBatch + j, base.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }
    queries = qs.map(batch => spark.createDataFrame(
      batch.toSeq.map { case (id, v) => Row(id, v.toSeq) }.asJava, vecSchema))
    truth = qs.map(_.map { case (id, q) => id -> topK(norms, q).toSet }.toMap)
    cursor = 0
    Stats.phase("lake")(lake.setup(dir.resolve("lake")))
  }

  /** Exact top-k vec_ids by cosine, ties to the lower id. */
  private def topK(norms: Array[Double], q: Array[Float]): Array[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val best = Array.fill(k)(-1)
    val bestS = Array.fill(k)(Double.NegativeInfinity)
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      var d = 0.0
      var j = 0
      while (j < dim) { d += v(j) * q(j); j += 1 }
      val s = d / (norms(i) * qn)
      if (s > bestS(k - 1)) { // strictly greater: an equal later id loses
        var p = k - 1
        while (p > 0 && s > bestS(p - 1)) { bestS(p) = bestS(p - 1); best(p) = best(p - 1); p -= 1 }
        bestS(p) = s; best(p) = i
      }
      i += 1
    }
    best.map(_.toLong)
  }

  private def recall(found: DataFrame, b: Int): Double = {
    val got = found.select("qid", "nid").collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    truth(b).map { case (q, want) => (got.getOrElse(q, Set.empty[Long]) & want).size.toDouble / k }
      .sum / truth(b).size
  }

  private def dedup(dir: String): Long = Dedup.dedupeCorpus(spark.read.parquet(dir)).count()
  private def ivf(dir: String, b: Int) =
    Similarity.ivfTopK(spark.read.parquet(dir), queries(b), k, nlist = 128, nprobe = 4)
  private def lsh(dir: String, b: Int) =
    Similarity.lshTopK(spark.read.parquet(dir), queries(b), k, bits = 10, probes = 3, tables = 6)

  /** Warm-up: a full-size dedup (after a small one the measured dedup ran
    * about 40% slower), then two batches of each index. The lake ops,
    * which feed no end-to-end metric but stored bytes, are warmed by the
    * set-ups' loads only. */
  override def warmup(r: Run): Unit = {
    r.op("corpus.dedup")(dedup(docsDir))
    for (b <- 0 until 2) {
      r.op("corpus.ivf")(ivf(vecsDir, b).select("qid", "nid").collect().length)
      r.op("corpus.lsh")(lsh(vecsDir, b).select("qid", "nid").collect().length)
    }
  }

  /** The op cycle: two batches through each index, alternating, one
    * dedup, then one lake cycle. */
  private val annSteps = 4
  val cycleSteps = annSteps + 1 + lake.cycleSteps

  def step(r: Run): Unit = {
    val slot = cursor % cycleSteps
    val b = (cursor / cycleSteps * annSteps / 2 + slot / 2) % batches
    cursor += 1
    if (slot > annSteps) lake.step(r, slot - annSteps - 1)
    else if (slot == annSteps) r.op("corpus.dedup") {
      val survivors = dedup(docsDir)
      r.check(survivors == nDocs - planted,
        s"corpus: $survivors survivors, expected ${nDocs - planted}")
      nDocs
    } else slot % 2 match {
      case 0 => r.op("corpus.ivf") {
        val rec = recall(ivf(vecsDir, b), b)
        r.record("ann.ivf_recall_at10", rec)
        perBatch
      }
      case _ => r.op("corpus.lsh") {
        val rec = recall(lsh(vecsDir, b), b)
        r.record("ann.lsh_recall_at10", rec)
        perBatch
      }
    }
  }

  def finish(r: Run): Unit = {
    val ivf = Stats.median(r.seriesOf("ann.ivf_recall_at10"))
    val lsh = Stats.median(r.seriesOf("ann.lsh_recall_at10"))
    r.check(ivf >= ivfFloor, s"corpus: IVF recall@10 $ivf under the floor $ivfFloor")
    r.check(lsh >= lshFloor, s"corpus: LSH recall@10 $lsh under the floor $lshFloor")
    lake.finish(r)
  }

  /** ANN latency: the mean of the IVF and the LSH median, so both indexes
    * weigh the same. */
  override def endToEnd(r: Run): Map[String, Double] = {
    val perIndex = sideKinds.toSeq.map(k => Stats.median(r.samples.filter(_.kind == k).map(_.ms)))
    super.endToEnd(r) + ("side_p50_ms" -> perIndex.sum / perIndex.size)
  }

  override def quality(r: Run): Double =
    Stats.median(r.seriesOf("ann.ivf_recall_at10") ++ r.seriesOf("ann.lsh_recall_at10"))

  def storedBytesPerRow(r: Run): Double = lake.storedBytesPerRow(r)

  override def layer(r: Run, t: Trace): Map[String, Double] = {
    val dedups = t.ops.filter(o => o.ok && o.kind == "corpus.dedup").toSeq
    def phaseMs(o: Trace.OpSpan, fn: String) =
      t.jobsOf(o).filter(_.callSite.contains(fn)).map(j => (j.endMs - j.startMs).toDouble).sum
    Map(
      "dedup.pairs_ms" -> Stats.median(dedups.map(phaseMs(_, "minhashPairs"))),
      "dedup.clusters_ms" -> Stats.median(dedups.map(phaseMs(_, "clusters"))),
      "dedup.jobs" -> Stats.median(dedups.map(o => t.jobsOf(o).size.toDouble)),
      "ann.ivf_recall_at10" -> Stats.median(r.seriesOf("ann.ivf_recall_at10")),
      "ann.lsh_recall_at10" -> Stats.median(r.seriesOf("ann.lsh_recall_at10"))) ++
      lake.layer(r, t)
  }

  def kernelInputs: KernelInputs =
    Kernels.generated(seed).copy(texts = texts.take(2000), vectors = vecs.take(2000))
}

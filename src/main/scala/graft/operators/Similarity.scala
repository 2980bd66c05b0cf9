package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.vector.VectorLib

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast;
  *    the corpus streams — correct baseline, O(|Q|·|C|) compute but no
  *    shuffle of the corpus. Use when |Q| is small.
  *  - [[lshTopK]]: random-hyperplane LSH buckets + in-bucket ranking with
  *    multi-probe (searching the query's bucket and single-bit-flip
  *    neighbors) — the 100 TB path: equality join on bucket keys, compute
  *    proportional to bucket sizes.
  */
object Similarity {

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // the corpus-side dot products are the whole cost and run pre-shuffle —
    // guard the scan's parallelism (no-op when splits >= cores)
    val c = Scatter(corpus).select(col(idCol).as("nid"), col(vecCol).as("nv"))
    rankByCos(c.join(broadcast(q), col("qid") =!= col("nid")), k)
  }

  /** LSH top-k: multi-table OR-construction × multi-probe.
    *
    * `tables` independent random-hyperplane signatures (seeds seed+t) are
    * computed per vector; a corpus vector lands in one bucket per table, a
    * query probes its own bucket plus `probes` single-bit-flip neighbors in
    * every table. Candidates are the union across tables (OR-construction):
    * recall ≈ 1 − (1 − p^bits)^tables per probe, so more tables buys recall
    * without widening buckets. The join stays a pure equality join on
    * (table, bucket) — bucket count is tables · 2^bits, so in-bucket
    * brute-force cost is |corpus|²·tables/2^bits per table pair; at
    * bits = 16 that is 65536× smaller than the corpus square, the 100 TB
    * shape. Corpus-side cost is `tables` rows per vector (linear, shuffled
    * once); query-side fan-out is tables · (1 + probes). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 16,
      probes: Int = 4, tables: Int = 4, seed: Long = 7L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
    require(tables >= 1, s"tables must be >= 1: $tables")
    require(probes >= 0, s"probes must be >= 0: $probes")
    val sigT = (t: Int, v: Column) => rhp_signature(v, lit(bits), lit(seed + t))
    val c = Scatter(corpus).select(col(idCol).as("nid"), col(vecCol).as("nv"),
      posexplode(array((0 until tables).map(t => sigT(t, col(vecCol))): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val qSig = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      posexplode(array((0 until tables).map(t => sigT(t, col(vecCol))): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "qb")
    val probed = qSig.select(col("qid"), col("qv"), col("tbl"),
      explode(lshFanOut(col("qb"), probes, bits)).as("bucket"))
      .dropDuplicates("qid", "tbl", "bucket")
    // broadcast the |Q|·tables·(1+probes) probe fan-out — the corpus
    // bucket index streams map-only through the candidate join
    rankByCos(broadcast(probed).join(c, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .dropDuplicates("qid", "nid"), k) // union candidates across tables/probes
  }

  /** A query bucket's probe fan-out: its own bucket `qb` (the bigint
    * signature) then its single-bit flips `qb ^ 1<<b` for
    * b < min(probes, bits), so probes = 0 probes ONLY `qb`. Built as
    * plain XORs, the fan-out compiles without a lambda. */
  private[graft] def lshFanOut(qb: Column, probes: Int, bits: Int): Column =
    array(qb +: (0 until math.min(probes, bits))
      .map(b => qb.bitwiseXOR(lit(1L << b))): _*)

  /** IVF (inverted-file) top-k: the coarse-quantizer ANN path.
    *
    * A spherical k-means codebook of `nlist` centroids is trained on a
    * BOUNDED sample (`trainSample` rows via sort-limit, which Spark plans as
    * TakeOrderedAndProject — per-partition top-N + merge, never a full
    * sort) and solved on the driver: codebook training is O(sample·nlist)
    * and independent of corpus size, the same shape faiss uses. The
    * centroids then travel to executors as one literal array — corpus
    * assignment is a map-only argmax-dot pass, queries probe their `nprobe`
    * nearest cells, and candidates come from an equality join on the cell
    * id with the probe side broadcast. Per-query compute is nprobe/nlist
    * of the corpus instead of all of it; the corpus never shuffles.
    *
    * Ties (equal dot products) break toward the lower centroid index on
    * BOTH sides (NearestCells' strict-greater argmax scan) — so a query
    * that is an exact copy of a corpus vector always probes its twin's
    * cell: planted self-matches are a structural guarantee, not a
    * probability. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 256,
      nprobe: Int = 8, trainSample: Int = 10000, iters: Int = 5,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist: nlist=$nlist nprobe=$nprobe")
    val centroids = trainSpherical(
      trainingSample(corpus, idCol, vecCol, trainSample), nlist, iters)
    search(probe(queries, idCol, vecCol, centroids, nprobe, None),
      assign(Scatter(corpus), idCol, vecCol, centroids, None), k, None)
  }

  /** IVF-PQ top-k: the memory-bounded ANN path (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the faiss
    * IVFPQ + refine shape).
    *
    * Training (driver, bounded sample): spherical k-means coarse codebook
    * (`nlist` cells), then per-subspace k-means over coarse RESIDUALS
    * (`m` subspaces × `ksub` codewords). Both are O(sample), independent
    * of corpus size.
    *
    * Index (map-only): each corpus vector stores (cell id, m code bytes) —
    * `m` bytes instead of 4·dim, a 32× memory cut at dim=64/m=8. That is
    * what makes the difference between "the embedding corpus fits the ANN
    * tier" and "it doesn't" at 100 TB.
    *
    * Search: a query probes `nprobe` cells (equality join on the cell id,
    * the IVF shape), scores every candidate with the ADC table — one
    * `pq_lut` per query row, then m table-adds per candidate instead of a
    * dim-length dot — keeps the best `refine` by ADC, fetches only those
    * original vectors back by an id equality join, and exact-cosine
    * re-ranks to the final top-k. Approximation lives strictly in the
    * SHORTLIST; every returned (rank, cos) is exact arithmetic, so a
    * planted identical twin that reaches the shortlist surfaces at
    * rank 1 / cos 1.0 deterministically. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 64,
      nprobe: Int = 8, m: Int = 8, ksub: Int = 64, refine: Int = 64,
      trainSample: Int = 10000, iters: Int = 5,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist: nlist=$nlist nprobe=$nprobe")
    require(refine >= k, s"refine shortlist must cover k: refine=$refine k=$k")
    val sample = trainingSample(corpus, idCol, vecCol, trainSample)
    require(sample.nonEmpty, "IVF-PQ training needs a non-empty corpus")
    val centroids = trainSpherical(sample, nlist, iters)
    val books = residualBooks(sample, centroids, m, ksub, iters)
    search(probe(queries, idCol, vecCol, centroids, nprobe, Some(books)),
      assign(Scatter(corpus), idCol, vecCol, centroids, Some(books)), k,
      Some(Refine(refine, books,
        corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")))))
  }

  // ---- the shared ANN pipeline ------------------------------------------
  //
  // Every ANN path is candidate generation then exact verification: the
  // probe side (queries × their cells or buckets) joins the corpus-side
  // candidates, and each query keeps its best k by exact cosine. The IVF
  // entry points — per-call and persisted, with or without PQ codes and a
  // predicate — differ only in where the centroids, candidates and live
  // ids come from; they all run `search`.

  /** The one top-k tail: per query, rows ranked by `score` descending
    * (ties toward the lower nid) into column `rank`, the best `k` kept. */
  private def topK(scored: DataFrame, k: Int, score: String,
      rank: String): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col(score).desc, col("nid"))
    scored.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** The result contract of every ANN path: (qid, nid, rk, cos), the `k`
    * best candidate pairs per query by `cos` (exact cosine of `qv`, `nv`
    * unless given). */
  private def rankByCos(pairs: DataFrame, k: Int,
      cos: Column = cosine_similarity(col("qv"), col("nv"))): DataFrame =
    topK(pairs.withColumn("cos", cos), k, "cos", "rk")
      .select(col("qid"), col("nid"), col("rk"), col("cos"))

  /** The bounded training sample: the first `n` vectors by id (sort-limit,
    * planned as TakeOrderedAndProject), collected as floats. array<double>
    * inputs (e.g. from SQL arithmetic, which promotes float to double)
    * cast here as the Column-side kernels implicit-cast. */
  private def trainingSample(df: DataFrame, idCol: String, vecCol: String,
      n: Int): Array[Array[Float]] =
    df.select(col(idCol), col(vecCol)).sort(col(idCol)).limit(n).collect()
      .map(_.getSeq[Number](1).map(_.floatValue).toArray)

  /** PQ codebooks over the sample's residuals against their nearest
    * coarse centroid — one recipe for the per-call and persisted paths,
    * so a persisted-PQ query at the build snapshot matches [[ivfPqTopK]]
    * row for row. */
  private def residualBooks(sample: Array[Array[Float]],
      centroids: Array[Array[Float]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Float]]] = {
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"need 1 <= ksub <= 256 (codes are single bytes): m=$m ksub=$ksub")
    // residual per sample point needs another full argmax over the coarse
    // codebook (O(sample·nlist·dim)) — parallelize like the training loops
    val residuals = new Array[Array[Float]](sample.length)
    java.util.stream.IntStream.range(0, sample.length).parallel().forEach { p =>
      val vh = VectorLib.unit(sample(p))
      val c = centroids(VectorLib.nearestCells(vh, centroids, 1)(0))
      val r = new Array[Float](vh.length)
      var i = 0
      while (i < vh.length) { r(i) = vh(i) - (if (i < c.length) c(i) else 0f); i += 1 }
      residuals(p) = r
    }
    trainPq(residuals, m, ksub, iters)
  }

  /** Corpus rows assigned map-only to their cell: (nid, nv, cell), or with
    * PQ books (nid, cell, codes) — `ivfpq_encode` shares the coarse argmax
    * with `nearest_cells`, so the cell is identical either way. Both go
    * through the NearestCells kernel, whose tie-break toward the lower
    * index on corpus and query side is the planted-self-match guarantee. */
  private def assign(data: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      books: Option[Array[Array[Array[Float]]]]): DataFrame = books match {
    case None =>
      data.select(col(idCol).as("nid"), col(vecCol).as("nv"))
        .withColumn("cell", element_at(nearest_cells(col("nv"), centroids, 1), 1))
    case Some(b) =>
      data.select(col(idCol).as("nid"),
          ivfpq_encode(col(vecCol), centroids, b).as("enc"))
        .select(col("nid"), col("enc.cell").as("cell"), col("enc.codes").as("codes"))
  }

  /** The probe side: each query's `nprobe` nearest cells as (qid, qv,
    * cell). With PQ books each row also carries the query's ADC table
    * `lut` and `cdot`, the coarse ⟨q̂, centroid⟩ term — it depends only on
    * (query, cell), so it is computed on the |Q|·nprobe probe rows, NOT
    * per candidate after the join. */
  private def probe(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], nprobe: Int,
      books: Option[Array[Array[Array[Float]]]]): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val cells = explode(nearest_cells(col("qv"), centroids, nprobe)).as("cell")
    books match {
      case None => q.select(col("qid"), col("qv"), cells)
      case Some(b) =>
        q.withColumn("lut", pq_lut(col("qv"), b))
          .select(col("qid"), col("qv"), col("lut"), cells)
          .withColumn("cdot", cell_dot(col("qv"), col("cell"), centroids))
    }
  }

  /** The PQ re-rank: keep each query's best `shortlist` candidates by ADC
    * score, then fetch only their original vectors — (nid, nv) rows of
    * `vectors` — for the exact cosine. */
  private final case class Refine(shortlist: Int,
      books: Array[Array[Array[Float]]], vectors: DataFrame)

  /** The IVF search every entry point runs. The probe side (|Q|·nprobe
    * rows — the serving contract's small side) is broadcast into the cell
    * equality join, explicitly: without CBO a filtered query frame
    * inherits its scan's size estimate, so auto-broadcast can silently
    * fail and sort-merge the whole cell-assigned corpus through an
    * exchange. Without `refine` every candidate is cosine-ranked; with
    * it, candidates are ADC-scored from their codes and only the
    * shortlist reads full vectors. */
  private def search(probed: DataFrame, candidates: DataFrame, k: Int,
      refine: Option[Refine]): DataFrame = {
    val pairs = broadcast(probed).join(candidates, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
    refine match {
      case None => rankByCos(pairs, k)
      case Some(Refine(n, books, vectors)) =>
        // a sample smaller than ksub trains codebooks with fewer than ksub
        // codewords (trainPq inits from subs.take(ksub)); the ADC stride
        // MUST be the trained codebook length, not the requested ksub, or
        // the LUT lookups for subspaces >= 1 read other subspaces' entries
        val adc = col("cdot") + pq_adc(col("lut"), col("codes"), books(0).length)
        val shortlist = topK(pairs.withColumn("adc", adc), n, "adc", "ra")
          .select(col("qid"), col("qv"), col("nid"))
        // the shortlist is ≤ |Q|·refine rows — broadcasting it keeps the
        // corpus-side vector fetch map-only (the 100 TB posture: the
        // corpus never shuffles by nid just to serve a shortlist)
        rankByCos(broadcast(shortlist).join(vectors, Seq("nid")), k)
    }
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-space near-duplicate REMOVAL — cluster the corpus with a
    * bounded-sample spherical k-means, then compare cosines only WITHIN a
    * cluster and drop every vector that has a lower-id cluster-mate with
    * cos >= tau.
    *
    * Semantics (the paper's sorted-dominance rule, not transitive
    * closure): row b is dropped iff SOME lower-id vector a in the same
    * cluster has cos(a,b) >= tau — whether or not a itself survives. That
    * makes the drop decision a per-row predicate over its own cluster,
    * embarrassingly parallel, rather than a connected-components pass;
    * for true duplicate groups the two rules agree (the lowest id always
    * survives and dominates the rest).
    *
    * Scale shape: training is O(trainSample) on the driver; assignment is
    * map-only ([[graft.functions.GraftFunctions.nearest_cells]] argmax,
    * codegen); the only shuffle is the cluster-key equality self-join,
    * whose cost is sum of squared CLUSTER sizes, not corpus². `maxCluster`
    * caps a degenerate cluster (embedding collapse — everything lands in
    * one cell): oversized clusters pass through UNDEDUPED with a warning
    * column rather than detonating the join; at 100 TB you re-run those
    * few cells with a larger nlist. Identical vectors always share a cell
    * (same argmax), so exact duplicates are structurally inside one
    * cluster — the planted-twin gate contract.
    *
    * SIZING (the 100 TB rule): the in-cell join does Σ|cluster|² cosine
    * work, ≈ n²/nlist when balanced — so nlist must GROW with the corpus
    * for per-cell cost to stay bounded. `nlist <= 0` (the default) derives
    * `nlist = clamp(n/10000, 64, trainSample)` — ~10k vectors per cell,
    * ~10⁸ in-cell pairs each, cells derived from an actual corpus count,
    * never a fixed constant that silently admits billion-row cells at
    * scale. Past `trainSample` cells the k-means sample is the binding
    * constraint: raise `trainSample` together with nlist (the paper
    * trains on a sample too). `maxCluster` (default 100k = 10x the
    * balanced size) is the independent escape hatch for SKEWED cells:
    * it binds BEFORE the join reads a single oversized pair (the cap is
    * enforced on cell counts, Stress `semdedup-collapse` proves a fully
    * collapsed corpus passes through in O(n)). */
  def semDedup(embs: DataFrame, tau: Double, nlist: Int = 0,
      trainSample: Int = 10000, iters: Int = 5,
      maxCluster: Long = 100000L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"need 0 < tau <= 1: $tau")
    val cells = if (nlist > 0) nlist else derivedNlist(embs.count(), trainSample)
    val sample = trainingSample(embs, idCol, vecCol, trainSample)
    require(sample.nonEmpty, "semDedup training needs a non-empty corpus")
    val centroids = trainSpherical(sample, cells, iters)
    val assigned = Scatter(embs)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", element_at(nearest_cells(col("v"), centroids, 1), 1))
    // oversized-cell guard: a cell past maxCluster never enters the join
    val big = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCluster).select("cell")
    val small = assigned.join(broadcast(big), Seq("cell"), "left_anti")
    val dropped = small.as("a").join(small.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cosine_similarity(col("a.v"), col("b.v")) >= tau)
      .select(col("b.id").as("id")).distinct()
    embs.join(dropped, col(idCol) === dropped("id"), "left_anti")
  }

  /** SemDeDup nlist derivation: one cell per ~10k vectors, floored at 64,
    * capped at trainSample (a k-means sample can't support more centroids
    * than points — raise trainSample together for bigger corpora). */
  private[graft] def derivedNlist(n: Long, trainSample: Int): Int =
    math.max(64L, math.min(trainSample.toLong, n / 10000L)).toInt

  /** Per-subspace k-means over residual subvectors (plain L2 / mean — PQ
    * codewords are not unit vectors). Deterministic: codewords init from
    * the first `ksub` residuals in sample order, argmin scan breaks ties
    * toward the lower index, fixed iteration order. Empty clusters keep
    * their previous codeword. Subspace boundaries follow
    * [[VectorLib.pqSubDim]] so train/encode/LUT agree for any dim. */
  private[graft] def trainPq(residuals: Array[Array[Float]], m: Int,
      ksub: Int, iters: Int): Array[Array[Array[Float]]] = {
    require(residuals.nonEmpty, "PQ training needs a non-empty sample")
    val dim = residuals(0).length
    val dsub = VectorLib.pqSubDim(dim, m)
    Array.tabulate(m) { s =>
      val lo = s * dsub
      val hi = math.min(lo + dsub, dim)
      val w = math.max(hi - lo, 0)
      val subs = residuals.map { r =>
        val v = new Array[Float](w)
        var i = 0
        while (i < w) { v(i) = if (lo + i < r.length) r(lo + i) else 0f; i += 1 }
        v
      }
      var cents = subs.take(ksub).map(_.clone)
      if (cents.isEmpty) cents = Array(new Array[Float](w))
      for (_ <- 0 until iters) {
        // argmin assignment is the O(sample·ksub·dsub) part — parallelize
        // across cores (the trainSpherical pattern); per-point results are
        // independent and the strict-less scan stays deterministic.
        // Accumulation stays sequential (O(sample·dsub), trivial).
        val cs = cents
        val assign = new Array[Int](subs.length)
        java.util.stream.IntStream.range(0, subs.length).parallel().forEach { p =>
          val v = subs(p)
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            val cw = cs(c)
            var d = 0.0
            var i = 0
            while (i < w) { val t = v(i).toDouble - cw(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          assign(p) = best
        }
        val sums = Array.fill(cents.length, w)(0.0)
        val counts = new Array[Int](cents.length)
        var p = 0
        while (p < subs.length) {
          val v = subs(p)
          val best = assign(p)
          var i = 0
          while (i < w) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
          p += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else {
            val nw = new Array[Float](w)
            var i = 0
            while (i < w) { nw(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
            nw
          }
        }
      }
      cents
    }
  }

  /** Spherical k-means on the driver over a bounded sample: unit-normalize,
    * argmax-dot assignment, mean + renormalize update. Deterministic —
    * centroids init from the first `nlist` sample rows in sample order and
    * every step is argmax/mean arithmetic with fixed iteration order. Empty
    * cells keep their previous centroid. Returns ≤ nlist centroids (fewer
    * only when the sample itself is smaller). */
  /** Codebook-training invocations — the diagnostic the persisted-index
    * gate pins to ZERO on repeated queries (a per-call ANN retrains
    * every time; the stored index never does). */
  val trainingJobs = new java.util.concurrent.atomic.LongAdder

  private[graft] def trainSpherical(sample: Array[Array[Float]], nlist: Int,
      iters: Int): Array[Array[Float]] = {
    trainingJobs.increment()
    def normalize(v: Array[Float]): Array[Float] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    val pts = sample.map(normalize)
    var cents = pts.take(nlist).map(_.clone)
    if (cents.isEmpty) return Array(Array.fill(sample.headOption.map(_.length).getOrElse(1))(0f))
    for (_ <- 0 until iters) {
      // argmax assignment is the O(sample·nlist·dim) part — parallelize it
      // across cores; the result per point is independent and deterministic.
      // Accumulation stays sequential (O(sample·dim), trivial).
      val cs = cents
      val assign = new Array[Int](pts.length)
      java.util.stream.IntStream.range(0, pts.length).parallel()
        .forEach(p => assign(p) = VectorLib.nearestCells(pts(p), cs, 1)(0))
      val sums = Array.fill(cents.length, cents(0).length)(0.0)
      val counts = Array.fill(cents.length)(0)
      var p = 0
      while (p < pts.length) {
        val best = assign(p)
        val pt = pts(p)
        var i = 0
        while (i < pt.length) { sums(best)(i) += pt(i); i += 1 }
        counts(best) += 1
        p += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else normalize(sums(c).map(x => (x / counts(c)).toFloat))
      }
    }
    cents
  }

  // ---- int8 scalar quantization (the faiss SQ8 shape) -------------------

  /** Per-dimension symmetric int8 scales: `s_d = max |x_d|` over the
    * corpus (1.0 for all-zero dims — their codes are 0 regardless).
    * Scale shape: a dim-keyed combinable MAX (≤ `maxDim` rows — the same
    * bounded-driver-fetch contract as `Pca.fit`), never a row collect. */
  def sq8Scales(corpus: DataFrame, vecCol: String = "embedding",
      maxDim: Int = 512): Array[Double] = {
    val dims = corpus
      .select(posexplode_outer(col(vecCol)).as(Seq("d", "x")))
      .filter(col("x").isNotNull)
      .groupBy("d").agg(max(abs(col("x").cast("double"))).as("mx"))
      .collect()
    require(dims.nonEmpty, "sq8Scales: empty corpus or all-null vectors")
    val dim = dims.map(_.getInt(0)).max + 1
    require(dim <= maxDim,
      s"sq8Scales: dim $dim exceeds maxDim $maxDim (driver holds one " +
        "double per dimension — raise maxDim deliberately)")
    val out = Array.fill(dim)(1.0)
    dims.foreach(r => if (r.getDouble(1) != 0.0) out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** Map-only int8 encode: `q_d = round(x_d / s_d · 127)` clamped to
    * [−127, 127] (the clamp binds only for vectors outside the corpus the
    * scales were fit on). Scales ride the plan as literals — no join, no
    * shuffle, 4× memory cut per vector before any index build. */
  def sq8Quantize(df: DataFrame, vecCol: String, scales: Array[Double],
      outCol: String = "codes"): DataFrame = {
    val sLit = array(scales.map(lit): _*)
    df.withColumn(outCol, zip_with(col(vecCol), sLit, (x, s) =>
      least(lit(127.0), greatest(lit(-127.0),
        round(x.cast("double") / s * 127))).cast("int")))
  }

  /** Dequantize codes back to doubles: `q_d · s_d / 127`. */
  def sq8Reconstruct(codes: Column, scales: Array[Double]): Column =
    zip_with(codes, array(scales.map(lit): _*),
      (q, s) => q.cast("double") * s / 127)

  /** Brute-force cosine top-k over RECONSTRUCTED int8 vectors — the
    * quantization-quality harness (compare against [[bruteForceTopK]] to
    * read the recall cost of 4× compression). Same orientation contract:
    * queries broadcast, corpus streams map-only until the per-query rank.
    * Cosines are rounded to 6 dp BEFORE ranking so ties break identically
    * in the SQL replay. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      scales: Option[Array[Double]] = None): DataFrame = {
    val s = scales.getOrElse(sq8Scales(corpus, vecCol))
    def rcos(a: Column, b: Column): Column = {
      def dot(x: Column, y: Column) = aggregate(
        zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      val d = dot(a, b)
      val na = sqrt(dot(a, a))
      val nb = sqrt(dot(b, b))
      when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
    }
    val c = sq8Quantize(Scatter(corpus), vecCol, s)
      .select(col(idCol).as("nid"),
        sq8Reconstruct(col("codes"), s).as("nr"))
    val q = sq8Quantize(queries, vecCol, s)
      .select(col(idCol).as("qid"),
        sq8Reconstruct(col("codes"), s).as("qr"))
    rankByCos(c.join(broadcast(q), col("qid") =!= col("nid")), k,
      round(rcos(col("qr"), col("nr")), 6))
  }

  // ---- random projection (Johnson-Lindenstrauss) ---------------------------

  /** The deterministic ±1 sign matrix (outDim × inDim) for [[randomProject]]:
    * sign(j, i) = +1 iff the first hex char of md5("seed:i:j") is ≤ '7' —
    * portable arithmetic both engines can replay. */
  def rpSigns(inDim: Int, outDim: Int, seed: String): Array[Array[Int]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) <= 7) 1 else -1
    }

  /** Random-projection dimensionality reduction (Achlioptas 2003 ±1
    * variant of Johnson-Lindenstrauss): y_j = Σ_i x_i·sign(j,i) / √outDim.
    * Pairwise distances and inner products are preserved within
    * ε ≈ √(ln n / outDim) with no training pass at all — the cheap
    * alternative to PCA when the goal is just a narrower vector for
    * downstream LSH/IVF.
    *
    * Scale shape: the sign matrix is derived (not learned), built
    * DRIVER-side from md5 arithmetic (outDim·inDim ints) and baked into
    * the plan as array literals, so projection is a MAP-ONLY
    * zip_with/aggregate chain — no shuffle, no model table, no per-row
    * hashing. Output is long form (`idCol`, j, y6) with the 6-dp rounding
    * the repo's cosine legs use (double-sum order independence). */
  def randomProject(df: DataFrame, inDim: Int, outDim: Int,
      seed: String = "rp", vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"dims: $inDim -> $outDim")
    val signs = rpSigns(inDim, outDim, seed)
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val sArr = array(signs(j).map(s => lit(s.toDouble)): _*)
      val dot = aggregate(
        zip_with(col(vecCol).cast("array<double>"), sArr,
          (x, s) => x * s),
        lit(0.0), (acc, v) => acc + v)
      struct(lit(j).as("j"), round(dot / scale, 6).as("y6"))
    }
    df.select(col(idCol), explode(array(comps: _*)).as("c"))
      .select(col(idCol), col("c.j").as("j"), col("c.y6").as("y6"))
  }

  // ---- persisted IVF index (table-log sidecar) --------------------------
  //
  // The serving pattern for semantic search is MANY queries against ONE
  // slowly-growing corpus — per-call ivfTopK repays codebook training on
  // every invocation. buildIvfIndex trains ONCE and persists both halves
  // of the index as table-log sidecars under stats/ (the bloom/rgidx
  // pattern): a codebook parquet (cell, centroid) and one assignment
  // parquet per data file carrying (vid, cell, vec) sorted by cell, so a
  // probe's `cell IN (…)` pushes down to row-group pruning inside the
  // sidecar. The log maps data file → sidecar; appends top up
  // automatically (TableLog.vecidxTopUp — map-only assignment against
  // the STORED codebook, zero training), rewrites drop their inputs'
  // entries and the query path assigns uncovered files on the fly (zero
  // training), and deletion vectors are honored by a candidate-id
  // anti-join against the rows they hide.

  /** Assign `files`' rows to their nearest stored centroid and stage one
    * assignment sidecar per file under stats/ (NOT yet committed);
    * returns file → sidecar entries. One distributed job for all files
    * (the rows carry their file index through a shadow partition
    * column), so append top-ups and bulk builds share the same shape. */
  private[operators] def stageIvfAssignments(spark: org.apache.spark.sql
        .SparkSession, dir: String, codebookRel: String, meta: String,
      files: Seq[String], v: Int,
      pqRel: Option[String] = None): Map[String, String] = {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val Array(vecCol, idCol) = meta.split(",", 2)
    val centroids = loadCodebook(spark, dir, codebookRel)
    val base = JP.get(dir)
    // one job: every file tagged with its index via a per-file union of
    // narrow selects would blow the plan at 100k files — instead read
    // all files at once and derive the index from input_file_name
    val byName = files.zipWithIndex
      .map { case (f, i) => base.resolve(f).toUri.getPath -> i }.toMap
    val bName = spark.sparkContext.broadcast(byName)
    val fidx = udf((p: String) =>
      bName.value.getOrElse(java.net.URI.create(p).getPath, -1))
    val raw = RowGroupScan.readNoInfer(spark, files.map(f =>
        base.resolve(f).toString))
      .select(col(idCol).as("vid"), col(vecCol).as("vec"),
        fidx(input_file_name()).as("__fidx"))
    // a PQ-enabled index additionally carries the m-byte code per row
    // (ivfpq_encode shares the coarse argmax with nearest_cells, so the
    // cell column is identical either way)
    val encoded = pqRel match {
      case Some(rel) =>
        val books = loadPqBook(spark, dir, rel)
        raw.withColumn("enc", ivfpq_encode(col("vec"), centroids, books))
          .select(col("vid"), col("vec"), col("__fidx"),
            col("enc.cell").as("cell"), col("enc.codes").as("codes"))
      case None =>
        raw.withColumn("cell",
          element_at(nearest_cells(col("vec"), centroids, 1), 1))
    }
    val assigned = encoded
      .repartition(col("__fidx"))
      .sortWithinPartitions("__fidx", "cell")
    val staging = JF.createTempDirectory("graft_ivfasg").toString
    assigned.write.mode("overwrite").partitionBy("__fidx")
      .parquet(staging)
    JF.createDirectories(JP.get(dir, "stats"))
    files.zipWithIndex.map { case (f, i) =>
      val leaf = JP.get(staging, s"__fidx=$i")
      val s = JF.list(leaf)
      val part = try s.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"empty IVF assignment leaf for $f"))
        finally s.close()
      val rel = f"stats/v$v%05d-ivfasg$i%05d-${part.getFileName}"
      JF.move(part, base.resolve(rel), StandardCopyOption.ATOMIC_MOVE)
      f -> rel
    }.toMap
  }

  /** Codebook sidecars read DRIVER-side (zero Spark jobs,
    * sorted locally): a codebook is nlist rows of metadata — the old
    * spark.read + orderBy + collect paid a job AND an exchange per
    * query just to fetch it. Same driver-residency bound as before
    * (the rows were always collected). */
  private def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String, rel: String): Array[Array[Float]] = {
    val (rows, schema) = RowGroupScan.localParquetRows(
      java.nio.file.Paths.get(dir).resolve(rel).toString,
      spark.sparkContext.hadoopConfiguration)
    val ci = schema.fieldIndex("cell")
    val vi = schema.fieldIndex("centroid")
    rows.sortBy(_.getInt(ci))
      .map(_.getSeq[Number](vi).map(_.floatValue).toArray)
  }

  /** The PQ codebook sidecar, (sub, code, centroid) rows →
    * books(sub)(code) = sub-centroid. Row counts are m·ksub (≤ 256·256
    * by the encode contract), driver-bounded like the coarse
    * codebook — read driver-side the same way. */
  private def loadPqBook(spark: org.apache.spark.sql.SparkSession,
      dir: String, rel: String): Array[Array[Array[Float]]] = {
    val (rows, schema) = RowGroupScan.localParquetRows(
      java.nio.file.Paths.get(dir).resolve(rel).toString,
      spark.sparkContext.hadoopConfiguration)
    val si = schema.fieldIndex("sub")
    val ci = schema.fieldIndex("code")
    val vi = schema.fieldIndex("centroid")
    rows.map(r => (r.getInt(si), r.getInt(ci),
        r.getSeq[Number](vi).map(_.floatValue).toArray))
      .sortBy(t => (t._1, t._2))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._3).toArray).toArray
  }

  /** Train the codebook ONCE over the table's current snapshot and
    * commit it plus per-file assignments as maintained sidecars.
    * Returns the committed version. Training is the only
    * [[trainingJobs]] increment this index ever costs — every later
    * query and append top-up reuses the stored centroids. With
    * `pq = true` the same training sample additionally fits the
    * per-subspace residual codebooks (exactly [[ivfPqTopK]]'s
    * training, so a persisted-PQ query at the build snapshot matches
    * the per-call path row for row) and every assignment sidecar
    * carries the m-byte code per row — [[ivfPqTopKPersisted]] then
    * ADC-scans codes without touching a single full vector until the
    * refine join. */
  def buildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecCol: String = "embedding",
      idCol: String = "vec_id", nlist: Int = 64,
      trainSample: Int = 10000, iters: Int = 5,
      maxRetries: Int = 20, pq: Boolean = false, m: Int = 8,
      ksub: Int = 64): Int = {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val snap = TableLog.snapshot(dir)
    val sample = trainingSample(TableLog.read(spark, dir), idCol, vecCol,
      trainSample)
    require(sample.nonEmpty, "IVF index build needs a non-empty table")
    val centroids = trainSpherical(sample, nlist, iters)
    import spark.implicits._
    JF.createDirectories(JP.get(dir, "stats"))
    def stageOne(df: DataFrame, tag: String): String = {
      val staging = JF.createTempDirectory(s"graft_ivf$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val s0 = JF.list(JP.get(staging))
      val f = try s0.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"empty $tag staging"))
        finally s0.close()
      val rel =
        f"stats/v${snap.version + 1}%05d-ivf$tag-${f.getFileName}"
      JF.move(f, JP.get(dir).resolve(rel),
        StandardCopyOption.ATOMIC_MOVE)
      rel
    }
    val cbRel = stageOne(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid"), "cb")
    // residuals of the SAME sample against the coarse centroids —
    // byte-identical to ivfPqTopK's training inputs
    val pqRel = if (!pq) None else Some(stageOne(
      residualBooks(sample, centroids, m, ksub, iters).zipWithIndex
        .flatMap { case (book, s) =>
          book.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
        }.toSeq.toDF("sub", "code", "centroid"), "pq"))
    val meta = s"$vecCol,$idCol"
    val asg = stageIvfAssignments(spark, dir, cbRel, meta,
      snap.files, snap.version + 1, pqRel)
    TableLog.retryIvfCommit(dir, maxRetries, cbRel, meta, asg, pqRel)
  }

  /** A persisted IVF index resolved at one snapshot: the indexed
    * (vecCol, idCol), the stored centroids, and the PQ books when the
    * caller searches by codes. */
  private final case class IvfIndex(dir: String, snap: TableLog.Snapshot,
      vecCol: String, idCol: String, centroids: Array[Array[Float]],
      books: Option[Array[Array[Array[Float]]]])

  private def loadIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: Int, pq: Boolean): IvfIndex = {
    val snap = TableLog.snapshot(dir, version)
    val Array(vecCol, idCol) = snap.vecCol.getOrElse(sys.error(
      s"no persisted IVF index on $dir (run buildIvfIndex first)"))
      .split(",", 2)
    def sidecar(key: String, missing: String): String =
      snap.vecidx.getOrElse(key, sys.error(s"IVF index on $dir $missing"))
    val centroids = loadCodebook(spark, dir,
      sidecar("codebook", "lost its codebook sidecar"))
    val books = if (!pq) None else Some(loadPqBook(spark, dir, sidecar(
      "pqbook", "has no PQ codebooks (rebuild with buildIvfIndex(pq = true))")))
    IvfIndex(dir, snap, vecCol, idCol, centroids, books)
  }

  /** The index's candidates, in [[assign]]'s columns: the assignment
    * sidecars for the files they cover, and the uncovered files
    * (post-rewrite outputs) assigned on the fly from the stored centroids
    * and books — zero training either way. */
  private def candidates(spark: org.apache.spark.sql.SparkSession,
      ix: IvfIndex): DataFrame = {
    val base = java.nio.file.Paths.get(ix.dir)
    def read(rels: Seq[String]): DataFrame =
      RowGroupScan.readNoInfer(spark, rels.map(base.resolve(_).toString))
    val (covered, uncovered) = ix.snap.files.partition(ix.snap.vecidx.contains)
    val fromSidecars =
      if (covered.isEmpty) None
      else Some(read(covered.map(ix.snap.vecidx)).select(col("vid").as("nid")
        +: (if (ix.books.isEmpty) Seq(col("vec").as("nv"), col("cell"))
          else Seq(col("cell"), col("codes"))): _*))
    val fromData =
      if (uncovered.isEmpty) None
      else Some(assign(read(uncovered), ix.idCol, ix.vecCol, ix.centroids,
        ix.books))
    (fromSidecars.toSeq ++ fromData.toSeq).reduce(_ unionByName _)
  }

  /** The four persisted entry points: `refine` searches by PQ codes,
    * `predicate` filters through [[LakeSelect.readWhere]]. The sidecars
    * still list rows a predicate or deletion vectors hide: with a
    * predicate the candidates are semi-joined to the filtered read's ids;
    * without one, they are anti-joined to the ids the deletion vectors
    * hide, read from the DV'd files only and broadcast (DVs hold
    * selective deletes), so one deleted row costs a scan of its file,
    * not a join with every listed row. The filtered read, else the live
    * table read, supplies the refine vectors. */
  private def persistedTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, nprobe: Int, version: Int,
      refine: Option[Int], predicate: Option[String])
      : (DataFrame, Option[LakeSelect.Stats]) = {
    refine.foreach(n =>
      require(n >= k, s"refine shortlist must cover k: refine=$n k=$k"))
    val ix = loadIndex(spark, dir, version, pq = refine.isDefined)
    val filtered = predicate.map(LakeSelect.readWhere(spark, dir, _, version,
      ix.idCol +: refine.map(_ => ix.vecCol).toSeq))
    lazy val rows = filtered.fold(TableLog.read(spark, dir, version))(_._1)
    def ids(df: DataFrame) = df.select(col(ix.idCol).as("nid"))
    val listed = candidates(spark, ix)
    val visible = filtered match {
      case Some((f, _)) => listed.join(ids(f), Seq("nid"), "left_semi")
      case None => TableLog.readDeleted(spark, dir, ix.snap).fold(listed)(
        d => listed.join(broadcast(ids(d)), Seq("nid"), "left_anti"))
    }
    val byCodes = refine.zip(ix.books).map { case (n, books) =>
      Refine(n, books, rows.select(col(ix.idCol).as("nid"),
        col(ix.vecCol).as("nv")))
    }
    (search(probe(queries, ix.idCol, ix.vecCol, ix.centroids, nprobe,
      ix.books), visible, k, byCodes), filtered.map(_._2))
  }

  /** ANN top-k THROUGH the persisted index: zero training jobs, the
    * codebook read from its sidecar, candidates from the assignment
    * sidecars' probed cells (uncovered files — post-rewrite outputs —
    * assigned on the fly from the stored centroids), deletion vectors
    * honored by an anti-join of the ids they hide. Result contract
    * matches [[ivfTopK]] row for row when run against the same snapshot
    * the index (or its top-ups) covered. */
  def ivfTopKPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, nprobe: Int = 8,
      version: Int = -1): DataFrame =
    persistedTopK(spark, dir, queries, k, nprobe, version, None, None)._1

  /** FILTERED ANN through the persisted index — the vector-serving
    * pattern `top-k of rows WHERE pred`: the predicate routes through
    * the table's scalar indexes ([[LakeSelect.readWhere]]:
    * bloom/zone/partition pruning plus the exact re-filter, projected
    * to the id column only), and the ANN candidate set is semi-joined
    * down to matching ids BEFORE any cosine math — selectivity cuts
    * the ranking work proportionally, and at 100 TB the filter scan
    * itself only opens the straddler row groups its indexes keep.
    * Deletion vectors are subsumed (a deleted row is absent from the
    * filtered read). Zero training jobs, like every persisted-index
    * query. With `nprobe = nlist` the probe is exhaustive, so the
    * result is EXACTLY the brute-force cosine top-k of the filtered
    * subset (IvfIndexSpec pins the equivalence). Returns the ranked
    * frame plus the filtered read's pruning stats. */
  def ivfTopKPersistedWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, predicate: String,
      nprobe: Int = 8, version: Int = -1)
      : (DataFrame, LakeSelect.Stats) = {
    val (ranked, stats) = persistedTopK(spark, dir, queries, k, nprobe,
      version, None, Some(predicate))
    (ranked, stats.get)
  }

  /** [[ivfTopKPersistedWhere]] × [[ivfPqTopKPersisted]]: filtered
    * serving through the PQ codes — the predicate routes through the
    * scalar indexes, candidates semi-join to matching ids BEFORE the
    * ADC scan (codes only, no full vectors until refine), and the
    * exact refine reads from the filtered live frame so non-matching
    * and DV'd rows can never surface. Zero training. Returns the
    * ranked frame plus the filtered read's pruning stats. */
  def ivfPqTopKPersistedWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, predicate: String,
      nprobe: Int = 8, refine: Int = 64, version: Int = -1)
      : (DataFrame, LakeSelect.Stats) = {
    val (ranked, stats) = persistedTopK(spark, dir, queries, k, nprobe,
      version, Some(refine), Some(predicate))
    (ranked, stats.get)
  }

  /** IVF-PQ ANN THROUGH the persisted index (built with
    * `buildIvfIndex(pq = true)`): zero training jobs, and the ADC
    * candidate stage reads ONLY (vid, cell, codes) from the assignment
    * sidecars — m bytes per candidate, the full `vec` column stays
    * unread until the refine join (the memory shape that matters at
    * 100 TB: the shortlist join moves codes, not embeddings).
    * Uncovered files (post-rewrite outputs) are encoded on the fly
    * from the stored codebooks; deletion vectors are honored by an
    * anti-join of the ids they hide; the exact-cosine refine reads
    * vectors from the LIVE table read. Row-for-row equal to
    * [[ivfPqTopK]] with the same (nlist, m, ksub, trainSample, iters)
    * against the snapshot the index was built on — the training inputs
    * are byte-identical. */
  def ivfPqTopKPersisted(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, nprobe: Int = 8,
      refine: Int = 64, version: Int = -1): DataFrame =
    persistedTopK(spark, dir, queries, k, nprobe, version, Some(refine),
      None)._1
}

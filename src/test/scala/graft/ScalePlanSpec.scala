package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bucketing, Dedup, Similarity, SpatialJoin}

/** Plan-shape assertions for the scale-critical gate queries: green outputs
  * are not enough — the PLAN must be the one that survives a 100 TB corpus.
  * These specs pin the three round-1 weak spots (VERDICT r1): no nested-loop
  * joins in the dedup gates, the posting cap present in t3, the broadcast on
  * the small query side in the ANN gates.
  */
class ScalePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** AQE wraps the plan in AdaptiveSparkPlanExec (whose children are hidden
    * from collect); disable it so the static physical plan is inspectable. */
  private def staticPlan(name: String): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incrementalDedup: broadcast-only joins, neither side exchange-shuffled") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val batch = corpus.limit(50)
      Dedup.incrementalDedup(batch, corpus, expectedCorpusDocs = 10000L)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"broadcast join missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus/batch must never exchange-shuffle through a join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no nested loop:\n$p")
  }

  test("t5 pair generation plans an equality join — no nested-loop, no cartesian") {
    // The gate query wraps simhashPairs in an invariant-oracle summary that
    // deliberately crossJoins two SINGLE-ROW aggregates (1×1 — free at any
    // scale), so the scale assertion targets the pair-generation plan the
    // gate actually runs underneath: the library's pigeonhole block join.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.simhashPairs(docs, shingle = 3, maxDist = 16)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"t5 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"t5 must not cross join:\n$p")
  }

  test("t3 gate carries the stop-shingle posting cap") {
    val p = staticPlan("t3_ngram_jaccard").toString
    assert(p.contains("10000"), s"t3 must cap posting lists (maxPosting):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("v1 gate broadcasts the query side, not the corpus") {
    val plan = staticPlan("v1_cosine_topk")
    val exchanges = plan.collectWithSubqueries { case b: BroadcastExchangeExec => b }
    assert(exchanges.nonEmpty, s"v1 should broadcast the query side:\n$plan")
    exchanges.foreach { ex =>
      val sub = ex.toString
      assert(sub.contains("vec_id") && sub.contains("< 10"),
        s"broadcast subtree must be the vec_id < 10 query side, not the corpus:\n$sub")
    }
  }

  test("v2 gate (multi-table LSH) joins by equality — no nested-loop") {
    val p = staticPlan("v2_ann_lsh").toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"v2 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"v2 must not cross join:\n$p")
  }

  test("jaccard prefix-filter path ≡ plain inverted index (lossless)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def pairs(prefix: Boolean) =
      Dedup.jaccardPairs(docs, shingle = 3, minJaccard = 0.5, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = pairs(true)
    val viaIndex = pairs(false)
    assert(viaPrefix == viaIndex,
      s"prefix filtering must be exact: missing=${viaIndex -- viaPrefix} " +
        s"extra=${viaPrefix -- viaIndex}")
    assert(viaPrefix.nonEmpty, "sf0.01 corpus has known near-dup pairs")
    // lower thresholds too (longer prefixes, more candidates — same result)
    for (t <- Seq(0.3, 0.8)) {
      val p = Dedup.jaccardPairs(docs, minJaccard = t, prefixFilter = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val i = Dedup.jaccardPairs(docs, minJaccard = t, prefixFilter = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p == i, s"t=$t: missing=${i -- p} extra=${p -- i}")
    }
  }

  test("simhash pigeonhole block join ≡ brute force at maxDist 16") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = docs.select($"doc_id",
      graft.functions.GraftFunctions.simhash64(
        graft.functions.GraftFunctions.shingle_hashes($"text", lit(3))).as("sh"))
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("dist", bit_count($"a.sh".bitwiseXOR($"b.sh")))
      .filter($"dist" <= 16)
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val block = Dedup.simhashPairs(docs, maxDist = 16)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(block == brute,
      s"pigeonhole must be exact: missing=${brute -- block} extra=${block -- brute}")
  }

  test("simhashPairs rejects explicit probeBlocks whose Hamming ball explodes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // probeBlocks=1, maxDist=20 ⇒ C(64, ≤20) ≈ 10^15 probe masks — must fail
    // loudly at plan time, not hang the driver enumerating them
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxDist = 20, probeBlocks = 1)
    }
    assert(ex.getMessage.contains("probe ball"), ex.getMessage)
    // a sane explicit split still works (radius e ≤ 2)
    assert(Dedup.simhashPairs(docs.limit(50), maxDist = 4, probeBlocks = 2)
      .columns.contains("dist"))
  }

  test("lshTopK multi-table recovers planted identical vectors at rank 1") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 10000)
    val hits = Similarity.lshTopK(emb, q, k = 1, bits = 16, tables = 4)
      .select("qid", "nid", "cos").collect()
    assert(hits.length == 8, s"all 8 planted queries must match: got ${hits.length}")
    hits.foreach { r =>
      assert(r.getLong(0) - 10000 == r.getLong(1), s"self-match expected: $r")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  /** The higher-order-function expressions (interpreted, no codegen)
    * anywhere in a logical plan. */
  private def lambdas(p: org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan) = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
      LambdaFunction}
    p.flatMap(_.expressions).flatMap(_.find(e =>
      e.isInstanceOf[LambdaFunction] || e.isInstanceOf[ArrayTransform]))
  }

  test("lshTopK probe fan-out is plain XORs: no lambda in the plan, " +
    "buckets equal {qb} ∪ {qb ^ 1<<b}") {
    // lambda-free inputs: any lambda left in the plan is the operator's
    val emb = (0 until 40).map(i => (i.toLong,
        Array.tabulate(8)(j => math.sin(i * 37 + j * 11).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4).withColumn("vec_id", $"vec_id" + 10000)
    val plan = Similarity.lshTopK(emb, q, k = 2, bits = 10, probes = 3,
      tables = 2).queryExecution.optimizedPlan
    assert(lambdas(plan).isEmpty, s"lambda in the LSH plan:\n$plan")
    val qbs = Seq(0L, 5L, 1023L, (1L << 61) | 12345L)
    for ((bits, probes) <- Seq((10, 3), (10, 0), (4, 9), (62, 62))) {
      val fan = qbs.toDF("qb").select($"qb",
        Similarity.lshFanOut($"qb", probes, bits).as("fan"))
      assert(lambdas(fan.queryExecution.optimizedPlan).isEmpty)
      fan.collect().foreach { r =>
        val qb = r.getLong(0)
        val model = qb +: (0 until math.min(probes, bits))
          .map(b => qb ^ (1L << b))
        assert(r.getSeq[Long](1) == model, s"bits=$bits probes=$probes: $r")
      }
    }
  }

  test("v3/v4 gates join by equality — no nested-loop, no cartesian") {
    Seq("v3_embedding_neardup", "v4_ann_ivf").foreach { g =>
      val p = staticPlan(g).toString
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$g must not nested-loop:\n$p")
      assert(!p.contains("CartesianProduct"), s"$g must not cross join:\n$p")
    }
  }

  test("dedupeCorpusBy: election is equality joins + one aggregate, no window") {
    import spark.implicits._
    val text = (1 to 60).map(i => s"w${i % 31}").mkString(" ")
    val docs = (0 until 50).map(i =>
      (i.toLong, if (i < 3) text else s"unique $i " + (1 to 50)
        .map(j => s"u${i}_$j").mkString(" "), i.toDouble))
      .toDF("doc_id", "text", "q")
    val out = graft.operators.Dedup.dedupeCorpusBy(docs, col("q"),
      minJaccard = 0.8)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"no all-pairs path:\n$p")
    // the survivor election adds NO window (a per-cluster rank would ship
    // every cluster to one reducer ordering); it is a struct-max aggregate
    assert(!p.contains("Window"), s"election must not use a window:\n$p")
    // the 3 exact dups collapse to the max-priority member (id 2)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L) && !kept.contains(0L) && !kept.contains(1L))
  }

  test("ivfTopK recovers planted identical vectors at rank 1") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 10000)
    val hits = Similarity.ivfTopK(emb, q, k = 1, nlist = 16, nprobe = 2,
        trainSample = 200, iters = 3)
      .select("qid", "nid", "cos").collect()
    assert(hits.length == 8, s"all 8 planted queries must self-match: got ${hits.length}")
    hits.foreach { r =>
      assert(r.getLong(0) - 10000 == r.getLong(1), s"self-match expected: $r")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("distanceJoin matches brute force incl. exact-radius boundary pairs") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 5.0, 0.0), (3L, 3.0, 4.0), (4L, 0.1, 0.1),
        (5L, -5.0, 0.0), (6L, 100.0, 100.0))
      .toDF("pid", "x", "y")
    val anchors = Seq((10L, 0.0, 0.0), (11L, 103.0, 104.0)).toDF("aid", "rx", "ry")
    // radius 5: pid 2 (dist exactly 5.0), 3 (3-4-5 triangle) must BOTH be
    // included (<=); pid 6 is 5.0 from anchor 11 across cell boundaries
    val got = SpatialJoin.distanceJoin(pts, anchors, radius = 5.0)
      .select("pid", "aid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(anchors)
      .filter(($"x" - $"rx") * ($"x" - $"rx") + ($"y" - $"ry") * ($"y" - $"ry") <= 25.0)
      .select("pid", "aid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L), (6L, 11L)),
      s"boundary fixture: $got")
    // one emission per pair (a neighbor-cell dup would double-count)
    val rows = SpatialJoin.distanceJoin(pts, anchors, radius = 5.0).count()
    assert(rows == got.size.toLong, s"each pair exactly once: $rows vs ${got.size}")
    val p = SpatialJoin.distanceJoin(pts, anchors, radius = 5.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"equality-join plan required:\n$p")
  }

  test("distanceJoinGeodetic plans an equality join — no nested loop; " +
    "replication is the bounded 3x3 band/cell explode") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 139.7, 35.7), (3L, 179.9, 46.0),
      (4L, -179.9, 46.0)).toDF("pid", "x", "y")
    val anchors = Seq((10L, 139.6, 35.6), (11L, 179.95, 46.01))
      .toDF("aid", "rx", "ry")
    val j = SpatialJoin.distanceJoinGeodetic(pts, anchors, 50000.0)
    val p = j.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"equality-join plan required:\n$p")
    val got = j.select("pid", "aid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Tokyo pair (~16 km) and the anti-meridian pair (~7 km) match; the
    // equator origin matches nothing within 50 km
    assert(got == Set((2L, 10L), (3L, 11L), (4L, 11L)), got.toString)
    assert(j.count() == 3L, "each pair exactly once")
  }

  test("partitioned sink: scan reads ONLY the filtered partitions' files") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_part_spec").toString + "/docs"
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").partitionBy("source").parquet(tmp)
      val q = spark.read.parquet(tmp)
        .filter(col("source").isin("src3", "src7"))
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("expected a FileSourceScanExec leaf"))
      assert(scan.metadata("PartitionFilters").contains("src3"),
        s"partition filter must reach the scan: ${scan.metadata("PartitionFilters")}")
      q.collect()
      val fs = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("source="))
      assert(fs.length >= 10, s"fixture should write many partitions: ${fs.length}")
      val wantedFiles = fs.filter(d => Set("source=src3", "source=src7")(d.getName))
        .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
      assert(scan.metrics("numFiles").value == wantedFiles,
        s"scan must open only the 2 filtered partitions' files: " +
          s"${scan.metrics("numFiles").value} vs $wantedFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bucketed co-located join: SortMergeJoin with zero Exchange, zero Sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_spec").toString
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val j = Bucketing.colocatedJoin(spark, orders, cust,
        "o_custkey", "c_custkey", buckets = 4, baseDir = tmp,
        leftName = "graft_spec_orders", rightName = "graft_spec_customer")
      // result must equal the plain join regardless of the plan
      val expected = orders.join(cust, col("o_custkey") === col("c_custkey")).count()
      assert(j.count() == expected, "bucketed join must not change the result")
      j.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(p.contains("SortMergeJoin"), s"merge join expected:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle either side:\n$p")
    // node names render as "+- Sort " / ":- Sort "; SortMergeJoin's own
    // name must not trip the assert
    assert(!p.contains("- Sort "), s"single-file sorted buckets must elide the Sort:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"bucketed scan expected:\n$p")
  }

  test("ivfPqTopK recovers planted identical vectors at rank 1 / cos 1.0") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 10000)
    val hits = Similarity.ivfPqTopK(emb, q, k = 1, nlist = 16, nprobe = 2,
        m = 8, ksub = 32, refine = 32, trainSample = 200, iters = 3)
      .select("qid", "nid", "cos").collect()
    assert(hits.length == 8, s"all 8 planted queries must self-match: got ${hits.length}")
    hits.foreach { r =>
      assert(r.getLong(0) - 10000 == r.getLong(1), s"self-match expected: $r")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("ivfPqTopK ADC shortlist agrees with exact top-1 on real neighbors") {
    // adversarial margin check: queries are corpus vectors with one
    // coordinate scaled 1.5× (cos ≈ 0.99 twin, not identical) — the ADC
    // approximation must still shortlist the true nearest so the exact
    // refine recovers it; compares against bruteForceTopK ground truth
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
      .withColumn("vec_id", $"vec_id" + 10000)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> IF(i = 0, cast(x * 1.5 as float), x))"))
    val truth = Similarity.bruteForceTopK(emb, q, k = 1)
      .select("qid", "nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.ivfPqTopK(emb, q, k = 1, nlist = 16, nprobe = 4,
        m = 8, ksub = 32, refine = 32, trainSample = 200, iters = 3)
      .select("qid", "nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = truth.count { case (qid, nid) => pq.get(qid).contains(nid) }
    assert(agree >= 7, s"IVF-PQ should agree with exact top-1 on ≥7/8: $agree (pq=$pq truth=$truth)")
  }

  test("trainPq is deterministic and codes stay within ksub") {
    val rnd = new scala.util.Random(11)
    val residuals = Array.fill(300)(Array.fill(20)(rnd.nextFloat() - 0.5f))
    val a = Similarity.trainPq(residuals, m = 3, ksub = 16, iters = 4)
    val b = Similarity.trainPq(residuals.map(_.clone), m = 3, ksub = 16, iters = 4)
    assert(a.length == 3 && a.forall(_.length == 16))
    // dim=20, m=3 → dsub=7: subspaces of width 7, 7, 6
    assert(a(0)(0).length == 7 && a(2)(0).length == 6)
    (a zip b).foreach { case (sa, sb) =>
      (sa zip sb).foreach { case (ca, cb) => assert(ca.sameElements(cb)) }
    }
    val cents = Similarity.trainSpherical(residuals, 8, 3)
    val (cell, codes) = graft.vector.VectorLib.ivfPqAssign(residuals(0), cents, a)
    assert(cell >= 0 && cell < 8 && codes.length == 3)
    assert(codes.forall(c => (c & 0xff) < 16))
  }

  test("v5 gate joins by equality — no nested-loop, no cartesian") {
    val p = staticPlan("v5_ann_ivfpq").toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"v5 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"v5 must not cross join:\n$p")
  }

  test("ivfTopK finds perturbed near-neighbors via multi-cell probing") {
    // queries are corpus vectors with one coordinate scaled 1.5× — close
    // (cos ≈ 0.99) but not identical, so the twin's cell is no longer the
    // guaranteed argmax; nprobe > 1 must recover them anyway
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 8)
      .withColumn("vec_id", $"vec_id" + 10000)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> IF(i = 0, cast(x * 1.5 as float), x))"))
    val hits = Similarity.ivfTopK(emb, q, k = 1, nlist = 16, nprobe = 4,
        trainSample = 200, iters = 3)
      .select("qid", "nid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recovered = (0 until 8).count(i => hits.get(i + 10000L).contains(i.toLong))
    assert(recovered >= 7, s"multi-probe should recover ≥7/8 perturbed twins: $recovered ($hits)")
  }

  test("round-7 operator plans: broadcast sides, window push, no cartesians") {
    // DSIR: the log-ratio table must BROADCAST to the token stream and
    // nothing may nested-loop; the bucket join key is coalesce-wrapped so
    // no isnotnull(bucket-expr) filter is inferred (md5 once per token)
    val p27 = staticPlan("t27_dsir_select").toString
    assert(p27.contains("BroadcastHashJoin"), s"ratio must broadcast:\n$p27")
    // 1-row scalar totals ride BroadcastNestedLoopJoin by design; a true
    // cartesian over data rows must never appear
    assert(!p27.contains("CartesianProduct"))
    assert(!p27.contains("isnotnull((((("), s"bucket expr must not inline into filters:\n$p27")
    // BM25: query terms + df are broadcast; corpus never cartesians
    val p29 = staticPlan("t29_bm25_topk").toString
    assert(p29.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p29")
    assert(!p29.contains("CartesianProduct") ||
      p29.contains("BroadcastNestedLoopJoin"), "scalars may broadcast, corpus must not cartesian")
    // temperatureMix: the constant row_number <= total pre-filter keeps
    // WindowGroupLimit pushdown so hot domains never ship full row sets
    val p28 = staticPlan("t28_temperature_mix").toString
    assert(p28.contains("WindowGroupLimit"), s"rank-limit push expected:\n$p28")
  }

  test("round-10 clustering/graph plans: equality joins, k-row-only broadcast loops") {
    // triangles: the wedge join and the closing-edge semi-join are both
    // equality joins — a nested loop here is the hub-degree blowup the
    // degree orientation exists to prevent
    val pt = staticPlan("t66_triangles").toString
    assert(!pt.contains("BroadcastNestedLoopJoin"), s"t66 must not nested-loop:\n$pt")
    assert(!pt.contains("CartesianProduct"), s"t66 must not cross join:\n$pt")
    // co-occurrence: per-basket self-join is an equality join on the
    // basket id; the hub cap bounds its output, a cartesian would not
    val pc = staticPlan("t68_cooccur").toString
    assert(!pc.contains("BroadcastNestedLoopJoin"), s"t68 must not nested-loop:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"t68 must not cross join:\n$pc")
    // KNN gate: candidate generation must ride the grid equality join
    val pk = staticPlan("j11_knn_join").toString
    assert(!pk.contains("CartesianProduct"), s"j11 must not cross join:\n$pk")
    // k-means: with driver-held centroids the final labeling is a pure
    // projection — no join of any kind, no aggregate, no per-point
    // candidate table; the only exchange is the gate's output orderBy
    val pm = staticPlan("j12_kmeans").toString
    assert(!pm.contains("Join"), s"j12 labeling must be a projection:\n$pm")
    assert(!pm.contains("Aggregate"), s"j12 labeling must not aggregate:\n$pm")
    assert(pm.contains("*(1) Project"),
      s"j12 labeling must be one codegen'd projection stage:\n$pm")
  }

  test("k17 merge: one equality join, target side never windowed or sorted early") {
    val p = staticPlan("k17_merge").toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"merge must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"merge must not cross join:\n$p")
    // every clause is a projection/filter on the join output — exactly one
    // join in the whole plan
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"merge must be ONE equality join, saw $joins:\n$p")
    assert(!p.contains("Window"), s"merge must not window either side:\n$p")
  }

  test("a17 expectations: no joins and no generators — one aggregate pipeline") {
    val p = staticPlan("a17_expectations").toString
    assert(!p.contains("Join"), s"expectations must not join:\n$p")
    // the verdict frame is driver-local rows; the distributed part is the
    // aggregate that already ran inside check() — the returned plan must
    // be a LocalTableScan, proving no re-execution per downstream read
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"verdicts must be local rows:\n$p")
  }

  test("v6 semDedup joins by cluster equality — no nested-loop, no cartesian") {
    val p = staticPlan("v6_semdedup").toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"v6 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"v6 must not cross join:\n$p")
  }

  test("semDedup maxCluster passes an oversized cell through undeduped") {
    // 8 identical vectors collapse into one cell; with the cap below 8
    // that cell skips the self-join entirely (no detonated pair set), so
    // all 8 survive. A small 2-copy group in a different direction still
    // dedupes to its lowest id.
    val hot = (0 until 8).map(i => (i.toLong, Seq.fill(16)(1.0f)))
    val pair = Seq((100L, Seq.tabulate(16)(j => (j + 1).toFloat)),
      (101L, Seq.tabulate(16)(j => (j + 1).toFloat)))
    val embs = (hot ++ pair).toDF("vec_id", "embedding")
    val survivors = Similarity.semDedup(embs, tau = 0.99, nlist = 4,
        trainSample = 10, iters = 3, maxCluster = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0 until 8).map(_.toLong).toSet + 100L,
      s"hot cell passes through, small group dedupes: $survivors")
    val capless = Similarity.semDedup(embs, tau = 0.99, nlist = 4,
        trainSample = 10, iters = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(capless == Set(0L, 100L), s"uncapped keeps one per group: $capless")
  }

  test("semDedup nlist derivation follows the ~10k-per-cell sizing rule") {
    import graft.operators.Similarity.derivedNlist
    assert(derivedNlist(1000L, 10000) == 64) // floor for small corpora
    assert(derivedNlist(5000000L, 10000) == 500) // n / 10k
    assert(derivedNlist(1000000000L, 10000) == 10000) // trainSample cap
    assert(derivedNlist(1000000000L, 50000) == 50000) // bigger sample → more cells
    // default call (nlist unset) derives and still dedupes: 3 direction
    // groups of identical vectors each collapse to their lowest id
    import spark.implicits._
    val embs = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i % 3) * 8 + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val survivors = Similarity.semDedup(embs, tau = 0.99, trainSample = 30,
        iters = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 1L, 2L), s"one per direction group: $survivors")
  }

  test("embeddingPairs multi-table finds planted dups and only planted dups") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val planted = emb.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 10000)
    val pairs = Dedup.embeddingPairs(emb.unionByName(planted),
        bits = 16, tables = 4, minCos = 0.95)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 8).map(i => (i.toLong, i + 10000L)).toSet,
      s"exact planted pair set expected: $pairs")
  }

  test("embeddingPairs maxBucket drops only the hot bucket's pairs") {
    // 8 identical vectors (one hot bucket everywhere) + 2 planted dups of a
    // distinct vector. With the cap below 8, the hot cluster's pairs are
    // dropped in every table; the small pair survives.
    val hot = (0 until 8).map(i => (i.toLong, Seq.fill(16)(1.0f)))
    val pair = Seq((100L, Seq.tabulate(16)(j => j.toFloat)),
      (101L, Seq.tabulate(16)(j => j.toFloat)))
    val embs = (hot ++ pair).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingPairs(embs, bits = 8, tables = 4,
        minCos = 0.99, maxBucket = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)), s"hot bucket capped, small pair kept: $capped")
    val uncapped = Dedup.embeddingPairs(embs, bits = 8, tables = 4,
        minCos = 0.99, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").collect()
    assert(uncapped.length == 8 * 7 / 2 + 1, s"uncapped finds all: ${uncapped.length}")
  }

  test("clusters converges on a 4-hop chain (≥3 propagation rounds)") {
    // chain 10-11-12-13-14: min-label propagation needs ~4 rounds to push
    // label 10 to node 14 — exercises the localCheckpoint + checksum loop
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
  }

  test("clusters convergence rides the checkpoint job (observe): early " +
      "stop fires, no per-round checksum action") {
    // star graph, diameter 1: plain propagation settles the labels in
    // round 1 and the observed changed-count must detect stability in
    // round 2 — an observe() regression (empty/missing metrics) would
    // either throw or run the loop to maxIter
    val star = (1L to 6L).map(i => (0L, i)).toDF("id_a", "id_b")
    val got = Dedup.clusters(star, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 6L).map(_ -> 0L).toMap)
    // the neighborhood-min seed settles a star AT INIT; the loop's only
    // job is to observe zero changes in round 1
    val iters = Dedup.lastIterations.get
    assert(iters >= 1 && iters <= 2,
      s"star graph must converge by round 1-2 with min-seeded init, ran $iters")
    // the loop's actions: with convergence observed in-band, each round
    // is exactly ONE materializing action (the checkpoint) — count jobs
    // across a whole call and pin the per-round budget. Budget: edges +
    // init truncates (AQE may split each into a couple of jobs) plus
    // ≤2 jobs per round; the old checkpoint+checksum shape cost 1-2
    // MORE jobs per round and blows this cap.
    val (_, c) = Harness.probe(spark)(Dedup.clusters(star, maxIter = 10))
    // measured at this AQE shape: edges truncate + adaptive re-pin +
    // labels init ≈ 8 jobs, each round ≈ 3 (one job per shuffle stage
    // of the single checkpoint action). The old checkpoint+checksum
    // loop added 1 job per round plus 1 initial checksum — the cap
    // sits between.
    val rounds = Dedup.lastIterations.get
    assert(c.jobs <= 9 + 3 * rounds,
      s"clusters ran ${c.jobs} jobs over $rounds rounds — " +
        "convergence must not cost a separate action per round")
  }

  test("knnJoin loop control rides the checkpoint jobs (observe): no " +
      "per-round isEmpty, no standalone site count") {
    // 1-D line 0,1,2 plus an outlier at 10 (y=0): k=2 at r0=1.5 resolves
    // the dense trio in round 1, the outlier only once the radius doubles
    // past its 8-unit gap — a genuine multi-round run (4 rounds)
    val pts = Seq((0L, 0.0, 0.0), (1L, 1.0, 0.0), (2L, 2.0, 0.0),
      (3L, 10.0, 0.0)).toDF("id", "x", "y")
    val (out, c) = Harness.probe(spark)(
      graft.operators.KnnJoin.knnJoin(pts, pts, k = 2, r0 = 1.5).collect())
    // every probe gets exactly k=2 neighbors; the outlier's nearest is
    // id 2 at dist 8 — proves the multi-round path actually ran
    assert(out.length == 8, s"expected 4 probes x k=2, got ${out.length}")
    // action budget: sites + probes init checkpoints, then exactly TWO
    // materializing actions per round (doneRows + next-probes
    // checkpoints, convergence observed in-band), 4 rounds, plus the
    // final collect. Measured at this AQE shape: 25 jobs total (AQE
    // splits each action into ~2-3 jobs). The old shape (per-round
    // isEmpty + standalone sites.count + final isEmpty) cost 6 more
    // actions and blows the cap.
    assert(c.jobs <= 28,
      s"knnJoin ran ${c.jobs} jobs — loop control must not cost a " +
        "separate action per round")
  }

  test("minhashPairs rejects k not divisible by bands") {
    val docs = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashPairs(docs, k = 64, bands = 10)
    }
  }

  test("saltedJoin rejects right/full outer join types") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "y")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(a, b, "k", joinType = "right")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(a, b, "k", joinType = "full_outer")
    }
    assert(graft.operators.Skew.saltedJoin(a, b, "k", joinType = "left").count() == 1)
  }

  test("pointInPolygon keeps polygons whose covering overflows the cell cap") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    def polyWkb(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Byte] = {
      val ring = Array(
        new Coordinate(minX, minY), new Coordinate(maxX, minY),
        new Coordinate(maxX, maxY), new Coordinate(minX, maxY),
        new Coordinate(minX, minY))
      graft.geom.GeomLib.write(gf.createPolygon(ring))
    }
    def pointWkb(x: Double, y: Double): Array[Byte] =
      graft.geom.GeomLib.write(gf.createPoint(new Coordinate(x, y)))
    // continent-scale polygon: at res 10 its envelope covers ~(1024·0.7)² ≫
    // 4096 cells, so cells_covering returns empty — round 1 silently
    // dropped it; now it must take the broadcast-refine branch
    val bigPoly = Seq((100L, polyWkb(-170.0, -80.0, 170.0, 80.0))).toDF("polyid", "geom")
    val smallPoly = Seq((200L, polyWkb(9.0, 9.0, 11.0, 11.0))).toDF("polyid", "geom")
    val pts = Seq((1L, pointWkb(10.0, 10.0)), (2L, pointWkb(-100.0, 40.0)),
      (3L, pointWkb(179.5, 0.0))).toDF("pid", "geom")
    val inBig = SpatialJoin.pointInPolygon(pts, bigPoly, res = 10)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(inBig == Set(1L, 2L), s"oversized polygon must still match: $inBig")
    val inSmall = SpatialJoin.pointInPolygon(pts, smallPoly, res = 10)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(inSmall == Set(1L))
  }

  test("pointInPolygonH3: equality-join plan, single point scan, oversized branch works") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    def polyWkb(minX: Double, minY: Double, maxX: Double, maxY: Double) = {
      val ring = Array(
        new Coordinate(minX, minY), new Coordinate(maxX, minY),
        new Coordinate(maxX, maxY), new Coordinate(minX, maxY),
        new Coordinate(minX, minY))
      graft.geom.GeomLib.write(gf.createPolygon(ring))
    }
    def pointWkb(x: Double, y: Double) =
      graft.geom.GeomLib.write(gf.createPoint(new Coordinate(x, y)))
    val ptsDir = java.nio.file.Files.createTempDirectory("piph3_pts").toString
    Seq((1L, pointWkb(10.0, 10.0)), (2L, pointWkb(-100.0, 40.0)),
      (3L, pointWkb(10.4, 10.4)))
      .toDF("pid", "geom").write.mode("overwrite").parquet(ptsDir)
    val pts = spark.read.parquet(ptsDir)
    val smallPoly = Seq((200L, polyWkb(9.0, 9.0, 11.0, 11.0))).toDF("polyid", "geom")
    // correctness on the H3 lattice
    val in = SpatialJoin.pointInPolygonH3(pts, smallPoly, res = 5)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(in == Set(1L, 3L), s"H3 prefilter+refine must match containment: $in")
    // plan shape: equality join only, one point-side scan (VERDICT r5 #3)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try SpatialJoin.pointInPolygonH3(pts, smallPoly, res = 5)
      .queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val pointScans = "Scan parquet".r.findAllMatchIn(p).size
    assert(pointScans == 1, s"point side must be scanned exactly once, saw $pointScans:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"must not cross join:\n$p")
    // a world-spanning polygon overflows the disk cap → broadcast branch
    val bigPoly = Seq((100L, polyWkb(-170.0, -80.0, 170.0, 80.0))).toDF("polyid", "geom")
    val inBig = SpatialJoin.pointInPolygonH3(pts, bigPoly, res = 5)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(inBig == Set(1L, 2L, 3L), s"oversized polygon must still match: $inBig")
  }

  test("pointInPolygon with no oversized polygon scans the point side once") {
    // VERDICT r4 #1: the coarse fallback used to union a second full
    // point-side scan unconditionally. When no polygon overflows the
    // covering cap the plan must read points exactly once and contain no
    // nested-loop join.
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    def polyWkb(minX: Double, minY: Double, maxX: Double, maxY: Double) = {
      val ring = Array(
        new Coordinate(minX, minY), new Coordinate(maxX, minY),
        new Coordinate(maxX, maxY), new Coordinate(minX, maxY),
        new Coordinate(minX, minY))
      graft.geom.GeomLib.write(gf.createPolygon(ring))
    }
    val ptsDir = java.nio.file.Files.createTempDirectory("pip_pts").toString
    Seq((1L, graft.geom.GeomLib.write(gf.createPoint(new Coordinate(10.0, 10.0)))))
      .toDF("pid", "geom").write.mode("overwrite").parquet(ptsDir)
    val pts = spark.read.parquet(ptsDir)
    val smallPoly = Seq((200L, polyWkb(9.0, 9.0, 11.0, 11.0))).toDF("polyid", "geom")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try SpatialJoin.pointInPolygon(pts, smallPoly, res = 10)
      .queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val pointScans = "Scan parquet".r.findAllMatchIn(p).size
    assert(pointScans == 1, s"point side must be scanned exactly once, saw $pointScans:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no-oversized case must not plan the nested-loop fallback:\n$p")
  }

  test("h3 heatmap gates partial-aggregate before the cell exchange") {
    // the runbook heatmap at 100 TB lives or dies on map-side combine:
    // every scan task must pre-count its h3_7 cells before the shuffle
    for (g <- Seq("a7h_h3_heatmap", "sql3_h3_runbook")) {
      val p = staticPlan(g).toString
      assert(p.contains("HashAggregate"), s"$g must hash-aggregate:\n$p")
      val exch = "Exchange hashpartitioning\\((h3_7|_groupingexpression)".r
        .findFirstIn(p)
      assert(exch.isDefined, s"$g must shuffle on the cell key:\n$p")
      // the exchange input is a partial aggregate, not raw rows
      val idx = p.indexOf("Exchange hashpartitioning")
      val below = p.substring(idx)
      assert(below.contains("HashAggregate"),
        s"$g: no partial aggregate below the cell exchange:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("e5 correlate plans an equi-join on user_id — no nested-loop") {
    // the time bound must be a residual filter on a hash join keyed by
    // user_id; a BroadcastNestedLoopJoin here would be quadratic per user
    // at corpus scale
    val p = staticPlan("e5_stream_join").toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"e5 must equi-join on user_id with a residual time filter:\n$p")
  }

  test("t18 packSequences windows are sharded, never a single global sort") {
    // the running sum must be Window.partitionBy(shard) — a window WITHOUT
    // a partition spec plans a single-partition exchange (one task at 100TB)
    val p = staticPlan("t18_pack_sequences").toString
    assert(!p.contains("SinglePartition"),
      s"t18 must not funnel the corpus through one partition:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"t18's window exchange must hash by shard:\n$p")
  }

  test("t17 dupSpans is explode → one aggregate; hashed mode ships longs") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      graft.operators.TrainingData.dupSpans(docs, spanLen = 40, hashed = true)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("xxhash64"), s"hashed mode must hash before the shuffle:\n$p")
    // the count-distinct aggregate expands to (span, doc) dedup + final
    // span rollup — two exchanges, both keyed by span, with map-side
    // partials before each; the explode itself is map-only (no exchange
    // between scan and first partial aggregate)
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.size <= 2 &&
      exchanges.forall(_ == "span"),
      s"t17 hashed should shuffle on span only, saw $exchanges:\n$p")
  }

  test("domainCap pushes the rank limit below the window shuffle") {
    // row_number ≤ cap over a domain-partitioned window must plan a
    // WindowGroupLimit: map tasks keep their local top-cap per domain
    // BEFORE the exchange, so a hot domain ships ~cap rows per upstream
    // partition instead of its full row set
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.TrainingData.domainCap(docs, "source", cap = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"domainCap must rank-limit-push below the shuffle:\n$p")
    assert(!p.contains("SinglePartition"),
      s"domainCap must not funnel through one partition:\n$p")
  }

  test("shuffleDeterministic windows are sharded, never a single global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.TrainingData.shuffleDeterministic(docs, "s", 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"shuffle order must come from parallel per-shard sorts:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"window exchange must hash by shard:\n$p")
  }

  test("lineDedup elects winners with a combinable aggregate — no raw-line window") {
    // VERDICT r4 #2: a window over partitionBy(line) has no partial
    // aggregation — a corpus-wide boilerplate line lands whole on one
    // reducer. The plan must contain NO window over the raw line stream;
    // the line-keyed exchange must sit above a partial HashAggregate
    // (map-side combine collapses the hot line per task).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      graft.operators.TrainingData.lineDedup(docs)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!p.contains("Window"),
      s"lineDedup must not plan a window over raw lines:\n$p")
    assert(!p.contains("SinglePartition"),
      s"lineDedup must not funnel through one partition:\n$p")
    // every line-keyed exchange must be fed by a partial aggregate
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"line election must be map-side combinable:\n$p")
  }

  test("removeDupSpans plans equality joins only; hashed mode ships longs") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      graft.operators.TrainingData.removeDupSpans(docs, spanLen = 40, hashed = true)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span removal must never plan a non-equi join:\n$p")
    assert(p.contains("xxhash64"), s"hashed mode must hash before the shuffle:\n$p")
  }

  test("ivfIntake: centroids baked as literals (no per-batch retrain), corpus side never exchange-shuffled") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (planStr, exchanges) = try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 10000)
      val qe = graft.streaming.VectorStreams.ivfIntake(q, emb, k = 1,
        nlist = 16, nprobe = 2, trainSample = 200, iters = 2).queryExecution
      (qe.executedPlan.toString,
        qe.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        })
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the new batch broadcasts; the corpus rides a map-only assignment into
    // a BroadcastHashJoin — no SortMergeJoin/ShuffledHashJoin anywhere
    assert(planStr.contains("BroadcastHashJoin"), s"broadcast join missing:\n$planStr")
    assert(!planStr.contains("SortMergeJoin") && !planStr.contains("ShuffledHashJoin"),
      s"corpus must never exchange-shuffle through the probe join:\n$planStr")
    // the ONLY shuffle is the post-join per-query top-k aggregate over the
    // candidate set (|batch|-proportional) — qid-hash partitioning
    assert(exchanges.nonEmpty && exchanges.forall(_.toString.contains("qid")),
      s"unexpected exchange (corpus-side?):\n${exchanges.mkString("\n")}")
    // centroids live IN the plan as a literal array: micro-batches and
    // checkpoint restarts reuse them — there is nothing to retrain
    assert(planStr.contains("nearest_cells"), s"probe kernel missing:\n$planStr")
  }

  test("nearDupIntake: corpus side exchange-free, batch broadcast, no stateful op") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (planStr, shuffles) = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val qe = graft.streaming.DocStreams.nearDupIntake(batch, docs)
        .queryExecution
      (qe.executedPlan.toString, qe.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      })
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the whole intake is map-side work + ONE broadcast equality join:
    // zero shuffle exchanges anywhere (the corpus rescans per micro-batch,
    // so an Exchange here would re-shuffle 100 TB per trigger)
    assert(planStr.contains("BroadcastHashJoin"), s"broadcast join missing:\n$planStr")
    assert(!planStr.contains("SortMergeJoin") && !planStr.contains("ShuffledHashJoin"),
      s"corpus must never exchange-shuffle:\n$planStr")
    assert(shuffles.isEmpty, s"map+broadcast only:\n${shuffles.mkString("\n")}")
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$planStr")
  }

  test("ngram LM score: one hash-equality join against the counts, no window, no model collect") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val model = graft.text.NgramLm.train(docs)
      graft.text.NgramLm.score(model, docs)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the five probe kinds resolve through ONE equality join on gram_hash
    // (sort-merge or shuffled-hash — the counts table is corpus-sized, it
    // must never broadcast); the only nested-loop is the 1-row total
    assert(p.contains("gram_hash"), s"hash-keyed join missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"), s"no window functions on the score path:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"only the 1-row n_total may nested-loop ($bnlj):\n$p")
  }

  test("zonal prefilter: a zone-free raster feeds ZERO rows into the pixel explode") {
    import graft.sources.GeoTiff
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val near = GeoTiff.write(4, 4, 1, 16, 1, Array.tabulate(16)(_.toDouble),
        pixelScale = (1.0, 1.0), origin = (0.0, 4.0), epsg = 4326)
      // identical raster a continent away: no zone can claim it
      val far = GeoTiff.write(4, 4, 1, 16, 1, Array.tabulate(16)(i => 100.0 + i),
        pixelScale = (1.0, 1.0), origin = (120.0, 4.0), epsg = 4326)
      val rasters = Seq((1L, near), (2L, far)).toDF("id", "payload")
      val zones = Seq(("A", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
        .toDF("zone", "wkt")
        .select(col("zone"),
          graft.functions.GraftFunctions.st_geomfromtext(col("wkt")).as("geom"))
      val df = graft.operators.ZonalStats.zonal(rasters, zones, "zone",
        band = 0, res = 8)
      val rows = df.collect()
      assert(rows.length == 1 && rows(0).getLong(1) == 16L,
        s"only the near raster's 16 pixels: ${rows.mkString(",")}")
      // behavioral proof via runtime metrics: the geotiff_pixels Generate
      // emitted exactly the near raster's pixels — the far raster was
      // dropped at header cost, its 16 pixels never materialized
      val gens = df.queryExecution.executedPlan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec
          if g.generator.toString.contains("geotiff_pixels") => g
      }
      assert(gens.nonEmpty, "pixel explode missing from plan")
      val emitted = gens.map(_.metrics("numOutputRows").value).sum
      assert(emitted == 16L, s"zone-free raster exploded pixels: $emitted")
      // and the envelope prefilter sits BELOW the explode in its subtree
      // (Catalyst may fold it into the 1-row-broadcast join's condition
      // rather than a standalone Filter — either node shape is the pruned
      // plan, as long as it evaluates before the Generate)
      val hasFilter = gens.exists(_.child.toString.contains("arrays_overlap"))
      assert(hasFilter, "arrays_overlap prefilter not below the pixel explode")
      // prefilter = false restores the unpruned shape with identical output
      val off = graft.operators.ZonalStats.zonal(rasters, zones, "zone",
        band = 0, res = 8, prefilter = false).collect()
      assert(off.length == 1 && off(0).getLong(1) == 16L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shapefile decode terminates on corrupt record headers") {
    // a .shp whose second record header declares a non-positive content
    // length: round 1 would loop forever (pos never advanced); now it must
    // stop and keep the records decoded so far
    val buf = java.nio.ByteBuffer.allocate(200).order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, 100) // file length in 16-bit words = 200 bytes
    // record 1: header (rec 1, 10 words = 20 bytes) + point shape
    buf.putInt(100, 1).putInt(104, 10)
    val shape = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    shape.putInt(0, 1).putDouble(4, 12.5).putDouble(12, -3.25)
    buf.position(108); buf.put(shape.array())
    // record 2: corrupt header with contentWords = -4
    buf.putInt(128, 2).putInt(132, -4)
    val decoded = graft.sources.ShapefileCodec.decode(buf.array())
    assert(decoded.length == 1, s"one good record then stop: ${decoded.length}")
    assert(decoded.head._1 == 1 && decoded.head._2 == 1)
  }

  test("perplexityBuckets assignment is map-only over the scored snapshot") {
    import spark.implicits._
    val ref = (0 until 40).map(i => s"alpha beta gamma delta e$i").toDF("text")
    val m = graft.text.NgramLm.train(ref)
    val docs = (0 until 60).map(i => (i.toLong,
      if (i % 2 == 0) "alpha beta gamma delta" else s"q$i w$i e$i r$i"))
      .toDF("doc_id", "text")
    val out = graft.text.NgramLm.perplexityBuckets(m, docs, nBuckets = 2,
      sampleSize = 1000)
    val plan = out.queryExecution.executedPlan.toString
    // the scoring work is snapshotted; bucket assignment must add NO
    // shuffle, NO global sort, NO TakeOrdered on top of it
    assert(!plan.contains("Exchange") && !plan.contains("TakeOrdered") &&
      !plan.contains("Sort"), s"assignment must be map-only:\n$plan")
    assert(out.collect().length == 60)
  }

  test("tokenBudgetSelect: map-only below the boundary, window only on the slice") {
    import spark.implicits._
    val df = (0 until 400).map { i =>
      (i.toLong, ((i * 31) % 17).toDouble, 1L + i % 5)
    }.toDF("doc_id", "score", "tokens")
    val out = graft.operators.TrainingData.tokenBudgetSelect(df, 300L,
      "score", "tokens", nBuckets = 8, sampleSize = 100)
    val plan = out.queryExecution.executedPlan.toString
    // the selection over the snapshot must never repartition the corpus:
    // below-boundary buckets are a plain filter, and the only exchange
    // allowed is the SinglePartition one feeding the boundary-slice window
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"no corpus repartition allowed:\n$plan")
    assert("(?s)Window".r.findAllIn(plan).size <= 1,
      s"at most the one boundary window:\n$plan")
    assert(out.count() > 0)
  }

  test("temperatureMixTokens: split windows share one exchange+sort; rank window can group-limit") {
    import spark.implicits._
    val docs = (0 until 4000).map(i =>
      (i.toLong, s"d${i % 5}", 10L)).toDF("doc_id", "source", "tokens")
    val out = graft.operators.TrainingData.temperatureMixTokens(
      docs, "source", totalTokens = 400L, temperature = 2.0)
    val plan = out.queryExecution.executedPlan.toString
    // the rank-only window qualifies for InsertWindowGroupLimit when the
    // budget is under the optimizer threshold (a mixed rank+sum window
    // never does — the reason the operator splits them)
    assert(plan.contains("WindowGroupLimit"), plan)
    // the sum window rides the rank window's partitioning+ordering: the
    // corpus side pays exactly ONE hashpartitioning exchange and the
    // quota side only tiny aggregate exchanges
    val fillSide = plan.split("BroadcastExchange").head
    assert("Exchange hashpartitioning".r.findAllIn(fillSide).size == 1,
      s"fill side must shuffle once:\n$plan")
    assert(out.count() > 0)
  }

  test("classifier training never shuffles: zero shuffle-write across all epochs") {
    // the per-epoch gradient is a combinable per-partition aggregate
    // (mapPartitions + driver reduce) over a cached featurized RDD — any
    // Exchange/shuffle stage here would re-scan-and-exchange the corpus
    // once per epoch, the anti-pattern the trainer exists to avoid
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (i.toLong, i % 2, s"filler tokens ${i % 11} " +
        (if (i % 2 == 1) "qgood" else "qbad") + (i % 3))
    }
    // parallelize (narrow) into 8 partitions — proves the gradient is
    // combinable across partitions without introducing a repartition
    // Exchange that would itself count as a shuffle
    val docs = spark.createDataset(spark.sparkContext.parallelize(rows, 8))
      .toDF("doc_id", "label", "text")
    val (m, c) = Harness.probe(spark)(graft.text.TextClassifier.train(docs,
      "text", "label", nBuckets = 256, bigrams = true, epochs = 10))
    assert(c.shuffleWriteBytes == 0L, s"training wrote " +
      s"${c.shuffleWriteBytes} shuffle bytes — epochs must be map-only")
    assert(m.score("qgood") > m.score("qbad"))
  }

  test("editDistancePairs: equality joins only, wide texts off the " +
      "candidate shuffle") {
    val docs = (0 until 40).map(i => (i.toLong, s"prefix shared $i tail"))
      .toDF("doc_id", "text")
    val p = Dedup.editDistancePairs(docs, maxDist = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"no all-pairs path:\n$p")
    // the pair distinct must run on bare ids: no 'txt' attribute may
    // appear in any HashAggregate grouping (texts join back after)
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.nonEmpty &&
      !aggLines.exists(l => l.contains("txt_a") || l.contains("txt_b")),
      s"candidate distinct must not carry texts:\n${aggLines.mkString("\n")}")
  }

  test("sq8TopK: corpus side streams, queries broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val p = Similarity.sq8TopK(emb, q, k = 2)
      .queryExecution.executedPlan.toString
    // brute-force top-k is inherently a non-equi product — the scale
    // contract (the v1 orientation) is that the SMALL query side is the
    // broadcast build side while the corpus streams
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"queries must be the broadcast build side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled cartesian:\n$p")
  }

  test("hybridTopK: legs union shuffle-free, fused top-k group-limited, " +
      "dense corpus streams") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val q = Seq((1L, "spark table")).toDF("query_id", "qtext")
      val qv = emb.filter(col("vec_id") === 1L)
      graft.operators.Retrieval.hybridTopK(docs, q, emb, qv, k = 5,
        topNPerLeg = 5).queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // per-query rank windows push WindowGroupLimit (map-side top-N)
    assert(p.contains("WindowGroupLimit"), s"leg top-N not pushed:\n$p")
    // the dense leg keeps the v1 orientation: queries broadcast, corpus
    // streams — no shuffled cartesian anywhere
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), s"no shuffled cartesian:\n$p")
  }

  test("avro scan: per-blob kernel only — no shuffle in the decode path") {
    val dir = java.nio.file.Files.createTempDirectory("avroplan").toString
    spark.range(1).selectExpr("id").write.mode("overwrite").json(dir) // dummy
    // plan the decode over an in-memory blob column: explode of
    // avro_records must sit directly on the scan/localtablescan with no
    // Exchange between
    val blob = {
      import org.apache.avro.Schema
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val schema = new Schema.Parser().parse(
        """{"type":"record","name":"R","fields":[{"name":"x","type":"long"}]}""")
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      val bos = new java.io.ByteArrayOutputStream()
      w.create(schema, bos)
      val r = new GenericData.Record(schema)
      r.put("x", 7L)
      w.append(r); w.close()
      bos.toByteArray
    }
    val df = Seq((1L, blob)).toDF("id", "avro").select(col("id"),
      explode(graft.functions.GraftFunctions.avro_records(col("avro"),
        """{"type":"record","name":"R","fields":[{"name":"x","type":"long"}]}"""))
        .as("r"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"avro decode must not shuffle:\n$p")
    assert(df.select("r.x").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("countMinWindowTable (batch twin): one combinable aggregate, " +
      "partial before the exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      val ev = Seq((1L, new java.sql.Timestamp(0L), "a"))
        .toDF("event_id", "ts", "event_type")
      graft.streaming.EventStreams.countMinWindowTable(ev, "event_type",
        d = 2, hexChars = 2).queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // partial_count before the exchange = map-side combine; exactly one
    // exchange total (the (window, i, bucket) agg)
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"map-side combine missing:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"count-min twin must shuffle exactly once:\n$p")
  }

  test("bloom bitmap probe is map-only: no exchange, no join, no window") {
    import graft.operators.Sketch
    val keys = (0 until 500).map(i => s"k$i").toDF("k")
    val bitmaps = Sketch.bloomBitmaps(
      Sketch.bloomTable(keys, "k", d = 3, hexChars = 4), 3, 4)
    val probe = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").cast("string").as("k"))
      .filter(Sketch.bloomMightContain("k", bitmaps, 4))
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bloom probe must not shuffle:\n$p")
    assert(!p.contains("Join"), s"bloom probe must not join:\n$p")
    // the filter rides directly over the scan inside codegen
    assert(p.contains("Filter"), s"probe should be a filter over the scan:\n$p")
  }

  test("theta sketch reduce is bounded: partial top-k before the single merge") {
    import graft.operators.Sketch
    val sk = Sketch.thetaSketch(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey").cast("string").as("k")), "k", 256)
    val p = sk.queryExecution.executedPlan.toString
    // the global k-smallest runs as TakeOrdered over the distinct of the
    // per-partition bounded sets — never a full global sort of raw keys
    assert(p.contains("TakeOrderedAndProject"), s"expect TakeOrdered:\n$p")
    assert(!p.contains("Sort ["), s"no full sort allowed:\n$p")
  }

  test("sessions/resample: every window and join is keyed (no global window)") {
    val ev = Seq((1L, 1L, new java.sql.Timestamp(0L), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    for (df <- Seq(
      graft.operators.Sessions.sessionStats(ev, "user_id", "ts", 60L,
        "event_id", "value"),
      graft.operators.Sessions.resampleFfill(ev, "user_id", "ts", "value",
        60L, "event_id"))) {
      val p = df.queryExecution.executedPlan.toString
      p.linesIterator.filter(_.contains("Window")).foreach { l =>
        assert(l.contains("user_id"), s"window must be user-keyed: $l")
      }
    }
    // the round-10 additions are pure keyed-window pipelines: no join at
    // all (the islands op specifically replaces the quadratic per-key
    // inequality self-join)
    for (df <- Seq(
      graft.operators.Sessions.anomalyZScore(ev, "user_id", "ts", "value"),
      graft.operators.Sessions.intervalIslands(
        Seq((1L, 0L, 1L)).toDF("user_id", "s", "e"), "user_id", "s", "e"))) {
      val p = df.queryExecution.executedPlan.toString
      p.linesIterator.filter(_.contains("Window")).foreach { l =>
        assert(l.contains("user_id"), s"window must be user-keyed: $l")
      }
      assert(!p.contains("Join"), s"keyed-window op must not join:\n$p")
    }
  }

  test("t69 kHopReach: equality joins only — frontier never cross-joins") {
    val p = staticPlan("t69_khop_reach").toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"t69 must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"t69 must not cross join:\n$p")
  }

  test("dupSpans: the single-distinct aggregate runs behind ONE exchange " +
    "(pre-partitioned by span), not the stock two-exchange plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      val docs = spark.range(500).selectExpr("id as doc_id",
        "repeat(concat('w', cast(id % 7 as string), ' '), 30) as text")
      graft.operators.TrainingData.dupSpans(docs, spanLen = 40)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1,
      s"dupSpans must shuffle the span stream exactly once, got " +
        s"${ex.size}:\n$plan")
    assert(ex.head.outputPartitioning.toString.contains("span"),
      s"the one exchange must be keyed by span:\n$plan")
  }

  test("topCoOccur: every basket-row exchange is keyed by the basket " +
    "alone — the (b,i) distinct and size cap share the basket layout") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      val baskets = spark.range(2000).selectExpr(
        "id % 100 as basket", "id % 37 as item")
      graft.operators.CoOccur.topCoOccur(baskets, "basket", "item",
        topK = 3, maxBasketSize = 100L)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val basketKeyed = plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning }.collect {
      case h: HashPartitioning
        if h.expressions.exists(_.toString.contains("b#")) => h }
    assert(basketKeyed.nonEmpty, s"no basket-keyed exchange found:\n$plan")
    basketKeyed.foreach { h =>
      assert(h.expressions.size == 1,
        s"basket rows must exchange on b alone (the fused layout), got " +
          s"$h:\n$plan")
    }
  }

  test("phraseMatch: the term filter runs BEFORE any exchange — the " +
    "shuffle carries only the phrase terms' postings") {
    val p = staticPlan("t64_phrase_match").toString
    // no join at all (slot counting replaces the posting self-join chain),
    // no window; the posting filter is pre-exchange by construction of the
    // single aggregate pipeline
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"phrase match must not join:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
    // the isin filter on tok must exist (pre-shuffle posting cut)
    assert(p.contains("INSET") || p.contains("tok#") && p.contains("Filter"),
      s"posting term filter missing:\n$p")
  }

  test("heavyHitters: candidates broadcast; the exact recount is the only " +
    "wide aggregate") {
    val p = staticPlan("a15_heavy_hitters").toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate semi-join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never exchange through a join:\n$p")
  }

  test("applyChangelog (j8): one window, over the changelog side only; " +
    "the snapshot joins without sorting under a Window") {
    val p = staticPlan("j8_cdc_apply").toString
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("_cdc_seq")),
      s"window must run on the changelog's seq only:\n$p")
  }

  test("scd2 lookup (j9): the as-of is one keyed union-window — no " +
    "inequality join, no nested loop") {
    val p = staticPlan("j9_scd2_lookup").toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the point-in-time lookup must never plan a nested loop:\n$p")
    // every window is keyed on the dimension key
    p.linesIterator.filter(_.contains("Window")).foreach { l =>
      assert(l.contains("o_orderkey"), s"window must be key-partitioned: $l")
    }
  }

  test("declarative st_intersects (sql4): the fine path is an equi-join " +
    "on the covering cell and the dedup predicate touches only projected " +
    "bounds — no WKB re-decode per candidate pair, no cartesian") {
    val p = staticPlan("sql4_intersects_sql").toString
    assert(!p.contains("CartesianProduct"), s"cartesian survived:\n$p")
    assert(p.contains("__graft_cell_a"), s"no two-sided cell join:\n$p")
    // the join condition must reference the pre-explode bound attributes,
    // not recompute env_min_x per pair: every env_min_x call site must sit
    // in a Project/Generate line, never a join-condition line
    p.linesIterator.filter(_.contains("env_min_x")).foreach { l =>
      assert(!l.contains("Join"),
        s"envelope bounds recomputed inside the join condition: $l")
    }
  }

  test("declarative st_dwithin (sql5): padded covering rides the SMALL " +
    "anchor side; the point side explodes its own single cell only") {
    val p = staticPlan("sql5_dwithin_rule").toString
    assert(!p.contains("CartesianProduct"), s"cartesian survived:\n$p")
    assert(p.contains("cells_covering_pad"),
      s"distance pad missing from the covering:\n$p")
    // the pad must be on the anchor (supplier) side: the padded covering
    // expression must never appear on a lineitem scan's subtree line
    p.linesIterator.filter(_.contains("cells_covering_pad")).foreach { l =>
      assert(!l.contains("l_orderkey"),
        s"pad landed on the corpus side: $l")
    }
  }
  test("LakeSelect full-scan fallback: the re-applied predicate pushes " +
    "into the parquet scan (Catalyst still owns the fallback plan)") {
    import graft.operators.{LakeSelect, TableLog}
    val dir = java.nio.file.Files.createTempDirectory("spplan")
      .toString + "/t"
    TableLog.append(spark.range(5000)
      .selectExpr("id as k", "id * 3 as v"), dir)
    val (df, st) = LakeSelect.readWhere(spark, dir, "v % 7 = 3")
    assert(st.strategy == "full_scan")
    val plan = df.queryExecution.executedPlan.toString
    // the modulo filter itself is not a pushable source filter, but the
    // implied IsNotNull must reach the scan — proof the where sits
    // directly over the file source, not over an opaque barrier
    assert(plan.contains("PushedFilters: [IsNotNull(v)]"),
      s"predicate did not reach the parquet scan:\n$plan")
  }

  test("selective row-group scan: bounded tasks per hot file (a file " +
    "with many kept groups fans out, never one straggler task)") {
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("spplan2")
      .toString + "/t"
    TableLog.append(spark.range(200000).selectExpr("id as k", "id as v")
      .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
      dir, options = Map("parquet.block.size" -> "16384",
        "parquet.page.size" -> "4096"))
    val (df, opened, _, filesOpened, _) = TableLog.readRowGroupPrunedMulti(
      spark, dir, Seq(TableLog.NumRange("k", Some(Long.MinValue),
        Some(Long.MaxValue))))
    assert(filesOpened == 1 && opened > 16, s"fixture wants many groups")
    val parts = df.rdd.getNumPartitions
    assert(parts >= (opened / 8).toInt,
      s"one hot file must fan out: $parts tasks for $opened groups")
  }

  test("readJoinPruned: dim broadcasts, fact side never exchange-" +
    "shuffles through the join") {
    import graft.operators.{LakeSelect, TableLog}
    val dir = java.nio.file.Files.createTempDirectory("splan_join")
      .toString + "/t"
    TableLog.append(
      spark.range(20000).selectExpr("id as fk", "id * 3 as v")
        .repartitionByRange(4, col("fk")).sortWithinPartitions("fk"),
      dir, options = Map("parquet.block.size" -> "16384"))
    val dim = spark.range(500, 700).selectExpr("id as dk")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      LakeSelect.readJoinPruned(spark, dir, "fk", dim, "dk")._1
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the fact side must not shuffle through the join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"no nested loop:\n$p")
  }

  test("ivfTopKPersisted: candidate generation is a cell equality " +
    "join — no nested-loop, no cartesian, corpus never broadcast") {
    import graft.operators.{Similarity, TableLog}
    val dir = java.nio.file.Files.createTempDirectory("splan_ivf")
      .toString + "/t"
    TableLog.append(
      spark.range(3000).selectExpr("id as vec_id",
        "transform(sequence(0, 15), " +
          "j -> cast(sin(id * 37 + j * 11) as float)) as embedding")
        .repartition(2), dir)
    Similarity.buildIvfIndex(spark, dir, nlist = 16, trainSample = 500,
      iters = 3)
    val q = spark.range(4).selectExpr("id + 10000 as vec_id",
      "transform(sequence(0, 15), " +
        "j -> cast(sin(id * 37 + j * 11) as float)) as embedding")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try {
      Similarity.ivfTopKPersisted(spark, dir, q, k = 1, nprobe = 4)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"no nested loop:\n$p")
    // the sidecar scan must serve the candidates (vid/cell/vec), not
    // the base table
    assert(p.contains("ivfasg"), s"candidates must come from the " +
      s"assignment sidecars:\n$p")
    // the probe join must BROADCAST the |Q|·nprobe side: the candidate
    // (corpus) side never crosses an exchange for the join, and the only
    // shuffles left in the serving plan are the per-query (qid) window
    // ranks (VERDICT r15 #3 pin)
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side must never exchange-shuffle through the probe join:\n$p")
  }

  test("ANN serving joins (v4 ivfTopK / v5 ivfPqTopK): probe and refine " +
    "sides broadcast; the corpus side never exchange-shuffles and every " +
    "remaining exchange is a per-query qid window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = spark.range(2000).selectExpr("id as vec_id",
      "transform(sequence(0, 15), " +
        "j -> cast(sin(id * 37 + j * 11) as float)) as embedding")
    val q = spark.range(4).selectExpr("id + 10000 as vec_id",
      "transform(sequence(0, 15), " +
        "j -> cast(sin(id * 37 + j * 11) as float)) as embedding")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shape(df: org.apache.spark.sql.DataFrame, minBhj: Int,
          name: String): Unit = {
        val plan = df.queryExecution.executedPlan
        val p = plan.toString
        assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
          s"$name: corpus side exchange-shuffled through a join:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"), s"$name: nested loop:\n$p")
        val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
        assert(bhj >= minBhj,
          s"$name: expected >= $minBhj broadcast joins, got $bhj:\n$p")
        val badEx = plan.collect { case e: ShuffleExchangeExec
          if !e.outputPartitioning.toString.contains("qid") => e }
        assert(badEx.isEmpty,
          s"$name: non-qid (corpus-sized) exchange in the serving plan: " +
            s"${badEx.map(_.outputPartitioning).mkString(", ")}\n$p")
      }
      shape(Similarity.ivfTopK(corpus, q, k = 1, nlist = 8, nprobe = 2,
        trainSample = 200, iters = 2), 1, "v4 ivfTopK")
      shape(Similarity.ivfPqTopK(corpus, q, k = 1, nlist = 8, nprobe = 2,
        m = 4, ksub = 16, refine = 8, trainSample = 200, iters = 2), 2,
        "v5 ivfPqTopK")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

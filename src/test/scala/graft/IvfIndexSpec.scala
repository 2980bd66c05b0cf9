package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TableLog}

/** Persisted IVF vector index as a maintained table-log sidecar:
  * ONE training job at build, zero on every query; appends top up
  * assignments from the stored codebook; rewrites fall back to
  * on-the-fly assignment (still zero training); deletion vectors are
  * honored; results match the per-call IVF row for row. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vecs(n: Int, dim: Int = 16): DataFrame =
    spark.range(n).selectExpr("id as vec_id",
      s"transform(sequence(0, ${dim - 1}), " +
        "j -> cast(sin(id * 37 + j * 11) as float)) as embedding")

  private def queriesOf(df: DataFrame, pred: String): DataFrame =
    df.filter(pred)
      .selectExpr("vec_id + 10000 as vec_id", "embedding")

  test("build once, query many: zero training jobs, per-call parity, " +
    "append top-up, rewrite fallback, DV exactness") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx")
      .toString + "/t"
    TableLog.append(vecs(2000).repartition(4), dir)
    Similarity.buildIvfIndex(spark, dir, nlist = 16,
      trainSample = 500, iters = 3)
    val snap = TableLog.snapshot(dir)
    assert(snap.vecidx.contains("codebook"))
    assert(snap.vecCol.contains("embedding,vec_id"))
    assert(snap.files.forall(snap.vecidx.contains),
      "build left data files unassigned")

    // planted self-match through the stored index, zero training
    val q = queriesOf(vecs(2000), "vec_id < 5")
    val before = Similarity.trainingJobs.sum()
    val r1 = Similarity.ivfTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4).collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == before,
      "persisted query ran a training job")
    r1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }
    // row-for-row parity with the per-call path on the same snapshot
    val pc = Similarity.ivfTopK(TableLog.read(spark, dir), q, k = 1,
        nlist = 16, nprobe = 4, trainSample = 500, iters = 3)
      .collect().sortBy(_.getLong(0))
    assert(r1.toSeq == pc.toSeq, "persisted vs per-call drift")

    // append tops up from the STORED codebook — still zero training,
    // the new file is covered, and its planted twin is findable
    val b2 = Similarity.trainingJobs.sum()
    TableLog.append(vecs(2500).filter("vec_id >= 2000").coalesce(1), dir)
    assert(Similarity.trainingJobs.sum() == b2, "append retrained")
    val snap2 = TableLog.snapshot(dir)
    assert(snap2.files.forall(snap2.vecidx.contains),
      "append did not top up the assignment sidecars")
    val q2 = queriesOf(vecs(2500), "vec_id = 2100")
    val r2 = Similarity.ivfTopKPersisted(spark, dir, q2, k = 1,
      nprobe = 4).collect()
    assert(r2.length == 1 && r2.head.getLong(1) == 2100L, r2.toSeq)

    // a DV delete hides the twin from the index's candidates
    TableLog.deleteVectored(spark, dir, "vec_id = 2100")
    val r3 = Similarity.ivfTopKPersisted(spark, dir, q2, k = 1,
      nprobe = 4).collect()
    assert(r3.head.getLong(1) != 2100L,
      s"DV-deleted row resurfaced: ${r3.toSeq}")

    // OPTIMIZE rewrites every file → the rewrite outputs are
    // re-assigned from the STORED codebook in the same commit: still
    // zero training, full coverage, exact results
    val bOpt = Similarity.trainingJobs.sum()
    TableLog.optimize(spark, dir, maxRows = 1000000L)
    val snap3 = TableLog.snapshot(dir)
    assert(Similarity.trainingJobs.sum() == bOpt, "optimize retrained")
    assert(snap3.files.forall(snap3.vecidx.contains),
      "optimize outputs not re-assigned")
    assert(snap3.vecidx.contains("codebook"))
    val b3 = Similarity.trainingJobs.sum()
    val r4 = Similarity.ivfTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4).collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == b3, "post-opt retrained")
    r4.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }

    // an UNCOVERED file (a writer that dropped an entry — e.g. the CDC
    // merge path carries without topping up) falls back to on-the-fly
    // assignment from the stored codebook: zero training, same answer
    val dropFile = snap3.files.head
    TableLog.commit(dir, snap3.files,
      expectedVersion = snap3.version + 1, txn = snap3.txn,
      dvs = snap3.dvs, checks = snap3.checks, rgidx = snap3.rgidx,
      vecidx = snap3.vecidx - dropFile, vecCol = snap3.vecCol)
    val b4 = Similarity.trainingJobs.sum()
    val r5 = Similarity.ivfTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4).collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == b4, "fallback retrained")
    assert(r5.toSeq == r4.toSeq, "uncovered-file fallback drifted")

    // vacuum keeps the codebook (referenced) and sweeps the orphaned
    // assignment sidecars of the pre-optimize versions
    val deleted = TableLog.vacuum(dir,
      keepFrom = TableLog.currentVersion(dir), graceMs = 0L)
    assert(deleted.exists(_.contains("-ivfasg")),
      s"orphaned assignment sidecars not swept: $deleted")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)
      .resolve(TableLog.snapshot(dir).vecidx("codebook"))),
      "live codebook swept")
  }

  // the sin(a*id + b*j) corpus is a 1-D phase curve — EVERY vector has
  // near-twins at cos ~ 0.99999, which exact-cosine ranking separates
  // from a planted 1.0 twin but m-byte ADC cannot (quantization noise
  // exceeds the gap). The PQ test needs genuine high-dimensional
  // spread: a per-coordinate id*(j+3) phase makes two distinct ids
  // differ in every subspace.
  private def dvecs(n: Int, dim: Int = 16): DataFrame =
    spark.range(n).selectExpr("id as vec_id",
      s"transform(sequence(0, ${dim - 1}), " +
        "j -> cast(sin(id * (j + 3) * 0.7001 + j) as float)) " +
        "as embedding")

  test("PQ-enabled index: codes persist in the sidecars, per-call " +
    "parity at the build snapshot, append/rewrite/DV stay zero-training") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx")
      .toString + "/t"
    TableLog.append(dvecs(2000).repartition(4), dir)
    Similarity.buildIvfIndex(spark, dir, nlist = 16,
      trainSample = 500, iters = 3, pq = true, m = 8, ksub = 64)
    val snap = TableLog.snapshot(dir)
    assert(snap.vecidx.contains("codebook"))
    assert(snap.vecidx.contains("pqbook"))
    assert(snap.files.forall(snap.vecidx.contains))
    // the assignment sidecars physically carry the m-byte codes —
    // the ADC stage's (vid, cell, codes) read never touches `vec`
    val side = spark.read.parquet(java.nio.file.Paths.get(dir)
      .resolve(snap.vecidx(snap.files.head)).toString)
    assert(side.columns.contains("codes"), side.columns.mkString(","))

    val q = queriesOf(dvecs(2000), "vec_id < 5")
    val before = Similarity.trainingJobs.sum()
    val r1 = Similarity.ivfPqTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4, refine = 64).collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == before,
      "persisted PQ query ran a training job")
    r1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }
    // row-for-row parity with per-call IVF-PQ on the same snapshot:
    // identical training inputs → identical codebooks, codes, ADC
    // ranks, and refine scores
    val pc = Similarity.ivfPqTopK(TableLog.read(spark, dir), q, k = 1,
        nlist = 16, nprobe = 4, m = 8, ksub = 64, refine = 64,
        trainSample = 500, iters = 3)
      .collect().sortBy(_.getLong(0))
    assert(r1.toSeq == pc.toSeq, "persisted vs per-call PQ drift")

    // append: topped up WITH codes, zero training, twin findable
    val b2 = Similarity.trainingJobs.sum()
    TableLog.append(dvecs(2500).filter("vec_id >= 2000").coalesce(1), dir)
    assert(Similarity.trainingJobs.sum() == b2, "append retrained")
    val snap2 = TableLog.snapshot(dir)
    assert(snap2.files.forall(snap2.vecidx.contains))
    val newFile = snap2.files.filterNot(snap.files.contains).head
    val side2 = spark.read.parquet(java.nio.file.Paths.get(dir)
      .resolve(snap2.vecidx(newFile)).toString)
    assert(side2.columns.contains("codes"),
      "append top-up lost the codes column")
    val q2 = queriesOf(dvecs(2500), "vec_id = 2100")
    val r2 = Similarity.ivfPqTopKPersisted(spark, dir, q2, k = 1,
      nprobe = 4, refine = 64).collect()
    assert(r2.length == 1 && r2.head.getLong(1) == 2100L, r2.toSeq)

    // DV delete hides the twin; optimize re-encodes outputs from the
    // STORED books; an uncovered file falls back on the fly
    TableLog.deleteVectored(spark, dir, "vec_id = 2100")
    val r3 = Similarity.ivfPqTopKPersisted(spark, dir, q2, k = 1,
      nprobe = 4, refine = 64).collect()
    assert(r3.head.getLong(1) != 2100L, s"DV row resurfaced: ${r3.toSeq}")
    val bOpt = Similarity.trainingJobs.sum()
    TableLog.optimize(spark, dir, maxRows = 1000000L)
    assert(Similarity.trainingJobs.sum() == bOpt, "optimize retrained")
    val snap3 = TableLog.snapshot(dir)
    assert(snap3.vecidx.contains("pqbook"),
      "rewrite dropped the PQ codebook entry")
    assert(snap3.files.forall(snap3.vecidx.contains))
    val r4 = Similarity.ivfPqTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4, refine = 64).collect().sortBy(_.getLong(0))
    r4.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }
    val dropFile = snap3.files.head
    TableLog.commit(dir, snap3.files,
      expectedVersion = snap3.version + 1, txn = snap3.txn,
      dvs = snap3.dvs, checks = snap3.checks, rgidx = snap3.rgidx,
      vecidx = snap3.vecidx - dropFile, vecCol = snap3.vecCol)
    val b4 = Similarity.trainingJobs.sum()
    val r5 = Similarity.ivfPqTopKPersisted(spark, dir, q, k = 1,
      nprobe = 4, refine = 64).collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == b4, "fallback retrained")
    assert(r5.toSeq == r4.toSeq, "uncovered-file PQ fallback drifted")

    // vacuum keeps BOTH referenced codebooks
    TableLog.vacuum(dir, keepFrom = TableLog.currentVersion(dir),
      graceMs = 0L)
    val fin = TableLog.snapshot(dir)
    Seq("codebook", "pqbook").foreach { kk =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)
        .resolve(fin.vecidx(kk))), s"live $kk swept")
    }
  }

  test("filtered ANN: the predicate routes through the scalar indexes, " +
    "results come only from matching rows, exhaustive probe equals " +
    "brute force over the filtered subset") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivffilt")
      .toString + "/t"
    // an attribute column clustered by sort so the filter zone-prunes
    val df = dvecs(2000).selectExpr("vec_id", "embedding",
      "vec_id % 4 as cat")
    TableLog.append(
      df.repartitionByRange(4, col("cat"), col("vec_id"))
        .sortWithinPartitions("cat", "vec_id"),
      dir, options = Map("parquet.block.size" -> "16384",
        "parquet.page.size" -> "4096"))
    Similarity.buildIvfIndex(spark, dir, nlist = 16,
      trainSample = 500, iters = 3)

    // twins of MATCHING rows self-match at rank 1 / cos 1.0, zero
    // training, and the filter read prunes
    val qMatch = dvecs(2000)
      .filter("vec_id % 4 = 2 and vec_id < 40")
      .selectExpr("vec_id + 10000 as vec_id", "embedding")
    val before = Similarity.trainingJobs.sum()
    val (r1, st1) = Similarity.ivfTopKPersistedWhere(spark, dir,
      qMatch, k = 1, "cat = 2", nprobe = 4)
    val rows1 = r1.collect().sortBy(_.getLong(0))
    assert(Similarity.trainingJobs.sum() == before,
      "filtered query ran a training job")
    assert(rows1.length == 10, rows1.length.toString)
    rows1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }
    assert(st1.filesOpened < st1.filesTotal || st1.rgOpened < st1.rgTotal,
      s"filter read did not prune: $st1")

    // twins of NON-matching rows: the twin itself is filtered out, so
    // every returned neighbor still satisfies the predicate
    val qMiss = dvecs(2000)
      .filter("vec_id % 4 = 1 and vec_id < 40")
      .selectExpr("vec_id + 10000 as vec_id", "embedding")
    val (r2, _) = Similarity.ivfTopKPersistedWhere(spark, dir,
      qMiss, k = 2, "cat = 2", nprobe = 16)
    val rows2 = r2.collect()
    assert(rows2.nonEmpty)
    rows2.foreach { r =>
      assert(r.getLong(1) % 4 == 2, s"non-matching neighbor: $r")
      assert(r.getLong(1) != r.getLong(0) - 10000, r.toString)
    }

    // nprobe = nlist is exhaustive: exactly the brute-force cosine
    // top-k of the filtered subset
    val qMix = dvecs(2000).filter("vec_id < 12")
      .selectExpr("vec_id + 10000 as vec_id", "embedding")
    val (r3, _) = Similarity.ivfTopKPersistedWhere(spark, dir,
      qMix, k = 3, "cat = 2", nprobe = 16)
    val brute = Similarity.bruteForceTopK(
      TableLog.read(spark, dir).where("cat = 2"), qMix, k = 3)
    assert(r3.orderBy("qid", "rk").collect().toSeq ==
      brute.orderBy("qid", "rk").collect().toSeq,
      "exhaustive filtered probe drifted from brute force")

    // a DV delete removes the row from the filtered candidates too
    TableLog.deleteVectored(spark, dir, "vec_id = 2")
    val (r4, _) = Similarity.ivfTopKPersistedWhere(spark, dir,
      qMatch, k = 1, "cat = 2", nprobe = 4)
    val hit2 = r4.collect().find(_.getLong(0) == 10002L)
    assert(hit2.forall(_.getLong(1) != 2L),
      s"DV-deleted row resurfaced through the filter: $hit2")

    // the PQ variant: rebuild with codes, then filtered ADC serving —
    // matching twins self-match (except the DV'd one), non-matching
    // twins get only matching neighbors, zero training on the query
    Similarity.buildIvfIndex(spark, dir, nlist = 16,
      trainSample = 500, iters = 3, pq = true, m = 8, ksub = 64)
    val b5 = Similarity.trainingJobs.sum()
    val (r5, st5) = Similarity.ivfPqTopKPersistedWhere(spark, dir,
      qMatch, k = 1, "cat = 2", nprobe = 4, refine = 64)
    assert(Similarity.trainingJobs.sum() == b5,
      "filtered PQ query ran a training job")
    val rows5 = r5.collect().sortBy(_.getLong(0))
    rows5.filter(_.getLong(0) != 10002L).foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 10000, r.toString)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toString)
    }
    assert(rows5.find(_.getLong(0) == 10002L)
      .forall(_.getLong(1) != 2L), "DV'd twin resurfaced via PQ filter")
    assert(st5.filesOpened < st5.filesTotal ||
      st5.rgOpened < st5.rgTotal, s"$st5")
    val (r6, _) = Similarity.ivfPqTopKPersistedWhere(spark, dir,
      qMiss, k = 2, "cat = 2", nprobe = 16, refine = 64)
    val rows6 = r6.collect()
    assert(rows6.nonEmpty)
    rows6.foreach { r =>
      assert(r.getLong(1) % 4 == 2, s"non-matching PQ neighbor: $r")
    }
  }

  test("a predicate every row satisfies returns exactly the unfiltered " +
    "persisted result, with an uncovered file and a DV in the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsame")
      .toString + "/t"
    TableLog.append(dvecs(2000).repartition(4), dir)
    Similarity.buildIvfIndex(spark, dir, nlist = 16,
      trainSample = 500, iters = 3, pq = true, m = 8, ksub = 64)
    val built = TableLog.snapshot(dir).files
    TableLog.append(dvecs(2300).filter("vec_id >= 2000").coalesce(1), dir)
    // drop the appended file's assignment entry so it is read and
    // assigned on the fly, then hide one covered row behind a DV
    val snap = TableLog.snapshot(dir)
    val added = snap.files.filterNot(built.contains)
    assert(added.size == 1, added.toString)
    TableLog.commit(dir, snap.files,
      expectedVersion = snap.version + 1, txn = snap.txn,
      dvs = snap.dvs, checks = snap.checks, rgidx = snap.rgidx,
      vecidx = snap.vecidx - added.head, vecCol = snap.vecCol)
    TableLog.deleteVectored(spark, dir, "vec_id = 3")
    val fin = TableLog.snapshot(dir)
    assert(fin.dvs.nonEmpty, "no deletion vector in the snapshot")
    assert(fin.files.filterNot(fin.vecidx.contains) == added,
      "the appended file should be the one uncovered file")

    val q = queriesOf(dvecs(2300), "vec_id in (3, 7, 2100, 2205)")
    def rows(df: DataFrame) = df.orderBy("qid", "rk").collect().toSeq
    val plain = rows(Similarity.ivfTopKPersisted(spark, dir, q, k = 3,
      nprobe = 4))
    val plainPq = rows(Similarity.ivfPqTopKPersisted(spark, dir, q, k = 3,
      nprobe = 4, refine = 64))
    // the uncovered file's twins are found, the DV'd row never is
    Seq(plain, plainPq).foreach { rs =>
      assert(rs.exists(r => r.getLong(0) == 12100L && r.getLong(1) == 2100L),
        rs.toString)
      assert(!rs.exists(_.getLong(1) == 3L), s"DV'd row surfaced: $rs")
    }
    val (where, _) = Similarity.ivfTopKPersistedWhere(spark, dir, q, k = 3,
      "vec_id >= 0", nprobe = 4)
    val (wherePq, _) = Similarity.ivfPqTopKPersistedWhere(spark, dir, q,
      k = 3, "vec_id >= 0", nprobe = 4, refine = 64)
    assert(rows(where) == plain, "filtered IVF drifted from unfiltered")
    assert(rows(wherePq) == plainPq,
      "filtered IVF-PQ drifted from unfiltered")
  }

  test("with a DV in the snapshot, the query reads only the DV'd data " +
    "file: its hidden ids are anti-joined to the candidates") {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val dir = java.nio.file.Files.createTempDirectory("ivfanti")
      .toString + "/t"
    TableLog.append(vecs(1000).repartition(2), dir)
    Similarity.buildIvfIndex(spark, dir, nlist = 8,
      trainSample = 300, iters = 2)
    TableLog.deleteVectored(spark, dir, "vec_id = 5")
    val snap = TableLog.snapshot(dir)
    def path(f: String) = java.nio.file.Paths.get(dir).resolve(f)
      .toUri.getPath
    val dvd = snap.files.filter(snap.dvs.contains).map(path)
    assert(snap.files.size == 2 && dvd.size == 1, snap.toString)
    val q = queriesOf(vecs(1000), "vec_id < 8")
    val ranked = Similarity.ivfTopKPersisted(spark, dir, q, k = 2, nprobe = 2)
    val data = snap.files.map(path).toSet
    val read = ranked.inputFiles.map(f => new java.net.URI(f).getPath)
      .filter(data).toSeq
    assert(read == dvd, s"data files read: $read, DV'd: $dvd")
    def joins(p: LogicalPlan) = p.collect { case j: Join => j }
    val plan = ranked.queryExecution.optimizedPlan
    assert(joins(plan).filter(_.joinType == Inner)
      .exists(j => joins(j.right).exists(_.joinType == LeftAnti)),
      s"no anti-join on the cell join's candidate side:\n${plan.treeString}")
    val rs = ranked.collect()
    assert(rs.exists(r => r.getLong(0) == 10003L && r.getLong(1) == 3L),
      rs.toSeq.toString)
    assert(!rs.exists(_.getLong(1) == 5L), s"DV'd row surfaced: ${rs.toSeq}")
  }
}

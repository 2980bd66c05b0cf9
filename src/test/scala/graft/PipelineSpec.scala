package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.geom.GeomLib
import graft.operators._

object SparkTestSession {
  // the specs' pinned file and job counts assume local[4]
  lazy val spark: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft").toString

  /** Reference-shaped fixture: mixed 2D/3D WKB + nulls + attributes, with
    * the geometry column named `Shape` (column-discovery path). */
  private def fixture(): DataFrame = {
    val rows = (0 until 200).map { i =>
      val lon = -170.0 + i * 1.7
      val lat = -80.0 + (i % 160)
      val geom: Array[Byte] =
        if (i % 17 == 0) null
        else if (i % 5 == 0) GeomLib.pointZWkb(lon, lat, 3.0)
        else GeomLib.squareWkb(lon, lat, 0.25)
      (i.toLong, s"name_$i", geom)
    }
    rows.toDF("fid", "name", "Shape")
  }

  test("normalize: discovers Shape column, drops nulls, flattens 3D, keeps attrs") {
    val out = GeoNormalize.normalize(fixture(), srcEpsg = 4326, flipProbe = false)
    assert(out.columns.toSeq == Seq("fid", "name", "geom"))
    val n = out.count()
    assert(n == 200 - 12) // 12 nulls dropped (i % 17 == 0)
    val types = out.select(wkb_shape_type($"geom")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(types.subsetOf(Set(1, 3))) // points (flattened Z) + polygons
  }

  test("normalize repairs flipped sources via the min-x probe") {
    // all longitudes < 60 after flipping (lat in x position) triggers repair
    val flipped = (0 until 50).map { i =>
      val lon = 100.0 + i * 0.5 // east-asian longitudes
      val lat = 10.0 + i * 0.2
      (i.toLong, GeomLib.pointWkb(lat, lon)) // deliberately (lat, lon)
    }.toDF("fid", "geom")
    val out = GeoNormalize.normalize(flipped)
    val minX = out.agg(min(st_x($"geom"))).head().getDouble(0)
    assert(minX >= 100.0, s"flip repair should restore lon-lat, got minX=$minX")
  }

  test("writeClustered: ZSTD parquet, Hilbert-nondecreasing rows, idempotency guard") {
    val dir = tmp() + "/clustered"
    val df = GeoNormalize.normalize(fixture(), flipProbe = false)
    GeoNormalize.writeClustered(df, dir, numFiles = 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    // read preserves file order for a single file; keys must be nondecreasing
    val keys = back
      .select(hilbert_encode(st_y(st_centroid($"geom")), st_x(st_centroid($"geom"))))
      .collect().map(_.getLong(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b }, "hilbert order")
    assert(GeoNormalize.alreadyDone(spark, dir))
    assert(!GeoNormalize.alreadyDone(spark, dir + "_missing"))
    // zstd codec actually applied
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.contains("zstd")))
  }

  test("writeClustered with numFiles = 1 on a one-split input shuffles once: " +
    "the range exchange, no round-robin scatter before it") {
    val dir = tmp() + "/one"
    val df = GeoNormalize.normalize(fixture(), flipProbe = false).coalesce(1)
    val (_, c) = Harness.probe(spark)(
      GeoNormalize.writeClustered(df, dir, numFiles = 1))
    assert(c.shuffleStages == 1, c.toString)
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("writeClustered with numFiles > 0 keeps a sort+limit input's top-k: " +
    "the range sample, the range shuffle and the write are its only jobs") {
    val dir = tmp() + "/topk"
    val df = spark.range(0, 20000, 1, 3).orderBy($"id".desc).limit(500)
      .withColumn("geom", st_point(($"id" % 360).cast("double") - 180.0,
        ($"id" % 170).cast("double") - 85.0))
    val (_, c) = Harness.probe(spark)(
      GeoNormalize.writeClustered(df, dir, numFiles = 2))
    assert(c.jobs == 3, c.jobNames.toString)
    assert(spark.read.parquet(dir).count() == 500)
  }

  test("readNoInfer lists a converted dir given as a file: URI through its " +
    "FileSystem and plans with zero jobs") {
    val dir = tmp() + "/conv"
    GeoNormalize.writeClustered(
      GeoNormalize.normalize(fixture(), flipProbe = false), dir, numFiles = 2)
    val (df, c) = Harness.probe(spark)(
      RowGroupScan.readNoInfer(spark, Seq(s"file:$dir")))
    assert(c.jobs == 0, c.jobNames.toString)
    assert(df.columns.toSeq == Seq("fid", "name", "geom"))
    assert(df.count() == 188)
  }

  test("writeClustered stamps a GeoParquet 1.1 geo footer; Spark metadata preserved") {
    val dir = tmp() + "/geofooter"
    val df = GeoNormalize.normalize(fixture(), flipProbe = false)
    GeoNormalize.writeClustered(df, dir, numFiles = 2, zstdLevel = 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length == 2)
    files.foreach { f =>
      val geo = GeoNormalize.geoFooterOf(f, conf)
      assert(geo.isDefined, s"missing geo footer in $f")
      val j = geo.get
      assert(j.contains("\"version\":\"1.1.0\""), j)
      assert(j.contains("\"primary_column\":\"geom\""), j)
      assert(j.contains("\"encoding\":\"WKB\""), j)
      assert(j.contains("\"bbox\":["), j)
      // Spark's own schema metadata sits beside the geo key — otherwise
      // readback falls back to parquet-level type inference
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
        assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
      } finally reader.close()
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    // footer bbox equals the per-file data envelope exactly
    val expected = bboxPerFile(back)
    files.foreach { f =>
      val name = new java.io.File(f).getName
      val j = GeoNormalize.geoFooterOf(f, conf).get
      assert(j.contains(expected(name)), s"$name: $j vs ${expected(name)}")
    }
  }

  /** Each file's `"bbox":[...]` footer fragment, from its rows' envelope. */
  private def bboxPerFile(back: DataFrame): Map[String, String] =
    back
      .select(input_file_name().as("f"),
        st_xmin($"geom").as("x0"), st_ymin($"geom").as("y0"),
        st_xmax($"geom").as("x1"), st_ymax($"geom").as("y1"))
      .groupBy($"f")
      .agg(min($"x0"), min($"y0"), max($"x1"), max($"y1"))
      .collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
        s""""bbox":[${r.getDouble(1)},${r.getDouble(2)},${r.getDouble(3)},${r.getDouble(4)}]""")
      .toMap

  test("readGeoParquet discovers the geometry column and merged bbox from the footer") {
    val dir = tmp() + "/geodisc"
    val df = GeoNormalize.normalize(fixture(), flipProbe = false)
    GeoNormalize.writeClustered(df, dir, numFiles = 2, zstdLevel = 1)
    val (back, geomCol, bbox) = GeoNormalize.readGeoParquet(spark, dir)
    assert(geomCol == "geom")
    assert(back.count() == df.count())
    // merged bbox across files == the whole dataset's envelope
    val env = back.agg(min(st_xmin(col(geomCol))), min(st_ymin(col(geomCol))),
      max(st_xmax(col(geomCol))), max(st_ymax(col(geomCol)))).head()
    val b = bbox.getOrElse(fail("no bbox discovered"))
    assert(b == ((env.getDouble(0), env.getDouble(1), env.getDouble(2), env.getDouble(3))),
      s"$b vs $env")
    // the discovered name drives real column access (not a fixed literal)
    assert(back.select(st_centroid(col(geomCol)).as("c"))
      .filter(col("c").isNotNull).count() > 0)
    // plain parquet without the footer fails loudly
    val plain = tmp() + "/plainpq"
    df.write.parquet(plain)
    intercept[IllegalArgumentException] {
      GeoNormalize.readGeoParquet(spark, plain)
    }
  }

  test("readGeoParquetPruned skips non-intersecting files, keeps footerless ones") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = tmp() + "/geoprune"
    // two spatial clusters far apart -> Hilbert clustering puts them in
    // different files with disjoint footer bboxes
    val rows = (1 to 200).map(i => (i.toLong, s"w$i",
      graft.geom.GeomLib.pointWkb(10.0 + (i % 10) * 0.01, 10.0 + (i % 7) * 0.01))) ++
      (201 to 400).map(i => (i.toLong, s"e$i",
        graft.geom.GeomLib.pointWkb(120.0 + (i % 10) * 0.01, -40.0 + (i % 7) * 0.01)))
    val df = spark.createDataFrame(rows).toDF("id", "name", "geom")
    GeoNormalize.writeClustered(df, dir, numFiles = 2, zstdLevel = 1)
    // query box around the western cluster only
    val (west, kept, total) = GeoNormalize.readGeoParquetPruned(spark, dir,
      (9.0, 9.0, 11.0, 11.0))
    assert(total == 2 && kept == 1, s"one of two files must prune: $kept/$total")
    assert(west.count() == 200)
    // a box missing everything reads zero rows but keeps the schema
    val (none, k0, _) = GeoNormalize.readGeoParquetPruned(spark, dir,
      (-10.0, -10.0, -5.0, -5.0))
    assert(k0 == 0 && none.count() == 0 && none.columns.contains("geom"))
    // footerless plain parquet is conservatively kept, never dropped
    val plain = tmp() + "/plainprune"
    df.write.parquet(plain)
    val (all, kp, tp) = GeoNormalize.readGeoParquetPruned(spark, plain,
      (-10.0, -10.0, -5.0, -5.0))
    assert(kp == tp && all.count() == 400, "no footer => keep everything")
    intercept[IllegalArgumentException] {
      GeoNormalize.readGeoParquetPruned(spark, dir, (5.0, 5.0, 1.0, 1.0))
    }
  }

  test("zstd level 22 measurably outcompresses level 1 (the knob takes effect)") {
    // near-duplicate long strings: parquet's dictionary can't dedupe them
    // (all distinct) and zstd's level decides how well the page compresses —
    // if the level option were silently dropped, both writes would be the
    // same size
    val rnd = new scala.util.Random(5)
    val df = (1 to 8000).map { i =>
      val filler = (1 to 30).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")
      (i.toLong, s"record $i of the corpus: $filler", GeomLib.pointWkb(100.0 + rnd.nextDouble(), 30.0 + rnd.nextDouble()))
    }.toDF("fid", "text", "geom")
    def dirSize(d: String): Long =
      new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val d22 = tmp() + "/z22"; val d1 = tmp() + "/z1"
    GeoNormalize.writeClustered(df, d22, numFiles = 1, zstdLevel = 22)
    GeoNormalize.writeClustered(df, d1, numFiles = 1, zstdLevel = 1)
    val (s22, s1) = (dirSize(d22), dirSize(d1))
    assert(s22 < s1, s"level 22 ($s22 B) must beat level 1 ($s1 B)")
  }

  test("mapBounded: concurrent submission, order preserved, failures propagate") {
    import graft.operators.Concurrency
    // all 3 tasks must be in flight at once to pass the barrier
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val out = Concurrency.mapBounded(Seq(1, 2, 3), maxConcurrent = 3) { i =>
      barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
      i * 10
    }
    assert(out == Seq(10, 20, 30))
    intercept[Exception] {
      Concurrency.mapBounded(Seq(1, 2), maxConcurrent = 2) { i =>
        if (i == 2) throw new RuntimeException("boom") else i
      }
    }
  }

  test("mergeParquet: greedy bin-packing plan matches reference semantics") {
    assert(MergeParquet.planBatches(Seq("a" -> 4L, "b" -> 4L, "c" -> 4L), 8L)
      == Seq(Seq("a", "b"), Seq("c")))
    // one oversized file still gets its own batch
    assert(MergeParquet.planBatches(Seq("a" -> 20L, "b" -> 1L), 8L)
      == Seq(Seq("a"), Seq("b")))
    assert(MergeParquet.planBatches(Seq.empty, 8L).isEmpty)
  }

  test("mergeParquet end-to-end: lineage column + row preservation") {
    val base = tmp()
    val d1 = s"$base/src1"; val d2 = s"$base/src2"
    fixture().filter($"Shape".isNotNull).limit(50)
      .select($"fid", $"Shape".as("geom")).write.parquet(d1)
    fixture().filter($"Shape".isNotNull).limit(30)
      .select($"fid", $"Shape".as("geom")).write.parquet(d2)
    val inFiles = Seq(d1, d2).flatMap(d =>
      new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet")).map(_.toString))
    val outs = MergeParquet.merge(spark, inFiles, s"$base/merged", maxRows = 60)
    assert(outs.size >= 2) // 80 rows, 60-row cap → ≥ 2 batches
    val merged = spark.read.parquet(outs: _*)
    assert(merged.count() == 80)
    assert(merged.select($"source").distinct().count() == inFiles.size)
    // each merged file is GeoParquet too: its footer bbox is its envelope
    val conf = spark.sparkContext.hadoopConfiguration
    val expected = bboxPerFile(merged)
    outs.foreach { out =>
      val names = new java.io.File(out).listFiles.map(_.getName).toSeq
      val files = names.filter(_.endsWith(".parquet"))
      assert(files.size == 1, names)
      val j = GeoNormalize.geoFooterOf(s"$out/${files.head}", conf)
        .getOrElse(fail(s"no geo footer in $out/${files.head}"))
      assert(j.contains(expected(files.head)), s"$j vs ${expected(files.head)}")
      // only the committed file, _SUCCESS and their checksums: no temp
      // twin or other leftover from the write
      names.foreach { n =>
        val bare = if (n.startsWith(".") && n.endsWith(".crc"))
          n.stripPrefix(".").stripSuffix(".crc") else n
        assert(bare == "_SUCCESS" ||
          (bare.startsWith("part-") && bare.endsWith(".zstd.parquet")), s"stray $n in $out")
      }
    }
  }

  /** One single-file parquet input per entry of `sizes`, each holding that
    * many fixture rows (a distinct slice per file), named `name(k)` in one
    * flat directory; returns the local paths in name order. */
  private def mergeInputs(base: String, sizes: Seq[Int],
      name: Int => String = k => f"in_$k%02d.parquet"): Seq[String] = {
    val rows = fixture().filter($"Shape".isNotNull).select($"fid", $"Shape".as("geom"))
    val flat = new java.io.File(s"$base/flat"); flat.mkdirs()
    sizes.zipWithIndex.map { case (n, k) =>
      val from = sizes.take(k).sum
      val staged = s"$base/staged_$k"
      rows.filter($"fid" >= from).orderBy($"fid").limit(n).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles.filter(_.getName.endsWith(".parquet")).head
      val to = new java.io.File(flat, name(k))
      java.nio.file.Files.move(part.toPath, to.toPath)
      to.toString
    }.sorted
  }

  /** Each merge output directory's single parquet file. */
  private def mergedFile(dir: String): String = {
    val files = new java.io.File(dir).listFiles.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.length == 1, s"$dir holds ${files.toSeq}")
    files.head
  }

  test("mergeParquet: batches are planBatches over footer counts, Hilbert-sorted, " +
    "GeoParquet, in at most 3 jobs") {
    val base = tmp()
    val inFiles = mergeInputs(base, Seq(40, 25, 30, 50, 10))
    val want = MergeParquet.planBatches(
      inFiles.map(f => f -> spark.read.parquet(f).count()), maxRows = 60)
      .map(_.map(f => new java.io.File(f).getName).toSet)
    assert(want.size == 3, want) // 40 | 25+30 | 50+10
    val (outs, c) = Harness.probe(spark)(
      MergeParquet.merge(spark, inFiles, s"$base/merged", maxRows = 60))
    assert(c.jobs <= 3, s"merge ran ${c.jobs} jobs")
    assert(outs == want.indices.map(i => f"$base/merged/merged_batch=$i%04d"))
    val conf = spark.sparkContext.hadoopConfiguration
    outs.zip(want).foreach { case (out, names) =>
      val f = mergedFile(out)
      val back = spark.read.parquet(f)
      assert(back.select("source").distinct().collect().map(_.getString(0)).toSet == names)
      val keys = back.select("geom").collect()
        .map(r => GeomLib.hilbertOfGeom(r.getAs[Array[Byte]](0)).longValue)
      assert(keys.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
        s"Hilbert keys decrease within $f")
      val j = GeoNormalize.geoFooterOf(f, conf).getOrElse(fail(s"no geo footer in $f"))
      val bbox = bboxPerFile(back)(new java.io.File(f).getName)
      assert(j.contains(bbox), s"$j vs $bbox")
    }
    assert(spark.read.parquet(outs: _*).count() == 155)
  }

  test("mergeParquet: zero-row inputs join no batch; a space in a file name " +
    "reaches `source` URL-encoded") {
    val base = tmp()
    val inFiles = mergeInputs(base, Seq(0, 30, 20),
      name = k => Seq("a_empty.parquet", "b with space.parquet", "c.parquet")(k))
    val outs = MergeParquet.merge(spark, inFiles, s"$base/merged", maxRows = 40)
    assert(outs.size == 2) // [empty, 30] | [20]: the empty file adds no rows
    val sources = outs.map(o => spark.read.parquet(mergedFile(o)).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(sources == Seq(Map("b%20with%20space.parquet" -> 30L), Map("c.parquet" -> 20L)))
    // inputs that are all empty plan no batch and write nothing
    val none = MergeParquet.merge(spark, inFiles.take(1), s"$base/none", maxRows = 40)
    assert(none.isEmpty && !new java.io.File(s"$base/none").exists)
  }

  test("mergeParquet: AQE does not coalesce the per-batch partitions") {
    val base = tmp()
    val inFiles = mergeInputs(base, Seq(30, 30, 30, 30))
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val outs = try {
      spark.conf.set(keys(0), "true"); spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "1g")
      MergeParquet.merge(spark, inFiles, s"$base/merged", maxRows = 30)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(outs.size == 4)
    outs.foreach(o => assert(spark.read.parquet(mergedFile(o)).count() == 30))
  }

  test("mergeParquet: the read schema comes from the input footers; one " +
    "that disagrees merges under the union schema") {
    val base = tmp()
    val inFiles = mergeInputs(base, Seq(30, 20, 25))
    val (outs, c) = Harness.probe(spark)(
      MergeParquet.merge(spark, inFiles, s"$base/merged", maxRows = 60))
    assert(c.jobs <= 2, s"merge ran ${c.jobs} jobs")
    assert(spark.read.parquet(outs: _*).count() == 75)
    // the last input (in path order) gains a column the others lack
    val staged = s"$base/noted"
    spark.read.parquet(inFiles.last).withColumn("note", lit("x")).coalesce(1)
      .write.parquet(staged)
    val noted = new java.io.File(staged).listFiles.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val drifted = MergeParquet.merge(spark, inFiles.init :+ noted, s"$base/drift",
      maxRows = 100)
    val back = spark.read.parquet(drifted.map(mergedFile): _*)
    assert(back.columns.contains("note"), back.columns.toSeq)
    assert(back.filter($"note" === "x").count() == 25)
    assert(back.filter($"note".isNull).count() == 50)
  }

  test("ewkbStats + heatmap + bbox") {
    val df = fixture().filter($"Shape".isNotNull)
      .select($"fid", $"Shape".as("geom"))
    val stats = GeoStats.ewkbStats(df.withColumn("geom", $"geom"))
    // input_file_name is empty for local relations; histogram still correct
    val hist = stats.groupBy("shape_type").agg(sum("num_recs").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist(3) > 0 && hist(233) > 0)
    val hm = GeoStats.cellHeatmap(GeoNormalize.normalize(df, flipProbe = false), res = 6)
    assert(hm.agg(sum("num_recs")).head().getLong(0) > 0)
    assert(hm.select("boundary_wkt").head().getString(0).startsWith("POLYGON"))
    val bb = GeoStats.bbox(GeoNormalize.normalize(df, flipProbe = false)).head()
    assert(bb.getDouble(0) >= -180 && bb.getDouble(1) <= 180)
  }

  test("convertAll: multi-source convert with idempotent re-run") {
    val base = tmp()
    val src = s"$base/in/tokyo"
    fixture().filter($"Shape".isNotNull)
      .select($"fid", $"Shape".as("geom")).write.parquet(src)
    val out = s"$base/out"
    val fails = GeoNormalize.convertAll(spark, Seq(src -> 4326), out)
    assert(fails.isEmpty)
    val n1 = spark.read.parquet(s"$out/tokyo").count()
    assert(n1 > 0)
    // second run is a no-op (F4) and still succeeds
    val mtime = new java.io.File(s"$out/tokyo").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(GeoNormalize.convertAll(spark, Seq(src -> 4326), out).isEmpty)
    val mtime2 = new java.io.File(s"$out/tokyo").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(mtime2 == mtime, "idempotent re-run must not rewrite")
    // a broken source is isolated, not fatal
    val fails2 = GeoNormalize.convertAll(spark,
      Seq(src -> 4326, s"$base/in/missing" -> 4326), out)
    assert(fails2.map(_._1._1) == Seq(s"$base/in/missing"))
  }

  test("convertAll on a one-file source runs 4 jobs: the flip probe's two, " +
    "the range shuffle and the write") {
    val base = tmp()
    val src = s"$base/in/one"
    fixture().filter($"Shape".isNotNull).select($"fid", $"Shape".as("geom"))
      .coalesce(1).write.parquet(src)
    val (fails, c) = Harness.probe(spark)(
      GeoNormalize.convertAll(spark, Seq(src -> 4326), s"$base/out"))
    assert(fails.isEmpty)
    assert(c.jobs == 4, c.jobNames.toString)
  }

  test("spatial join: grid prefilter + JTS refine matches brute force") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 2000).map { i =>
      (i.toLong, GeomLib.pointWkb(rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 40 - 20))
    }.toDF("pid", "geom")
    val polys = (0 until 60).map { j =>
      (j.toLong, GeomLib.squareWkb(rnd.nextDouble() * 36 - 18, rnd.nextDouble() * 36 - 18,
        0.5 + rnd.nextDouble() * 2.0))
    }.toDF("polyid", "geom")
    val joined = SpatialJoin.pointInPolygon(pts, polys, res = 8)
      .select("pid", "polyid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force oracle with the same kernel
    val p = pts.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("geom"))
    val g = polys.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("geom"))
    val expected = (for {
      (pid, pg) <- p
      (gid, gg) <- g
      if GeomLib.contains(gg, pg)
    } yield (pid, gid)).toSet
    assert(expected.nonEmpty, "fixture should produce containments")
    assert(joined == expected)
  }

  test("ndjson sink shape round-trips (shape_stats.json contract)") {
    val df = fixture().filter($"Shape".isNotNull)
      .select($"fid", $"Shape".as("geom"))
    val out = tmp() + "/stats"
    GeoStats.writeNdjson(GeoStats.ewkbStats(df), out)
    val back = spark.read.json(out)
    assert(back.columns.sorted.toSeq == Seq("filename", "num_recs", "shape_type"))
    assert(back.agg(sum("num_recs")).head().getLong(0) == df.count())
  }

  test("dedup library: exact, minhash recall vs exact jaccard, clusters") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home"),
      (3L, "completely different content about spark query engines and storage"),
      (4L, "totally unrelated words concerning database systems and file formats")
    ).toDF("doc_id", "text")
    val ex = Dedup.exact(docs)
    assert(ex.count() == 4) // docs 0,1 collapse
    assert(ex.agg(sum("n_dups")).head().getLong(0) == 5)
    val exactPairs = Dedup.jaccardPairs(docs, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.contains((0L, 1L)) && exactPairs.contains((0L, 2L)))
    val mh = Dedup.minhashPairs(docs, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((0L, 1L)), "identical docs must collide in every band")
    val cl = Dedup.clusters(Dedup.jaccardPairs(docs, minJaccard = 0.5))
    val labels = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) == labels(1L) && labels(1L) == labels(2L))
  }

  test("dedupeCorpus removes near-dups, keeps lowest-id survivor") {
    val docs = Seq(
      (0L, (1 to 60).map(i => s"w${i % 31}").mkString(" ")),
      (1L, (1 to 60).map(i => s"w${i % 31}").mkString(" ")), // dup of 0
      (2L, (1 to 60).map(i => s"q$i z${i * 3}").mkString(" ")),
      (3L, (1 to 60).map(i => s"m$i k${i * 7}").mkString(" "))
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupeCorpus(docs, minJaccard = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L))
  }

  test("dedupeCorpusBy elects the best-priority survivor, not the lowest id") {
    val text = (1 to 60).map(i => s"w${i % 31}").mkString(" ")
    val docs = Seq(
      (0L, text, 1.0), (1L, text, 9.0), (2L, text, 9.0), // one dup cluster
      (3L, (1 to 60).map(i => s"m$i k${i * 7}").mkString(" "), 0.0) // single
    ).toDF("doc_id", "text", "quality")
    // priority election: highest quality wins, ties to the LOWEST id —
    // doc 1 beats 0 (quality) and 2 (tie-break); singleton 3 survives
    val kept = Dedup.dedupeCorpusBy(docs, col("quality"), minJaccard = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"kept: $kept")
    // degenerate: constant priority reduces to lowest-id survivor
    val keptFlat = Dedup.dedupeCorpusBy(docs, lit(1), minJaccard = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptFlat == Set(0L, 3L), s"kept: $keptFlat")
  }

  test("simhash pigeonhole join finds near-identical docs") {
    val docs = Seq(
      (0L, (1 to 100).map(i => s"tok${i % 37}").mkString(" ")),
      (1L, (1 to 100).map(i => s"tok${i % 37}").mkString(" ") + " tail"),
      (2L, (1 to 100).map(i => s"zzz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxDist = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("random projection: JL cosine preservation, determinism, balance") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = Similarity.randomProject(emb, inDim = 64, outDim = 32,
      seed = "jl")
    val vecs = proj.groupBy("vec_id")
      .agg(sort_array(collect_list(struct($"j", $"y6"))).as("c"))
      .select($"vec_id", expr("transform(c, s -> s.y6)").as("y"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    val orig = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    // pairwise cosine error across 40 pairs stays within the JL band
    val ids = orig.keys.toSeq.sorted.take(10)
    val errs = for (a <- ids; b <- ids if a < b) yield {
      val cOrig = cos(orig(a).map(_.toDouble), orig(b).map(_.toDouble))
      val cProj = cos(vecs(a), vecs(b))
      math.abs(cOrig - cProj)
    }
    // per-pair std ≈ 1/√32 ≈ 0.18; max over 45 pairs sits near 2.5σ
    assert(errs.max < 0.55 && errs.sum / errs.size < 0.16,
      s"JL cosine drift too large: max=${errs.max} " +
        s"mean=${errs.sum / errs.size}")
    // deterministic: same seed → identical output; different seed → not
    val again = Similarity.randomProject(emb, 64, 32, seed = "jl")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val first = proj.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(again == first)
    val other = Similarity.randomProject(emb, 64, 32, seed = "other")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(other != first)
    // sign matrix is near-balanced (md5 nibbles are uniform)
    val signs = Similarity.rpSigns(64, 32, "jl").flatten
    val plus = signs.count(_ == 1)
    assert(math.abs(plus - signs.length / 2) < signs.length / 10)
  }

  test("similarity: lsh top-k recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, 5, bits = 4, probes = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    // embeddings here are near-uniform random (top-5 cosine ~0.4): LSH has
    // limited signal, so only a loose recall floor is meaningful
    assert(recall >= 0.1, s"multi-probe LSH recall too low: $recall")
    assert(lsh.nonEmpty)
    // probes=0 probes ONLY the query's own bucket per table. With k
    // large enough that top-k = all candidates, the probes=0 candidate
    // set must be a strict subset of the multi-probe one (the old
    // sequence(0,-1) artifact instead probed a garbage flip bucket)
    val all0 = Similarity.lshTopK(emb, queries, 100000, bits = 4, probes = 0)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all4 = Similarity.lshTopK(emb, queries, 100000, bits = 4, probes = 4)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all0.subsetOf(all4), "probes=0 candidates must be a subset of probes=4")
  }

  test("sq8: codes bounded, reconstruction close, top-k recall vs brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scales = Similarity.sq8Scales(emb, "embedding")
    assert(scales.forall(s => s > 0.0))
    // every code in [-127, 127]; max-abs dims hit exactly +/-127 somewhere
    val codes = Similarity.sq8Quantize(emb, "embedding", scales)
      .select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.flatten.forall(q => q >= -127 && q <= 127))
    assert(codes.flatten.exists(q => math.abs(q) == 127))
    // 8-bit reconstruction keeps top-5 cosine neighbors nearly intact
    val queries = emb.filter($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(emb, queries, 5, scales = Some(scales))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(sq).size.toDouble / bf.size
    assert(recall >= 0.8, s"sq8 top-k recall too low: $recall")
    // out-of-range query vectors clamp instead of overflowing
    val wild = Seq((99L, Array.fill(scales.length)(1e6f)))
      .toDF("vec_id", "embedding")
    val wc = Similarity.sq8Quantize(wild, "embedding", scales)
      .select("codes").collect().head.getSeq[Int](0)
    assert(wc.forall(_ == 127))
  }

  test("bloom-filtered parquet sink: SBBF present per row group, lossless") {
    val tmp = java.nio.file.Files.createTempDirectory("bloomspec").toString + "/t"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", md5($"text").as("text_md5"), $"source")
    graft.operators.ParquetTuning.writeWithBloom(docs, tmp,
      bloomCols = Seq("doc_id", "text_md5"), ndv = 100000L)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.operators.ParquetTuning.bloomPresentAll(tmp, conf, "doc_id"),
      "doc_id must carry a bloom filter in every row group")
    assert(graft.operators.ParquetTuning.bloomPresentAll(tmp, conf, "text_md5"),
      "text_md5 must carry a bloom filter in every row group")
    assert(!graft.operators.ParquetTuning.bloomPresentAll(tmp, conf, "source"),
      "source was not bloom-enabled and must read as absent")
    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count())
    assert(back.filter($"doc_id" === 7L).count() ==
      docs.filter($"doc_id" === 7L).count())
  }

  test("zone-map index: footer-only bounds; pruned read opens only " +
    "intersecting files and equals the brute-force scan") {
    val dir = java.nio.file.Files.createTempDirectory("zonespec")
      .toString + "/lake"
    // 4 range-clustered files over keys 0..3999
    val all = (0 until 4000).map(i => (i.toLong, i * 3L))
    TableLog.append(all.toDF("k", "v").repartitionByRange(4, $"k"), dir)
    // brute-force file spans: they cover the key space, files disjoint
    val spans = TableLog.snapshot(dir).files.map { f =>
      val r = spark.read.parquet(s"$dir/$f").agg(min($"k"), max($"k"))
        .first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(spans.size == 4)
    assert(spans.head._1 == 0L && spans.last._2 == 3999L)
    spans.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) =>
      assert(aMax < bMin, "zone spans must be disjoint on a range layout")
    }
    // a range inside one file's span opens exactly that file
    val (lo, hi) = (spans(1)._1 + 1, spans(1)._1 + 10)
    val (one, st) = LakeSelect.readWhere(spark, dir,
      s"k BETWEEN $lo AND $hi")
    assert(st.filesTotal == 4 && st.filesOpened == 1, st.toString)
    assert(one.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      all.filter { case (k, _) => k >= lo && k <= hi }.toSet)
    // a disjoint range opens nothing and yields the empty frame
    val (none, st0) = LakeSelect.readWhere(spark, dir,
      "k BETWEEN 100000 AND 200000")
    assert(st0.filesOpened == 0 && none.isEmpty)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeSelect, RowGroupScan, TableLog}

/** Driver-side metadata reads (round 15): small sidecars (stats index,
  * bloom bitmaps, DV position lists) and small-table planning read via
  * Spark's parquet reader on the driver — ZERO Spark jobs — with the
  * distributed path as byte-budget fallback. Pins (a) value/schema equivalence of
  * the local reader against spark.read, (b) result equality between the
  * local and distributed planning paths, and (c) the zero-job property
  * planning now has. */
class LocalSidecarReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("localParquetRows matches spark.read for every sidecar type " +
    "class (string/int/long/double/binary/array<float>, with nulls)") {
    val dir = java.nio.file.Files.createTempDirectory("lsr_types")
      .toString
    val df = spark.range(50).select(
      concat(lit("s"), col("id")).as("s"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id"))
        .cast("int").as("i"),
      col("id").cast("long").as("l"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(col("id") * 1.5).as("d"),
      col("id").cast("string").cast("binary").as("b"),
      when(col("id") % 3 === 0, lit(null)).otherwise(
        array(col("id").cast("float"),
          (col("id") * 2).cast("float"))).as("af"))
    df.repartition(1).write.mode("overwrite").parquet(dir)
    val file = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get.toString
      finally s.close()
    }
    val (rows, schema) = RowGroupScan.localParquetRows(file,
      spark.sparkContext.hadoopConfiguration)
    val expected = spark.read.parquet(file)
    assert(schema == expected.schema)
    def canon(r: org.apache.spark.sql.Row): Seq[Any] =
      r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }
    val got = rows.map(canon).sortBy(_.toString)
    val want = expected.collect().map(canon).sortBy(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("the row-group index keeps its dtype strings for every sidecar " +
    "type class, so persisted sidecars still classify") {
    val dir = tmp("lsr_dtypes")
    TableLog.append(spark.range(20).selectExpr(
      "concat('s', id) as s", "cast(id as int) as i", "id as l",
      "id * 1.5d as d", "cast(cast(id as string) as binary) as b",
      "array(cast(id as float)) as af", "id % 2 = 0 as bo",
      "cast(id as tinyint) as ti", "cast(id as smallint) as si",
      "cast(id as float) as f", "cast(id as decimal(12,2)) as dec",
      "cast(id as decimal(25,3)) as wdec",
      "date_add(date'2020-01-01', cast(id as int)) as dt",
      "timestamp_seconds(id) as ts",
      "cast(timestamp_seconds(id) as timestamp_ntz) as tsn",
      "named_struct('a', cast(id as int), 's', 'x') as st",
      "map('k', id) as m"), dir)
    TableLog.computeRowGroupIndex(spark, dir)
    val sidecars = new java.io.File(dir, "stats").listFiles()
      .filter(_.getName.contains("-rgidx-")).map(_.toString).toSeq
    val got = spark.read.parquet(sidecars: _*)
      .select("column", "dtype").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("s" -> "string", "i" -> "int", "l" -> "bigint",
      "d" -> "double", "b" -> "binary", "af" -> "array<float>",
      "bo" -> "boolean", "ti" -> "tinyint", "si" -> "smallint",
      "f" -> "float", "dec" -> "decimal(12,2)", "wdec" -> "decimal(25,3)",
      "dt" -> "date", "ts" -> "timestamp", "tsn" -> "timestamp_ntz",
      "st" -> "struct<a:int,s:string>", "m" -> "map<string,bigint>"))
  }

  test("planning-path equality: local sidecar build == distributed " +
    "build, and the local build runs ZERO Spark jobs") {
    val a = tmp("lsr_loc"); val b = tmp("lsr_dist")
    def build(dir: String): Unit = {
      TableLog.append(spark.range(20000)
        .selectExpr("id as k", "id * 7 as v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
        dir, options = Map("parquet.block.size" -> "16384",
          "parquet.page.size" -> "4096"))
      TableLog.computeRowGroupIndex(spark, dir)
      // second append: top-up sidecar (two sidecars map the table)
      TableLog.append(spark.range(20000L, 24000L)
        .selectExpr("id as k", "id * 7 as v"), dir)
    }
    build(a); build(b)
    def run(dir: String): (Long, Long, Long) = {
      val (df, st) = LakeSelect.readWhere(spark, dir,
        "k >= 3000 and k < 9000")
      val r = df.agg(count(lit(1)), sum(col("v"))).first()
      (r.getLong(0), r.getLong(1), st.rgOpened)
    }
    val prev = TableLog.localSidecarMaxBytes
    val (ra, localPlan) = try {
      Harness.probe(spark) {
        // planning only: readWhere classifies row groups in the call
        LakeSelect.readWhere(spark, a, "k >= 3000 and k < 9000")
      }
    } finally TableLog.localSidecarMaxBytes = prev
    assert(localPlan.jobs == 0,
      s"indexed small-table planning must run zero Spark jobs, " +
        s"ran ${localPlan.jobs}")
    val resA = run(a)
    val resB = try {
      TableLog.localSidecarMaxBytes = 0L // force the distributed build
      run(b)
    } finally TableLog.localSidecarMaxBytes = prev
    assert(resA == resB,
      s"local and distributed planning disagree: $resA vs $resB")
    assert(resA._1 == 6000L)
  }

  test("a point lookup on a freshly bloomed table plans with zero Spark " +
    "jobs; sidecars with the older `bits` column still probe") {
    def bloomed(prefix: String): String = {
      val dir = tmp(prefix)
      TableLog.append(spark.range(4000).selectExpr("id as k", "id * 3 as v")
        .repartitionByRange(2, col("k")), dir)
      TableLog.computeBlooms(spark, dir, "k")
      dir
    }
    /** Rewrite the table's bloom sidecar in place with the column `bits`. */
    def renameToBits(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "stats"))
      val sidecar = try s.iterator.asScala
        .find(_.getFileName.toString.contains("-bloom-")).get finally s.close()
      val staged = dir + "_bits"
      spark.read.parquet(sidecar.toString).toDF("f", "bits").coalesce(1)
        .write.parquet(staged)
      val part = new java.io.File(staged).listFiles
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, sidecar,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def lookup(dir: String): (Int, Seq[Long]) = {
      val ((pl, _, _, filesOpened, filesTotal), c) = Harness.probe(spark)(
        TableLog.readPointLookup(spark, dir, "k", Seq(1234L)))
      assert(filesOpened == 1 && filesTotal == 2, s"$filesOpened/$filesTotal")
      (c.jobs, pl.filter(col("k") === 1234L).select("v").as[Long].collect().toSeq)
    }
    assert(lookup(bloomed("lsr_bloom")) == (0, Seq(3702L)))
    val old = bloomed("lsr_bits"); renameToBits(old)
    assert(lookup(old) == (0, Seq(3702L)))
    val oldDist = bloomed("lsr_bits_dist"); renameToBits(oldDist)
    val prev = TableLog.localSidecarMaxBytes
    try {
      TableLog.localSidecarMaxBytes = 0L // the distributed fallback
      assert(lookup(oldDist)._2 == Seq(3702L))
    } finally TableLog.localSidecarMaxBytes = prev
  }

  test("a point lookup on an indexed, bloomed table runs as many jobs as " +
    "one without the index") {
    def lookupJobs(indexed: Boolean): (Int, Seq[Long]) = {
      val dir = tmp(if (indexed) "lsr_rgidx" else "lsr_plain")
      TableLog.append(spark.range(4000).selectExpr("id as k", "id * 3 as v")
        .repartitionByRange(2, col("k")), dir)
      if (indexed) TableLog.computeRowGroupIndex(spark, dir)
      TableLog.computeBlooms(spark, dir, "k")
      val ((pl, _, _, filesOpened, _), c) = Harness.probe(spark)(
        TableLog.readPointLookup(spark, dir, "k", Seq(1234L)))
      assert(filesOpened == 1)
      (c.jobs, pl.filter(col("k") === 1234L).select("v").as[Long].collect().toSeq)
    }
    val plain = lookupJobs(indexed = false)
    assert(plain == (0, Seq(3702L)))
    assert(lookupJobs(indexed = true) == plain)
  }

  test("deletion vectors read locally agree with the distributed read " +
    "across MULTIPLE dv sidecars") {
    val a = tmp("lsr_dva"); val b = tmp("lsr_dvb")
    def build(dir: String): (Long, Long) = {
      TableLog.append(spark.range(9000)
        .selectExpr("id as k", "id * 3 as v"), dir)
      TableLog.deleteVectored(spark, dir, "k % 11 = 5")
      TableLog.deleteVectored(spark, dir, "k % 13 = 2")
      val r = TableLog.read(spark, dir)
        .agg(count(lit(1)), sum(col("v"))).first()
      (r.getLong(0), r.getLong(1))
    }
    val ra = build(a)
    val prev = TableLog.localSidecarMaxBytes
    val rb = try {
      TableLog.localSidecarMaxBytes = 0L
      build(b)
    } finally TableLog.localSidecarMaxBytes = prev
    assert(ra == rb, s"DV local vs distributed disagree: $ra vs $rb")
  }

  test("readNoInfer detects schema drift across files and falls back to " +
    "a mergeSchema read instead of nulling the drifted file") {
    // two files under one directory with DIFFERENT field names — a
    // violation of the uniform-schema write contract. Trusting the first
    // footer would read file b's columns as nulls; the one-extra-footer
    // guard must detect the drift and route through mergeSchema, which
    // surfaces every column.
    val dir = java.nio.file.Files.createTempDirectory("lsr_drift").toString
    spark.range(5).coalesce(1).selectExpr("id as a")
      .write.parquet(dir + "/p1")
    spark.range(5).coalesce(1).selectExpr("id as b")
      .write.parquet(dir + "/p2")
    // collapse into one directory of bare files (sorted order: a first)
    val flat = java.nio.file.Files.createTempDirectory("lsr_flat").toString
    def move(src: String, name: String): Unit = {
      val f = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(flat, name))
    }
    move(dir + "/p1", "part-0001.parquet")
    move(dir + "/p2", "part-0002.parquet")
    val out = RowGroupScan.readNoInfer(spark, Seq(flat))
    assert(out.columns.toSet == Set("a", "b"),
      s"drifted set must merge schemas, got ${out.columns.mkString(",")}")
    assert(out.count() == 10)
    // and the uniform fast path still yields the explicit-schema read
    val uni = java.nio.file.Files.createTempDirectory("lsr_uni").toString
    spark.range(7).selectExpr("id as a").write.mode("overwrite").parquet(uni + "/t")
    val fast = RowGroupScan.readNoInfer(spark, Seq(uni + "/t"))
    assert(fast.columns.toSeq == Seq("a") && fast.count() == 7)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.Dedup

/** 100×-scale rehearsals (round 4, VERDICT asks #7/#8) — the evidence runs
  * behind the design claims docs/NOTES.md records:
  *
  *   jaccard <nDocs>  — exact-jaccard posting-cap sweep: at what corpus
  *     size does the zipf head hit `maxPosting`, what recall does the exact
  *     path lose when the cap binds, and where does the LSH candidate path
  *     (the 100 TB route) cross over? Planted near-dups (every 100th doc)
  *     give ground-truth recall.
  *
  *   hilbert <nRows>  — Hilbert-clustered write at ≥50M skewed spatial
  *     rows: does repartitionByRange on the hilbert key balance files when
  *     60% of points pile into a few city-sized hotspots, and what do the
  *     per-file row/byte spreads look like at ~500 MB targets?
  */
object Rehearsal {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("jaccard")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(4000000L)
    val spark = Harness.session()
    // optional 3rd arg: force exactly one jaccard cap, bypassing the
    // prune/guard logic (for deliberate long anchor runs)
    val capOverride = args.drop(2).headOption.map(_.toInt)
    mode match {
      case "jaccard" => jaccardCapSweep(spark, n, headWords = 50, headPct = 3, capOverride)
      case "jaccardHot" => jaccardCapSweep(spark, n, headWords = 10, headPct = 5, capOverride)
      case "hilbert" => hilbertAtScale(spark, n)
      case "full281" => fullPipeline(spark,
        if (args.length > 1) n else 281000000L)
      case other => sys.error(s"unknown mode $other (jaccard|jaccardHot|hilbert|full281)")
    }
    spark.stop()
  }

  private def timed[T](tag: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"### $tag%-36s $s%8.2f s")
    (r, s)
  }

  /** Same corpus scheme as Stress (60 words, `headPct`/10 of positions from
    * a `headWords`-word head vocab → hot shingles), near-dup planted every
    * 100th doc at Jaccard ≈ 58/62, exact dup every 1000th. The Stress
    * default (50 head words at 30%) spreads hot trigrams over ~125k
    * combinations — the 10k posting cap does NOT bind even at 16M docs; the
    * "hot" variant (10 words at 50%) concentrates them into ≤1k so the cap
    * genuinely binds and recall loss becomes measurable. */
  private def genDocs(spark: SparkSession, nDocs: Long, path: String,
      headWords: Int = 50, headPct: Int = 3): Unit = {
    val wordSql = (i: String) =>
      s"""concat('w', CASE WHEN pmod(xxhash64(seed_id * 61 + ($i)), 10) < $headPct
            THEN pmod(xxhash64(seed_id, $i, 1L), $headWords)
            ELSE pmod(xxhash64(seed_id, $i, 2L), 5000) + $headWords END)"""
    spark.range(nDocs).toDF("doc_id")
      .withColumn("seed_id",
        when(col("doc_id") % 100 === 99, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("word0",
        when(col("doc_id") % 100 === 99 && col("doc_id") % 1000 =!= 999,
          concat(lit("nd"), col("doc_id") % 7))
        .otherwise(expr(wordSql("0"))))
      .withColumn("body", expr(
        s"""concat_ws(' ', transform(sequence(1, 59), i -> ${wordSql("i")}))"""))
      .select(col("doc_id"), concat(col("word0"), lit(" "), col("body")).as("text"))
      .write.mode("overwrite").parquet(path)
  }

  private def jaccardCapSweep(spark: SparkSession, nDocs: Long,
      headWords: Int, headPct: Int, capOverride: Option[Int] = None): Unit = {
    val path = "/tmp/graft_rehearsal_docs.parquet"
    timed(s"gen+write $nDocs docs (head $headWords @ ${headPct}0%)")(
      genDocs(spark, nDocs, path, headWords, headPct))
    val docs = spark.read.parquet(path)
    val nPlanted = nDocs / 100

    def recallOf(pairs: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val total = pairs.count()
      val planted = pairs.filter(col("id_b") % 100 === 99 &&
        col("id_a") === col("id_b") - 1).count()
      (total, planted)
    }

    // how hard does the head bind? distribution of posting-list sizes
    val postings = docs
      .select(explode(shingle_hashes(col("text"), lit(3))).as("sh"))
      .groupBy("sh").count()
    val top = postings.orderBy(col("count").desc).limit(10)
      .collect().map(_.getLong(1))
    val over10k = postings.filter(col("count") > 10000).count()
    println(s"    posting lists > 10k: $over10k; top-10 sizes: ${top.mkString(", ")}")

    // prune caps that cannot bind (cap ≥ the largest posting list gives a
    // provably identical run) — keep the binding ones plus ONE unbound
    // representative, but ONLY if the unbound candidate volume is sane:
    // keeping a hot posting list of size n emits C(n,2) candidate pairs,
    // which is exactly the quadratic cost the cap exists to prevent. When
    // Σ C(n,2) over the lists a bigger cap would re-admit exceeds 1e9, we
    // report the arithmetic instead of self-DoS-ing the rehearsal.
    val allCaps = Seq(2000, 10000, 50000)
    val top1 = top.headOption.getOrElse(0L)
    val binding = allCaps.filter(_ < top1)
    val unboundCost = postings.filter(col("count") > binding.lastOption.getOrElse(0))
      .agg(coalesce(sum(col("count") * (col("count") - 1) / lit(2L)), lit(0L))
        .cast("long"))
      .head().getLong(0)
    val unbound =
      if (unboundCost <= 1000000000L) allCaps.filterNot(_ < top1).take(1)
      else {
        println(s"    unbound run SKIPPED: re-admitting the over-cap lists would " +
          s"emit ~$unboundCost candidate pairs (the quadratic blowup the cap guards)")
        Nil
      }
    val pruned = binding ++ unbound
    val caps = capOverride.map(Seq(_)).getOrElse(
      if (nDocs > 8000000L) pruned.take(1) else pruned)
    if (caps != allCaps)
      println(s"    caps pruned to ${caps.mkString(",")} (largest posting $top1)")
    val rows = caps.map { cap =>
      val ((total, planted), secs) = timed(s"jaccardPairs maxPosting=$cap") {
        recallOf(Dedup.jaccardPairs(docs, shingle = 3, minJaccard = 0.5,
          maxPosting = cap))
      }
      println(f"    pairs=$total planted=$planted/${nPlanted} " +
        f"recall=${planted.toDouble / nPlanted}%.4f")
      (s"exact cap=$cap", total, planted, secs)
    }
    val ((lshTotal, lshPlanted), lshSecs) = timed("minhashPairs 64x16 (LSH route)") {
      recallOf(Dedup.minhashPairs(docs, k = 64, bands = 16, shingle = 3,
        minJaccard = 0.5))
    }
    println(f"    pairs=$lshTotal planted=$lshPlanted/$nPlanted " +
      f"recall=${lshPlanted.toDouble / nPlanted}%.4f")
    println("SUMMARY nDocs=" + nDocs)
    (rows :+ ("minhash LSH", lshTotal, lshPlanted, lshSecs)).foreach {
      case (tag, total, planted, secs) =>
        println(f"  $tag%-22s pairs=$total%9d plantedRecall=${planted.toDouble / nPlanted}%.4f time=$secs%8.2f s")
    }
  }

  /** Round-5 capability rehearsal (VERDICT r4 #7): the reference's FULL
    * 281M-row scale (East-Asia-Building-Footprints.md — 281M building
    * footprints across ~24 country files) through the engine's actual
    * pipeline: per-source convert (normalize → Hilbert-clustered ZSTD write,
    * east_asia.py:286-314) then merge-pqs bin-packing into ≤10M-row
    * clustered files (east_asia.py:376-419), then the global bbox aggregate
    * that segfaults DuckDB at this scale (East-Asia-Building-Footprints
    * .md:223-239). Records wall time per stage, per-file row/byte spreads
    * against the ~500MB contract, intra-file Hilbert sortedness, and the
    * bbox. Driver state stays bounded: the only collects are per-file
    * count manifests (hundreds of rows). */
  private def fullPipeline(spark: SparkSession, nRows: Long): Unit = {
    val nSources = 24
    val perSource = nRows / nSources
    val base = "/tmp/graft_r281"
    val srcDir = s"$base/sources"
    val convDir = s"$base/converted"
    val mergeDir = s"$base/merged"
    // a rehearsal is a fresh run by definition: clear any previous outputs
    // so convertAll's idempotency guard (F4) cannot skip stale converts
    locally {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
    // skewed world as hilbertAtScale: 60% of points pile into 12 cities
    val (_, genSecs) = timed(s"gen $nRows rows as $nSources sources") {
      (0 until nSources).foreach { srcIdx =>
        val pts = spark.range(perSource).toDF("i")
          .withColumn("id", col("i") + srcIdx.toLong * perSource)
          .withColumn("city", pmod(xxhash64(col("id"), lit(1)), lit(12L)))
          .withColumn("cityLon", (col("city") * 29 % 343).cast("double") - 171.0)
          .withColumn("cityLat", (col("city") * 13 % 160).cast("double") - 80.0)
          .withColumn("u1", (pmod(xxhash64(col("id"), lit(2)), lit(1000000L))).cast("double") / 1000000.0)
          .withColumn("u2", (pmod(xxhash64(col("id"), lit(3)), lit(1000000L))).cast("double") / 1000000.0)
          .withColumn("lon",
            when(pmod(xxhash64(col("id")), lit(10L)) < 6,
              col("cityLon") + (col("u1") - 0.5))
            .otherwise(col("u1") * 360.0 - 180.0))
          .withColumn("lat",
            when(pmod(xxhash64(col("id")), lit(10L)) < 6,
              col("cityLat") + (col("u2") - 0.5) * 0.8)
            .otherwise(col("u2") * 170.0 - 85.0))
          .select(col("id"), st_point(col("lon"), col("lat")).as("geom"))
        pts.write.mode("overwrite").parquet(f"$srcDir/country_$srcIdx%02d.parquet")
      }
    }
    val sources = (0 until nSources)
      .map(i => (f"$srcDir/country_$i%02d.parquet", 4326))
    // per-source convert: numFilesPerSource=3 → ~3.9M rows per file, so the
    // merge stage has real bin-packing to do (as the reference's per-country
    // files do); zstd 22 is the at-rest contract
    val (failures, convSecs) = timed(s"convertAll ($nSources sources)") {
      graft.operators.GeoNormalize.convertAll(spark, sources, convDir,
        numFilesPerSource = 3, maxConcurrent = 8)
    }
    require(failures.isEmpty, s"convert failures: $failures")
    val convFiles = {
      val p = new org.apache.hadoop.fs.Path(convDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.toString).toSeq.sorted
    }
    // F4 idempotency: a SECOND convertAll over the same sources must
    // skip every already-converted output (the rerun-after-crash
    // contract) — it returns in seconds, not the convert wall-time
    val (refail, reconvSecs) = timed("convertAll rerun (F4 idempotent skip)") {
      graft.operators.GeoNormalize.convertAll(spark, sources, convDir,
        numFilesPerSource = 3, maxConcurrent = 8)
    }
    require(refail.isEmpty, s"rerun failures: $refail")
    require(reconvSecs < convSecs / 4,
      f"F4 rerun should skip, not reconvert: $reconvSecs%.1f s vs $convSecs%.1f s")
    val (outFiles, mergeSecs) = timed(s"merge-pqs (${convFiles.size} converted dirs)") {
      graft.operators.MergeParquet.merge(spark, convFiles, mergeDir,
        maxRows = 10000000L, zstdLevel = 22)
    }
    // contract audit: rows ≤ 10M per merged file, sizes in the ~500MB class
    val merged = spark.read.parquet(outFiles: _*)
    val rowsPerFile = merged.groupBy(input_file_name().as("f")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    val fs = new org.apache.hadoop.fs.Path(mergeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = outFiles.flatMap { d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
    }.sorted
    // the aggregate that segfaults the reference's engine at this scale
    val ((bbox, total), bboxSecs) = timed("global bbox + count over merged") {
      val r = merged.agg(
        min(st_xmin(col("geom"))), min(st_ymin(col("geom"))),
        max(st_xmax(col("geom"))), max(st_ymax(col("geom"))),
        count(lit(1))).head()
      ((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)), r.getLong(4))
    }
    // intra-file Hilbert sortedness across every merged file
    val (viol, sortSecs) = timed("hilbert sortedness audit") {
      merged.select(input_file_name().as("f"), hilbert_of_geom(col("geom")).as("hk"))
        .withColumn("prev", lag("hk", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("f")
            .orderBy(monotonically_increasing_id())))
        .filter(col("prev").isNotNull && col("hk") < col("prev"))
        .count()
    }
    println(f"SUMMARY_FULL281 nRows=$nRows gen=$genSecs%.0f s convert=$convSecs%.0f s f4rerun=$reconvSecs%.1f s merge=$mergeSecs%.0f s bbox=$bboxSecs%.0f s sortAudit=$sortSecs%.0f s")
    println(f"  merged files=${rowsPerFile.length} rows min=${rowsPerFile.head}%,d median=${rowsPerFile(rowsPerFile.length / 2)}%,d max=${rowsPerFile.last}%,d (cap 10,000,000)")
    println(f"  bytes/file min=${sizes.head}%,d median=${sizes(sizes.length / 2)}%,d max=${sizes.last}%,d")
    println(f"  total rows=$total%,d bbox=(${bbox._1}%.4f, ${bbox._2}%.4f, ${bbox._3}%.4f, ${bbox._4}%.4f) hilbert violations=$viol")
    val expected = perSource * nSources // generation floors nRows/nSources
    require(total == expected, s"row loss: $total != $expected")
    require(rowsPerFile.last <= 10000000L, "10M-row contract violated")
    require(viol == 0L, s"hilbert order violations: $viol")
  }

  private def hilbertAtScale(spark: SparkSession, nRows: Long): Unit = {
    val path = "/tmp/graft_rehearsal_points.parquet"
    // skewed world: 60% of points cluster within ~0.5 deg of 12 "cities"
    // (zipf-weighted), 40% uniform — the shape that breaks naive
    // fixed-width spatial partitioning
    val (_, genSecs) = timed(s"gen $nRows skewed points + clustered write") {
      val pts = spark.range(nRows).toDF("id")
        .withColumn("city", pmod(xxhash64(col("id"), lit(1)), lit(12L)))
        .withColumn("cityLon", (col("city") * 29 % 343).cast("double") - 171.0)
        .withColumn("cityLat", (col("city") * 13 % 160).cast("double") - 80.0)
        .withColumn("u1", (pmod(xxhash64(col("id"), lit(2)), lit(1000000L))).cast("double") / 1000000.0)
        .withColumn("u2", (pmod(xxhash64(col("id"), lit(3)), lit(1000000L))).cast("double") / 1000000.0)
        .withColumn("lon",
          when(pmod(xxhash64(col("id")), lit(10L)) < 6,
            col("cityLon") + (col("u1") - 0.5))
          .otherwise(col("u1") * 360.0 - 180.0))
        .withColumn("lat",
          when(pmod(xxhash64(col("id")), lit(10L)) < 6,
            col("cityLat") + (col("u2") - 0.5) * 0.8)
          .otherwise(col("u2") * 170.0 - 85.0))
        .select(col("id"), st_point(col("lon"), col("lat")).as("geom"))
      // ~500 MB of raw point rows per file target: 25 bytes/row in parquet
      // → aim numFiles so each lands in the 100-500 MB band at scale; at
      // 50M rows zstd-parquet lands ~2 GB total → 16 files ≈ 125 MB each
      graft.operators.GeoNormalize.writeClustered(pts,
        "/tmp/graft_rehearsal_clustered.parquet", numFiles = 16, zstdLevel = 3)
    }
    // per-file balance: rows via input_file_name, bytes via the filesystem
    val out = spark.read.parquet("/tmp/graft_rehearsal_clustered.parquet")
    val rowsPerFile = out.groupBy(input_file_name().as("f")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    val p = new org.apache.hadoop.fs.Path("/tmp/graft_rehearsal_clustered.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sorted
    println(f"SUMMARY nRows=$nRows files=${rowsPerFile.length} genAndWrite=$genSecs%.1f s")
    println(f"  rows/file  min=${rowsPerFile.head}%,d  median=${rowsPerFile(rowsPerFile.length / 2)}%,d  max=${rowsPerFile.last}%,d  skew=${rowsPerFile.last.toDouble / rowsPerFile.head}%.2f")
    println(f"  bytes/file min=${sizes.head}%,d  median=${sizes(sizes.length / 2)}%,d  max=${sizes.last}%,d")
    // sortedness inside each file: hilbert keys nondecreasing per file
    val viol = out.withColumn("f", input_file_name())
      .withColumn("hk", hilbert_of_geom(col("geom")))
      .withColumn("prev", lag("hk", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull && col("hk") < col("prev"))
      .count()
    println(s"  intra-file hilbert order violations: $viol")
  }
}

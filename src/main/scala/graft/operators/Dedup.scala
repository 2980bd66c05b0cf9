package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Corpus deduplication operators (training-data pipeline surface). All are
  * shuffle-lean by construction: candidate generation is equality-join on
  * derived keys (content hash, LSH band, SimHash block), never O(n²) —
  * the property that matters at 100 TB.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical text. One hash
    * shuffle; deterministic survivor choice. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash-LSH near-dup candidate pairs with estimated Jaccard ≥ `minJaccard`.
    * k-signature split into `bands`; candidates = pairs sharing any band
    * bucket (equality join on (band, bucket) — the scalable inverted-index
    * pattern), then verified against the full signatures. */
  def minhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, shingle: Int = 3, minJaccard: Double = 0.5,
      seed: Long = 42L, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0,
      s"k ($k) must be a multiple of bands ($bands): a truncated banding would " +
        "silently ignore the last k % bands signature elements")
    val rows = k / bands
    // the signature kernel (k hashes × shingles/doc) is the expensive
    // pre-shuffle stage — guard its parallelism against few-split inputs.
    // The sigs frame has FOUR consumers (the band index feeds both the
    // bucket-occupancy prefilter and the candidate join, and the
    // verification step joins signatures back for each pair side), and
    // none of them share an exchange — without materialization the text
    // kernel re-runs once per consumer. Unlike jaccardPairs' exploded
    // frame (corpus × shingles rows, where storage bandwidth loses to
    // recompute), sigs is COMPACT — id + k ints ≈ 270 bytes/doc,
    // orders of magnitude under the corpus text it replaces — so one
    // executor-cached pass beats four kernel runs at any scale.
    val sigs = Scatter(docs).select(col(idCol).as("id"),
      minhash_signature(shingle_hashes(col(textCol), lit(shingle)), lit(k), lit(seed)).as("sig"))
      .localCheckpoint(true)
    // posexplode_outer: plain posexplode infers size/isnotnull generate
    // filters that inline the band-hash transform (and through it the
    // signature) into an extra per-doc evaluation; the array here is
    // always non-empty, so the outer form changes nothing else
    val bandCols = sigs.select(col("id"), col("sig"),
      posexplode_outer(expr(s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $rows + 1, $rows), b))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // bucket-occupancy prefilter (the jaccardPairs `keep` pattern): a band
    // bucket with a single member emits no pair but still rides through the
    // self-join's shuffle + sort — and on an LSH banding most buckets ARE
    // singletons. The count agg is map-side combinable and 20 bytes/row, so
    // it is far cheaper than what it removes from the join. `maxBucket`
    // additionally caps degenerate hot buckets (near-identical floods —
    // quadratic on one reducer); the default keeps exact semantics.
    val keep = bandCols.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("band", "bucket")
    val bandK = bandCols.select("id", "band", "bucket")
      .join(keep, Seq("band", "bucket"), "left_semi")
    // dedupe candidates on the id pair alone, then join signatures back —
    // a distinct over wide sig arrays shuffles bands× the bytes for nothing
    val cand = bandK.as("a")
      .join(bandK.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", expr(
        s"aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / $k.0"))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Exact n-gram Jaccard pairs ≥ `minJaccard` via the shingle inverted
    * index: group each shingle's posting list and emit its doc pairs —
    * one shuffle cheaper than a self-join, never a cross join.
    * `maxPosting` drops stop-shingles (posting lists longer than the cap):
    * a shingle shared by thousands of documents carries no dedup signal but
    * quadratic pair cost — capping it is the standard scale guard; pairs
    * whose overlap is exclusively stop-shingles are then missed, which is
    * the documented trade. Pass Int.MaxValue for exact semantics. */
  def jaccardPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingle: Int = 3, minJaccard: Double = 0.5,
      maxPosting: Int = 10000, materialize: Boolean = false,
      prefixFilter: Boolean = false): DataFrame = {
    // the shingle set size rides along with every exploded row (+8 bytes):
    // it removes the separate per-doc size aggregate AND its two joins onto
    // the pair set — two fewer full passes over the corpus text
    // explode_OUTER + isNotNull, not plain explode: the inferred generate
    // filters (size > 0, isnotnull) INLINE the shingle_hashes expression
    // and re-run the text kernel up to 2 extra times per doc (the
    // SpatialJoin.pointInPolygonH3 finding, docs/NOTES.md round 7)
    val sh0 = Scatter(docs)
      .select(col(idCol).as("id"), shingle_hashes(col(textCol), lit(shingle)).as("shs"))
      .select(col("id"), size(col("shs")).as("nsh"), explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    // the exploded frame is consumed three times (posting counts + both
    // self-join sides); `materialize = true` buffers it once in executor
    // storage so the text kernel runs a single pass. Default OFF: measured
    // at 1M docs on local[32], writing + re-reading the corpus-sized
    // exploded stream through the block store costs more than re-running
    // the map kernel (109 s vs 74 s) — recompute wins whenever map CPU is
    // cheaper than storage bandwidth, which is also the 100 TB posture.
    val sh = if (materialize) sh0.localCheckpoint(true) else sh0
    if (prefixFilter && minJaccard > 0.0) jaccardViaPrefix(sh, minJaccard, maxPosting)
    else {
      // posting-size prefilter, NOT collect_list: a collect_list over the
      // shingle key materializes one array buffer per distinct shingle
      // (almost |corpus|·|doc len| of them — measured 12× slower than this
      // plan at 100k docs because the object agg falls back to sort-based).
      // A count() is a primitive hash aggregate; keeping only shingles with
      // 2..maxPosting occurrences ALSO shrinks the join input to the tiny
      // multi-occurrence fraction before any pair is emitted. Stop-shingles
      // (posting > maxPosting) carry no dedup signal but quadratic cost —
      // the standard scale guard; pass Int.MaxValue for exact semantics.
      val keep = sh.groupBy("sh")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2 && col("n") <= maxPosting)
        .select("sh")
      val shK = sh.join(keep, Seq("sh"), "left_semi")
      shK.as("a").join(shK.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.nsh").as("na"), col("b.nsh").as("nb"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("inter"), min(col("na")).as("na"), min(col("nb")).as("nb"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08): under any total order of
    * shingles, if J(A,B) ≥ t then the smallest element of A∩B lies within
    * the first |d| − ceil(t·|d|) + 1 shingles of BOTH documents (were it
    * outside A's prefix, A would carry ≥ that many non-shared shingles and
    * the intersection couldn't reach t·|A|). Ordering globally by ASCENDING
    * posting size puts the RAREST shingles in every prefix, so candidate
    * pairs are generated from short posting lists; candidates are then
    * verified on their FULL shingle sets, touching only candidate
    * documents — a lossless exact algorithm, not an approximation
    * (ScalePlanSpec asserts pair-set equality with the plain index at
    * t ∈ {0.3, 0.5, 0.8}).
    *
    * WHEN IT WINS: corpora whose shingle frequency tail is hapax-heavy
    * (real text), where per-doc prefixes land on near-unique shingles and
    * Σ posting² over the prefix index collapses. On the synthetic gate
    * corpus the vocabulary is CLOSED (~5k words), so even the rarest
    * shingles carry posting lists that grow linearly with the corpus —
    * measured at 4M docs the global rank-sort + double verification joins
    * cost more than the plain index's pair emission (which is why
    * `prefixFilter` defaults to false). `maxPosting` still caps
    * pathological prefix postings (same documented trade). */
  private def jaccardViaPrefix(sh: DataFrame, minJaccard: Double,
      maxPosting: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = sh.groupBy("sh").agg(count(lit(1)).as("gn"))
    // rank each doc's shingles in the GLOBAL (gn, sh) order — both docs of
    // a pair see the same order, which the prefix theorem requires
    val ranked = sh.join(counts, Seq("sh"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("gn"), col("sh"))))
      .filter(col("rk") <= col("nsh") - ceil(col("nsh") * minJaccard) + 1)
      .select("id", "nsh", "sh")
    val keep = ranked.groupBy("sh").agg(count(lit(1)).as("pn"))
      .filter(col("pn") >= 2 && col("pn") <= maxPosting)
      .select("sh")
    val pk = ranked.join(keep, Seq("sh"), "left_semi")
    val cand = pk.as("a").join(pk.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .distinct()
    // exact verification on full shingle sets, restricted to candidate docs
    // (semi-join first: only the tiny candidate slice of the corpus shuffles)
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val shC = sh.join(candIds, Seq("id"), "left_semi").select("id", "sh")
    cand
      .join(shC.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(shC.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"), "left_semi")
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs: hamming(sig_a, sig_b) ≤ maxDist — exact, never
    * a cross product, via the generalized pigeonhole block join (the Manku/
    * Jain/Das Sarma WWW'07 near-duplicate scheme, re-expressed as equality
    * joins instead of sorted permutation tables):
    *
    * Partition ALL 64 fingerprint bits into `m` disjoint blocks. If two
    * fingerprints differ in ≤ maxDist bits, some block carries ≤
    * floor(maxDist/m) of those differences (the differences cannot all avoid
    * the minimum). So with per-block probe radius e = floor(maxDist/m), a
    * pair is guaranteed to collide when one side also probes every value in
    * the Hamming ball of radius e around its block value. e = 0 (m =
    * maxDist+1) is the classic pigeonhole; e > 0 trades map-side key
    * expansion (×Σ C(width,≤e), a plan constant) for exponentially wider
    * buckets (2^width values instead of 2^(64/(maxDist+1))) — the difference
    * between quadratic bucket blowup and a selective equality join when
    * maxDist is loose. The ball masks are literal arrays XOR'd in codegen;
    * no custom expression needed.
    *
    * `probeBlocks` = 0 picks m automatically: the classic split while blocks
    * stay ≥ 8 bits wide (maxDist ≤ 7), else the smallest m with e ≤ 2 —
    * expansion stays ≤ a few hundred keys/doc while buckets widen from
    * 8-16 values (the measured quadratic cliff) to ≥ 2^9. */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingle: Int = 3, maxDist: Int = 3, probeBlocks: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64): $maxDist")
    require(probeBlocks >= 0 && probeBlocks <= 64,
      s"probeBlocks must be in [0, 64]: $probeBlocks")
    val nBlocks =
      if (probeBlocks > 0) probeBlocks
      else if (maxDist <= 7) maxDist + 1        // classic split, blocks ≥ 8 bits
      else math.ceil((maxDist + 1) / 3.0).toInt // smallest m with e ≤ 2
    val e = maxDist / nBlocks // per-block probe radius (generalized pigeonhole)
    // SPLIT-RADIUS probing (round 6): instead of one side carrying the full
    // radius-e Hamming ball (|ball| grows ~C(w, e)), BOTH sides expand by
    // half — ⌈e/2⌉ and ⌊e/2⌋. Masks compose through the join key
    // (a.bv⊕ma = b.bv⊕mb ⇔ ma⊕mb = a.bv⊕b.bv, wt(ma⊕mb) ≤ e), so the
    // covered pair set is IDENTICAL, but the exploded shuffle drops from
    // N·C(w,≤e) to 2N·C(w,≤⌈e/2⌉) — at e=2, w=11 that is 67→24 rows/block.
    // Duplicate emissions per true pair rise (each weight-d block diff has
    // several (ma, mb) splits); the hamming filter + distinct already
    // handle that, and only true/colliding pairs pay it. e ≤ 1 degenerates
    // to the old one-sided plan (eB = 0).
    val eA = (e + 1) / 2
    val eB = e / 2
    // block b covers bits [64*b/n, 64*(b+1)/n) — full 64-bit coverage
    val widths = (0 until nBlocks).map(b => 64 * (b + 1) / nBlocks - 64 * b / nBlocks)
    // Guard the probe-ball size BEFORE enumerating it: an explicit
    // probeBlocks (the auto path keeps e ≤ 2) can make Σ_b Σ_{k≤e} C(w_b, k)
    // astronomically large (probeBlocks=1, maxDist=20 ⇒ C(64, ≤20) ≈ 10^15
    // masks) — a driver hang/OOM, and a de-facto cross join even if it
    // materialized. 2^16 masks/doc is already far past any useful plan.
    val ballCap = 1L << 16
    def ballSize(r: Int) = widths.map { w =>
      (0 to math.min(r, w)).map(k =>
        (BigInt(w - k + 1) to BigInt(w)).product / (BigInt(1) to BigInt(k.max(1))).product)
        .sum
    }.sum
    val ballTotal = ballSize(eA) + ballSize(eB)
    require(ballTotal <= ballCap,
      s"simhashPairs probe ball too large: $nBlocks blocks at maxDist=$maxDist needs " +
        s"$ballTotal probe masks/doc (cap $ballCap) — use more probeBlocks (smaller " +
        s"per-block radius e=maxDist/probeBlocks) or the auto split (probeBlocks=0)")
    // simhash + the downstream broadcast-join probe both inherit the scan's
    // split count — scatter first or a single-row-group corpus runs the
    // whole candidate enumeration in one task
    val sigs = Scatter(docs).select(col(idCol).as("id"),
      simhash64(shingle_hashes(col(textCol), lit(shingle))).as("sh"))
    val blockCols = (0 until nBlocks).map { b =>
      val lo = 64 * b / nBlocks
      val w = widths(b)
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftright(col("sh"), lo).bitwiseAND(lit(mask))
    }
    val blocks = sigs.select(col("id"), col("sh"),
      posexplode(array(blockCols: _*)))
      .withColumnRenamed("pos", "blk").withColumnRenamed("col", "bv")
    // expand a side by its half-radius Hamming ball. The masks are
    // per-block-width constants (all XOR patterns with ≤ r set bits);
    // r == 0 degenerates to the unexpanded block values — same plan shape
    // as the classic pigeonhole join, so there is one code path.
    def ballMasks(w: Int, r: Int): Seq[Long] =
      (0 to r).flatMap(k => (0 until w).combinations(k)
        .map(_.foldLeft(0L)((m, bit) => m | (1L << bit))).toSeq)
    def expand(r: Int): DataFrame =
      if (r == 0) blocks.withColumn("bvp", col("bv"))
      else blocks
        .withColumn("xm", explode(element_at(
          typedLit(widths.map(w => ballMasks(w, r))), col("blk") + 1)))
        .withColumn("bvp", col("bv").bitwiseXOR(col("xm")))
        .drop("xm")
    val probesA = expand(eA)
    val probesB = expand(eB)
    // the 8-byte fingerprints ride along into the candidate join: unlike
    // minhashPairs (64-element signature arrays, where re-joining after a
    // narrow distinct wins), carrying sh costs 16 bytes/row and lets the
    // hamming distance be computed inline — re-joining signatures would
    // re-shuffle the whole candidate set twice more (measured 3-5× slower
    // at sf0.1)
    // hamming filter BEFORE the distinct: the filter is deterministic per
    // pair, so applying it to each candidate emission first shrinks the
    // distinct's shuffle from |all bucket collisions| (quadratic in bucket
    // occupancy — the dominant cost when blocks are only a few bits wide)
    // down to |true near-dup pairs|
    probesA.as("a")
      .join(probesB.as("b"),
        col("a.blk") === col("b.blk") && col("a.bvp") === col("b.bvp") && col("a.id") < col("b.id"))
      .withColumn("dist", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
      .distinct()
  }

  /** Embedding near-dup pairs: cosine ≥ `minCos` among LSH-bucketed
    * candidates (random hyperplanes); brute-force only within buckets.
    *
    * Multi-table OR-construction: `tables` independent signatures (seeds
    * seed+t); a pair is a candidate if it collides in ANY table. For a pair
    * at cosine c, per-bit agreement is 1 − θ/π, so single-table recall
    * p^bits decays fast near the threshold — tables multiply it back up
    * (1 − (1 − p^bits)^tables) without widening buckets, keeping the
    * in-bucket quadratic cost at (N/2^bits)² per table. The cosine filter
    * runs BEFORE the cross-table distinct, so the distinct only shuffles
    * true near-dups, not every bucket collision.
    *
    * `maxBucket` is the skew guard (the maxPosting analog): REAL embedding
    * corpora are correlated, and a dense region can pile a large fraction
    * of the corpus into one bucket — quadratic blowup on a single reducer.
    * Buckets larger than the cap are dropped in that table; a pair in a
    * dense region usually still meets in another table (OR-construction),
    * so the recall cost is bounded and documented rather than silent skew
    * death. Pass Int.MaxValue for exhaustive-bucket semantics. */
  def embeddingPairs(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", bits: Int = 16, tables: Int = 4,
      minCos: Double = 0.95, seed: Long = 7L,
      maxBucket: Int = 10000): DataFrame = {
    require(tables >= 1, s"tables must be >= 1: $tables")
    val b = Scatter(embs).select(col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(array((0 until tables).map(t =>
        rhp_signature(col(vecCol), lit(bits), lit(seed + t))): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val keep = b.groupBy("tbl", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("tbl", "bucket")
    val bK = b.join(keep, Seq("tbl", "bucket"), "left_semi")
    bK.as("a").join(bK.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .withColumn("cos", cosine_similarity(col("a.v"), col("b.v")))
      .filter(col("cos") >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
      .distinct()
  }

  /** End-to-end corpus dedup: exact + MinHash-LSH near-dup removal. Keeps
    * one survivor (lowest id) per near-dup cluster; everything else passes
    * through. The shape of a production training-data dedup stage: candidate
    * generation and clustering never touch more than the near-dup pairs. */
  /** Incremental ingestion dedup: drop rows of `newBatch` whose exact text
    * already exists in `corpus` — the nightly-crawl-against-existing-corpus
    * shape, where shuffling the corpus per batch would be absurd.
    *
    * Scale shape (the broadcast never carries the corpus):
    *  1. one corpus scan builds a BLOOM FILTER over xxhash64(text) using
    *     Spark's own runtime-filter machinery (`BloomFilterAggregate` —
    *     map-side partial sketches, tiny merge) sized for
    *     `expectedCorpusDocs` at `fpp`;
    *  2. the batch probes it map-side (`BloomFilterMightContain`, codegen);
    *     misses are PROVABLY new (no false negatives) and never join;
    *  3. the hit set — |true dups| + fpp·|batch| rows — broadcasts to a
    *     second corpus scan for exact md5 verification (broadcast semi
    *     join, map-only on the corpus side), and the verified dup hashes
    *     broadcast back to anti-join the batch.
    * Neither the corpus nor the batch is ever exchange-shuffled
    * (ScalePlanSpec pins broadcast-only joins). Within-batch duplicates
    * are out of scope by design — run [[exact]] on the batch for those.
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
      textCol: String = "text",
      expectedCorpusDocs: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.SparkInternals.{column, expression}
    import org.apache.spark.sql.types.BinaryType

    val numBits = math.max(64L,
      math.ceil(-expectedCorpusDocs * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomAgg = new BloomFilterAggregate(
      expression(xxhash64(col(textCol))),
      Literal(expectedCorpusDocs), Literal(numBits))
    val bloomBytes = corpus
      .select(column(bloomAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    def mightContain(c: org.apache.spark.sql.Column) =
      column(BloomFilterMightContain(Literal(bloomBytes, BinaryType),
        expression(xxhash64(c))))

    val probed = newBatch.withColumn("__maybe", mightContain(col(textCol)))
    val candHashes = probed.filter(col("__maybe"))
      .select(md5(col(textCol).cast("binary")).as("__ch")).distinct()
    val dupHashes = corpus
      .join(broadcast(candHashes),
        md5(col(textCol).cast("binary")) === col("__ch"), "left_semi")
      .select(md5(col(textCol).cast("binary")).as("__dh")).distinct()
    probed
      .join(broadcast(dupHashes),
        md5(col(textCol).cast("binary")) === col("__dh"), "left_anti")
      .drop("__maybe")
  }

  def dedupeCorpus(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(docs, textCol, idCol, minJaccard = minJaccard)
    val labels = clusters(pairs) // id -> cluster label (min id in cluster)
    val drop = labels.filter(col("id") =!= col("label")).select(col("id"))
    docs.join(drop, docs(idCol) === drop("id"), "left_anti")
  }

  /** Survivor election over candidate-pair clusters by PRIORITY: cluster
    * the `pairs`, then keep ONE member per cluster — the one maximizing
    * `priority` (ties break to the LOWEST id) — instead of
    * [[dedupeCorpus]]'s lowest-id member. This is the CCNet/Dolma-style
    * knob: among near-duplicates keep the longest / highest-quality /
    * most-recent copy, not an arbitrary one. Docs absent from `pairs`
    * (singletons) always survive. `priority` must be non-null on every
    * clustered doc and ids non-negative (the election negates the id
    * inside a struct-max).
    *
    * Scale shape: label propagation is [[clusters]]'s bounded loop; the
    * election is ONE combinable struct-max aggregate per cluster plus
    * two equality joins (priorities in, survivors anti-joined out) — no
    * windows, no skew-sensitive ordering. */
  def dedupeByClusters(docs: DataFrame, pairs: DataFrame, priority: Column,
      idCol: String = "doc_id"): DataFrame = {
    val labels = clusters(pairs)
    val pr = docs.select(col(idCol).as("id"), priority.as("__pr"))
    val members = labels.join(pr, Seq("id"))
    val keep = members.groupBy(col("label"))
      .agg(max(struct(col("__pr").as("p"), (-col("id")).as("ni"))).as("m"))
      .select((-col("m.ni")).as("keep_id"))
    val drops = labels.join(keep, labels("id") === keep("keep_id"),
      "left_anti").select(col("id"))
    docs.join(drops, docs(idCol) === drops("id"), "left_anti")
  }

  /** [[dedupeCorpus]] with priority-based survivor election: MinHash
    * candidates → connected components → keep the best-priority member
    * of each cluster. */
  def dedupeCorpusBy(docs: DataFrame, priority: Column,
      textCol: String = "text", idCol: String = "doc_id",
      minJaccard: Double = 0.8): DataFrame =
    dedupeByClusters(docs,
      minhashPairs(docs, textCol, idCol, minJaccard = minJaccard),
      priority, idCol)

  /** Collapse near-dup pairs into clusters: iterative min-label propagation
    * (connected components) on the driver-controlled loop; the iteration
    * count is bounded by cluster diameter, not corpus size (dup clusters
    * are tiny), with adaptive pointer jumping as the deep-chain escape —
    * see the in-loop comment for the measured rationale.
    *
    * Each iteration checkpoints the label frame so the plan stays one
    * join deep — without it, lineage doubles per round and deep chains
    * re-execute the whole upstream every iteration; `checkpointDir`
    * upgrades executor-local checkpoint blocks to reliable storage for
    * fault-tolerant cluster runs (results are identical either way —
    * spec-pinned). Convergence is detected by a changed-label count
    * OBSERVED inside the checkpoint's own job (`Dataset.observe`) — zero
    * extra actions per round: each step takes an elementwise `least`, so
    * labels only ever decrease and "no row changed" is exactly the old
    * label-sum stability test. */
  def clusters(pairs: DataFrame, maxIter: Int = 10,
      pointerJump: Option[Boolean] = None,
      checkpointDir: Option[String] = None,
      symmetric: Boolean = false,
      partitionsHint: Option[Int] = None): DataFrame = {
    // checkpointDir opts into RELIABLE checkpoints (HDFS/object store):
    // localCheckpoint blocks live only on executors, so an executor loss
    // mid-iteration on a real cluster kills the job (no lineage left to
    // recompute). local[k] development keeps the default.
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // checkpointKeepLayout, NOT Dataset.checkpoint: under AQE the stock
    // checkpoint loses outputPartitioning (UnknownPartitioning), so every
    // round re-exchanged BOTH join sides — the layout reuse this loop was
    // designed around never actually happened with AQE on
    def truncate(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.SparkInternals
        .checkpointKeepLayout(df, reliable = checkpointDir.isDefined)
    // pre-shuffle the (bigger) edge side by the per-round join key ONCE:
    // checkpointing preserves outputPartitioning into the LogicalRDD, so
    // every propagation round reuses this layout instead of re-exchanging
    // 2|E| rows per iteration. `symmetric = true` (caller guarantees both
    // directions are already present — e.g. dbscan's eps-join emits every
    // pair twice) skips the reverse union that would double the edge
    // frame for nothing.
    val edges0 =
      if (symmetric) pairs.select(col("id_a"), col("id_b"))
      else pairs.select(col("id_a"), col("id_b"))
        .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // the edge count sizes the loop's shuffle layout (LoopLayout): small
    // graphs collapse to a few partitions instead of running every round
    // at conf-N near-empty tasks; at cluster scale p == conf-N and
    // nothing extra happens. A caller that already knows the edge
    // magnitude (dbscan observed its pair count) passes `partitionsHint`
    // and the first checkpoint materializes straight at p; otherwise the
    // count rides the first checkpoint's own job and a small frame is
    // cheaply re-pinned.
    val spark = pairs.sparkSession
    val confN = org.apache.spark.sql.graft.SparkInternals
      .sqlConf(spark).numShufflePartitions
    // edges are pinned SORTED by the per-round join key: the checkpoint
    // preserves outputOrdering alongside partitioning, so whenever the
    // planner picks a sort-merge join in the loop (it keeps the broadcast
    // choice, see below) that round reads the edge side pre-sorted —
    // sort once, merge every round; only the small labels side sorts.
    var edges: DataFrame = null
    val p = partitionsHint match {
      case Some(hint) =>
        val p0 = math.max(1, math.min(hint, confN))
        LoopLayout.withShufflePartitions(spark, p0) {
          edges = truncate(edges0.repartition(col("id_b"))
            .sortWithinPartitions("id_b"))
        }
        p0
      case None =>
        // pinLayout = false here ON PURPOSE: pinning disables AQE
        // coalescing for the WHOLE materialization query, so the entire
        // upstream pair-generation pipeline would run every exchange at
        // conf-N near-empty tasks (measured: t15 53 → 198 tasks when
        // this checkpoint pinned). The frame is re-pinned UNCONDITIONALLY
        // below — the re-pin's plan is just this checkpointed RDD plus
        // one exchange, so its pinned materialization is cheap, and at
        // cluster scale (p == conf-N) that single re-exchange buys every
        // round's layout reuse (an unpinned claim would re-exchange 2|E|
        // per round).
        val edgesObs = edges0.repartition(col("id_b"))
          .observe("__graft_cc_edges", count(lit(1)).as("n"))
        edges = org.apache.spark.sql.graft.SparkInternals
          .checkpointKeepLayout(edgesObs,
            reliable = checkpointDir.isDefined, pinLayout = false)
        val nEdges = edgesObs.queryExecution
          .observedMetrics("__graft_cc_edges").getLong(0)
        LoopLayout.partitionsFor(spark, nEdges)
    }
    LoopLayout.withShufflePartitions(spark, p) {
    if (partitionsHint.isEmpty)
      edges = truncate(edges.repartition(col("id_b"))
        .sortWithinPartitions("id_b"))
    // seed every node with min(own id, min neighbor id) instead of its
    // own id: the init aggregate costs the same shuffle the old
    // distinct() did but performs round 1's propagation inside it —
    // one whole round (and its checkpoint job) vanishes for every graph,
    // and star-shaped dup clusters (the dominant corpus shape) converge
    // at init with a single stability-detect round. Labels stay ids of
    // component members, so the min-label fixed point is unchanged.
    var labels = truncate(edges.groupBy(col("id_a"))
      .agg(min(col("id_b")).as("__mn"))
      .select(col("id_a").as("id"),
        least(col("__mn"), col("id_a")).as("label")))
    var changed = true
    var iter = 0
    // NOTE (measured, kept for the record): forcing broadcasts OFF inside
    // the loop cuts ~9 jobs/call (each in-loop BroadcastExchange build is
    // a 1-task job) but costs 2-3× wall-clock on deep graphs at sf0.1
    // (t15 2.5 → 7.2 s, t52 2.5 → 5.0 s — the pointer-jump rounds then
    // recompute + exchange + sort both subplans serially), so the
    // planner keeps the choice: it broadcasts while labels fit and falls
    // back to the zero-exchange sort-merge over the kept sorted layouts
    // when they don't — which is the 100 TB behaviour automatically.
    while (changed && iter < maxIter) {
      val next = edges.join(labels, edges("id_b") === labels("id"))
        .groupBy(col("id_a").as("id")).agg(min(col("label")).as("nlabel"))
      // the pre-round label rides along as __old so the convergence
      // metric can compare without a second pass
      val merged = labels.join(next, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jumping: also adopt the label OF my label (path doubling —
      // Shiloach-Vishkin style), so propagation distance doubles per round
      // and the loop converges in O(log diameter) rounds instead of
      // O(diameter). `least` keeps labels monotonically decreasing, so the
      // changed-row convergence test stays valid. The ADAPTIVE default
      // (None) runs PLAIN propagation first and starts jumping only if the
      // loop hasn't converged by round 4 (a de-facto diameter probe): the
      // jump join doubles per-round cost, and on the REALISTIC dup-graph
      // shape — star clusters, diameter 1 — always-jumping measured 3.4x
      // slower than plain at 1M nodes (9.2 s vs 2.7 s), while on deep
      // trees jumping wins (t15 gate graph: 1.7 s vs 2.4 s) and on a
      // 4096-hop chain plain alone would never finish in maxIter
      // (docs/NOTES.md round 8 A/B). Some(true/false) forces a mode.
      val jump = pointerJump.getOrElse(iter >= 4)
      val stepped =
        if (!jump) merged
        else {
          val parents = merged.select(col("id").as("pid"), col("label").as("plabel"))
          merged.join(parents, col("label") === col("pid"), "left")
            .select(col("id"), col("__old"),
              least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        }
      // Convergence detection rides the SAME materializing action as the
      // per-round checkpoint (Dataset.observe → CollectMetricsExec
      // accumulators): ONE action per round where checkpoint + checksum
      // was two — at 10 rounds that is 10 fewer driver round-trips and
      // 10 fewer jobs per clusters() call, and on a cluster it halves
      // the scheduler latency the loop serializes on. The metric counts
      // CHANGED labels, which is sign-safe where a checksum is not:
      // labels only decrease under `least`, so nchanged == 0 is exactly
      // the old sum-stability test, and a speculative duplicate task can
      // only inflate a nonzero count (never turn nonzero into zero), so
      // the loop can never stop early under task duplication.
      val obsName = s"__graft_cc_$iter"
      val observed = stepped
        .observe(obsName, sum(when(col("label") =!= col("__old"), 1L)
          .otherwise(0L)).as("nchanged"))
        .select(col("id"), col("label"))
      labels = truncate(observed)
      val row = observed.queryExecution.observedMetrics(obsName)
      changed = !row.isNullAt(0) && row.getLong(0) > 0L
      iter += 1
    }
    lastIterations.set(iter)
    labels
    } // withShufflePartitions
  }

  /** Test diagnostic: iteration count of the most recent [[clusters]]
    * call on this driver (races under concurrent calls — diagnostics
    * only, never control flow). */
  private[graft] val lastIterations =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Edit-distance (Levenshtein) near-dup pairs with distance ≤ `maxDist`
    * — the fuzzy-dedup form for short fields (titles, URLs, names) where
    * shingle Jaccard is too coarse. Candidate generation is
    * prefix+suffix+length blocking: each doc emits its first and last
    * `blockLen` characters as block keys; candidates are pairs sharing
    * EITHER block with |len_a − len_b| ≤ maxDist, refined by a
    * threshold-bounded Levenshtein (early-exits past maxDist, so the
    * refine is O(maxDist·min_len) per pair, not O(len²)).
    *
    * Recall contract (documented heuristic): a pair is found iff its edits
    * leave the first OR the last `blockLen` characters untouched. Edits
    * confined to the middle — the dominant near-dup shape for boilerplate
    * text — always survive; pairs edited at BOTH ends are missed. The
    * exact-cover upgrade path is PassJoin-style segment blocking (Li et
    * al., ICDE'11: maxDist+1 segments, any match must contain one
    * exactly); this blocking is its cheap two-segment special case.
    *
    * Scale shape (the minhashPairs pattern): equality self-join on block
    * keys only, occupancy prefilter drops singleton blocks before the
    * join, `maxBucket` caps degenerate hot blocks (shared boilerplate
    * prefixes), pair `distinct` runs on bare ids BEFORE texts join back —
    * the wide text column never rides the candidate shuffle. */
  def editDistancePairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxDist: Int = 2, blockLen: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(blockLen >= 1, s"blockLen must be >= 1: $blockLen")
    val base = Scatter(docs).select(col(idCol).as("id"),
      col(textCol).as("txt"), length(col(textCol)).as("len"))
    // prefix / suffix block keys, tagged so a prefix never equi-joins a
    // suffix; short texts (len <= blockLen) key on the whole string twice
    val blocks = base.select(col("id"), col("len"), explode(array(
        concat(lit("p:"), expr(s"substring(txt, 1, $blockLen)")),
        concat(lit("s:"), when(col("len") <= blockLen, col("txt"))
          .otherwise(expr(s"substring(txt, len - ${blockLen - 1}, $blockLen)")))
      )).as("blk"))
    val keep = blocks.groupBy("blk").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("blk")
    val b = blocks.join(keep, Seq("blk"), "left_semi")
    val cand = b.as("a")
      .join(b.as("b"), col("a.blk") === col("b.blk") &&
        col("a.id") < col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("txt").as("txt_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("txt").as("txt_b")), "id_b")
      .withColumn("dist", levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0) // threshold form returns -1 past maxDist
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Dedup, RangeJoin, Similarity, Skew, TrainingData}
import graft.functions.GraftFunctions._

/** Scale stress for the text-dedup / ANN surface: synthesizes a corpus far
  * beyond the sf0.1 gates (default 1M documents, 200k embeddings — ~20 GB
  * of shingle traffic) with PLANTED near-duplicates and a zipf-ish
  * vocabulary (so hot stop-shingles exist and the posting caps actually
  * engage), then times each kernel at its production settings. Numbers land
  * in docs/NOTES.md per round; the point is evidence that the plans hold
  * when the data is 200× the gate size, not micro-benchmarks.
  *
  * All data derives deterministically from ids (xxhash64) — reruns are
  * reproducible, no RNG state.
  *
  * Run: sbt "runMain graft.Stress [nDocs] [nVecs]"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nVecs = args.drop(1).headOption.map(_.toLong).getOrElse(200000L)
    val spark = Harness.session()
    import spark.implicits._

    // optional section filter (comma-set of text,dedup,training,temporal,
    // skew,vecs): lets a section run in a fresh JVM so its numbers aren't
    // confounded by a previous section's page-cache/GC footprint
    val sections = sys.env.getOrElse("SPARK_GRAFT_STRESS_SECTIONS", "all")
    def sec(name: String): Boolean =
      sections == "all" || sections.split(",").contains(name)

    // host-band probe (docs/NOTES.md round 8): stress numbers from
    // different runs are only comparable after normalizing by the
    // saturating multi-core sentinel, recorded before and after
    val sentinelPre = Bench.sentinelMtMs()

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def time[T](tag: String)(f: => T): T = {
      // stage quiescence (same rationale as Bench): without it, a heavy
      // stage's garbage is collected inside whichever later stage allocates
      // next, inflating its number 3-10x
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      results(tag) = s
      println(f"### $tag%-28s ${s}%8.2f s")
      r
    }

    // ---- synthetic corpus -------------------------------------------------
    // 60 words/doc; 30% of positions draw from a 50-word head vocabulary
    // (hot shingles), the rest from a 5000-word tail. Every 100th doc is a
    // near-copy of its predecessor with position 0 replaced → planted
    // near-dup pairs at Jaccard ≈ 0.93, plus exact dups every 1000th doc.
    val docsPath = "/tmp/graft_stress_docs.parquet"
    val vecsPath = "/tmp/graft_stress_vecs.parquet"
    // word(seed, i): 30% head vocab (50 words), else tail (5000 words)
    val wordSql = (i: String) =>
      s"""concat('w', CASE WHEN pmod(xxhash64(seed_id * 61 + ($i)), 10) < 3
            THEN pmod(xxhash64(seed_id, $i, 1L), 50)
            ELSE pmod(xxhash64(seed_id, $i, 2L), 5000) + 50 END)"""
    time("gen+write docs") {
      spark.range(nDocs).toDF("doc_id")
        // every 100th doc derives from its predecessor; of those, every
        // 10th (doc_id % 1000 == 999) keeps word 0 too → exact dup, the
        // rest swap word 0 → near-dup at Jaccard ≈ 58/62
        .withColumn("seed_id",
          when(col("doc_id") % 100 === 99, col("doc_id") - 1).otherwise(col("doc_id")))
        .withColumn("word0",
          when(col("doc_id") % 100 === 99 && col("doc_id") % 1000 =!= 999,
            concat(lit("nd"), col("doc_id") % 7))
          .otherwise(expr(wordSql("0"))))
        .withColumn("body", expr(
          s"""concat_ws(' ', transform(sequence(1, 59), i -> ${wordSql("i")}))"""))
        .select(col("doc_id"), concat(col("word0"), lit(" "), col("body")).as("text"))
        .write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath)

    // ---- map-only text passes --------------------------------------------
    if (sec("text")) time("text scan (tok+quality+lang)") {
      docs.select(
        bpeish_token_count(col("text")).as("tok"),
        quality_score(col("text")).as("q"),
        detect_lang(col("text")).as("lang"),
        simhash64(shingle_hashes(col("text"), lit(3))).as("sim"))
        .agg(sum(col("tok")), avg(col("q")), count(col("lang")), count(col("sim")))
        .collect()
    }
    if (sec("dedup")) {
    time("exact dedup") {
      println("    exact groups w/ dups: " +
        Dedup.exact(docs).filter(col("n_dups") > 1).count())
    }
    time("jaccardPairs (cap 10k)") {
      println("    jaccard pairs: " +
        Dedup.jaccardPairs(docs, shingle = 3, minJaccard = 0.5, maxPosting = 10000).count())
    }
    time("minhashPairs (64x16)") {
      println("    minhash pairs: " +
        Dedup.minhashPairs(docs, k = 64, bands = 16, shingle = 3, minJaccard = 0.5).count())
    }
    time("simhashPairs (maxDist 3)") {
      // production setting: 4 blocks x 16 bits -> 65536 buckets/block; the
      // gate's maxDist=16 (17 blocks of ~4 bits) is exact but only sane at
      // small corpus sizes — this is the knob a 100 TB run uses
      println("    simhash pairs: " + Dedup.simhashPairs(docs, maxDist = 3).count())
    }
    time("dedupeCorpus e2e") {
      // full production stage: minhash candidates → verify → connected
      // components → anti-join survivors. Every near/exact-dup pair is
      // (i, i+1), so exactly one doc per planted pair must be dropped.
      val survivors = Dedup.dedupeCorpus(docs, minJaccard = 0.5).count()
      println(s"    survivors: $survivors of $nDocs")
    }
    }
    if (sec("training")) {
    time("contamination (4-gram)") {
      // eval slice = predecessors of planted near-dups (doc_id % 100 == 98),
      // so each eval doc's twin genuinely shares 4-grams with it
      println("    contaminated docs: " + TrainingData.contamination(
        docs, docs.filter(col("doc_id") % 5000 === 98), n = 4).count())
    }
    time("chunkTokens (32/4)") {
      println("    chunks: " + TrainingData.chunkTokens(docs, 32, 4).count())
    }
    time("repetitionSignals") {
      // planted dups repeat words but nothing is degenerate: top-word share
      // stays a sanity check while the two explodes + combinable aggs run
      println("    docs profiled: " + TrainingData.repetitionSignals(docs).count())
    }
    time("hashSplit + piiScrub") {
      val split = TrainingData.hashSplit(docs)
        .groupBy("split").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"    split sizes: $split")
      println("    redacted chars: " + docs.select(
        sum(length(TrainingData.piiScrub(col("text"))))).head().getLong(0))
    }

    time("lineDedup (8-word lines)") {
      // corpus-level C4 line dedup over manufactured 8-word lines: the
      // planted near/exact dups guarantee real cross-doc line collisions
      val lined = docs.select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n").as("text"))
      val out = TrainingData.lineDedup(lined)
      println("    docs: " + out.count() + ", kept lines: " +
        out.agg(sum("n_kept")).head().getLong(0))
    }
    time("lineDedup (30% hot boilerplate)") {
      // VERDICT r4 #2 rehearsal: a cookie-banner line planted in 30% of the
      // corpus — ~nDocs*0.3 occurrences of ONE key. The old window plan
      // shipped all of them to a single reducer; the combinable min-struct
      // election must collapse the hot line map-side, so this runs in the
      // same band as the no-hot-line pass above instead of stalling on a
      // straggler task.
      val lined = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 3,
          concat(lit("accept all cookies to continue browsing\n"),
            regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n")))
        .otherwise(regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n"))
        .as("text"))
      val out = TrainingData.lineDedup(lined)
      val hotKept = out.filter(col("text_kept")
        .contains("accept all cookies")).count()
      println("    docs: " + out.count() + ", hot line kept in " +
        hotKept + " docs (must be 1)")
      require(hotKept == 1, s"hot boilerplate must survive exactly once: $hotKept")
    }
    time("dupSpans (40c, hashed)") {
      // full-stride span inventory: ~320 explode rows/doc, hashed shuffle
      println("    duplicated spans: " +
        TrainingData.dupSpans(docs, spanLen = 40, hashed = true).count())
    }
    time("dupSpans (40c, stride 4)") {
      // the survey-scale knob: stride thins the explode linearly; exact
      // copies still collide on every sampled offset
      println("    duplicated spans: " +
        TrainingData.dupSpans(docs, spanLen = 40, stride = 4, hashed = true).count())
    }
    time("packSequences (2048/64)") {
      println("    doc-seq slices: " +
        TrainingData.packSequences(docs, budget = 2048, nShards = 64).count())
    }

    }
    // ---- temporal joins over a synthetic event stream ---------------------
    // nDocs events across nDocs/100 users, ~10s cadence per user with
    // deterministic jitter — realistic key cardinality and per-key density
    if (sec("temporal")) {
    val nUsers = math.max(1L, nDocs / 100L)
    val evts = spark.range(nDocs).toDF("event_id")
      .withColumn("user_id", pmod(xxhash64(col("event_id")), lit(nUsers)))
      .withColumn("ts_us",
        (col("event_id") / nUsers).cast("long") * 10000000L +
          pmod(xxhash64(col("event_id"), lit(1)), lit(9999983L)))
      .localCheckpoint(true)
    time("asofJoin (1% left side)") {
      val lhs = evts.filter(pmod(col("event_id"), lit(100)) === 0)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val rhs = evts.select(col("user_id"), col("ts_us").as("r_ts_us"),
        col("event_id").as("r_event_id"))
      println("    asof matches: " + AsofJoin.asofJoin(lhs, rhs,
          on = Seq("user_id"), leftTime = "ts_us", rightTime = "r_ts_us",
          payload = Seq("r_event_id"), tiebreak = Some("r_event_id"))
        .filter(col("r_event_id").isNotNull).count())
    }
    time("intervalJoin (±60s window)") {
      val lhs = evts.filter(pmod(col("event_id"), lit(100)) === 0)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val rhs = evts.select(col("user_id"), col("ts_us").as("r_ts_us"),
        col("event_id").as("r_event_id"))
      println("    window pairs: " + RangeJoin.intervalJoin(lhs, rhs,
          on = Seq("user_id"), leftTs = "ts_us", rightTs = "r_ts_us",
          lower = -60000000L, upper = 60000000L).count())
    }

    time("correlate (1% x 10%, 60s)") {
      // stream-stream correlation batch twin: equi-join on user_id with a
      // residual time filter — never a per-user nested loop
      val l = evts.filter(pmod(col("event_id"), lit(100)) === 0)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ts"))
      val r = evts.filter(pmod(col("event_id"), lit(10)) === 1)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ts"))
      println("    correlated pairs: " +
        graft.streaming.EventStreams.correlate(l, r, within = "60 seconds").count())
    }

    }
    // ---- skew: blanket vs two-path salting --------------------------------
    // 1%-hot-key corpus: 10 hot keys carry ~30% of the big side; the small
    // side has 100k keys. Blanket saltedJoin replicates ALL 100k small rows
    // salt(16)x; two-path replicates only the ~10 hot rows and plain-joins
    // the rest — the small-side shuffle volume drops ~salt x.
    if (sec("skew")) time("skew join: plain vs salted vs two-path") {
      val nKeys = 100000L
      val big = spark.range(nDocs).toDF("i")
        .withColumn("k", when(pmod(col("i"), lit(10)) < 3,
            pmod(xxhash64(col("i")), lit(10L)))
          .otherwise(pmod(xxhash64(col("i"), lit(7)), lit(nKeys))))
        .select(col("k"), col("i").as("v"))
        .localCheckpoint(true)
      val small = spark.range(nKeys).toDF("k")
        .withColumn("name", concat(lit("dim_"), col("k")))
        .localCheckpoint(true)
      graft.operators.LoopLayout.withConfs(spark, // force shuffle joins
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val t0 = System.nanoTime()
        val plainN = big.join(small, Seq("k")).count()
        val t1 = System.nanoTime()
        val blanketN = Skew.saltedJoin(big, small, "k", salt = 16).count()
        val t2 = System.nanoTime()
        val twoN = Skew.saltedJoinTwoPath(big, small, "k", salt = 16,
          hotThreshold = nDocs / 1000, sampleFraction = 0.02).count()
        val t3 = System.nanoTime()
        require(plainN == blanketN && plainN == twoN,
          s"salting changed results: $plainN / $blanketN / $twoN")
        println(f"    rows: $plainN; plain ${(t1 - t0) / 1e9}%.2f s, " +
          f"blanket ${(t2 - t1) / 1e9}%.2f s (small-side shuffle rows ${nKeys * 16}), " +
          f"two-path ${(t3 - t2) / 1e9}%.2f s (~${nKeys + 10 * 16} small-side rows)")
      }
    }

    // ---- round-7 operators at corpus scale --------------------------------
    if (sec("r7")) {
      time("dsirWeights (1M raw, 100k target)") {
        val target = docs.filter(col("doc_id") % 10 === 0)
        val w = TrainingData.dsirWeights(docs, target)
        println("    dsir rows: " + w.count())
      }
      time("bm25 (4 queries over 1M docs)") {
        val queries = Seq((1L, "w3 w17"), (2L, "w42 w7"), (3L, "w100 w205"),
          (4L, "w9 w31")).toDF("query_id", "qtext")
        println("    bm25 hits: " + graft.operators.Retrieval
          .bm25TopK(docs, queries, k = 20).count())
      }
      time("pageRank (1M nodes, 2M edges, 3 iters)") {
        val n = nDocs
        val e = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 7 + 3) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 13 + 5) % n).as("dst")))
        val pr = graft.operators.Graph.pageRank(e, iters = 3)
        println("    pr sum: " + pr.agg(sum(col("rank"))).head().getDouble(0))
      }
      time("temperatureMix (1M docs, 100 domains)") {
        val dom = docs.withColumn("source",
          concat(lit("d"), col("doc_id") % 100))
        println("    mixed: " + TrainingData.temperatureMix(
          dom, "source", total = 100000, temperature = 2.0).count())
      }
      time("AC blocklist (100 patterns x 1M docs)") {
        val pats = Array.tabulate(100)(i => s"w$i w${(i * 7) % 50}")
        val ac = new graft.text.AhoCorasick(pats)
        println("    blocked: " + docs
          .filter(ac_contains(col("text"), ac)).count())
      }
      time("curate e2e (1M docs)") {
        val dom = docs.withColumn("source",
          concat(lit("d"), col("doc_id") % 100))
        println("    curated: " + TrainingData.curate(
          dom, minTokens = 20, cap = 5000).count())
      }
    }


    // ---- round-8 operators at corpus scale --------------------------------
    if (sec("r8")) {
      // CCNet layout: a trusted reference slice trains the LM, then the
      // whole 1M-doc corpus is scored + bucketed against it. Cutoffs come
      // from the bounded driver sample; assignment is map-only over the
      // scored snapshot (plan-asserted in specs).
      val lm = time("ngramLm train (100k ref docs)") {
        graft.text.NgramLm.train(docs.filter(col("doc_id") % 10 === 0))
      }
      time("perplexityBuckets (1M docs)") {
        val b = graft.text.NgramLm.perplexityBuckets(lm, docs,
          nBuckets = 3, sampleSize = 100000)
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        println(s"    bucket sizes: $b")
      }
      // planted separable signal: docs whose token stream contains 'w3'
      // are the positive class — one unigram feature carries the label,
      // so AUC doubles as a correctness canary at this scale
      val labeled = docs.withColumn("label",
        array_contains(split(col("text"), " "), "w3").cast("int"))
      val clf = time("classifier train (1M docs, 20 ep)") {
        graft.text.TextClassifier.train(labeled, epochs = 20)
      }
      time("classifier score+AUC (1M docs)") {
        // 6-dp quantization bounds the AUC histogram (Eval.auc scaladoc)
        val scored = labeled.select(col("label"),
          round(classifier_score(col("text"), clf), 6).as("score"))
        val auc = graft.operators.Eval.auc(scored, "score", "label")
          .head().getDouble(2)
        println(f"    AUC: $auc%.4f (planted signal, must be ~1)")
        require(auc > 0.95, s"planted-signal AUC regressed: $auc")
      }
      time("gopher+c4 rule batteries (1M docs)") {
        // the full named-rule battery as a map-only pass; HOFs are
        // CodegenFallback, so this measures the honest interpreted cost
        val gated = graft.text.QualityRules.c4(
          graft.text.QualityRules.gopher(docs))
        val r = gated.agg(sum("pass"), sum("keep"),
          sum("n_words")).head()
        println(s"    pass: ${r.getLong(0)}, keep: ${r.getLong(1)}, " +
          s"tokens seen: ${r.getLong(2)}")
      }
      time("tfidfKeywords (1M docs, k=5)") {
        // 60M-token explode -> (doc,term) tf agg -> vocab df join ->
        // WindowGroupLimit top-5 per doc
        println("    keyword rows: " + graft.operators.Retrieval
          .tfidfKeywords(docs, k = 5).count())
      }
      time("temperatureMixTokens (1M, 100 dom)") {
        val dom = docs
          .withColumn("source", concat(lit("d"), col("doc_id") % 100))
          .withColumn("tokens", bpeish_token_count(col("text")).cast("long"))
        println("    mixed docs: " + TrainingData.temperatureMixTokens(
          dom, "source", totalTokens = 10000000L, temperature = 2.0).count())
      }
      time("tokenBudgetSelect (1M docs, 30%)") {
        val scoredDocs = docs
          .withColumn("score", quality_score(col("text")))
          .withColumn("tokens", bpeish_token_count(col("text")).cast("long"))
        val totalTok = scoredDocs.agg(sum("tokens")).head().getLong(0)
        val sel = TrainingData.tokenBudgetSelect(scoredDocs,
          budget = (totalTok * 3) / 10, scoreCol = "score",
          tokensCol = "tokens", nBuckets = 1024)
        val kept = sel.agg(count(lit(1)), sum("tokens")).head()
        println(s"    kept ${kept.getLong(0)} docs, " +
          s"${kept.getLong(1)} of $totalTok tokens (budget ${(totalTok * 3) / 10})")
        require(kept.getLong(1) <= (totalTok * 3) / 10,
          "selection exceeded the token budget")
      }
    }

    if (sec("r8s3")) {
      time("editDistancePairs (1M docs)") {
        // planted near-dups differ at word 0 only -> prefix block broken,
        // SUFFIX block intact (the blocking's recall contract); zipf head
        // vocab makes genuinely hot prefix blocks, so the maxBucket cap
        // engages instead of detonating the self-join
        val pairs = Dedup.editDistancePairs(docs, maxDist = 8,
          blockLen = 16, maxBucket = 500)
        val n = pairs.count()
        val planted = pairs.filter(col("id_b") - col("id_a") === 1 &&
          col("id_b") % 100 === 99).count()
        println(s"    pairs: $n (planted neighbors recovered: $planted)")
        require(planted > 8000, s"planted fuzzy pairs under-recovered: $planted")
      }
      time("sessionize+resample (5M events, 10k users)") {
        val ev = spark.range(5000000L).toDF("event_id")
          .withColumn("user_id", col("event_id") % 10000)
          .withColumn("ts", timestamp_seconds(
            lit(1700000000L) + (col("event_id") / 10000).cast("long") * 30 +
              pmod(xxhash64(col("event_id")), lit(20))))
          .withColumn("value", (pmod(xxhash64(col("event_id"), lit(1)),
            lit(10000)).cast("double")) / 100.0)
        val sess = graft.operators.Sessions.sessionStats(ev, "user_id",
          "ts", gapSeconds = 120L, tieCol = "event_id", valueCol = "value")
        println("    sessions: " + sess.count())
        val grid = graft.operators.Sessions.resampleFfill(ev, "user_id",
          "ts", valueCol = "value", stepSeconds = 600L, tieCol = "event_id")
        val g = grid.agg(count(lit(1)), sum(col("filled").cast("long"))).head()
        println(s"    grid rows: ${g.getLong(0)} (filled: ${g.getLong(1)})")
      }
      time("hll (50M keys + grouped 100x500k)") {
        val keys = spark.range(50000000L)
          .select(col("id").cast("string").as("k"),
            concat(lit("g"), col("id") % 100).as("g"))
        val est = graft.operators.Sketch.hllEstimate(
          graft.operators.Sketch.hllRegisters(keys, "k")).head().getDouble(2)
        println(f"    hll est: $est%.0f of 50M (${est / 5e7 * 100}%.1f%%)")
        require(math.abs(est - 5e7) / 5e7 < 0.10, s"hll drifted: $est")
        val grouped = graft.operators.Sketch.hllEstimateBy(
          graft.operators.Sketch.hllRegistersBy(keys, "g", "k"), "g")
        println("    grouped rows: " + grouped.count())
      }
      time("weightedSample (1M docs, n=10k)") {
        val w = docs.withColumn("weight",
          (pmod(xxhash64(col("doc_id")), lit(100)) + 1).cast("double"))
        println("    sampled: " + TrainingData.weightedSample(
          w, "weight", 10000, "stress").count())
      }
      time("zorder keys (10M rows)") {
        val z = spark.range(10000000L)
          .select(graft.operators.ZOrder.zorderEncode(Seq(
            col("id") % 1024, (col("id") / 1024) % 1024,
            (col("id") / 1048576) % 16), 10).as("z"))
        println("    distinct z: " + z.agg(countDistinct("z")).head().getLong(0))
      }
    }

    // ---- round-9 session-2 surface (CDC, heavy hitters, funnel, phrase) ---
    if (sec("r9s2")) {
      time("heavyHitters (10M rows, ~5M distinct, 20 planted heavies)") {
        // 10% of rows land on 20 hot keys (~50k each); the rest spread
        // over ~5M tail keys (~2 each) — the cardinality regime where a
        // plain groupBy-count materializes 5M groups but the MG pass
        // shuffles only candidates
        val n = 10000000L
        val rows = spark.range(n).select(
          when(pmod(xxhash64(col("id")), lit(100L)) < 10,
            concat(lit("hot"), pmod(xxhash64(col("id"), lit(1L)), lit(20L))))
            .otherwise(concat(lit("tail"),
              pmod(xxhash64(col("id"), lit(2L)), lit(5000000L)))).as("k"))
        val got = graft.operators.Sketch.heavyHitters(rows, "k",
          threshold = 20000L, k = 1024).count()
        val exact = rows.groupBy("k").count()
          .filter(col("count") >= 20000L).count()
        println(s"    heavy hitters: $got (exact $exact)")
        require(got == exact, s"heavy hitters $got != exact $exact")
      }
      time("applyChangelog (10M snapshot, 200k changes)") {
        val snap = spark.range(10000000L)
          .select(col("id"), (col("id") * 3).as("v"))
        val ch = spark.range(200000L).select((col("id") * 50).as("id"),
          (col("id") % 1000).as("v"), lit(1L).as("seq"),
          when(col("id") % 10 === 0, "D").otherwise("U").as("op"))
        val c = graft.operators.Changelog.applyChangelog(
          snap, ch, Seq("id"), "seq", "op").count()
        require(c == 10000000L - 20000L, s"post-apply count $c")
      }
      time("funnel (10M events, 100k users, 3 steps)") {
        val ev = spark.range(10000000L).select(
          pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
          timestamp_micros(col("id") * 1000L).as("ts"),
          element_at(array(lit("view"), lit("click"), lit("buy"),
            lit("other")),
            (pmod(xxhash64(col("id"), lit(3L)), lit(4L)) + 1).cast("int"))
            .as("event_type"))
        val f = graft.operators.Sessions.funnel(ev,
          Seq("view", "click", "buy"))
        val full = f.filter(col("steps_completed") === 3).count()
        val total = f.count()
        println(s"    funnel: $total users reached step 0, $full completed")
        require(total > 90000 && full > 0)
      }
      time("phraseMatch (1M docs, head-vocab trigram)") {
        // head-vocab words appear in ~30% of positions — the phrase terms'
        // postings are a large minority slice, the worst realistic case
        val m = graft.operators.Retrieval.phraseMatch(docs,
          Seq("w1", "w2", "w3"))
        println("    phrase docs: " + m.count())
      }
      time("collocations (1M docs, 60M bigrams)") {
        val c = graft.operators.TrainingData.collocations(docs,
          minCount = 100)
        println("    collocations >= 100: " + c.count())
      }
    }

    // ---- embeddings -------------------------------------------------------
    if (sec("vecs")) {
    time("gen+write vecs") {
      spark.range(nVecs).toDF("vec_id")
        .withColumn("seed_id", when(col("vec_id") % 50 === 49, col("vec_id") - 1)
          .otherwise(col("vec_id"))) // every 50th is an exact copy
        .withColumn("embedding", expr(
          """transform(sequence(0, 63), i ->
               cast(pmod(xxhash64(seed_id, i), 2000) / 1000.0 - 1.0 as float))"""))
        .select("vec_id", "embedding")
        .write.mode("overwrite").parquet(vecsPath)
    }
    val vecs = spark.read.parquet(vecsPath)
    time("embeddingPairs (16b x4t)") {
      println("    near-dup vec pairs: " +
        Dedup.embeddingPairs(vecs, bits = 16, tables = 4, minCos = 0.95).count())
    }
    val queries = vecs.filter(col("vec_id") < 32).withColumn("vec_id", col("vec_id") + nVecs)
    time("lshTopK (32 queries)") {
      println("    lsh hits: " +
        Similarity.lshTopK(vecs, queries, k = 10, bits = 16, tables = 4).count())
    }
    time("ivfTopK (nlist 1024)") {
      println("    ivf hits: " + Similarity.ivfTopK(vecs, queries, k = 10,
        nlist = 1024, nprobe = 8, trainSample = 20000, iters = 5).count())
    }
    time("bruteForceTopK (32 queries)") {
      println("    brute hits: " + Similarity.bruteForceTopK(vecs, queries, k = 10).count())
    }
    time("semDedup (200k vecs, tau .95)") {
      // planted exact copies are recovered; the cluster self-join cost is
      // bounded by per-cell occupancy, never corpus^2
      val n = Similarity.semDedup(vecs, tau = 0.95, nlist = 256,
        trainSample = 20000, iters = 5).count()
      println(s"    semDedup survivors: $n of $nVecs")
    }
    time("semDedup COLLAPSED corpus (200k identical vecs, cap binds)") {
      // adversarial embedding collapse: every vector lands in ONE cell,
      // Σ|cluster|² = 4·10¹⁰ pairs if the join ran — the default
      // maxCluster (100k) must bind BEFORE the join reads a pair, so the
      // whole corpus passes through undeduped in O(n)
      val collapsed = spark.range(nVecs)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), i -> CAST(1.0 AS FLOAT))")
            .as("embedding"))
      val n = Similarity.semDedup(collapsed, tau = 0.95, nlist = 16,
        trainSample = 2000, iters = 2).count()
      println(s"    collapsed survivors: $n of $nVecs (cap bound: ${n == nVecs})")
    }
    time("sq8 quantize+topk (200k vecs)") {
      val scales = Similarity.sq8Scales(vecs, "embedding")
      val hits = Similarity.sq8TopK(vecs, queries, k = 10,
        scales = Some(scales))
      val self = hits.filter(col("rk") === 1 &&
        col("qid") - nVecs === col("nid")).count()
      println(s"    sq8 rank-1 self-matches: $self/32")
      require(self >= 30, s"sq8 self-recall regressed: $self")
    }
    time("pca fit+project (200k x 256d -> 32)") {
      val m = graft.vector.Pca.fit(vecs, k = 32, whiten = true)
      println("    projected: " + vecs.select(
        pca_project(col("embedding"), m).as("p"))
        .agg(sum(element_at(col("p"), 1))).head().getDouble(0).isNaN.unary_!)
    }
    time("ivfPqTopK (nlist 1024, m8 ksub256)") {
      // the memory-bounded path: 8 code bytes per vector through the
      // candidate join instead of the 256-byte embedding; exact refine on
      // the 64-candidate shortlist only. Self-match recall doubles as a
      // correctness canary at this scale (planted copies must surface).
      val hits = Similarity.ivfPqTopK(vecs, queries, k = 10,
        nlist = 1024, nprobe = 8, m = 8, ksub = 256, refine = 64,
        trainSample = 20000, iters = 5)
      val n = hits.count()
      val self = hits.filter(col("rk") === 1 &&
        col("qid") - nVecs === col("nid")).count()
      println(s"    ivfpq hits: $n (rank-1 self-matches: $self/32)")
    }

    }
    if (sec("r10")) {
      // streamed interchange sinks (round-9 verdict: whole-partition
      // Array[Byte] buffering hard-caps at 2 GB and costs ≥2× partition
      // size in heap). The proof: ONE partition whose encoded container
      // exceeds Int.MaxValue bytes — impossible for the old sink by
      // construction, routine for the block-streaming one.
      time("avro sink: single >2GB partition (streamed)") {
        val bigPath = "/tmp/graft_stress_avro"
        val big = spark.range(10000000L).select(col("id"),
          expr("repeat(concat('x', CAST(id % 97 AS STRING), '-'), 64)")
            .as("s")).coalesce(1)
        graft.sources.Avro.write(big, bigPath, codec = "null",
          blockRows = 4096)
        val f = new java.io.File(bigPath).listFiles()
          .filter(_.getName.endsWith(".avro")).head
        println(s"    container bytes: ${f.length()}")
        require(f.length() > Int.MaxValue.toLong,
          s"expected a >2GB container, got ${f.length()}")
        // header + first blocks decode from a bounded prefix: the stream
        // is a valid container, not just big
        val prefix = new Array[Byte](4 << 20)
        val in = new java.io.FileInputStream(f)
        try { in.read(prefix); () } finally in.close()
        require(graft.sources.Avro.header(prefix) != null,
          "container header unreadable")
        val rows = graft.sources.Avro.records(prefix)
        println(s"    prefix-decoded rows: ${rows.length}")
        require(rows.length >= 4096, "no complete block decoded")
        f.delete()
      }
      time("arrow sink+source: single >2GB stream roundtrip") {
        // both directions now stream (write: batch-flushing channel;
        // read: filesystem stream, no binaryFile blob) — so a single
        // stream FILE beyond Int.MaxValue bytes round-trips, which the
        // old blob-based source could not even load
        val dir = "/tmp/graft_stress_arrow"
        val big = spark.range(9000000L).select(col("id"),
          expr("repeat(concat('y', CAST(id % 89 AS STRING), '-'), 64)")
            .as("s")).coalesce(1)
        graft.sources.ArrowIpc.write(big, dir, batchRows = 8192)
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".arrows")).head
        println(s"    stream bytes: ${f.length()}")
        require(f.length() > Int.MaxValue.toLong,
          s"expected a >2GB stream, got ${f.length()}")
        val r = graft.sources.ArrowIpc.read(spark, dir + "/*.arrows")
          .agg(count(lit(1)), sum(length(col("s")))).head()
        println(s"    roundtrip rows: ${r.getLong(0)} sumlen: ${r.getLong(1)}")
        require(r.getLong(0) == 9000000L, s"lost rows: ${r.getLong(0)}")
        new java.io.File(dir).listFiles().foreach(_.delete())
      }
    }

    if (sec("r10b")) {
      time("merge (10M target, 200k source, full clause ladder)") {
        val target = spark.range(10000000L)
          .select(col("id"), (col("id") * 3).as("v"), lit("keep").as("tag"))
        val source = spark.range(200000L).select((col("id") * 50).as("id"),
          (col("id") % 1000).as("v"), lit("merged").as("tag"))
        val out = graft.operators.Changelog.merge(target, source, Seq("id"),
          deleteCondition = Some("s.v < 100"),        // 10% of source
          updateCondition = Some("s.v >= 500"),       // half of source
          insertCondition = Some("s.v % 2 = 0"))
        val n = out.count()
        // matched = all 200k source keys (id*50 < 10M); deletes = v<100
        val expected = 10000000L - 200000L / 10L
        require(n == expected, s"merge count $n != $expected")
      }
      time("tablelog change feed (10M base, 100k append — touched files only)") {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_log").toString + "/t"
        graft.operators.TableLog.append(
          spark.range(10000000L).select(col("id"), (col("id") * 7).as("v"))
            .repartition(32), dir)
        graft.operators.TableLog.append(
          spark.range(100000L).select((col("id") + 20000000L).as("id"),
            col("id").as("v")).coalesce(2), dir)
        val feed = graft.operators.TableLog.changes(spark, dir, 1, 2)
        val scanned = feed.queryExecution.executedPlan.collectLeaves().map {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length
          case _ => 0
        }.sum
        val n = feed.count()
        println(s"    feed rows: $n from $scanned files (base has 32)")
        require(n == 100000L, s"feed rows $n")
        require(scanned <= 2, s"diff read $scanned files — snapshot leak")
      }
      time("kmeans (10M points, k=64, 3 iters)") {
        // 64 planted gaussian-ish blobs on an 8x8 grid; centroids live on
        // the driver and the assignment is a pure projection — the stage
        // proves the flat least/coalesce argmin survives codegen at k=64
        // and that per-iteration cost is one scan + one k-group aggregate
        val pts = spark.range(10000000L).select(col("id"),
          ((col("id") % 8).cast("double") * 10.0 +
            (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / 1000.0))
            .as("x"),
          (((col("id") / 8) % 8).cast("double") * 10.0 +
            (pmod(xxhash64(col("id"), lit(1L)), lit(1000L)).cast("double")
              / 1000.0)).as("y"))
        val out = graft.operators.SpatialCluster.kmeans(pts, k = 64,
          iters = 3)
        val n = out.select(col("cluster")).distinct().count()
        println(s"    clusters: $n")
        require(out.count() == 10000000L && n <= 64L, s"k-means shape: $n")
      }
      time("labelPropagation (1M nodes, 3M edges, 2 rounds)") {
        val nodes = 1000000L
        val e = spark.range(nodes).select(col("id").as("src"),
            ((col("id") + 1) % nodes).as("dst"))
          .union(spark.range(nodes).select(col("id"),
            pmod(xxhash64(col("id")), lit(nodes))))
          .union(spark.range(nodes).select(col("id"),
            ((col("id") * 7 + 3) % nodes).as("dst")))
        val labels = graft.operators.Graph.labelPropagation(e, iters = 2)
        val n = labels.count()
        println(s"    labeled vertices: $n")
        require(n >= nodes - 1, s"labeled $n of $nodes")
      }
      time("expectations (10M rows, 6 checks, one pass)") {
        val rows = spark.range(10000000L).select(col("id"),
          (col("id") % 1000000L).as("g"),
          when(col("id") % 1000 === 0, lit(null).cast("long"))
            .otherwise(col("id") % 97).as("v"))
        val out = graft.operators.Expectations.check(rows,
          rowChecks = Seq(
            "v_not_null" -> "v IS NOT NULL",      // 10k violations
            "v_domain" -> "v < 97",
            "id_positive" -> "id >= 0",
            "g_domain" -> "g < 1000000"),
          uniqueKeys = Seq("unique_id" -> Seq("id"),
            "unique_g" -> Seq("g")))              // 9M duplicates
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        println(s"    verdicts: $out")
        require(out("v_not_null") == 10000L && out("unique_id") == 0L &&
          out("unique_g") == 9000000L && out("v_domain") == 10000L,
          s"unexpected verdicts $out")
      }
    }

    if (sec("r11")) {
      time("geodetic distance join (10M pts x 500 anchors, 100 km)") {
        // points spread across lat -80..80 (hot mid-lat bands AND the
        // stretched high-lat bands), anchors on a 500-site lattice; the
        // stage proves candidate generation stays the bounded 9x
        // equi-join at every latitude — a quadratic or per-row-degenerate
        // plan would not finish
        val pts = spark.range(10000000L).select(col("id"),
          ((pmod(xxhash64(col("id")), lit(360000L)).cast("double") / 1000.0)
            - 180.0).as("x"),
          ((pmod(xxhash64(col("id"), lit(1L)), lit(160000L)).cast("double")
            / 1000.0) - 80.0).as("y"))
        val anchors = spark.range(500L).select(col("id").as("aid"),
          ((col("id") % 25).cast("double") * 14.0 - 170.0).as("rx"),
          ((col("id") / 25).cast("double") * 8.0 - 78.0).as("ry"))
        val n = graft.operators.SpatialJoin
          .distanceJoinGeodetic(pts, anchors, 100000.0).count()
        println(s"    pairs within 100 km: $n")
        // ~500 caps of pi*(100km)^2 over a lon/lat rectangle of ~2.2e8
        // km^2 at these densities => order 1e6 pairs; zero means the
        // grid lost everything, 1e8 means it multiplied
        require(n > 100000L && n < 20000000L, s"implausible pair count $n")
      }
      time("spatial anti join (10M pts vs 200 polys, rewrite)") {
        // the LeftSemi/LeftAnti rewrite at scale: semi + anti must
        // partition the probe side EXACTLY (a lost or duplicated probe
        // breaks the sum), and neither may plan the |A|x|B| nested loop
        import graft.functions.GraftFunctions._
        graft.functions.GraftFunctions.registerAll(spark)
        val pts = spark.range(10000000L).select(col("id"),
          st_point(
            (pmod(xxhash64(col("id")), lit(3600L)).cast("double") / 10.0)
              - 180.0,
            (pmod(xxhash64(col("id"), lit(1L)), lit(1700L)).cast("double")
              / 10.0) - 85.0).as("geom"))
        val polys = spark.range(200L).select(col("id").as("pid"),
          st_make_square(
            (col("id") % 20).cast("double") * 18.0 - 171.0,
            (col("id") / 20).cast("double") * 16.0 - 72.0,
            lit(4.0)).as("pgeom"))
        val semi = pts.join(polys,
          st_contains(col("pgeom"), col("geom")), "left_semi")
        val pSemi = semi.queryExecution.executedPlan.toString
        require(pSemi.contains("__graft_cell"), "semi rewrite did not fire")
        val nSemi = semi.count()
        val nAnti = pts.join(polys,
          st_contains(col("pgeom"), col("geom")), "left_anti").count()
        println(s"    semi: $nSemi anti: $nAnti")
        require(nSemi + nAnti == 10000000L,
          s"semi+anti must partition the probe side: $nSemi + $nAnti")
        require(nSemi > 0L && nAnti > 0L, "degenerate fixture")
      }
      time("restore under churn (50-version table, metadata-only)") {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_restore").toString + "/t"
        (0 until 50).foreach { i =>
          graft.operators.TableLog.append(
            spark.range(i * 1000L, i * 1000L + 1000L).toDF("id")
              .coalesce(1), dir)
        }
        val t0 = System.nanoTime()
        graft.operators.TableLog.restore(dir, 25)
        val restoreMs = (System.nanoTime() - t0) / 1e6
        println(f"    restore commit: $restoreMs%.1f ms (zero data moved)")
        require(graft.operators.TableLog.read(spark, dir).count() == 25000L)
        require(restoreMs < 5000.0, s"restore moved data? $restoreMs ms")
      }
    }

    if (sec("r11b")) {
      time("deletion vectors (10M rows: DV delete, read, materialize)") {
        // merge-on-read at scale: a selective delete on a 10M-row /
        // 8-file table must move only the deleted positions (sidecar),
        // the DV-applied read must not lose whole-stage parallelism,
        // and OPTIMIZE must fold the vector away exactly
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_dv").toString + "/t"
        (0 until 8).foreach(i => graft.operators.TableLog.append(
          spark.range(i * 1250000L, (i + 1) * 1250000L)
            .select(col("id"), (col("id") * 3L).as("v")), dir))
        val preFiles = graft.operators.TableLog.snapshot(dir).files.size
        val (_, nDel, _, _) = graft.operators.TableLog.deleteVectored(
          spark, dir, "id % 1000 = 7") // 10k positions
        require(nDel == 10000L, s"dv matched $nDel")
        require(graft.operators.TableLog.snapshot(dir).files.size ==
          preFiles, "dv delete rewrote data files")
        val visible = graft.operators.TableLog.read(spark, dir).count()
        require(visible == 9990000L, s"visible $visible")
        graft.operators.TableLog.optimize(spark, dir)
        require(graft.operators.TableLog.snapshot(dir).dvs.isEmpty)
        require(graft.operators.TableLog.read(spark, dir).count()
          == 9990000L)
      }
      time("bloom skipping (10M rows, 40 files: point lookup)") {
        // the needle-in-the-lake fetch: 40 files none of which zone maps
        // can prune (every file spans the full key range via bit-mixed
        // keys); the bloom index must open ~1 file, not 40
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_bloom").toString + "/t"
        (0 until 40).foreach(i => graft.operators.TableLog.append(
          spark.range(250000L).select(
            xxhash64(col("id"), lit(i)).as("k"),
            col("id").as("v")).coalesce(1), dir))
        graft.operators.TableLog.computeBlooms(spark, dir, "k")
        // pick a real key from file 17 and fetch it
        val key = spark.range(99L, 100L)
          .select(xxhash64(col("id"), lit(17))).head().getLong(0)
        val (df, st) = graft.operators.LakeSelect.readWhere(spark, dir,
          s"k = $key")
        require(st.filesTotal == 40 && st.filesOpened <= 4,
          s"bloom opened ${st.filesOpened} of ${st.filesTotal}")
        require(df.count() >= 1L)
        println(s"    opened ${st.filesOpened} of ${st.filesTotal} files")
      }
      time("incremental view refresh (10M-row source, 1k-row change)") {
        // the rollup-freshness path at scale: the second refresh must be
        // driven by the change feed (reads the DV sidecar diff + no data
        // file), never a rescan of the 10M rows
        val base = java.nio.file.Files
          .createTempDirectory("graft_stress_mv").toString
        val src = base + "/src"
        val view = base + "/view"
        (0 until 4).foreach(i => graft.operators.TableLog.append(
          spark.range(i * 2500000L, (i + 1) * 2500000L)
            .select(col("id"), (col("id") % 1000L).as("g"),
              (col("id") % 97L).as("v")), src))
        val (_, _, _, m1) = graft.operators.MaterializedView.refresh(
          spark, view, src, "g", "v")
        require(m1 == "full")
        graft.operators.TableLog.deleteVectored(spark, src,
          "id % 10000 = 3") // 1k-row change on a 10M table
        val t0 = System.nanoTime()
        val (_, _, _, m2) = graft.operators.MaterializedView.refresh(
          spark, view, src, "g", "v")
        val incS = (System.nanoTime() - t0) / 1e9
        require(m2 == "incremental")
        println(f"    incremental refresh: $incS%.2f s")
        val n = graft.operators.TableLog.read(spark, view)
          .agg(sum(col("n"))).head().getLong(0)
        require(n == 9999000L, s"view row-mass $n")
      }
    }

    if (sec("r12")) {
      val rgOpts = Map("parquet.block.size" -> "262144",
        "parquet.page.size" -> "65536")
      time("row-group skipping (10M rows, ~200 row groups)") {
        // the intra-file pruning path at scale: a key-sorted 4-file
        // table written with 256 KB row groups; a 1/200th-keyspace range
        // must read a handful of row groups, never a whole file, and
        // match the full-scan count exactly
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_rg").toString + "/t"
        graft.operators.TableLog.append(
          spark.range(10000000L).select(col("id").as("k"),
              (col("id") * 3L).as("v"))
            .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
          dir, options = rgOpts)
        val (pr, st) = graft.operators.LakeSelect.readWhere(spark, dir,
          "k BETWEEN 4000000 AND 4050000")
        require(st.rgTotal > 50,
          s"stress wants many row groups: ${st.rgTotal}")
        require(st.rgOpened * 20 < st.rgTotal,
          s"row groups opened ${st.rgOpened} of ${st.rgTotal}")
        require(st.filesOpened == 1 && st.filesTotal == 4)
        val n = pr.count()
        require(n == 50001L, s"range count $n")
        println(s"    opened ${st.rgOpened} of ${st.rgTotal} row groups")
      }
      time("composed point lookup (10M rows, 40 interleaved files)") {
        // bloom × row-group composition: every file spans the FULL key
        // range (k = 40*j + i — zone maps cannot prune files), but keys
        // are sorted within each file; the bloom probe must pick ~1
        // file, then the row-group index must open ~1 group inside it
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_pl").toString + "/t"
        (0 until 40).foreach(i => graft.operators.TableLog.append(
          spark.range(250000L).select(
            (col("id") * 40L + i).as("k"), col("id").as("v"))
            .coalesce(1), dir, options = rgOpts))
        graft.operators.TableLog.computeBlooms(spark, dir, "k")
        val key = 40L * 123456L + 17L // lives in file 17 only
        val (df, rgOpened, rgTotal, fOpened, fTotal) =
          graft.operators.TableLog.readPointLookup(
            spark, dir, "k", Seq(key))
        require(fTotal == 40 && fOpened <= 4,
          s"bloom opened $fOpened of $fTotal files")
        require(rgOpened <= fOpened.toLong * 3 && rgTotal > rgOpened * 3,
          s"row groups opened $rgOpened of $rgTotal")
        require(df.filter(col("k") === key).count() == 1L)
        println(s"    opened $fOpened of $fTotal files, " +
          s"$rgOpened of $rgTotal row groups")
      }
      time("lake stream drain (10M rows, 8 appends + optimize)") {
        // the graft-lake streaming source at scale: 8 appends with a
        // compaction in the middle; one AvailableNow drain must emit
        // exactly the 10M appended rows (the rewrite emits nothing),
        // through version offsets in the checkpoint
        val root = java.nio.file.Files
          .createTempDirectory("graft_stress_stream").toString
        val dir = root + "/t"
        (0 until 4).foreach(i => graft.operators.TableLog.append(
          spark.range(i * 1250000L, (i + 1) * 1250000L)
            .select(col("id"), (col("id") * 7L).as("v")), dir))
        graft.operators.TableLog.optimize(spark, dir)
        (4 until 8).foreach(i => graft.operators.TableLog.append(
          spark.range(i * 1250000L, (i + 1) * 1250000L)
            .select(col("id"), (col("id") * 7L).as("v")), dir))
        val q = spark.readStream.format("graft-lake").load(dir)
          .writeStream.format("parquet").option("path", root + "/sink")
          .option("checkpointLocation", root + "/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val drained = spark.read.parquet(root + "/sink")
        require(drained.count() == 10000000L, "drain must be exact")
        require(drained.agg(sum(col("id"))).head().getLong(0)
          == 10000000L * 9999999L / 2)
      }
      time("declarative readWhere (10M rows: range + equality routing)") {
        // LakeSelect at scale: the same sorted table answered through
        // predicate TEXT — the range routes to the row-group path, the
        // equality (no bloom here) to the IN-prune path; both exact
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_ls").toString + "/t"
        graft.operators.TableLog.append(
          spark.range(10000000L).select(col("id").as("k"),
              (col("id") % 9973L).as("v"))
            .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
          dir, options = rgOpts)
        val (r1, s1) = graft.operators.LakeSelect.readWhere(spark, dir,
          "k BETWEEN 7000000 AND 7100000 AND v % 2 = 0")
        require(s1.strategy == "rowgroup_range" && s1.rgOpened * 10
          < s1.rgTotal, s"range routing: $s1")
        val n1 = r1.count()
        require(n1 > 0 && n1 < 100001L, s"filtered count $n1")
        val (r2, s2) = graft.operators.LakeSelect.readWhere(spark, dir,
          "k = 9999999")
        require(s2.strategy == "rowgroup_in" && s2.rgOpened * 10
          < s2.rgTotal, s"eq routing: $s2")
        require(r2.count() == 1L)
        println(s"    range ${s1.rgOpened}/${s1.rgTotal} rgs, " +
          s"eq ${s2.rgOpened}/${s2.rgTotal} rgs")
      }
    }

    if (sec("r13")) {
      val rgOpts = Map("parquet.block.size" -> "262144",
        "parquet.page.size" -> "65536")
      time("persisted rg-index (40 files, 10M rows, 0-footer plans)") {
        // the round-13 sidecar contract at file-count scale: 40 appended
        // files, ONE computeRowGroupIndex, then declarative reads and
        // metadata counts must plan with ZERO index footer opens and
        // stay exact — through an OPTIMIZE rewrite (auto top-up) too
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_rgidx").toString + "/t"
        (0 until 40).foreach(i => graft.operators.TableLog.append(
          spark.range(i * 250000L, (i + 1) * 250000L)
            .select(col("id").as("k"), (col("id") * 3L).as("v"))
            .coalesce(1), dir, options = rgOpts))
        graft.operators.TableLog.computeRowGroupIndex(spark, dir)
        def opens[T](f: => T): (T, Long) = {
          val b = graft.operators.RowGroupScan.indexFooterOpens.sum()
          val r = f
          (r, graft.operators.RowGroupScan.indexFooterOpens.sum() - b)
        }
        val ((r1, s1), o1) = opens(graft.operators.LakeSelect.readWhere(
          spark, dir, "k BETWEEN 5000000 AND 5001000"))
        require(o1 == 0L, s"sidecar-served read opened $o1 footers")
        require(s1.rgOpened * 10 < s1.rgTotal && r1.count() == 1001L,
          s"$s1")
        val ((cnt, cs), o2) = opens(graft.operators.LakeSelect
          .countWhere(spark, dir, "k >= 2500000"))
        require(o2 == 0L && cnt == 7500000L && cs.exact,
          s"meta count: $cnt, $cs, opens $o2")
        require(cs.scannedRgs <= 1L,
          s"aligned count must not scan: ${cs.scannedRgs}")
        graft.operators.TableLog.optimize(spark, dir,
          maxRows = 2500000L, clusterBy = Seq("k"))
        val ((r3, s3), o3) = opens(graft.operators.LakeSelect.readWhere(
          spark, dir, "k BETWEEN 5000000 AND 5001000"))
        require(o3 == 0L,
          s"post-OPTIMIZE read opened $o3 footers (top-up broken)")
        require(r3.count() == 1001L && s3.rgOpened < s3.rgTotal, s"$s3")
        println(s"    pre-opt ${s1.rgOpened}/${s1.rgTotal} rgs, " +
          s"post-opt ${s3.rgOpened}/${s3.rgTotal} rgs, 0 footer opens")
      }
    }

    if (sec("r14")) {
      time("page pruning (10M rows, 1M-row groups, 64K pages)") {
        // page-level pruning at scale: WIDE row groups (the production
        // shape where row-group skipping alone is coarse) — a 1000-key
        // slice must decode a small fraction of the kept group's rows,
        // positions staying DV-exact. Decoded rows are the scan tasks'
        // input records.
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_page").toString + "/t"
        graft.operators.TableLog.append(
          spark.range(10000000L)
            .select(col("id").as("k"), (col("id") * 3L).as("v"))
            .coalesce(4),
          dir, options = Map("parquet.block.size" -> (256 << 20).toString,
            "parquet.page.size" -> "65536"))
        def decoded[T](f: => T): (T, Long) = {
          val (r, c) = Harness.probe(spark)(f)
          (r, c.recordsRead)
        }
        val ((n1, st1), read1) = decoded {
          val (df, st) = graft.operators.LakeSelect.readWhere(spark, dir,
            "k BETWEEN 5000000 AND 5000999")
          (df.count(), st)
        }
        require(n1 == 1000L, s"page-pruned slice: $n1")
        // the fixture's row groups hold equal shares of the 10M rows
        val total = 10000000L * st1.rgOpened / st1.rgTotal
        require(st1.rgOpened > 0L && read1 * 10 < total,
          s"pages must skip >=90%: decoded $read1 of $total")
        graft.operators.TableLog.deleteVectored(spark, dir,
          "k IN (5000010, 5000020)")
        val (agg, read2) = decoded {
          graft.operators.LakeSelect.readWhere(spark, dir,
            "k BETWEEN 5000000 AND 5000999")._1
            .agg(count(lit(1)), sum("k")).first()
        }
        require(agg.getLong(0) == 998L &&
          agg.getLong(1) ==
            (5000000L to 5000999L).sum - 5000010L - 5000020L,
          s"DV under page filter at scale: $agg")
        require(read2 < total,
          s"post-DV read lost the page filter: decoded $read2 of $total")
        val skipped = total - read1
        println(f"    skipped $skipped of $total rows' decode " +
          f"(${skipped * 100.0 / total}%.1f%%), DV-exact")
      }
      time("partition routing (10M rows, 16 partitions)") {
        // round-14 partition-tag elimination at scale: a conjunct on
        // the partition column drops 15/16 of the files before any
        // index math; the metadata count stays partition-exact
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_part").toString + "/t"
        graft.operators.TableLog.appendPartitioned(
          spark.range(10000000L).select(col("id").as("k"),
            (col("id") % 16L).as("bucket")),
          dir, "bucket")
        val (g, st) = graft.operators.LakeSelect.readWhere(spark, dir,
          "bucket = 7 AND k >= 0")
        require(g.count() == 625000L, "partition slice count")
        require(st.filesOpened * 4 <= st.filesTotal,
          s"files must drop before index math: $st")
        val (n, cs) = graft.operators.LakeSelect.countWhere(spark, dir,
          "bucket = 7")
        require(n == 625000L && cs.exact, s"partition count: $n, $cs")
        println(s"    ${st.filesOpened}/${st.filesTotal} files opened, " +
          s"count exact with ${cs.scannedRgs} straddlers")
      }
      time("driver-planned repeated reads (20 readWhere, one version)") {
        // round-14 planning memo: after the first read of a version,
        // 19 more declarative reads plan from driver-resident rows —
        // zero footer opens, sub-linear total time vs 20 cold plans
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_memo").toString + "/t"
        graft.operators.TableLog.append(
          spark.range(10000000L)
            .select(col("id").as("k"), (col("id") * 3L).as("v"))
            .coalesce(8),
          dir, options = Map("parquet.block.size" -> "1048576",
            "parquet.page.size" -> "65536"))
        val warm = graft.operators.LakeSelect.readWhere(spark, dir,
          "k BETWEEN 0 AND 999")._1.count() // builds + memoizes
        val b = graft.operators.RowGroupScan.indexFooterOpens.sum()
        var rows = 0L
        (1 to 19).foreach { i =>
          val lo = i * 500000L
          rows += graft.operators.LakeSelect.readWhere(spark, dir,
            s"k BETWEEN $lo AND ${lo + 999}")._1.count()
        }
        val opens =
          graft.operators.RowGroupScan.indexFooterOpens.sum() - b
        require(warm == 1000L && rows == 19000L, s"$warm/$rows")
        require(opens == 0L,
          s"memoized reads re-opened $opens footers")
        println(s"    19 memo-planned reads, 0 footer opens")
      }
    }

    if (sec("r15")) {
      time("checkpointed log (50k files, 200 commits)") {
        // round-15 delta-log scaling: a ~50k-file table takes 200
        // single-file appends. Per-commit log bytes must be O(changes
        // since the last checkpoint), never O(table), and any snapshot
        // must resolve from at most TWO log reads (entry + base
        // checkpoint). Data files are hard links of one real parquet
        // file: the log layer never reads data, but every listed path
        // stays a genuine stat-able file (vacuum lists them).
        import graft.operators.TableLog
        val root = java.nio.file.Files
          .createTempDirectory("graft_stress_log").toString + "/t"
        TableLog.append(
          spark.range(1000L).select(col("id").as("k")).coalesce(1), root)
        val real = java.nio.file.Paths.get(root)
          .resolve(TableLog.snapshot(root).files.head)
        def link(rel: String): String = {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(root).resolve(rel), real)
          rel
        }
        val pads = (0 until 49999)
          .map(i => link(f"data/v00002-pad$i%05d.parquet"))
        TableLog.commit(root, TableLog.snapshot(root).files ++ pads,
          expectedVersion = 2, op = "pad")
        require(TableLog.snapshot(root).files.size == 50000)
        val t0 = System.nanoTime()
        (3 to 202).foreach { v =>
          val prev = TableLog.snapshot(root)
          val rel = link(f"data/v$v%05d-one.parquet")
          TableLog.commit(root, prev.files :+ rel,
            expectedVersion = v, op = "append")
        }
        val commitSec = (System.nanoTime() - t0) / 1e9
        val ld = java.nio.file.Paths.get(root, "_graft_log")
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        def entry(v: Int) = {
          val p = ld.resolve(f"v$v%05d.json")
          val bytes = java.nio.file.Files.readAllBytes(p)
          // big entries are gzipped on disk (magic-detected)
          val body =
            if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
                (bytes(1) & 0xff) == 0x8b) {
              val in = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try in.readAllBytes() finally in.close()
            } else bytes
          (java.nio.file.Files.size(p), om.readTree(body))
        }
        // steady state (past the startup interval, whose cumulative
        // deltas ride the tiny v1 base): deltas must be a vanishing
        // fraction of the checkpoints they ride on
        val steady = (18 to 202).map(entry)
        val deltaSizes = steady.filter(_._2.has("base")).map(_._1)
        val ckptSizes = steady.filterNot(_._2.has("base")).map(_._1)
        require(deltaSizes.nonEmpty && ckptSizes.nonEmpty,
          s"expected both forms: ${deltaSizes.size}/${ckptSizes.size}")
        require(deltaSizes.max < 2048,
          s"delta entries not O(commit): max ${deltaSizes.max} B " +
            "for single-file appends")
        require(deltaSizes.max * 20 < ckptSizes.min,
          s"delta entries not O(commit): max delta ${deltaSizes.max} " +
            s"vs min checkpoint ${ckptSizes.min} (gzipped)")
        // any snapshot = at most 2 log reads: head delta → full base
        val (_, head) = entry(202)
        require(head.has("base"), "head should be mid-interval")
        val (_, headBase) = entry(head.get("base").asInt())
        require(headBase.has("files") && !headBase.has("base"),
          "delta's base is not a full checkpoint")
        // bytes written across 200 commits vs the O(table) encoding
        val written = (3 to 202).map(entry(_)._1).sum
        val naive = ckptSizes.min * 200L
        require(written * 2 < naive,
          s"log bytes not sublinear: $written vs O(table) $naive")
        // time travel + vacuum on the 50k-file state
        require(TableLog.read(spark, root, 1).count() == 1000L)
        require(TableLog.snapshot(root, 150).files.size == 50148)
        TableLog.vacuum(root, keepFrom = 190, graceMs = 0L)
        require(TableLog.snapshot(root, 190).files.size == 50188,
          "post-vacuum rescue read wrong")
        require(TableLog.snapshot(root, 202).files.size == 50200)
        println(f"    200 commits in $commitSec%.2f s, " +
          f"log bytes $written%,d vs O(table) $naive%,d " +
          f"(${naive.toDouble / written}%.0fx), " +
          f"max delta ${deltaSizes.max}%,d B vs checkpoint " +
          f"${ckptSizes.min}%,d B")
      }
    }

    if (sec("r15c")) {
      time("FP+decimal routing (10M rows)") {
        // round-15 numeric-family routing at scale: a 10M-row table
        // with double and decimal measure columns, range predicates
        // must prune >=90% of row groups on the new dmin/dmax and
        // unscaled-int stats, with NaN rows surviving every
        // NaN-matching probe
        import graft.operators.{LakeSelect, TableLog}
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_fp").toString + "/t"
        TableLog.append(
          spark.range(10000000L).selectExpr("id as k",
            "cast(id as double) / 100.0 as price",
            "cast(concat(cast(id as string), '.25') as decimal(18,2)) " +
              "as price_dec")
            .unionByName(spark.sql(
              "SELECT 20000000L as k, double('NaN') as price, " +
                "cast(1.25 as decimal(18,2)) as price_dec"))
            .sortWithinPartitions("k")
            .coalesce(8),
          dir, options = Map("parquet.block.size" -> "1048576",
            "parquet.page.size" -> "65536"))
        TableLog.computeRowGroupIndex(spark, dir)
        val (d1, s1) = LakeSelect.readWhere(spark, dir,
          "price >= 50000.0 and price < 50010.005")
        require(d1.count() == 1001L, s"double slice: ${d1.count()}")
        require(s1.rgOpened * 10 <= s1.rgTotal,
          s"double range must prune >=90%: $s1")
        val (d2, s2) = LakeSelect.readWhere(spark, dir,
          "price_dec >= 5000000.25 and price_dec <= 5000999.25")
        require(d2.count() == 1000L, s"decimal slice: ${d2.count()}")
        require(s2.rgOpened * 10 <= s2.rgTotal,
          s"decimal range must prune >=90%: $s2")
        // the NaN row matches a NaN-greatest probe and must survive
        val (d3, _) = LakeSelect.readWhere(spark, dir,
          "price > 99999.99")
        require(d3.filter(col("k") === 20000000L).count() == 1L,
          "NaN row pruned away at scale")
        val (nMeta, cs) = LakeSelect.countWhere(spark, dir,
          "price < 50000.0")
        require(nMeta == 5000000L && !cs.exact,
          s"FP count: $nMeta $cs")
        println(f"    double ${s1.rgOpened}/${s1.rgTotal} rgs, " +
          f"decimal ${s2.rgOpened}/${s2.rgTotal} rgs, NaN exact")
      }
    }

    if (sec("r15b")) {
      time("sidecar compaction (80 commits -> 1 sidecar each)") {
        // round-15 stats-compaction scaling: 80 appends to a bloom- and
        // rg-indexed table auto-top-up one sidecar PER COMMIT per
        // family, so first-plan cost is an 80-legged union. Compaction
        // must collapse both families to ONE sidecar, keep results
        // bit-identical, and keep planning footer-free.
        import graft.operators.{LakeSelect, RowGroupScan, TableLog}
        val dir = java.nio.file.Files
          .createTempDirectory("graft_stress_cmp").toString + "/t"
        // this stage measures the UNCOMPACTED cliff — hold off the
        // appenders' automatic consolidation until the manual calls
        val thr0 = TableLog.autoCompactThreshold
        TableLog.autoCompactThreshold = Int.MaxValue
        try {
        TableLog.append(spark.range(1000L)
          .select(col("id").as("k"), (col("id") * 3L).as("v"))
          .coalesce(1), dir)
        TableLog.computeRowGroupIndex(spark, dir)
        TableLog.computeBlooms(spark, dir, "k")
        val tA = System.nanoTime()
        (1 until 80).foreach { i =>
          TableLog.append(spark.range(i * 1000L, (i + 1) * 1000L)
            .select(col("id").as("k"), (col("id") * 3L).as("v"))
            .coalesce(1), dir)
        }
        val appendSec = (System.nanoTime() - tA) / 1e9
        val snap0 = TableLog.snapshot(dir)
        val preRg = snap0.files.flatMap(snap0.rgidx.get).distinct.size
        val preBl = snap0.files.flatMap(snap0.blooms.get).distinct.size
        require(preRg >= 80 && preBl >= 80,
          s"expected one sidecar per commit: rg=$preRg bloom=$preBl")
        def firstPlanMs(): (Long, Double) = {
          val t0 = System.nanoTime()
          val (df, _) = LakeSelect.readWhere(spark, dir, "k = 40123")
          val n = df.count()
          (n, (System.nanoTime() - t0) / 1e6)
        }
        val (n1, ms1) = firstPlanMs() // unions preRg/preBl sidecars
        require(n1 == 1L, s"pre-compaction lookup: $n1")
        TableLog.compactRowGroupIndex(spark, dir)
        TableLog.compactBloomIndex(spark, dir)
        val snap1 = TableLog.snapshot(dir)
        require(snap1.files.flatMap(snap1.rgidx.get).distinct.size == 1,
          "rg-index not compacted")
        require(snap1.files.flatMap(snap1.blooms.get).distinct.size == 1,
          "bloom index not compacted")
        val fo0 = RowGroupScan.indexFooterOpens.sum()
        val (n2, ms2) = firstPlanMs() // fresh version: one sidecar each
        require(n2 == 1L, s"post-compaction lookup: $n2")
        require(RowGroupScan.indexFooterOpens.sum() == fo0,
          "post-compaction planning opened footers")
        val (cnt, cs) = LakeSelect.countWhere(spark, dir, "k < 40000")
        require(cnt == 40000L && cs.exact, s"$cnt $cs")
        println(f"    80 auto-indexed appends in $appendSec%.1f s; " +
          f"first plan $ms1%.0f ms over $preRg+$preBl sidecars -> " +
          f"$ms2%.0f ms over 1+1")
        } finally TableLog.autoCompactThreshold = thr0
      }
    }

    val sentinelPost = Bench.sentinelMtMs()
    val total = results.values.sum
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"stress_total","value":$total,"unit":"sec","nDocs":$nDocs,"nVecs":$nVecs,"sentinel_mt_pre_ms":$sentinelPre,"sentinel_mt_post_ms":$sentinelPost,"stages":$qs}""")
    spark.stop()
  }
}

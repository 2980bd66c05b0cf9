package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A minimal versioned table log — the transaction-log core of the
  * Delta/Iceberg table formats, reduced to what a single-writer pipeline
  * needs: atomic version commits, snapshot-isolated reads, time travel,
  * compaction, deletion vectors (merge-on-read DELETE), and vacuum.
  * Pairs with [[Changelog]]: CDC apply produces the new file set, the
  * log makes it visible atomically.
  *
  * Layout under the table root:
  * {{{
  *   data/v00001-part-*.parquet     -- immutable data files
  *   _graft_log/v00001.json         -- {"version":1,"files":[...],
  *                                  --  "parts":{file:partValue},
  *                                  --  "txn":{txnId:batchId}}
  * }}}
  * Log entries come in two forms, invisible to writers and readers
  * (both always see complete [[Snapshot]] state): FULL checkpoints
  * listing the complete file set, and DELTA entries carrying
  * `"base":B` plus the CUMULATIVE add/remove/sidecar diff against
  * checkpoint B — so per-commit log bytes are O(changes since the
  * last checkpoint), never O(table), and any snapshot resolves in at
  * most two log reads (entry + base). A checkpoint is written every
  * [[CheckpointInterval]] commits, or whenever the cumulative churn
  * outgrows the full list (overwrites checkpoint naturally).
  * `parts` tags data files with the partition value they hold (set by
  * [[appendPartitioned]]) so CDC apply can rewrite only touched
  * partitions; `txn` carries the highest applied batch id per writer
  * stream (set by [[appendExactlyOnce]]) so a replayed streaming batch
  * is recognized and skipped — both are carried forward commit to
  * commit, so ONE json read answers both questions.
  *
  * Concurrency: a commit stages its JSON and publishes it with an atomic
  * hard-link to `v{N}.json`; two writers racing to the same N — one wins,
  * the loser gets a loud conflict (optimistic concurrency, the Delta
  * protocol's essence). [[append]]/[[overwrite]] plan their version FIRST
  * and pass it through as `expectedVersion`, so a racer landing between
  * their snapshot read and publish triggers the conflict instead of a
  * silent lost update. Readers resolve a version by reading ONE json —
  * never by listing data files, so stale/orphaned files are invisible
  * until vacuumed.
  *
  * Scale: log entries are driver-side metadata (one small JSON per
  * commit); data reads/writes stay fully distributed. Local-fs renames —
  * object stores swap via conditional PUT, same logic. */
object TableLog {

  final case class Snapshot(version: Int, files: Seq[String],
      parts: Map[String, String] = Map.empty,
      txn: Map[String, Long] = Map.empty,
      op: String = "write", ts: Long = 0L,
      dvs: Map[String, String] = Map.empty,
      bloomCol: Option[String] = None,
      blooms: Map[String, String] = Map.empty,
      checks: Map[String, String] = Map.empty,
      rgidx: Map[String, String] = Map.empty,
      partCol: Option[String] = None,
      // persisted IVF vector index (Similarity.buildIvfIndex): data
      // file → assignment sidecar under stats/, plus the reserved key
      // "codebook" → the centroid sidecar and, for a PQ-enabled index,
      // "pqbook" → the product-quantizer codebook sidecar (reserved
      // keys can never collide with a data path — those live under
      // data/). `vecCol` = "embeddingCol,idCol" of the indexed columns.
      vecidx: Map[String, String] = Map.empty,
      vecCol: Option[String] = None)

  /** Thrown by [[commit]] on the optimistic version race — the ONLY
    * conflict the rebase loops retry. TRUE conflicts (a rewrite's input
    * files gone, a restore target vacuumed) raise plain
    * IllegalStateException/IllegalArgumentException and propagate.
    * Subclasses IllegalStateException so callers' existing catch
    * contracts are unchanged. */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  private def logDir(dir: String) = Paths.get(dir, "_graft_log")
  private def vJson(v: Int) = f"v$v%05d.json"
  // rescue checkpoint vacuum writes when it drops a delta entry's base
  // (full state AT v, same schema as a checkpoint vJson)
  private def cJson(v: Int) = f"c$v%05d.json"

  /** Commits between full checkpoints. Delta entries carry the
    * CUMULATIVE add/remove vs their base checkpoint (not vs v−1), so
    * resolving ANY snapshot costs at most TWO log reads — entry + base —
    * never a replay of the interval. Per-commit log bytes are
    * O(changes since last checkpoint), not O(table): the last
    * O(table-size) cost on the write path (Delta's checkpointed-delta
    * manifest model). 16 balances commit size (a busy streaming sink
    * accumulates ≤16 micro-batches of adds per entry) against
    * checkpoint frequency (one full rewrite per 16 commits). */
  private val CheckpointInterval = 16

  // Advisory head hint (the Delta `_last_checkpoint` idea): every
  // publish overwrites `_graft_log/_head` with its version, so a read
  // resolves the head with ONE small read + a short forward probe
  // instead of LISTING the whole log directory — the O(retained
  // versions) listing is the dominant metadata cost on object stores
  // once a table accumulates 10⁵+ commits between vacuums. The hint is
  // ADVISORY: last-writer-wins races can leave it low (the probe walks
  // forward over the dense versions managed writers always produce),
  // and a missing/garbled/vacuumed hint falls back to the full
  // listing. The one shape the fast path does not see through is a
  // crashed RAW commit that jumped versions (explicit expectedVersion
  // far above head) and died between publishing its json and writing
  // the hint — managed writers never jump, so their crash window is a
  // hint exactly one behind, which the probe covers.
  private def headHint(dir: String) = logDir(dir).resolve("_head")

  private def writeHeadHint(dir: String, v: Int): Unit =
    try {
      val ld = logDir(dir)
      val tmp = Files.createTempFile(ld, ".tmp-head-", "")
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, headHint(dir), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Exception => () } // best-effort, readers fall back

  /** Latest committed version; 0 = empty table (no commits). */
  def currentVersion(dir: String): Int = {
    val ld = logDir(dir)
    if (!Files.exists(ld)) return 0
    val hinted =
      try {
        val h = headHint(dir)
        if (!Files.exists(h)) -1
        else new String(Files.readAllBytes(h), "UTF-8").trim.toInt
      } catch { case _: Exception => -1 }
    if (hinted >= 1 && Files.exists(ld.resolve(vJson(hinted)))) {
      // probe past commits the hint hasn't caught up to (racers,
      // crash-before-hint): managed writers commit densely, so the
      // gap is the number of in-flight writers, not the table age
      var v = hinted
      while (Files.exists(ld.resolve(vJson(v + 1)))) v += 1
      v
    } else {
      // v\d{5,}, NOT v\d{5}: %05d is a MINIMUM width, so version
      // 100000 prints six digits — a fixed-width parse would make
      // v100000.json invisible (readers pin to v99999, committers
      // loop on conflict, and vacuum sweeps the live v100000 data
      // files as unreferenced). Parse by delimiter, not substring.
      val s = Files.list(ld)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d{5,}\\.json"))
        .map(n => n.substring(1, n.length - 5).toInt)
        .foldLeft(0)(math.max)
      finally s.close()
    }
  }

  private type JNode = com.fasterxml.jackson.databind.JsonNode

  // Entries above this many raw bytes are written gzipped (filename
  // unchanged; readers detect the 0x1f8b magic). A checkpoint's file
  // list is highly repetitive path text — gzip cuts the big-table
  // checkpoint, the one remaining O(table) byte cost, ~10-30x; small
  // entries stay raw for zero-cost reads and debuggability.
  private val GzipThreshold = 262144

  private def entryBytes(json: String): Array[Byte] = {
    val raw = json.getBytes("UTF-8")
    if (raw.length <= GzipThreshold) raw
    else {
      val bos = new java.io.ByteArrayOutputStream(raw.length / 8)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    }
  }

  private def readNode(p: java.nio.file.Path): JNode = {
    val bytes = Files.readAllBytes(p)
    val body =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
          (bytes(1) & 0xff) == 0x8b) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try in.readAllBytes() finally in.close()
      } else bytes
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
  }

  private def strMap(node: JNode, key: String): Map[String, String] =
    Option(node.get(key)).map { n =>
      n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])

  private def strSeq(node: JNode, key: String): Seq[String] =
    Option(node.get(key)).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq.empty[String])

  /** Build a Snapshot from a FULL (checkpoint) entry — one that lists
    * the complete file set. Delta entries go through [[applyDelta]]. */
  private def parseFull(node: JNode): Snapshot = {
    val files = strSeq(node, "files")
    val txn = Option(node.get("txn")).map { tn =>
      tn.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    Snapshot(node.get("version").asInt(), files,
      strMap(node, "parts"), txn,
      Option(node.get("op")).map(_.asText()).getOrElse("write"),
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
      strMap(node, "dvs"),
      Option(node.get("bloomcol")).map(_.asText()),
      strMap(node, "blooms"), strMap(node, "checks"),
      strMap(node, "rgidx"),
      Option(node.get("partcol")).map(_.asText()),
      strMap(node, "vecidx"),
      Option(node.get("veccol")).map(_.asText()))
  }

  /** Apply a delta entry's cumulative diff onto its base checkpoint.
    * Per-file maps (parts/dvs/blooms/rgidx) merge: keys of removed
    * files drop implicitly, `*_rm` lists drop entries whose file
    * survives, the named map overlays sets/changes. Writer-level state
    * (txn/checks/bloomcol/partcol/op/ts) is tiny and carried in FULL
    * in every entry, so it reads straight off the delta node. */
  private def applyDelta(base: Snapshot, node: JNode): Snapshot = {
    val add = strSeq(node, "add")
    val remove = strSeq(node, "remove").toSet
    def merge(bm: Map[String, String], key: String) =
      (bm -- remove -- strSeq(node, key + "_rm")) ++ strMap(node, key)
    val txn = Option(node.get("txn")).map { tn =>
      tn.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    Snapshot(node.get("version").asInt(),
      base.files.filterNot(remove) ++ add,
      merge(base.parts, "parts"), txn,
      Option(node.get("op")).map(_.asText()).getOrElse("write"),
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
      merge(base.dvs, "dvs"),
      Option(node.get("bloomcol")).map(_.asText()),
      merge(base.blooms, "blooms"), strMap(node, "checks"),
      merge(base.rgidx, "rgidx"),
      Option(node.get("partcol")).map(_.asText()),
      merge(base.vecidx, "vecidx"),
      Option(node.get("veccol")).map(_.asText()))
  }

  /** Driver memo of parsed FULL (checkpoint) entries: a published
    * entry is immutable, so (dir, version) → Snapshot is safe to
    * retain. Every snapshot/commit inside one checkpoint interval
    * re-resolves the same base checkpoint — the memo turns that
    * repeated O(table) JSON parse into a hit. Bounded by a global
    * file-entry budget (cleared wholesale past it, same discipline as
    * the planning memos). Callers still require the base file to
    * EXIST before consulting the memo, so a vacuumed base falls to
    * the rescue path exactly as a fresh JVM would. */
  private val fullEntryMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Snapshot]()
  private val fullEntryMemoBudgetFiles = 2000000L
  private def memoPutFull(dir: String, v: Int, s: Snapshot): Snapshot = {
    val held = fullEntryMemo.values.iterator.asScala
      .map(_.files.size.toLong).sum
    if (held + s.files.size > fullEntryMemoBudgetFiles)
      fullEntryMemo.clear()
    fullEntryMemo.put((dir, v), s)
    s
  }
  /** The base checkpoint `b`, memo-first, IF its entry still exists on
    * disk and is full; None otherwise. */
  private def fullEntryAt(dir: String, b: Int): Option[Snapshot] = {
    val bp = logDir(dir).resolve(vJson(b))
    if (!Files.exists(bp)) None
    else Option(fullEntryMemo.get((dir, b))).orElse {
      val bn = readNode(bp)
      if (bn.has("base")) None
      else Some(memoPutFull(dir, b, parseFull(bn)))
    }
  }

  /** The file set visible at `version` (time travel); latest if -1.
    * At most TWO log reads: the entry, plus — for a delta entry — its
    * base checkpoint (or the rescue checkpoint [[vacuum]] left when it
    * dropped the base). */
  def snapshot(dir: String, version: Int = -1): Snapshot = {
    val v = if (version == -1) currentVersion(dir) else version
    require(v >= 1, s"no committed version in $dir (asked $version)")
    val p = logDir(dir).resolve(vJson(v))
    require(Files.exists(p), s"version $v not found in $dir (vacuumed?)")
    Option(fullEntryMemo.get((dir, v))).getOrElse {
      val node = readNode(p)
      if (!node.has("base")) memoPutFull(dir, v, parseFull(node))
      else {
        val b = node.get("base").asInt()
        fullEntryAt(dir, b) match {
          case Some(base) => applyDelta(base, node)
          case None =>
            // vacuum dropped the base but left a self-contained rescue
            // checkpoint with the full state AT v
            val cp = logDir(dir).resolve(cJson(v))
            require(Files.exists(cp),
              s"version $v unresolvable in $dir: base checkpoint v$b " +
                "vacuumed and no rescue checkpoint")
            parseFull(readNode(cp))
        }
      }
    }
  }

  // escapes control chars too: a partition VALUE containing \n or \t
  // would otherwise write a log entry Jackson refuses to parse back —
  // bricking every later read of the table
  private def jsonStr(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def mapJson(key: String, m: Map[String, String]): String =
    if (m.isEmpty) ""
    else m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString(s""","$key":{""", ",", "}")

  private def arrJson(key: String, xs: Seq[String]): String =
    if (xs.isEmpty) "" else xs.map(jsonStr).mkString(
      s""","$key":[""", ",", "]")

  /** The writer-level fields every entry (full or delta) carries whole:
    * txn markers, check constraints, index/partition column names —
    * all O(writers + constraints), never O(files). */
  private def carriedJson(txn: Map[String, Long], op: String,
      bloomCol: Option[String], checks: Map[String, String],
      partCol: Option[String], vecCol: Option[String],
      ts: Long): String = {
    val txnJson =
      if (txn.isEmpty) ""
      else txn.toSeq.sortBy(_._1)
        .map { case (id, b) => s"${jsonStr(id)}:$b" }
        .mkString(""","txn":{""", ",", "}")
    txnJson +
      bloomCol.fold("")(c => s""","bloomcol":${jsonStr(c)}""") +
      mapJson("checks", checks) +
      partCol.fold("")(c => s""","partcol":${jsonStr(c)}""") +
      vecCol.fold("")(c => s""","veccol":${jsonStr(c)}""") +
      s""","op":${jsonStr(op)},"ts":$ts}"""
  }

  /** A full (checkpoint) entry: the complete state at `v`. Also the
    * format of vacuum's rescue checkpoints. */
  private def fullEntryJson(v: Int, files: Seq[String],
      parts: Map[String, String], txn: Map[String, Long], op: String,
      dvs: Map[String, String], bloomCol: Option[String],
      blooms: Map[String, String], checks: Map[String, String],
      rgidx: Map[String, String], partCol: Option[String],
      vecidx: Map[String, String], vecCol: Option[String],
      ts: Long): String =
    s"""{"version":$v,"files":[${files.map(jsonStr).mkString(",")}]""" +
      mapJson("parts", parts) + mapJson("dvs", dvs) +
      mapJson("blooms", blooms) + mapJson("rgidx", rgidx) +
      mapJson("vecidx", vecidx) +
      carriedJson(txn, op, bloomCol, checks, partCol, vecCol, ts)

  /** Stage + hard-link publish. createLink, not move: POSIX rename()
    * REPLACES an existing target (ATOMIC_MOVE included —
    * last-writer-wins, the wrong winner), while hard-link creation is
    * atomic AND fails with EEXIST — exactly the first-committer-wins
    * primitive optimistic concurrency needs. */
  private def publish(dir: String, v: Int, json: String): Int = {
    val ld = logDir(dir)
    val tmp = Files.createTempFile(ld, s".tmp-v$v-", ".json")
    Files.write(tmp, entryBytes(json))
    try {
      Files.createLink(ld.resolve(vJson(v)), tmp)
      Files.deleteIfExists(tmp)
      writeHeadHint(dir, v)
      v
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new CommitConflict(
          s"concurrent commit conflict on version $v of $dir")
    }
  }

  /** Publish `files` (relative paths) as the next version. Atomic:
    * stage + hard-link; a concurrent committer to the same version makes
    * exactly one winner and one loud conflict. `expectedVersion` is the
    * optimistic-concurrency handle: a writer that planned its commit
    * against version N−1 passes N and conflicts if someone else
    * published N first; -1 re-reads the log at publish time (only safe
    * when the file list was derived in the same instant — the managed
    * writers above never use it). `parts` and `txn` are the carried
    * metadata maps (see class doc). Returns the committed version.
    *
    * Callers always pass the COMPLETE desired state; the log encoding —
    * full checkpoint vs cumulative delta against the last checkpoint —
    * is decided here, invisibly to writers and readers. A delta is
    * written only when its base checkpoint is within
    * [[CheckpointInterval]] AND the cumulative file churn is smaller
    * than the full list (an overwrite therefore checkpoints
    * naturally). */
  def commit(dir: String, files: Seq[String],
      expectedVersion: Int = -1,
      parts: Map[String, String] = Map.empty,
      txn: Map[String, Long] = Map.empty,
      op: String = "write",
      dvs: Map[String, String] = Map.empty,
      bloomCol: Option[String] = None,
      blooms: Map[String, String] = Map.empty,
      checks: Map[String, String] = Map.empty,
      rgidx: Map[String, String] = Map.empty,
      partCol: Option[String] = None,
      vecidx: Map[String, String] = Map.empty,
      vecCol: Option[String] = None): Int = {
    val ld = logDir(dir)
    Files.createDirectories(ld)
    val v = if (expectedVersion > 0) expectedVersion
            else currentVersion(dir) + 1
    // resolve the previous entry's base checkpoint (v−1 itself when
    // full); None → this commit writes a checkpoint. A gap below v−1
    // (mocked version jumps, partial logs) also checkpoints.
    val base: Option[Snapshot] = {
      val pp = ld.resolve(vJson(v - 1))
      if (v == 1 || !Files.exists(pp)) None
      else {
        val prevNode = readNode(pp)
        val b = if (prevNode.has("base")) prevNode.get("base").asInt()
                else v - 1
        if (v - b >= CheckpointInterval) None
        else fullEntryAt(dir, b)
      }
    }
    val json = base match {
      case Some(bs) =>
        val baseSet = bs.files.toSet
        val newSet = files.toSet
        val add = files.filterNot(baseSet)
        val remove = bs.files.filterNot(newSet)
        if (add.size + remove.size >= files.size)
          fullEntryJson(v, files, parts, txn, op, dvs, bloomCol, blooms,
            checks, rgidx, partCol, vecidx, vecCol,
            System.currentTimeMillis())
        else {
          def diff(bm: Map[String, String], nm: Map[String, String],
              key: String): String = {
            val set = nm.filter { case (k, x) => !bm.get(k).contains(x) }
            val rm = (bm.keySet -- nm.keySet -- remove).toSeq.sorted
            mapJson(key, set) + arrJson(key + "_rm", rm)
          }
          s"""{"version":$v,"base":${bs.version}""" +
            arrJson("add", add) + arrJson("remove", remove) +
            diff(bs.parts, parts, "parts") + diff(bs.dvs, dvs, "dvs") +
            diff(bs.blooms, blooms, "blooms") +
            diff(bs.rgidx, rgidx, "rgidx") +
            diff(bs.vecidx, vecidx, "vecidx") +
            carriedJson(txn, op, bloomCol, checks, partCol, vecCol,
              System.currentTimeMillis())
        }
      case None =>
        fullEntryJson(v, files, parts, txn, op, dvs, bloomCol, blooms,
          checks, rgidx, partCol, vecidx, vecCol,
          System.currentTimeMillis())
    }
    publish(dir, v, json)
  }

  /** Bounded rebase-retry shared by every committing writer: re-plan
    * against the fresh head and re-run `attempt` until it commits (Some),
    * decides to skip (None), or exhausts `maxRetries`. ONLY the
    * optimistic [[CommitConflict]] retries (with jittered backoff);
    * anything else the attempt raises — including its own true-conflict
    * aborts — propagates immediately. */
  private def retryCommit(dir: String, maxRetries: Int)(
      attempt: (Snapshot, Int) => Option[Int]): Option[Int] = {
    var n = 0
    while (true) {
      val (prev, v) = planNext(dir)
      try return attempt(prev, v)
      catch {
        case e: CommitConflict =>
          n += 1
          if (n > maxRetries) throw e
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(1L, 5L * n))
      }
    }
    None // unreachable
  }

  /** Lake writes emit INT64 MICROS timestamps, not the INT96 default:
    * INT96 statistics are unusable (Binary), so timestamp predicates
    * could never prune; micros is also what Delta/Iceberg write. The
    * session conf is saved and restored around the write. */
  private def withMicrosTimestamps[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Write `df` as this version's new data files (staged, then moved
    * under `data/` with version-prefixed names) and return their
    * relative paths — not yet committed. */
  private def writeData(df: DataFrame, dir: String, v: Int,
      options: Map[String, String] = Map.empty): Seq[String] = {
    val checks = headChecks(dir)
    // a NON-DETERMINISTIC plan (rand(), non-deterministic UDF) could
    // pass a pre-write validation and then materialize DIFFERENT,
    // violating rows — for those, validate the STAGED files (the rows
    // that will actually commit) before anything moves into the table
    val postValidate = checks.nonEmpty && nonDeterministic(df)
    if (!postValidate) enforceChecks(df, checks, s"write into $dir")
    val staging = Files.createTempDirectory("graft_tablelog").toString
    withMicrosTimestamps(df.sparkSession) {
      options.foldLeft(df.write.mode("overwrite")) {
        case (w, (k, v0)) => w.option(k, v0)
      }.parquet(staging)
    }
    if (postValidate)
      enforceChecks(RowGroupScan.readNoInfer(df.sparkSession,
          Seq(staging)), checks,
        s"write into $dir")
    val dataDir = Paths.get(dir, "data")
    Files.createDirectories(dataDir)
    val s = Files.list(Paths.get(staging))
    try s.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val rel = f"data/v$v%05d-${p.getFileName.toString}"
        Files.move(p, Paths.get(dir).resolve(rel),
          StandardCopyOption.ATOMIC_MOVE)
        rel
      }.toSeq
    finally s.close()
  }

  /** Prior state to build the next commit on: (snapshot-or-empty,
    * planned version). The planned version is ALWAYS passed to commit as
    * `expectedVersion` so a racer conflicts loudly. */
  private def planNext(dir: String): (Snapshot, Int) = {
    val cur = currentVersion(dir)
    val snap = if (cur >= 1) snapshot(dir, cur) else Snapshot(0, Nil)
    (snap, cur + 1)
  }

  /** Rebase-retrying commit for APPEND-shaped writers. An append's new
    * files are disjoint from every other commit by construction (freshly
    * staged unique paths), so losing the optimistic race means only
    * "someone else advanced the head" — a NON-conflict: reload the head,
    * re-derive the file list on top of it, and retry (bounded, jittered
    * backoff), instead of aborting a commit that cannot actually
    * conflict. True write-write conflicts don't exist on this path;
    * [[overwrite]] and [[optimize]] (which CAN conflict) handle their
    * own semantics. `txnPut` re-checks the exactly-once batch marker
    * against each fresh head, so a racing replay still applies at most
    * once (None = marker already present, nothing committed). */
  private def commitAppendRebasing(dir: String, newFiles: Seq[String],
      newParts: Map[String, String], txnPut: Option[(String, Long)],
      maxRetries: Int, rgidxPut: Map[String, String] = Map.empty,
      partColPut: Option[String] = None,
      vecidxPut: Map[String, String] = Map.empty,
      bloomPut: Map[String, String] = Map.empty)
      : Option[Int] =
    retryCommit(dir, maxRetries) { (prev, v) =>
      if (txnPut.exists { case (id, b) => prev.txn.get(id).exists(_ >= b) })
        None
      else Some(commit(dir, prev.files ++ newFiles, expectedVersion = v,
        parts = prev.parts ++ newParts,
        txn = txnPut.fold(prev.txn)(prev.txn + _), op = "append",
        dvs = prev.dvs, bloomCol = prev.bloomCol,
        blooms = prev.blooms ++ bloomPut,
        checks = prev.checks, rgidx = prev.rgidx ++ rgidxPut,
        // two different partition columns in one table make the tag map
        // ambiguous — the routing metadata drops (pruning disabled,
        // never wrong) while the tags themselves stay for CDC rewrites
        partCol = (prev.partCol, partColPut) match {
          case (Some(a), Some(b)) if a != b => None
          case (a, b) => b.orElse(a)
        },
        vecidx = prev.vecidx ++ vecidxPut, vecCol = prev.vecCol))
    }

  /** Auto-maintenance of the persisted row-group index on the APPEND
    * family: once a table has opted in ([[computeRowGroupIndex]] left a
    * non-empty `rgidx`), every new file gets its footer stats staged into
    * a sidecar committed atomically with the data — one footer-only task
    * per new file, so declarative reads keep opening ZERO footers. */
  private def rgidxTopUp(spark: SparkSession, dir: String,
      prior: Snapshot, files: Seq[String], v: Int)
      : Map[String, String] =
    if (prior.rgidx.isEmpty || files.isEmpty) Map.empty
    else {
      val rel = stageRgIndexSidecar(spark, dir, files, v)
      files.map(_ -> rel).toMap
    }

  /** Auto-compaction threshold: after an append commits, if either
    * stats family's LIVE mapping spans more distinct sidecars than
    * this, the appender consolidates it (the checkpoint model the
    * delta log itself uses — the exactly-once streaming sink commits
    * per micro-batch and would otherwise grow one sidecar per batch
    * forever, reaching an 8,640-legged planning union per day at a
    * 10 s trigger). Amortized O(1/threshold) compactions per append;
    * a compaction failure never fails the append (stats stay correct,
    * just un-consolidated). Test-visible to exercise the trigger
    * cheaply. */
  @volatile private[graft] var autoCompactThreshold: Int = 64

  /** Fire-and-forget stats compaction after an append when a family's
    * distinct-sidecar count crossed [[autoCompactThreshold]]. */
  private def maybeCompactStats(spark: SparkSession, dir: String): Unit =
    try {
      val snap = snapshot(dir)
      def distinctOf(m: Map[String, String]): Int =
        snap.files.flatMap(m.get).distinct.size
      if (distinctOf(snap.rgidx) > autoCompactThreshold)
        compactRowGroupIndex(spark, dir)
      if (distinctOf(snap.blooms) > autoCompactThreshold)
        compactBloomIndex(spark, dir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the append already committed; stay loud but non-fatal
        System.err.println(
          s"[graft] auto stats compaction on $dir failed: ${e.getMessage}")
    }

  /** Auto-maintenance of the bloom index on the APPEND family: once a
    * table has opted in ([[computeBlooms]] left a `bloomCol`), every
    * new file's bitmap is staged and committed atomically with the
    * data — point lookups never silently decay to conservative keeps
    * on appended files (the same incremental cost a computeBlooms
    * re-run would pay, without the operational burden of remembering
    * to re-run it). An append whose files lack the indexed column
    * (schema evolution) stays unindexed — conservative, never wrong. */
  private def bloomTopUpAppend(spark: SparkSession, dir: String,
      prior: Snapshot, files: Seq[String], v: Int)
      : Map[String, String] =
    prior.bloomCol match {
      case Some(c) if files.nonEmpty =>
        val paths = files.map(f => Paths.get(dir).resolve(f).toString)
        if (!RowGroupScan.readNoInfer(spark, paths).schema.fieldNames
          .contains(c))
          Map.empty
        else {
          val rel = stageBloomSidecar(spark, dir, prior, c, files, v, 10)
          files.map(_ -> rel).toMap
        }
      case _ => Map.empty
    }

  /** Commit a freshly built IVF index (codebook + per-file assignment
    * sidecars) onto the CURRENT head, rebase-retried like the other
    * stats commits: entries keep only files still live at the head —
    * files appended mid-build stay uncovered (the query path assigns
    * them on the fly from the stored codebook), files rewritten
    * mid-build drop their stale entries. */
  private[operators] def retryIvfCommit(dir: String, maxRetries: Int,
      codebookRel: String, meta: String,
      asg: Map[String, String], pqRel: Option[String] = None): Int =
    retryCommit(dir, maxRetries) { (head, v) =>
      val headSet = head.files.toSet
      Some(commit(dir, head.files, expectedVersion = v,
        parts = head.parts, txn = head.txn, op = "ivf-index",
        dvs = head.dvs, bloomCol = head.bloomCol, blooms = head.blooms,
        checks = head.checks, rgidx = head.rgidx,
        partCol = head.partCol,
        vecidx = asg.filter { case (f, _) => headSet(f) } +
          ("codebook" -> codebookRel) ++
          pqRel.map("pqbook" -> _),
        vecCol = Some(meta)))
    }.get

  /** Rewriting commits (optimize / copy-on-write DML / CDC apply) keep
    * only the IVF entries whose data files survive, plus the reserved
    * codebook — dropped files' assignment sidecars become unreferenced
    * and vacuum sweeps them. */
  private[operators] def vecCarry(prior: Snapshot,
      files: Seq[String]): Map[String, String] = {
    if (prior.vecidx.isEmpty) prior.vecidx
    else {
      val fs = files.toSet
      prior.vecidx.filter { case (k, _) =>
        k == "codebook" || k == "pqbook" || fs(k) }
    }
  }

  /** Auto-maintenance of the persisted IVF index on the APPEND family
    * (mirrors [[rgidxTopUp]]): once [[Similarity.buildIvfIndex]] left a
    * codebook in the log, every appended file's rows are assigned to
    * their nearest stored centroid (map-only, ZERO training jobs) and
    * staged as an assignment sidecar committed atomically with the
    * data — so persisted-index queries keep covering the whole table. */
  private def vecidxTopUp(spark: SparkSession, dir: String,
      prior: Snapshot, files: Seq[String], v: Int)
      : Map[String, String] =
    if (files.isEmpty || !prior.vecidx.contains("codebook")) Map.empty
    else Similarity.stageIvfAssignments(spark, dir,
      prior.vecidx("codebook"), prior.vecCol.getOrElse(return Map.empty),
      files, v, prior.vecidx.get("pqbook"))

  // ===== deletion vectors (merge-on-read position deletes) =============
  //
  // Sidecar encoding: one parquet per DV commit under `dv/`, columns
  // (f: the data file's log-relative path, ridx: physical row index in
  // that file). A touched file's map entry always points at the sidecar
  // holding its FULL accumulated vector (each new DV delete rewrites the
  // touched files' unions), so a reader resolves one sidecar per file.
  // Sidecars are shared between files of one commit; a stale sidecar row
  // is either a subset of the file's current vector (vectors only grow)
  // or keyed to a basename that no longer exists (rewritten files get
  // fresh version-prefixed names) — both are no-ops in the anti-join.

  /** The (f, ridx) pairs of the given dv map's sidecars; None if no DVs. */
  private def dvPairs(spark: SparkSession, dir: String,
      dvs: Map[String, String]): Option[DataFrame] =
    if (dvs.isEmpty) None
    else {
      val paths = dvs.values.toSeq.distinct.sorted
        .map(p => Paths.get(dir).resolve(p).toString)
      // DVs are SELECTIVE by contract (bulk deletes take copy-on-write):
      // under the byte budget the position lists read on the driver into
      // a LocalRelation — the anti-join's broadcast then builds with no
      // scan job, and a DV'd read plans jobs-free like the stats reads
      val local: Option[DataFrame] =
        try {
          if (paths.map(p => Files.size(Paths.get(p))).sum >
              localSidecarMaxBytes) None
          else {
            val conf = spark.sparkContext.hadoopConfiguration
            val reads = paths.map(RowGroupScan.localParquetRows(_, conf))
            val schema = reads.head._2
            if (reads.forall(_._2 == schema)) {
              val all = reads.flatMap(_._1)
              Some(spark.createDataFrame(
                java.util.Arrays.asList(all: _*), schema))
            } else None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      Some(local.getOrElse(spark.read.parquet(paths: _*)))
    }

  /** Tag a parquet scan with its physical row identity — the join key
    * deletion vectors address rows by. */
  private def tagPhys(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__graft_fn", col("_metadata.file_name"))
      .withColumn("__graft_ridx", col("_metadata.row_index"))
  }

  /** Anti-join a tagged scan against the deletion vectors (tags kept). */
  private def antiDv(spark: SparkSession, dir: String, tagged: DataFrame,
      dvs: Map[String, String]): DataFrame =
    dvPairs(spark, dir, dvs) match {
      case None => tagged
      case Some(pairs) =>
        import org.apache.spark.sql.functions.{broadcast, col, element_at,
          split}
        val dv = pairs.select(
          element_at(split(col("f"), "/"), -1).as("__graft_dv_fn"),
          col("ridx").as("__graft_dv_ridx"))
        // broadcast by contract: DVs hold SELECTIVE deletes (the Delta
        // guidance — bulk deletes take the copy-on-write [[delete]]);
        // readers pay O(deleted), never a shuffle of the table
        tagged.join(broadcast(dv),
          col("__graft_fn") === col("__graft_dv_fn") &&
            col("__graft_ridx") === col("__graft_dv_ridx"), "left_anti")
    }

  /** The rows `snap`'s deletion vectors hide, read from the DV'd files
    * only — O(DV'd files), never a table scan; None when no file of the
    * snapshot carries a vector. Exactly the rows [[read]] drops. */
  private[operators] def readDeleted(spark: SparkSession, dir: String,
      snap: Snapshot): Option[DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    val dvFiles = snap.files.filter(snap.dvs.contains)
    val dvs = snap.dvs.filter { case (f, _) => dvFiles.contains(f) }
    dvPairs(spark, dir, dvs).map { pairs =>
      val abs = dvFiles.map(f => Paths.get(dir).resolve(f).toString)
      tagPhys(RowGroupScan.readNoInfer(spark, abs))
        .join(broadcast(dvKey(pairs)), Seq("__graft_fn", "__graft_ridx"),
          "left_semi")
        .drop("__graft_fn", "__graft_ridx")
    }
  }

  /** DV (f, ridx) pairs keyed like [[tagPhys]]'s tags: (basename, row). */
  private def dvKey(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{element_at, split}
    pairs.select(element_at(split(col("f"), "/"), -1).as("__graft_fn"),
      col("ridx").as("__graft_ridx"))
  }

  /** Apply `dvs` to a plain parquet scan of this table's files. */
  private[operators] def applyDv(spark: SparkSession, dir: String,
      df: DataFrame, dvs: Map[String, String]): DataFrame =
    if (dvs.isEmpty) df
    else antiDv(spark, dir, tagPhys(df), dvs)
      .drop("__graft_fn", "__graft_ridx")

  /** DELETE FROM ... WHERE `predicate` — merge-on-read (deletion
    * vectors, the Delta DV / Iceberg position-delete shape): NO data
    * file is rewritten. One distributed scan finds the matching rows'
    * physical positions, they land in a small sidecar under `dv/`, and
    * the new version maps each touched file to its vector — an O(change)
    * metadata commit where copy-on-write [[delete]] would rewrite every
    * touched GB. Readers anti-join the vectors; prior versions still
    * time-travel to the pre-delete state; [[optimize]] materializes the
    * vectors back into clean files. NULL-predicate rows survive (SQL
    * three-valued DELETE). Concurrent appends rebase through; a
    * concurrent rewrite of — or racing DV on — a touched file aborts
    * loudly. Returns (newVersion, rowsDeleted, filesWithNewDv,
    * filesTotal); a predicate matching nothing commits nothing. */
  def deleteVectored(spark: SparkSession, dir: String, predicate: String,
      maxRetries: Int = 20): (Int, Long, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    import spark.implicits._
    val snap = snapshot(dir)
    val byName = snap.files.map(f =>
      Paths.get(f).getFileName.toString -> f).toMap
    require(byName.size == snap.files.size,
      s"duplicate data-file basenames in $dir") // never true by naming
    // visible rows only: a row already in a DV can't be deleted twice
    val visible = antiDv(spark, dir,
      tagPhys(scanEvolved(spark, dir, snap, snap.files)), snap.dvs)
    val lookup = byName.toSeq.toDF("__graft_fn", "f")
    val matches = visible.filter(expr(predicate))
      .join(broadcast(lookup), "__graft_fn")
      .select(col("f"), col("__graft_ridx").as("ridx"))
      .persist() // counted once, then written — never scan twice
    try {
      // bounded: one row per TOUCHED file
      val perFile = matches.groupBy("f").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perFile.isEmpty) return (snap.version, 0L, 0, snap.files.size)
      val touched = perFile.keySet
      val nDel = perFile.values.sum
      // the touched files' FULL vectors: new positions + existing
      val existing = dvPairs(spark, dir,
        snap.dvs.filter { case (f, _) => touched(f) })
        .map(_.select("f", "ridx")
          .filter(col("f").isin(touched.toSeq: _*)))
      // distinct so a sidecar never persists duplicate positions (new
      // matches are visible rows, disjoint from the existing vector —
      // this is defense in depth for the metadata-count subtraction)
      val full = existing.fold(matches)(matches.unionByName(_)).distinct()
      val (_, v) = planNext(dir)
      val staging = Files.createTempDirectory("graft_dv").toString
      full.repartition(1).write.mode("overwrite").parquet(staging)
      Files.createDirectories(Paths.get(dir, "dv"))
      val s = Files.list(Paths.get(staging))
      val dvRel = try {
        val p = s.iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error("empty dv staging"))
        val rel = f"dv/v$v%05d-${p.getFileName.toString}"
        Files.move(p, Paths.get(dir).resolve(rel),
          StandardCopyOption.ATOMIC_MOVE)
        rel
      } finally s.close()
      val committed = retryCommit(dir, maxRetries) { (head, vNext) =>
        val headSet = head.files.toSet
        val gone = touched.filterNot(headSet)
        if (gone.nonEmpty) throw new IllegalStateException(
          s"delete-dv conflict on $dir: touched files rewritten by a " +
            s"concurrent commit (${gone.take(3).mkString(", ")})")
        val raced = touched.filter(f => head.dvs.get(f) != snap.dvs.get(f))
        if (raced.nonEmpty) throw new IllegalStateException(
          s"delete-dv conflict on $dir: concurrent deletion vectors on " +
            s"(${raced.take(3).mkString(", ")})")
        // blooms and the row-group index survive a DV delete: file bytes
        // are untouched (stats stay exact), and hiding rows can only ADD
        // false positives, never lose a row an index must find
        Some(commit(dir, head.files, expectedVersion = vNext,
          parts = head.parts, txn = head.txn, op = "delete-dv",
          dvs = head.dvs ++ touched.map(_ -> dvRel),
          bloomCol = head.bloomCol, blooms = head.blooms,
          checks = head.checks, rgidx = head.rgidx,
          partCol = head.partCol,
          // assignments stay byte-valid (files untouched); the query
          // path DV-filters candidate ids
          vecidx = head.vecidx, vecCol = head.vecCol))
      }
      (committed.get, nDel, touched.size, snap.files.size)
    } finally matches.unpersist()
  }

  /** Append `df` as a new version (previous files + the new ones). Data
    * is staged ONCE; a lost commit race rebases onto the new head and
    * retries — N concurrent appenders all succeed with N versions. */
  def append(df: DataFrame, dir: String, maxRetries: Int = 20,
      options: Map[String, String] = Map.empty): Int = {
    val (prev, v) = planNext(dir)
    val files = writeData(df, dir, v, options)
    val out = commitAppendRebasing(dir, files, Map.empty, None,
      maxRetries,
      rgidxTopUp(df.sparkSession, dir, prev, files, v),
      vecidxPut = vecidxTopUp(df.sparkSession, dir, prev, files, v),
      bloomPut = bloomTopUpAppend(df.sparkSession, dir, prev, files,
        v)).get
    maybeCompactStats(df.sparkSession, dir)
    out
  }

  /** Replace the table contents with `df` as a new version. Old files
    * stay on disk (still referenced by older versions) until [[vacuum]].
    * Deliberately NOT rebase-retried: an overwrite that lost a race to a
    * concurrent append cannot rebase without silently dropping that
    * append's rows — the loud first-committer-wins conflict is the
    * correct outcome (the Delta protocol's overwrite-vs-append rule). */
  def overwrite(df: DataFrame, dir: String): Int = {
    val (prev, v) = planNext(dir)
    val files = writeData(df, dir, v)
    commit(dir, files, expectedVersion = v, txn = prev.txn,
      op = "overwrite", checks = prev.checks,
      rgidx = rgidxTopUp(df.sparkSession, dir, prev, files, v))
  }

  /** Commit audit trail (DESCRIBE HISTORY): one row per retained version —
    * (version, op, n_files, ts). Driver-built from the log jsons (O(1)
    * metadata reads each, no data file touched). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val cur = currentVersion(dir)
    require(cur >= 1, s"no committed version in $dir")
    val rows = (1 to cur).flatMap { v =>
      if (Files.exists(logDir(dir).resolve(vJson(v)))) {
        val s = snapshot(dir, v)
        Some((s.version, s.op, s.files.size, s.ts))
      } else None // vacuumed
    }
    import spark.implicits._
    rows.toDF("version", "op", "n_files", "ts")
  }

  /** Timestamp time travel (VERSION AS OF a wall-clock instant): the
    * LATEST version whose commit ts is <= `tsMillis` (the Delta
    * contract — commits in the same millisecond resolve to the later
    * version). Loud error when the instant predates the table. */
  def versionAtTime(dir: String, tsMillis: Long): Int = {
    val cur = currentVersion(dir)
    require(cur >= 1, s"no committed version in $dir")
    val vs = (1 to cur).filter { v =>
      Files.exists(logDir(dir).resolve(vJson(v))) &&
        snapshot(dir, v).ts <= tsMillis
    }
    require(vs.nonEmpty,
      s"no version at or before ts $tsMillis in $dir (vacuumed or too early)")
    vs.max
  }

  /** Stage `df` split by `partCol` into `dir`/data as version `v`'s
    * files and return (relative path, partition value) pairs — NOT yet
    * committed. One distributed write job: the split rides a duplicated
    * shadow column through `partitionBy` (Spark drops the partitioning
    * column from data files — the shadow keeps the real column in every
    * file, so log-resolved reads keep the full schema). Null partition
    * values are rejected (they cannot round-trip through a changelog
    * `isin` filter). Shared by [[appendPartitioned]] and
    * [[Changelog.applyToLakeVersioned]] — the leaf parsing, Hive
    * unescaping, and file naming must stay identical between the two
    * write paths or they produce inconsistent lakes. */
  private[operators] def stagePartitioned(df: DataFrame, dir: String,
      v: Int, partCol: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    require(df.columns.contains(partCol), s"no column $partCol")
    val checks = headChecks(dir)
    val postValidate = checks.nonEmpty && nonDeterministic(df)
    if (!postValidate)
      enforceChecks(df, checks, s"partitioned write into $dir")
    val staging = Files.createTempDirectory("graft_tablelog_part")
    withMicrosTimestamps(df.sparkSession) {
      df.withColumn("__graft_part", col(partCol))
        .write.mode("overwrite").partitionBy("__graft_part")
        .parquet(staging.toString)
    }
    if (postValidate) // the data files carry the real column (shadow)
      enforceChecks(RowGroupScan.readNoInfer(df.sparkSession,
        Seq(staging.toString)),
        checks, s"partitioned write into $dir")
    Files.createDirectories(Paths.get(dir, "data"))
    val moved = Seq.newBuilder[(String, String)]
    val leaves = Files.list(staging)
    // leaf ORDINAL, not abs(value.hashCode): two partition values with
    // colliding hashes written by one job share the Spark part basename,
    // so a hash-keyed prefix made both leaves resolve to the SAME target
    // path — rename(2) silently replaced the first file (lost rows) and
    // the survivor entered the commit twice. Leaves sort by escaped name
    // so the ordinal is deterministic; the move still fails loudly if a
    // target somehow exists (rename would otherwise replace it silently).
    val leafDirs =
      try leaves.iterator.asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__graft_part="))
        .toSeq.sortBy(_.getFileName.toString)
      finally leaves.close()
    leafDirs.zipWithIndex.foreach { case (leaf, leafIdx) =>
      val escaped = leaf.getFileName.toString.stripPrefix("__graft_part=")
      require(escaped != "__HIVE_DEFAULT_PARTITION__",
        s"null $partCol value cannot be partition-tagged")
      val value = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(escaped)
      val fs = Files.list(leaf)
      try fs.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach { p =>
          val rel = f"data/v$v%05d-p$leafIdx%04d-${p.getFileName.toString}"
          val target = Paths.get(dir).resolve(rel)
          require(!Files.exists(target), s"staged-file collision: $rel")
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          moved += rel -> value
        }
      finally fs.close()
    }
    moved.result()
  }

  /** Write `df` split by `partCol` and append the files with partition
    * tags, so [[Changelog.applyToLakeVersioned]] can later rewrite only
    * touched partitions. */
  def appendPartitioned(df: DataFrame, dir: String, partCol: String,
      maxRetries: Int = 20): Int = {
    val (prev, v) = planNext(dir)
    val newFiles = stagePartitioned(df, dir, v, partCol)
    val ver = commitAppendRebasing(dir, newFiles.map(_._1),
      newFiles.toMap, None, maxRetries,
      rgidxTopUp(df.sparkSession, dir, prev, newFiles.map(_._1), v),
      partColPut = Some(partCol),
      vecidxPut = vecidxTopUp(df.sparkSession, dir, prev,
        newFiles.map(_._1), v),
      bloomPut = bloomTopUpAppend(df.sparkSession, dir, prev,
        newFiles.map(_._1), v)).get
    maybeCompactStats(df.sparkSession, dir)
    ver
  }

  /** Exactly-once append for a streaming writer (`foreachBatch`): the
    * highest batch id already applied for `txnId` rides the log, so a
    * REPLAYED batch (Structured Streaming re-runs the last batch after
    * recovery) is recognized and skipped — Some(version) on apply, None
    * on replay. A conflict with a DIFFERENT writer retries (bounded):
    * the batch-id check re-runs against the fresh snapshot each attempt,
    * so the at-most-once-per-batch guarantee holds under interleaving.
    * Orphaned data files from a lost race stay invisible (never
    * committed) until [[vacuum]] removes them. */
  def appendExactlyOnce(df: DataFrame, dir: String, txnId: String,
      batchId: Long, maxRetries: Int = 20): Option[Int] = {
    val (prev, v) = planNext(dir)
    if (prev.txn.get(txnId).exists(_ >= batchId)) return None
    // stage ONCE, then rebase-retry the metadata commit — the old
    // write-per-attempt loop re-ran the distributed job on every race
    val files = writeData(df, dir, v)
    val got = commitAppendRebasing(dir, files, Map.empty,
      Some(txnId -> batchId),
      maxRetries, rgidxTopUp(df.sparkSession, dir, prev, files, v),
      vecidxPut = vecidxTopUp(df.sparkSession, dir, prev, files, v),
      bloomPut = bloomTopUpAppend(df.sparkSession, dir, prev, files, v))
    if (got.isDefined) maybeCompactStats(df.sparkSession, dir)
    got
  }

  /** Exactly-once OVERWRITE for a derived-table writer (the refresh
    * counterpart of [[appendExactlyOnce]]): replaces the table contents
    * and records `batchId` under `txnId`; a replay (batchId already
    * recorded as applied) commits nothing and returns None. Like
    * [[overwrite]], a lost race is a loud conflict — a rebase could
    * silently clobber a concurrent writer's state. */
  def overwriteExactlyOnce(df: DataFrame, dir: String, txnId: String,
      batchId: Long): Option[Int] = {
    val (prev, v) = planNext(dir)
    if (prev.txn.get(txnId).exists(_ >= batchId)) return None
    val files = writeData(df, dir, v)
    Some(commit(dir, files, expectedVersion = v,
      txn = prev.txn + (txnId -> batchId), op = "overwrite",
      checks = prev.checks,
      rgidx = rgidxTopUp(df.sparkSession, dir, prev, files, v)))
  }

  /** Snapshot-isolated read at `version` (latest if -1): resolves the
    * file set from ONE log json, never from directory listing. */
  def read(spark: SparkSession, dir: String, version: Int = -1): DataFrame = {
    val snap = snapshot(dir, version)
    val abs = snap.files.map(f => Paths.get(dir).resolve(f).toString)
    // read()'s contract is a stable schema (readEvolved merges) — derive
    // it from one footer driver-side instead of Spark's inference job
    applyDv(spark, dir, RowGroupScan.readNoInfer(spark, abs), snap.dvs)
  }

  /** Snapshot read with schema evolution: per-file schemas are merged
    * (`mergeSchema`), so files appended before a column existed read it
    * back as NULL — the add-column evolution contract of the lakehouse
    * formats. Type evolution that `mergeSchema` refuses (int→bigint,
    * float→double, a decimal scale-up) reads in the snapshot's widened
    * union schema instead — the one the selective reads plan with — and
    * Spark's reader widens the older files; a type that cannot widen
    * still fails loudly. Costs a footer read per file at planning; use
    * [[read]] when the schema is known stable. */
  def readEvolved(spark: SparkSession, dir: String,
      version: Int = -1): DataFrame = {
    val snap = snapshot(dir, version)
    applyDv(spark, dir, scanEvolved(spark, dir, snap, snap.files),
      snap.dvs)
  }

  /** Plain parquet scan of `files` (log-relative) with per-file schemas
    * merged. When `mergeSchema` refuses a type evolution (int→bigint, a
    * decimal scale-up) the files read in `snap`'s widened union schema
    * instead, and Spark's reader widens the older files. Every evolved
    * read goes through here: [[readEvolved]], the DML scans, the change
    * feed and the bloom build. */
  private[graft] def scanEvolved(spark: SparkSession, dir: String, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    val abs = files.map(f => Paths.get(dir).resolve(f).toString)
    try spark.read.option("mergeSchema", "true").parquet(abs: _*)
    catch {
      case e: org.apache.spark.SparkException
          if e.getCondition == "CANNOT_MERGE_SCHEMAS" =>
        spark.read.schema(unionSchema(spark, dir, snap)).parquet(abs: _*)
    }
  }

  /** `snap`'s union schema over all its files: every column any file
    * holds, at its widest type. Answered from the memo or the row-group
    * index (driver-resident when the table has one). */
  private[graft] def unionSchema(spark: SparkSession, dir: String,
      snap: Snapshot): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    StructType(unionColsOf(spark, dir, snap).map { case (n, t) =>
      StructField(n, DataType.fromDDL(t)) })
  }

  /** `snap`'s union columns (name, type), from the memo or the
    * row-group index. */
  private def unionColsOf(spark: SparkSession, dir: String,
      snap: Snapshot): Seq[(String, String)] =
    Option(unionColsMemo.get((dir, snap.version)))
      .getOrElse(snapshotUnionCols(spark, dir, snap))

  /** Row-level change feed between two committed versions (the
    * `table_changes` / CDF read), derived purely from file-set diffs:
    * data files are immutable, so every row of a file present in `toV`
    * but not `fromV` is an insert, and every row of a file dropped
    * between them is a delete — an UPDATE surfaces as its delete+insert
    * pair. Reads ONLY touched files, never either snapshot: the cost is
    * proportional to the change, not the table (compaction rewrites
    * files without changing rows, so run [[changes]] across optimize
    * boundaries knowing the rewritten rows appear on both sides).
    * Output = table schema + `_change_type` ('insert' | 'delete'). */
  def changes(spark: SparkSession, dir: String,
      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(fromV >= 1 && toV >= fromV,
      s"need 1 <= fromV <= toV: $fromV, $toV")
    val a = snapshot(dir, fromV)
    val b = snapshot(dir, toV)
    val aSet = a.files.toSet
    val bSet = b.files.toSet
    val added = b.files.filterNot(aSet)
    val removed = a.files.filterNot(bSet)
    // evolved scans + allowMissingColumns: the touched files may
    // straddle an add-column or type-widening evolution (see
    // [[readEvolved]]) — files predating the column surface it as NULL
    // instead of dropping it or failing the union. Each side applies
    // ITS version's deletion vectors, so a row already DV-deleted at
    // fromV never re-surfaces as a CDF delete and a row
    // inserted-then-DV-deleted inside the window nets out.
    def readFiles(fs: Seq[String], tag: String,
        at: Snapshot): Option[DataFrame] =
      if (fs.isEmpty) None
      else {
        val fsSet = fs.toSet
        Some(applyDv(spark, dir, scanEvolved(spark, dir, at, fs),
          at.dvs.filter { case (f, _) => fsSet(f) })
          .withColumn("_change_type", lit(tag)))
      }
    // DV-only changes on files live at BOTH versions: positions added to
    // a vector are deletes; positions dropped (a restore past a DV
    // commit) are inserts. Pairs flow through except() — never the data.
    val common = b.files.filter(aSet).toSet
    val dvChanged = (a.dvs.keySet ++ b.dvs.keySet)
      .filter(f => common(f) && a.dvs.get(f) != b.dvs.get(f))
    def pairsAt(dvs: Map[String, String]): Option[DataFrame] =
      dvPairs(spark, dir,
        dvs.filter { case (f, _) => dvChanged(f) })
        .map(_.select("f", "ridx")
          .filter(col("f").isin(dvChanged.toSeq: _*)))
    def rowsFor(pairs: DataFrame, tag: String): Option[DataFrame] = {
      // bounded: one row per dv-changed file
      val fs = pairs.select("f").distinct().collect().map(_.getString(0))
      if (fs.isEmpty) None
      else {
        Some(tagPhys(scanEvolved(spark, dir, b, fs.toSeq))
          .join(broadcast(dvKey(pairs)), Seq("__graft_fn", "__graft_ridx"),
            "left_semi")
          .drop("__graft_fn", "__graft_ridx")
          .withColumn("_change_type", lit(tag)))
      }
    }
    val (dvDeletes, dvInserts) =
      if (dvChanged.isEmpty) (None, None)
      else (pairsAt(a.dvs), pairsAt(b.dvs)) match {
        case (None, None) => (None, None)
        case (ap, bp) => // except() on either side tolerates None
          val aP = ap.getOrElse(bp.get.limit(0))
          val bP = bp.getOrElse(ap.get.limit(0))
          (rowsFor(bP.except(aP), "delete"), rowsFor(aP.except(bP), "insert"))
      }
    val parts = Seq(readFiles(added, "insert", b), dvInserts,
      readFiles(removed, "delete", a), dvDeletes).flatten
    if (parts.isEmpty) // no file or vector changed: empty, table schema
      readEvolved(spark, dir, toV).limit(0)
        .withColumn("_change_type", lit("insert"))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One prunable conjunct for [[readRowGroupPrunedMulti]]. A
    * [[StrRange]] with `hiExcl` treats `hi` as EXCLUSIVE — the prefix
    * predicate shape (`substr(col, 1, 7) = 'p'` ⟺ `col >= 'p' AND
    * col < nextPrefix('p')`), which keeps prefix slices exactly
    * prunable AND exactly countable. */
  sealed trait RgConstraint { def column: String }
  final case class NumRange(column: String, lo: Option[Long],
      hi: Option[Long]) extends RgConstraint
  /** Range/IN probes on FLOAT/DOUBLE columns against the index's
    * `dmin`/`dmax` stats (normalized at extraction: -0.0 collapsed to
    * 0.0, NaN bounds dropped — a NaN max leaves the group unbounded
    * above, matching Spark's NaN-greatest order). Disproof only:
    * these never prove full containment (a writer may skip NaN when
    * folding FP stats, so bounded stats do not bound NaN rows), so
    * metadata counts always scan the straddlers. `lo` is always
    * inclusive — an exclusive lower bound keeps the boundary
    * (conservative) and the re-applied predicate trims it. */
  final case class DblRange(column: String, lo: Option[Double],
      hi: Option[Double], hiExcl: Boolean = false) extends RgConstraint
  final case class DblIn(column: String, values: Seq[Double])
    extends RgConstraint
  final case class NumIn(column: String, values: Seq[Long])
    extends RgConstraint
  final case class StrRange(column: String, lo: Option[String],
      hi: Option[String], hiExcl: Boolean = false) extends RgConstraint
  final case class StrIn(column: String, values: Seq[String])
    extends RgConstraint
  /** `col IS [NOT] NULL` — pruned (and exactly counted) from the
    * index's per-group null counts alone, any column type. */
  final case class NullCheck(column: String, isNull: Boolean)
    extends RgConstraint
  /** `col NOT IN (values…)` / `col != v`: disproves a CONSTANT group
    * whose single value is excluded (the clustered low-cardinality
    * shape — month/segment sorted tables have mostly-constant groups);
    * proves full when every excluded value lies outside [min, max] and
    * the group has no nulls. */
  final case class NumNotIn(column: String, values: Seq[Long])
    extends RgConstraint
  final case class StrNotIn(column: String, values: Seq[String])
    extends RgConstraint
  /** `upper(col) = 'X'` / `lower(col) IN (…)` on a string column:
    * `folded` holds the ASCII case-folded targets; a group is disproven
    * when NO case variant of any target (each char in either case, or
    * a non-ASCII character folding onto a run of it, like 'ı' onto 'I')
    * lies within its raw [smin, smax] (RowGroupScan.variantInRange —
    * exact over the variant set, so single-case data prunes as tightly
    * as a plain equality), and proven full only for a constant no-null
    * pure-ASCII group whose folded value is a target. `prefix` = the
    * case-INSENSITIVE prefix family (`col ILIKE 'p%'`,
    * `lower(col) LIKE 'p%'`, `startswith(lower(col), 'p')`): the variant
    * test asks instead whether [smin, smax] can contain a string
    * STARTING WITH a variant of a target. */
  final case class CaseIn(column: String, folded: Seq[String],
      toUpper: Boolean, prefix: Boolean = false) extends RgConstraint
  /** `trim(col) = 'x'` / `ltrim`/`rtrim` `... IN (…)` on a string
    * column (default one-arg forms — SPACE-only trimming, Spark and
    * ANSI semantics). The raw values matching `trim(col) = x` are
    * exactly the space-padded variants `' '^i + x + ' '^j` (both
    * sides for `mode='b'`, leading-only `'l'`, trailing-only `'r'`);
    * a group is disproven when no padded variant of any target can
    * lie within its raw [smin, smax]
    * (RowGroupScan.paddedVariantInRange — exact on the trailing-pad
    * family, conservative on leading pads, which only exist in range
    * when smin itself sorts at-or-below the space prefix). Targets
    * are pre-filtered to fixed points of the trim (a target with
    * leading/trailing spaces can never match); an EMPTY target set
    * means the predicate is provably false and every group drops. */
  final case class TrimIn(column: String, targets: Seq[String],
      mode: Char) extends RgConstraint
  /** A DISJUNCTION of simple constraints, possibly across columns
    * (`a < 10 OR b = 'x'`): a row group is disproven only when EVERY
    * branch is, proven-full when ANY branch is. Branches must be
    * non-[[RgOr]] leaves. */
  final case class RgOr(branches: Seq[RgConstraint]) extends RgConstraint {
    def column: String = branches.map(_.column).distinct.mkString("|")
  }
  /** A numeric probe in a DECIMAL column's unscaled space at `scale`.
    * Only index rows of files that store that scale can disprove or
    * prove it: a file written before a scale-up keeps its stats at its
    * own scale, where the unscaled bounds mean other values. */
  final case class AtScale(inner: RgConstraint, scale: Int)
      extends RgConstraint {
    def column: String = inner.column
  }

  /** MULTI-constraint row-group pruning: one classification of ONE
    * wide index judges every constraint per (file, row group)
    * ([[planSlices]]), and the scan runs once over the intersection — the z-order payoff (a 2-column
    * clustered table prunes on BOTH predicate columns, where any
    * single-column read over-keeps). A constraint on a stats-less (or
    * evolved-away) column keeps everything (conservative). The caller
    * re-applies the exact predicate. */
  def readRowGroupPrunedMulti(spark: SparkSession, dir: String,
      constraints: Seq[RgConstraint], version: Int = -1,
      columns: Seq[String] = Nil,
      fileSubset: Option[Seq[String]] = None)
      : (DataFrame, Long, Long, Int, Int) = {
    require(constraints.nonEmpty, "readRowGroupPrunedMulti needs " +
      "at least one constraint")
    prunedCore(spark, dir, snapshot(dir, version), constraints, columns,
      fileSubset)
  }

  /** Shared pruned-read core: plan the kept row groups
    * ([[planSlices]]) and scan exactly those ([[scanPlanned]]).
    * `fileSubset` narrows the snapshot (the bloom and partition prunes
    * pass their keep sets); an empty keep set plans nothing and returns
    * the snapshot's schema. */
  private def prunedCore(spark: SparkSession, dir: String, snap: Snapshot,
      constraints: Seq[RgConstraint], columns: Seq[String],
      fileSubset: Option[Seq[String]] = None)
      : (DataFrame, Long, Long, Int, Int) = {
    if (fileSubset.getOrElse(snap.files).isEmpty)
      return (RowGroupScan.emptyFrame(spark, unionColsOf(spark, dir, snap),
        columns), 0L, 0L, 0, snap.files.size)
    val plan = planSlices(spark, dir, snap, constraints, fileSubset,
      meta = false)
    val df = scanPlanned(spark, dir, snap, plan.slices, plan.unionCols,
      columns, constraints)
      .getOrElse(RowGroupScan.emptyFrame(spark, plan.unionCols, columns))
    (df, plan.slices.size.toLong, plan.rgTotal,
      plan.slices.map(_.file).distinct.size, snap.files.size)
  }

  /** A pruned read's or count's plan: the row groups to scan, the rows
    * metadata proves match, the planned group count and the union
    * columns to scan in. */
  private final case class SlicePlan(slices: Seq[RowGroupScan.RgSlice],
      metaRows: Long, rgTotal: Long, unionCols: Seq[(String, String)])

  /** The one slice planner of [[prunedCore]] and [[countPruned]]:
    * [[RowGroupScan.classify]] judges every row group of the planned
    * files (`fileSubset`, else the snapshot). A snapshot whose index
    * rows sit on the driver ([[rgIndexLocal]], ≤512 files) plans there
    * with zero Spark jobs. A larger one runs the same classifier inside
    * tasks over the wide index hash-partitioned by file, so every row
    * of a group reaches one task, and the driver collects only kept
    * slices, sums and distinct column descriptors. A kept group
    * meta-counts when `meta` holds, the classifier proves it full and
    * its file carries no deletion vector (deleted rows are invisible to
    * footer stats); every other kept group scans. */
  private def planSlices(spark: SparkSession, dir: String, snap: Snapshot,
      constraints: Seq[RgConstraint], fileSubset: Option[Seq[String]],
      meta: Boolean): SlicePlan = {
    val memoHit = Option(unionColsMemo.get((dir, snap.version)))
    val prefix = Paths.get(dir).toString + "/"
    val dvAbs = snap.dvs.keySet.map(prefix + _)
    val countable: String => Boolean = f => meta && !dvAbs(f)
    val files = fileSubset.getOrElse(snap.files)
    val parts = rgIndexLocal(spark, dir, snap, files) match {
      case Some((rows, schema)) =>
        Seq(planPart(rows.iterator, schema, constraints, countable))
      case None =>
        val wide = rgIndexForUncached(spark, dir, snap, files)
        val schema = wide.schema
        wide.repartition(col("file")).rdd.mapPartitions(rows =>
          Iterator.single(planPart(rows, schema, constraints, countable)))
          .collect().toSeq
    }
    val planned = Option.when(memoHit.isEmpty)(
      RowGroupScan.unionColsFromTuples(parts.flatMap(_._4)))
    SlicePlan(parts.flatMap(_._1).sortBy(s => (s.file, s.rg)),
      parts.map(_._2).sum, parts.map(_._3).sum,
      fullUnionCols(spark, dir, snap, memoHit, planned, fileSubset.isEmpty))
  }

  /** One share of a [[planSlices]] plan from the index rows of whole
    * files: the slices to scan, the metadata-proven row sum, the group
    * count and the column descriptors. */
  private def planPart(rows: Iterator[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      constraints: Seq[RgConstraint], countable: String => Boolean)
      : (Seq[RowGroupScan.RgSlice], Long, Long,
         Seq[(Int, String, String)]) = {
    val (verdicts, cols) = RowGroupScan.classify(rows, schema, constraints)
    val (meta, scan) = verdicts.filterNot(_.rejected)
      .partition(v => v.full && countable(v.file))
    (scan.map(v => RowGroupScan.RgSlice(v.file, v.rg)),
      meta.map(_.nRows).sum, verdicts.size.toLong, cols)
  }

  /** The rows of `slices` in `unionCols` (projected to `columns`): clean
    * files scan plainly, deletion-vector files scan with file-ordinal
    * positions and anti-join their vectors. None when nothing scans. */
  private def scanPlanned(spark: SparkSession, dir: String, snap: Snapshot,
      slices: Seq[RowGroupScan.RgSlice], unionCols: Seq[(String, String)],
      columns: Seq[String], constraints: Seq[RgConstraint])
      : Option[DataFrame] = {
    val prefix = Paths.get(dir).toString + "/"
    val (dvSlices, cleanSlices) = slices.partition(s =>
      snap.dvs.contains(s.file.stripPrefix(prefix)))
    val clean = Option.when(cleanSlices.nonEmpty)(RowGroupScan.scanSlices(
      spark, cleanSlices, unionCols, columns, constraints = constraints))
    val dv = Option.when(dvSlices.nonEmpty) {
      val kept = dvSlices.map(_.file.stripPrefix(prefix)).toSet
      antiDv(spark, dir, RowGroupScan.scanSlices(spark, dvSlices, unionCols,
          columns, emitPos = true, constraints = constraints),
        snap.dvs.filter { case (f, _) => kept(f) })
        .drop("__graft_fn", "__graft_ridx")
    }
    (clean ++ dv).reduceOption(_.unionByName(_))
  }

  /** The union schema of a pruned read or count: the memo hit, else the
    * columns its planning derived (`planned`, over the planned files)
    * widened to the FULL snapshot. A bloom or partition prune can narrow
    * the file set, and under add-column evolution a predicate/projection
    * column can live only in files the prune dropped: a subset-derived
    * union would fail its resolution (AnalysisException) instead of
    * null-filling like readEvolved. A retained full-index memo answers
    * exactly from driver rows; fully sidecar-mapped snapshots widen from
    * the index (no footers); others widen from the NEWEST file's footer
    * (one open — the widest schema under add-column evolution), so
    * eliminated files still cost zero footer opens. Planning over the
    * `whole` snapshot memoizes its answer. */
  private def fullUnionCols(spark: SparkSession, dir: String,
      snap: Snapshot, memoHit: Option[Seq[(String, String)]],
      planned: Option[Seq[(String, String)]],
      whole: Boolean): Seq[(String, String)] = memoHit.getOrElse {
    if (whole) rememberUnionCols(dir, snap, planned.get)
    else Option(wideIdxMemo.get((dir, snap.version))) match {
      case Some((fullRows, fullSchema)) =>
        RowGroupScan.unionColsFromTuples(colsOfRows(fullRows, fullSchema))
      case None if snap.files.forall(snap.rgidx.contains) =>
        snapshotUnionCols(spark, dir, snap)
      case None =>
        mergeUnionCols(planned.get, newestFileSchema(spark, dir, snap))
    }
  }

  /** Distinct (ord, column, dtype) descriptors of driver-resident index
    * rows. */
  private def colsOfRows(rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType)
      : Seq[(Int, String, String)] = {
    val ix = schema.fieldNames.zipWithIndex.toMap
    val (io, ic, id) = (ix("ord"), ix("column"), ix("dtype"))
    rows.map(r => (r.getInt(io), r.getString(ic), r.getString(id)))
      .distinct.toSeq
  }

  /** Widen a subset-derived union with columns only the newest file
    * carries (subset order first — identical to the subset union when
    * schemas never evolved). */
  private def mergeUnionCols(subset: Seq[(String, String)],
      newest: org.apache.spark.sql.types.StructType)
      : Seq[(String, String)] = {
    val have = subset.map(_._1).toSet
    val extra = newest.fields.toSeq.map(fd =>
      fd.name -> fd.dataType.catalogString)
    val extraT = extra.toMap
    subset.map { case (n, t) =>
      // the newest file may carry the WIDER type (int→long evolution) —
      // resolve to the lossless LUB so its values fit the plan schema
      n -> extraT.get(n).flatMap(RowGroupScan.widenType(t, _))
        .getOrElse(t)
    } ++ extra.filterNot { case (n, _) => have(n) }
  }

  /** The NEWEST data file's schema — the widest under add-column
    * evolution, at the cost of ONE footer (empty for an empty snapshot).
    * Memoized per committed snapshot, whose files are immutable; the
    * union widening above and [[LakeSelect]]'s routing guards share it.
    * Bounded: cleared wholesale past 512 snapshots. */
  private val newestSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      org.apache.spark.sql.types.StructType]()
  private[operators] def newestFileSchema(spark: SparkSession, dir: String,
      snap: Snapshot): org.apache.spark.sql.types.StructType = {
    if (newestSchemaMemo.size > 512) newestSchemaMemo.clear()
    newestSchemaMemo.computeIfAbsent((dir, snap.version), _ =>
      snap.files.lastOption.fold(new org.apache.spark.sql.types.StructType())(
        f => RowGroupScan.readNoInfer(spark,
          Seq(Paths.get(dir).resolve(f).toString)).schema))
  }

  /** The FULL snapshot's union schema from its row-group index (sidecar
    * -served where mapped, no footers) — what the bloom-narrowed path
    * needs when the memo is cold. A snapshot whose index rows can sit on
    * the driver ([[rgIndexLocal]]) answers there with no job; a larger one
    * runs one small-parquet aggregation. The answer memoizes like the
    * in-line computation does. */
  private def snapshotUnionCols(spark: SparkSession, dir: String,
      snap: Snapshot): Seq[(String, String)] = {
    val (rows, schema) = rgIndexLocal(spark, dir, snap, snap.files)
      .getOrElse {
        val descs = rgIndexForUncached(spark, dir, snap, snap.files)
          .select("ord", "column", "dtype").distinct()
        (descs.collect(), descs.schema)
      }
    rememberUnionCols(dir, snap,
      RowGroupScan.unionColsFromTuples(colsOfRows(rows, schema)))
  }

  private def rememberUnionCols(dir: String, snap: Snapshot,
      cols: Seq[(String, String)]): Seq[(String, String)] = {
    if (unionColsMemo.size > 512) unionColsMemo.clear()
    unionColsMemo.put((dir, snap.version), cols)
    cols
  }

  /** Per-(dir, version) memo of the union schema a snapshot's index
    * implies — a committed version's file set is immutable, so the
    * answer never changes; repeated declarative reads of one snapshot
    * (the SQL pattern) skip the metadata job entirely. Every entry is
    * the FULL snapshot's union (the bloom-narrowed path computes it via
    * [[snapshotUnionCols]] rather than from its file subset). Bounded:
    * cleared wholesale past 512 snapshots. */
  private val unionColsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      Seq[(String, String)]]()


  // ===== persisted row-group index (stats/ sidecar) ====================
  //
  // The wide per-row-group stats index ([[RowGroupScan.buildWideIndex]])
  // persisted the way the blooms are: one parquet sidecar per build
  // under stats/, the log mapping each data file to its sidecar. Data
  // files are immutable, so an entry stays exact for the file's
  // lifetime; rewrites drop their inputs' entries and top up their
  // outputs in the same commit (optimize / copy-on-write DML), appends
  // top up their new files once the table has opted in — so after ONE
  // computeRowGroupIndex call, every declarative read plans from the
  // sidecar and opens ZERO data-file footers.

  /** Build the wide index for `files` (relative paths) and stage it as
    * ONE stats/ sidecar parquet (NOT yet committed); returns its
    * relative path. */
  private def stageRgIndexSidecar(spark: SparkSession, dir: String,
      files: Seq[String], v: Int): String = {
    val labeled = files.map(f =>
      (Paths.get(dir).resolve(f).toString, f))
    Files.createDirectories(Paths.get(dir, "stats"))
    // ≤512 files (the planning-memo bound): footers read across driver
    // cores and the sidecar written with parquet-mr — the whole staging
    // is driver metadata work, zero Spark jobs (an indexed append
    // otherwise pays a footer job + a one-row-group write job per
    // commit). Bigger batches keep the distributed build.
    if (files.size <= 512) {
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = new Array[Seq[RowGroupScan.IdxRow]](labeled.size)
      java.util.stream.IntStream.range(0, labeled.size).parallel()
        .forEach { i =>
          val (abs, label) = labeled(i)
          rows(i) = RowGroupScan.fileIdxRows(abs, label, conf)
        }
      val staging = Files.createTempDirectory("graft_rgidx")
        .resolve("part-00000.parquet")
      RowGroupScan.writeIdxRowsLocal(rows.toSeq.flatten,
        staging.toString, conf)
      val rel = f"stats/v$v%05d-rgidx-${staging.getFileName.toString}"
      Files.move(staging, Paths.get(dir).resolve(rel),
        StandardCopyOption.ATOMIC_MOVE)
      return rel
    }
    val idx = RowGroupScan.buildWideIndex(spark, labeled)
    val staging = Files.createTempDirectory("graft_rgidx").toString
    idx.repartition(1).write.mode("overwrite").parquet(staging)
    val sl = Files.list(Paths.get(staging))
    try {
      val p0 = sl.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error("empty rgidx staging"))
      val rel = f"stats/v$v%05d-rgidx-${p0.getFileName.toString}"
      Files.move(p0, Paths.get(dir).resolve(rel),
        StandardCopyOption.ATOMIC_MOVE)
      rel
    } finally sl.close()
  }

  /** Persist the row-group stats index for every not-yet-indexed file
    * and commit the mapping (op "rgidx-stats") — after this, pruned and
    * declarative reads plan from the sidecar (zero footer opens) and
    * every later write maintains the index automatically. Re-running
    * after an un-indexed writer (e.g. a partitioned CDC merge) tops up
    * incrementally. Returns the committed version (current version if
    * nothing new). */
  def computeRowGroupIndex(spark: SparkSession, dir: String,
      maxRetries: Int = 20): Int = {
    val snap = snapshot(dir)
    val need = snap.files.filterNot(snap.rgidx.contains)
    if (need.isEmpty) return snap.version
    val (_, v) = planNext(dir)
    val sidecarRel = stageRgIndexSidecar(spark, dir, need, v)
    retryCommit(dir, maxRetries) { (head, vNext) =>
      val headSet = head.files.toSet
      Some(commit(dir, head.files, expectedVersion = vNext,
        parts = head.parts, txn = head.txn, op = "rgidx-stats",
        dvs = head.dvs, bloomCol = head.bloomCol, blooms = head.blooms,
        checks = head.checks,
        rgidx = head.rgidx ++
          need.filter(headSet).map(_ -> sidecarRel),
        partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get
  }

  /** Consolidate the row-group index into ONE sidecar. A long-lived
    * append stream maps each commit's files to that commit's own
    * sidecar, so after N appends planning reads a UNION of N small
    * parquets — an O(commits) plan (and O(commits) file opens) that
    * dwarfs the actual stats volume long before data size matters.
    * Compaction reads every live mapped entry once, writes a single
    * combined sidecar, and remaps all mapped files to it; unmapped
    * files stay unmapped (the footer fallback is still correct), and
    * the old sidecars become unreferenced once no retained version
    * maps them — vacuum sweeps them. Rebase-safe: files appended
    * concurrently keep their fresh mapping, files rewritten
    * concurrently drop out of the remap. No-op (returns the current
    * version) when the live mapping already resolves to one sidecar. */
  def compactRowGroupIndex(spark: SparkSession, dir: String,
      maxRetries: Int = 20): Int = {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val snap = snapshot(dir)
    val mapped = snap.files.filter(snap.rgidx.contains)
    if (mapped.isEmpty ||
        mapped.map(snap.rgidx).distinct.size <= 1) return snap.version
    val (_, v) = planNext(dir)
    val mappedSet = mapped.toSet
    val bySidecar = snap.rgidx.view.filterKeys(mappedSet).toSeq
      .groupBy(_._2).toSeq.sortBy(_._1)
    Files.createDirectories(Paths.get(dir, "stats"))
    // byte-budgeted sidecars consolidate entirely on the driver (local
    // reads + parquet-mr write — zero Spark jobs, same posture as the
    // staging path); over budget or on schema drift the distributed
    // union below runs unchanged
    val rel = localRgSidecarRows(spark, dir, bySidecar) match {
      case Some(irs) =>
        val staging = Files.createTempDirectory("graft_rgcmp")
          .resolve("part-00000.parquet")
        RowGroupScan.writeIdxRowsLocal(irs, staging.toString,
          spark.sparkContext.hadoopConfiguration)
        val r = f"stats/v$v%05d-rgidx-${staging.getFileName.toString}"
        Files.move(staging, Paths.get(dir).resolve(r),
          StandardCopyOption.ATOMIC_MOVE)
        r
      case None =>
        val combined = bySidecar.map { case (sidecar, m) =>
          spark.read.parquet(Paths.get(dir).resolve(sidecar).toString)
            .join(broadcast(m.map(_._1).toDF("file")), Seq("file"),
              "left_semi")
        }.reduce(_ unionByName _)
        val staging = Files.createTempDirectory("graft_rgcmp").toString
        combined.repartition(1).write.mode("overwrite").parquet(staging)
        val sl = Files.list(Paths.get(staging))
        try {
          val p0 = sl.iterator.asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("empty rgidx compaction staging"))
          val r = f"stats/v$v%05d-rgidx-${p0.getFileName.toString}"
          Files.move(p0, Paths.get(dir).resolve(r),
            StandardCopyOption.ATOMIC_MOVE)
          r
        } finally sl.close()
    }
    retryCommit(dir, maxRetries) { (head, vNext) =>
      val headSet = head.files.toSet
      Some(commit(dir, head.files, expectedVersion = vNext,
        parts = head.parts, txn = head.txn, op = "rgidx-compact",
        dvs = head.dvs, bloomCol = head.bloomCol, blooms = head.blooms,
        checks = head.checks,
        rgidx = head.rgidx ++
          mapped.filter(headSet).map(_ -> rel),
        partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get
  }

  /** Consolidate the bloom index into ONE sidecar — the
    * [[compactRowGroupIndex]] story for point lookups: each
    * `computeBlooms` top-up (and every auto-maintained rewrite) maps
    * its files to a fresh sidecar, so a long-appended table's
    * distributed bloom probe unions O(commits) parquet reads.
    * Compaction also drops stale rows (files remapped by a rewrite or
    * column switch leave dead rows in old sidecars) because each old
    * sidecar is read trimmed to the files the CURRENT snapshot still
    * maps to it. No-op when the live mapping already resolves to one
    * sidecar. */
  def compactBloomIndex(spark: SparkSession, dir: String,
      maxRetries: Int = 20): Int = {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val snap = snapshot(dir)
    val mapped = snap.files.filter(snap.blooms.contains)
    if (mapped.isEmpty ||
        mapped.map(snap.blooms).distinct.size <= 1) return snap.version
    val (_, v) = planNext(dir)
    val mappedSet = mapped.toSet
    val bySidecar = snap.blooms.view.filterKeys(mappedSet).toSeq
      .groupBy(_._2).toSeq.sortBy(_._1)
    Files.createDirectories(Paths.get(dir, "stats"))
    // byte-budgeted bitmaps consolidate on the driver (zero Spark
    // jobs); over budget / schema drift keeps the distributed union
    val rel = localBloomSidecarRows(spark, dir,
        bySidecar.map { case (sc, m) => sc -> m.map(_._1).toSet }) match {
      case Some(rows) =>
        val staging = Files.createTempDirectory("graft_blcmp")
          .resolve("part-00000.parquet")
        RowGroupScan.writeBloomRowsLocal(rows, staging.toString,
          spark.sparkContext.hadoopConfiguration)
        val r = f"stats/v$v%05d-bloom-${staging.getFileName.toString}"
        Files.move(staging, Paths.get(dir).resolve(r),
          StandardCopyOption.ATOMIC_MOVE)
        r
      case None =>
        val combined = bySidecar.map { case (sidecar, m) =>
          bloomSidecar(spark, dir, sidecar)
            .join(broadcast(m.map(_._1).toDF("f")), Seq("f"),
              "left_semi")
        }.reduce(_ unionByName _)
        val staging = Files.createTempDirectory("graft_blcmp").toString
        combined.repartition(1).write.mode("overwrite").parquet(staging)
        val sl = Files.list(Paths.get(staging))
        try {
          val p0 = sl.iterator.asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("empty bloom compaction staging"))
          val r = f"stats/v$v%05d-bloom-${p0.getFileName.toString}"
          Files.move(p0, Paths.get(dir).resolve(r),
            StandardCopyOption.ATOMIC_MOVE)
          r
        } finally sl.close()
    }
    retryCommit(dir, maxRetries) { (head, vNext) =>
      val headSet = head.files.toSet
      Some(commit(dir, head.files, expectedVersion = vNext,
        parts = head.parts, txn = head.txn, op = "bloom-compact",
        dvs = head.dvs, bloomCol = head.bloomCol,
        blooms = head.blooms ++
          mapped.filter(headSet).map(_ -> rel),
        checks = head.checks, rgidx = head.rgidx,
        partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get
  }

  /** Driver memo of a snapshot's FULL wide index — a committed
    * version's stats never change, so repeated declarative reads of one
    * snapshot (the SQL pattern: several readWhere/countWhere against
    * one version) pay the footer pass (un-indexed) or sidecar read
    * (indexed) exactly ONCE; later reads plan from a LocalRelation with
    * zero footer opens and zero scan jobs. Bounded twice over: entries
    * above [[wideIdxMemoMaxRows]] rows never memoize (a 100 TB table's
    * index belongs in the persisted sidecar, not driver memory), and
    * the map clears wholesale past 64 snapshots. */
  private val wideIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      (Array[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType)]()
  private val wideIdxMemoMaxRows = 200000
  // GLOBAL row budget across entries — 64 × 200k rows would be GBs of
  // driver heap; past the budget the map clears wholesale (same policy
  // as the count-based LRU, which stays as a second bound)
  private val wideIdxMemoBudgetRows = 1000000L
  private def wideIdxMemoRows: Long =
    wideIdxMemo.values.iterator.asScala.map(_._1.length.toLong).sum

  /** The snapshot's index ROWS when they are (or can become) driver-
    * resident: a memo hit serves (a file subset of) the retained full
    * index; a miss on a small snapshot (≤512 files — the collect-cost
    * guard) builds once, memoizes under the row cap, and returns the
    * rows. None = big snapshot, caller uses the distributed path. */
  private def rgIndexLocal(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String])
      : Option[(Array[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType)] = {
    val key = (dir, snap.version)
    val prefixM = Paths.get(dir).toString + "/"
    def subset(rows: Array[org.apache.spark.sql.Row])
        : Array[org.apache.spark.sql.Row] =
      if (files.size == snap.files.size) rows
      else {
        val want = files.map(prefixM + _).toSet
        rows.filter(r => want(r.getString(0)))
      }
    Option(wideIdxMemo.get(key)) match {
      case Some((rows, schema)) => Some((subset(rows), schema))
      case None if snap.files.size <= 512 =>
        // a SUBSET request (bloom/partition prune) must never open the
        // eliminated files' footers just to warm the memo — build (and
        // memoize) the full index only when the full snapshot is asked
        val buildFiles =
          if (files.size == snap.files.size) snap.files else files
        // zero-job driver build first (sidecars read on the driver,
        // un-indexed footers read driver-side) — planning a small
        // snapshot should not cost Spark jobs at all; any surprise
        // (oversized sidecar, schema drift) falls back to the
        // distributed build below
        val (rows, schema) =
          rgIndexRowsLocal(spark, dir, snap, buildFiles).getOrElse {
            val built = rgIndexForUncached(spark, dir, snap, buildFiles)
            (built.collect(), built.schema)
          }
        if (files.size == snap.files.size &&
            rows.length <= wideIdxMemoMaxRows) {
          if (wideIdxMemo.size > 64 ||
              wideIdxMemoRows + rows.length > wideIdxMemoBudgetRows)
            wideIdxMemo.clear()
          wideIdxMemo.put(key, (rows, schema))
        }
        Some((rows, schema))
      case None => None
    }
  }

  /** Byte budget for reading metadata sidecars on the DRIVER (per call
    * site, across the sidecars it touches). Under it, planning reads go
    * through [[RowGroupScan.localParquetRows]] — zero Spark jobs, the
    * Delta checkpoint-read posture; over it, the distributed path runs
    * unchanged. Test-visible so specs can force either path. */
  @volatile private[graft] var localSidecarMaxBytes: Long = 16L << 20

  /** The canonical wide-index schema ([[RowGroupScan.IdxRow]] shape) the
    * driver-side build emits — all nullable, matching what the
    * distributed union produces after the dmin/dmax null-fill. */
  private val wideIdxSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("file", StringType), StructField("rg", IntegerType),
      StructField("column", StringType), StructField("ord", IntegerType),
      StructField("dtype", StringType), StructField("n_rows", LongType),
      StructField("n_nulls", LongType), StructField("lmin", LongType),
      StructField("lmax", LongType), StructField("smin", StringType),
      StructField("smax", StringType), StructField("dmin", DoubleType),
      StructField("dmax", DoubleType)))
  }

  /** Driver-side read of rg-index sidecars TRIMMED to the given
    * file→sidecar mapping, as IdxRows (file labels stay relative;
    * stats columns a sidecar predates null-fill). None = byte budget
    * exceeded or schema drift — callers fall back to the distributed
    * read. */
  private def localRgSidecarRows(spark: SparkSession, dir: String,
      bySidecar: Seq[(String, Seq[(String, String)])])
      : Option[Seq[RowGroupScan.IdxRow]] =
    try {
      import org.apache.spark.sql.Row
      val totalBytes = bySidecar.map { case (sc, _) =>
        Files.size(Paths.get(dir).resolve(sc))
      }.sum
      if (totalBytes > localSidecarMaxBytes) return None
      val conf = spark.sparkContext.hadoopConfiguration
      val out = Seq.newBuilder[RowGroupScan.IdxRow]
      val ok = bySidecar.forall { case (sc, m) =>
        val (rows, schema) = RowGroupScan.localParquetRows(
          Paths.get(dir).resolve(sc).toString, conf)
        // every sidecar field must BE a target field (same name+type);
        // target fields the sidecar predates null-fill (dmin/dmax)
        val aligned = schema.fields.forall(f =>
          wideIdxSchema.fields.exists(t =>
            t.name == f.name && t.dataType == f.dataType))
        if (aligned) {
          def idx(n: String): Int =
            if (schema.fieldNames.contains(n)) schema.fieldIndex(n)
            else -1
          val fI = idx("file"); val rgI = idx("rg")
          val colI = idx("column"); val ordI = idx("ord")
          val dtI = idx("dtype"); val nrI = idx("n_rows")
          val nnI = idx("n_nulls"); val lmnI = idx("lmin")
          val lmxI = idx("lmax"); val smnI = idx("smin")
          val smxI = idx("smax"); val dmnI = idx("dmin")
          val dmxI = idx("dmax")
          def optL(r: Row, i: Int) =
            if (i < 0 || r.isNullAt(i)) None else Some(r.getLong(i))
          def optS(r: Row, i: Int) =
            if (i < 0 || r.isNullAt(i)) None else Some(r.getString(i))
          def optD(r: Row, i: Int) =
            if (i < 0 || r.isNullAt(i)) None else Some(r.getDouble(i))
          val want = m.map(_._1).toSet
          rows.foreach { r =>
            val rel = r.getString(fI)
            if (want(rel)) out += RowGroupScan.IdxRow(rel,
              r.getInt(rgI), r.getString(colI), r.getInt(ordI),
              r.getString(dtI), r.getLong(nrI), optL(r, nnI),
              optL(r, lmnI), optL(r, lmxI), optS(r, smnI),
              optS(r, smxI), optD(r, dmnI), optD(r, dmxI))
          }
        }
        aligned
      }
      if (ok) Some(out.result()) else None
    } catch {
      // missing sidecar file, unsupported type, … — the distributed
      // path re-derives (or fails loudly where failing is correct)
      case scala.util.control.NonFatal(_) => None
    }

  private def idxRowAsRow(ir: RowGroupScan.IdxRow, file: String)
      : org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(file, ir.rg, ir.column, ir.ord, ir.dtype,
      ir.n_rows, ir.n_nulls.map(Long.box).orNull,
      ir.lmin.map(Long.box).orNull, ir.lmax.map(Long.box).orNull,
      ir.smin.orNull, ir.smax.orNull,
      ir.dmin.map(Double.box).orNull, ir.dmax.map(Double.box).orNull)

  /** Zero-job wide-index build for a small snapshot: mapped files' rows
    * come from their sidecar parquets read driver-side, un-indexed files
    * from driver-side footer reads (same [[RowGroupScan.fileIdxRows]]
    * the distributed build runs in tasks). None = byte budget exceeded
    * or a sidecar's schema isn't the IdxRow shape — caller falls back to
    * the distributed build. */
  private def rgIndexRowsLocal(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String])
      : Option[(Array[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prefix = Paths.get(dir).toString + "/"
    val (mapped, unmapped) = files.partition(snap.rgidx.contains)
    val bySidecar = snap.rgidx.view
      .filterKeys(mapped.toSet).toSeq.groupBy(_._2).toSeq.sortBy(_._1)
    localRgSidecarRows(spark, dir, bySidecar).flatMap { irs =>
      try {
        val out = Array.newBuilder[org.apache.spark.sql.Row]
        irs.foreach(ir => out += idxRowAsRow(ir, prefix + ir.file))
        unmapped.foreach { f =>
          val abs = Paths.get(dir).resolve(f).toString
          RowGroupScan.fileIdxRows(abs, abs, conf)
            .foreach(ir => out += idxRowAsRow(ir, ir.file))
        }
        Some((out.result(), wideIdxSchema))
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  /** The wide row-group index for `files` (relative), file column
    * resolved to ABSOLUTE paths: sidecar-served for mapped files (no
    * footer opened), footer-built for the rest (conservative fallback —
    * correctness never depends on the sidecar being complete). */
  private def rgIndexFor(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String]): DataFrame =
    rgIndexLocal(spark, dir, snap, files) match {
      case Some((rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None => rgIndexForUncached(spark, dir, snap, files)
    }

  private def rgIndexForUncached(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, concat, lit}
    import spark.implicits._
    val prefix = Paths.get(dir).toString + "/"
    val (mapped, unmapped) = files.partition(snap.rgidx.contains)
    val parts = Seq.newBuilder[DataFrame]
    if (mapped.nonEmpty) {
      val mappedSet = mapped.toSet
      snap.rgidx.view.filterKeys(mappedSet).toSeq.groupBy(_._2)
        .toSeq.sortBy(_._1).foreach { case (sidecar, m) =>
          // membership via broadcast semi-join, not isin: a snapshot can
          // map 10⁵ files to one sidecar, and an isin of that arity is a
          // pathological expression tree
          val fs = m.map(_._1).toDF("file")
          val raw = spark.read
            .parquet(Paths.get(dir).resolve(sidecar).toString)
            .join(broadcast(fs), Seq("file"), "left_semi")
            .withColumn("file", concat(lit(prefix), col("file")))
          // sidecars written before the FP stats columns existed
          // null-fill them (FP constraints then keep conservatively)
          parts += Seq("dmin", "dmax").foldLeft(raw)((d, c) =>
            if (d.columns.contains(c)) d
            else d.withColumn(c,
              lit(null).cast(org.apache.spark.sql.types.DoubleType)))
        }
    }
    if (unmapped.nonEmpty)
      parts += RowGroupScan.buildWideIndex(spark,
        unmapped.map(f => {
          val abs = Paths.get(dir).resolve(f).toString
          (abs, abs)
        }))
    parts.result().reduce(_.unionByName(_))
  }

  /** Metadata-only / metadata-mostly COUNT: classify every row group by
    * the wide index — DISPROVEN groups contribute 0, PROVEN-full groups
    * (only when `exact` says the constraints ARE the whole predicate,
    * and only on DV-free files) contribute their footer row count
    * without touching a data page, and only the straddlers scan
    * (selectively, predicate columns only). With no predicate the
    * count is pure metadata even under deletion vectors (footer row
    * counts minus the vectors' position counts). Returns
    * (count, metaRows, scannedRgs, rgTotal, filesTotal). */
  def countPruned(spark: SparkSession, dir: String,
      constraints: Seq[RgConstraint], exact: Boolean,
      predicate: Option[String], version: Int = -1,
      fileSubset: Option[Seq[String]] = None)
      : (Long, Long, Long, Long, Int) = {
    import org.apache.spark.sql.functions.expr
    val snap = snapshot(dir, version)
    if (snap.files.isEmpty) return (0L, 0L, 0L, 0L, 0)
    require(predicate.isDefined || constraints.isEmpty,
      "constraints without a predicate")
    if (predicate.isEmpty) {
      // pure metadata: footer row counts minus DV position counts.
      // DISTINCT positions: one commit's sidecar is shared across its
      // touched files, so a later delete re-pointing file B to a new
      // sidecar leaves B's STALE subset in the old one — counting raw
      // sidecar rows would double-count those positions.
      val total = footerCountsIndexed(spark, dir, snap).values.sum
      val dvDel = dvPairs(spark, dir, snap.dvs).map { pairs =>
        val live = snap.dvs.keySet.toSeq
        pairs.filter(col("f").isin(live: _*))
          .select("f", "ridx").distinct().count()
      }.getOrElse(0L)
      return (total - dvDel, total, 0L, 0L, snap.files.size)
    }
    // partition-eliminated files never enter the index math: their rows
    // provably fail the predicate (every row carries the tag value), so
    // they contribute neither meta rows nor straddlers
    if (fileSubset.exists(_.isEmpty))
      return (0L, 0L, 0L, 0L, snap.files.size)
    val plan = planSlices(spark, dir, snap, constraints, fileSubset,
      meta = exact)
    // straddlers scan selectively, predicate columns only, in one action
    val predCols = LakeSelect.referencedColumns(spark, predicate.get)
      .filter(c => plan.unionCols.exists(_._1 == c))
    val scanned = scanPlanned(spark, dir, snap, plan.slices, plan.unionCols,
      predCols, constraints).fold(0L)(_.where(expr(predicate.get)).count())
    (plan.metaRows + scanned, plan.metaRows, plan.slices.size.toLong,
      plan.rgTotal, snap.files.size)
  }

  /** Metadata-only MIN/MAX of `column` — the other most common lake
    * aggregate: clean files answer from the index's exact bounds
    * (integral, string, and — via the dmin/dmax stats — float/double
    * dtypes; binary has no order contract and decimal compares in a
    * scaled space, so those return None — caller falls back to a full
    * aggregate), while files carrying deletion vectors, and FP groups
    * whose stats dropped a bound (NaN folded in, or a pre-FP-stats
    * sidecar), scan JUST that column selectively (a hidden row might
    * hold the extreme) and combine — so an FP max under NaN rows
    * correctly comes back NaN (Spark's NaN-greatest order). Returns
    * None when the column's type cannot prove bounds;
    * Some((None, None, scanned)) when every
    * value is null (SQL MIN/MAX = NULL). Longs come back widened
    * (int8/16/32 → Long). */
  def columnMinMax(spark: SparkSession, dir: String, column: String,
      version: Int = -1): Option[(Option[Any], Option[Any], Long)] = {
    import org.apache.spark.sql.functions.{coalesce, collect_list, expr,
      first, lit, max, min, struct, when}
    val snap = snapshot(dir, version)
    if (snap.files.isEmpty) return Some((None, None, 0L))
    val prefix = Paths.get(dir).toString + "/"
    val dvAbs = snap.dvs.keySet.map(prefix + _)
    val wide = rgIndexFor(spark, dir, snap, snap.files)
    val rows = wide.filter(col("column") === column)
    val isDv = col("file").isin(dvAbs.toSeq: _*)
    // an FP group with non-null rows but a missing bound (NaN folded
    // into the stats, or no stats at all) cannot prove its extreme —
    // it scans selectively, exactly like a DV'd group
    val fpIncomplete = col("dtype").isin("float", "double") &&
      coalesce(col("n_nulls"), lit(1L)) =!= col("n_rows") &&
      (col("dmin").isNull || col("dmax").isNull)
    val needsScan = isDv || fpIncomplete
    val agg = rows.agg(
      first(col("dtype")).as("dtype"),
      min(when(!isDv, col("lmin"))), max(when(!isDv, col("lmax"))),
      min(when(!isDv, col("smin"))), max(when(!isDv, col("smax"))),
      min(when(!needsScan, col("dmin"))),
      max(when(!needsScan, col("dmax"))),
      collect_list(when(needsScan && col("rg") >= 0,
        struct(col("file"), col("rg"))))).first()
    val dtype = agg.getString(0)
    val isLongT =
      Seq("tinyint", "smallint", "int", "bigint").contains(dtype)
    val isFpT = dtype == "float" || dtype == "double"
    if (!isLongT && dtype != "string" && !isFpT) return None
    def statOf(i: Int): Option[Any] =
      if (agg.isNullAt(i)) None else Some(agg.get(i))
    val (cleanMin, cleanMax) =
      if (isLongT) (statOf(1), statOf(2))
      else if (isFpT) (statOf(5), statOf(6))
      else (statOf(3), statOf(4))
    val dvSlices = agg.getSeq[org.apache.spark.sql.Row](7)
      .map(r => RowGroupScan.RgSlice(r.getString(0), r.getInt(1)))
    val (dvMin, dvMax, scanned) =
      if (dvSlices.isEmpty) (None, None, 0L)
      else {
        val kept = dvSlices.map(_.file.stripPrefix(prefix)).toSet
        val scannedDf = antiDv(spark, dir,
          RowGroupScan.scanSlices(spark, dvSlices,
            Seq(column -> dtype), Seq(column), emitPos = true),
          snap.dvs.filter { case (f, _) => kept(f) })
        val target = if (isLongT) "long"
                     else if (isFpT) "double" else "string"
        val r = scannedDf.agg(
          min(expr(s"`$column`").cast(target)),
          max(expr(s"`$column`").cast(target))).first()
        (if (r.isNullAt(0)) None else Some(r.get(0)),
         if (r.isNullAt(1)) None else Some(r.get(1)),
         dvSlices.size.toLong)
      }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        // Spark order: NaN greatest (compare agrees); stats are
        // -0.0-normalized, scanned values normalize below
        java.lang.Double.compare(x, y) < 0
      case (x: Number, y: Number) => x.longValue < y.longValue
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(y)) < 0
      case _ => sys.error(s"incomparable min/max parts: $a vs $b")
    }
    def norm(v: Any): Any = v match {
      case n: Number if isLongT => n.longValue
      case n: Number if isFpT =>
        val d = n.doubleValue
        if (d == 0.0) 0.0 else d // collapse -0.0 like the stats space
      case x => x
    }
    val mn = (cleanMin.map(norm).toSeq ++ dvMin.map(norm).toSeq)
      .reduceOption((a, b) => if (lt(a, b)) a else b)
    val mx = (cleanMax.map(norm).toSeq ++ dvMax.map(norm).toSeq)
      .reduceOption((a, b) => if (lt(a, b)) b else a)
    Some((mn, mx, scanned))
  }

  /** Per-file row counts, from the persisted index when available
    * (zero footer opens for mapped files). */
  private def footerCountsIndexed(spark: SparkSession, dir: String,
      snap: Snapshot): Map[String, Long] = {
    import org.apache.spark.sql.functions.{first, sum}
    val wide = rgIndexFor(spark, dir, snap, snap.files)
    val prefix = Paths.get(dir).toString + "/"
    wide.filter(col("rg") >= 0)
      .groupBy(col("file"), col("rg"))
      .agg(first(col("n_rows")).as("n"))
      .groupBy(col("file")).agg(sum(col("n")).as("n"))
      .collect()
      .map(r => r.getString(0).stripPrefix(prefix) -> r.getLong(1))
      .toMap
  }

  // ===== CHECK constraints (write-path data quality) ===================
  //
  // The Delta ALTER TABLE ADD CONSTRAINT shape: named boolean SQL
  // expressions carried in the log and enforced on EVERY path that
  // writes new row values (append, partitioned append, overwrite,
  // exactly-once variants, CDC apply, UPDATE rewrites) with one
  // distributed aggregate pass per write; rewrites of already-committed
  // rows (optimize, DV materialization, DELETE survivors) skip the pass
  // — committed data is valid by induction from addCheck's full
  // validation. A row violates when its expression is FALSE or NULL
  // (strict: an unknown is not proof of validity). Restore revalidates
  // because it can resurrect pre-constraint rows. Known race (same as
  // Delta's): a write validating against version N and a concurrent
  // addCheck validating version N miss each other's rows.

  /** The head's CHECK constraints (empty for an empty table). */
  private def headChecks(dir: String): Map[String, String] = {
    val cur = currentVersion(dir)
    if (cur == 0) Map.empty else snapshot(dir, cur).checks
  }

  /** True when the plan contains a non-deterministic expression: a
    * pre-write CHECK pass would validate a DIFFERENT evaluation of the
    * rows than the write materializes. */
  private def nonDeterministic(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(e => e.exists(!_.deterministic)))

  /** One aggregate pass counting violations of every check; loud
    * IllegalArgumentException naming the first violated constraint. */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
      what: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not,
      sum, when}
    val names = checks.keys.toSeq.sorted
    val aggs = names.map(n => sum(when(
      not(coalesce(expr(checks(n)), lit(false))), 1L).otherwise(0L))
      .as(n))
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    names.zipWithIndex.foreach { case (n, i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L, s"CHECK constraint '$n' (${checks(n)}) " +
        s"violated by $bad row(s) in $what")
    }
  }

  /** ALTER TABLE ADD CONSTRAINT: validate the CURRENT snapshot against
    * `expression` (one scan — existing data must already satisfy it,
    * the Delta contract), then commit the named check into the log.
    * Every later write enforces it. Returns the committed version. */
  def addCheck(spark: SparkSession, dir: String, name: String,
      expression: String, maxRetries: Int = 20): Int = {
    require(name.nonEmpty, "constraint name must be non-empty")
    val cur = currentVersion(dir)
    require(cur >= 1, s"no committed version in $dir")
    enforceChecks(readEvolved(spark, dir, cur),
      Map(name -> expression), s"existing data in $dir")
    retryCommit(dir, maxRetries) { (head, v) =>
      Some(commit(dir, head.files, expectedVersion = v,
        parts = head.parts, txn = head.txn, op = "add-check",
        dvs = head.dvs, bloomCol = head.bloomCol, blooms = head.blooms,
        checks = head.checks + (name -> expression),
        rgidx = head.rgidx, partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get
  }

  /** ALTER TABLE DROP CONSTRAINT (loud on an unknown name). */
  def dropCheck(dir: String, name: String, maxRetries: Int = 20): Int =
    retryCommit(dir, maxRetries) { (head, v) =>
      require(head.checks.contains(name),
        s"no CHECK constraint '$name' on $dir " +
          s"(has: ${head.checks.keys.toSeq.sorted.mkString(", ")})")
      Some(commit(dir, head.files, expectedVersion = v,
        parts = head.parts, txn = head.txn, op = "drop-check",
        dvs = head.dvs, bloomCol = head.bloomCol, blooms = head.blooms,
        checks = head.checks - name, rgidx = head.rgidx,
        partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get

  // ===== per-file bloom filters (equality data skipping) ===============
  //
  // Zone maps prune RANGE predicates on clustered columns; a point
  // lookup on a column the table is NOT clustered by (the needle-in-
  // 100TB key fetch) opens every file whose [min,max] straddles the
  // value — usually all of them. A per-file bloom bitmap answers
  // "definitely absent" for equality, so the lookup opens ~1 file plus
  // the false-positive tail. Bitmaps are auto-sized from the build
  // batch's largest file (~10 bits/row, fp ≈ 1.6% at k = 6) and live in
  // a stats/ sidecar parquet — (file, bitmap) rows, one sidecar per
  // [[computeBlooms]] call; the log entry maps each indexed file to its
  // sidecar (the shape deletion vectors use), so the log stays O(files)
  // however large the bitmaps grow. Hashing runs through Spark's own
  // xxhash64 over the CANONICAL STRING form of the value — build and
  // probe must agree bit-for-bit, and casting both sides to string
  // makes the contract type-independent. NULLs are never indexed:
  // `col = x` can't match a NULL row. An indexed file with no sidecar
  // row held only NULLs — "definitely absent" for every probe.

  private def bloomK = 6

  private def bloomPosCols(v: org.apache.spark.sql.Column, mBits: Int) = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    (0 until bloomK).map(i =>
      pmod(xxhash64(lit(i), v), lit(mBits.toLong)).cast("int"))
  }

  /** Per-file row counts from parquet footers only, no data pages read.
    * Small snapshots (≤512 files — the planning-memo bound) read on the
    * DRIVER across cores: zero Spark jobs, each footer a ~KB metadata
    * fetch (what Delta does with its log). Larger tables keep the
    * distributed pass, one task per file. */
  private def footerCounts(spark: SparkSession, dir: String,
      files: Seq[String]): Map[String, Long] = {
    def countOf(rel: String,
        conf: org.apache.hadoop.conf.Configuration): Long = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val p = new org.apache.hadoop.fs.Path(
        Paths.get(dir).resolve(rel).toString)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }
    if (files.size <= 512) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = files.toIndexedSeq
      val out = new Array[Long](fs.size)
      java.util.stream.IntStream.range(0, fs.size).parallel()
        .forEach(i => out(i) = countOf(fs(i), conf))
      fs.zip(out).toMap
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      import spark.implicits._
      files.toDS().map(rel => rel -> countOf(rel, conf.value))
        .collect().toMap
    }
  }

  /** Build per-file bloom bitmaps for `files` and stage them as ONE
    * stats/ sidecar parquet (NOT yet committed); returns its relative
    * path. Shared by [[computeBlooms]] and the rewrite top-ups inside
    * [[optimize]]/[[rewriteMatched]]. One footer pass sizes the bitmap,
    * ONE distributed scan builds per-file bitmaps with map-side partial
    * OR — shuffle volume is O(tasks × bitmap), never the position
    * stream. `snap` is the snapshot the files are read against (its
    * union schema covers a type-widened file set). */
  private def stageBloomSidecar(spark: SparkSession, dir: String,
      snap: Snapshot, column: String, files: Seq[String], v: Int,
      bitsPerRow: Int): String = {
    import org.apache.spark.sql.functions.{array, broadcast, col}
    import spark.implicits._
    require(bitsPerRow >= 1, s"bitsPerRow must be positive: $bitsPerRow")
    // same basename-uniqueness guard deleteVectored carries: a collision
    // would OR two files' positions into one bitmap row and misattribute
    // the sidecar mapping (never true under v-prefixed naming)
    require(files.map(f => Paths.get(f).getFileName.toString).distinct.size
      == files.size, s"duplicate data-file basenames in $dir")
    val maxRows = footerCounts(spark, dir, files).values
      .foldLeft(1L)(math.max)
    // power-of-two bits, clamped to [8 Kbit, 512 Mbit (64 MB)]
    val want = math.min(maxRows * bitsPerRow, 1L << 29).toInt
    val mBits = if (Integer.bitCount(want) == 1) math.max(want, 8192)
                else math.max(Integer.highestOneBit(want) << 1, 8192)
    val mBytes = mBits / 8
    val scanned = scanEvolved(spark, dir, snap, files)
      .select(col("_metadata.file_name").as("fn"),
        array(bloomPosCols(col(column).cast("string"), mBits): _*)
          .as("ps"))
      .filter(col(column).cast("string").isNotNull)
      .as[(String, Seq[Int])]
    // map-side partial bitmaps (one per file per task), OR-merged per file
    val bitmapDs = scanned.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
      it.foreach { case (fn, ps) =>
        val b = acc.getOrElseUpdate(fn, new Array[Byte](mBytes))
        ps.foreach(p => b(p >>> 3) = (b(p >>> 3) | (1 << (p & 7))).toByte)
      }
      acc.iterator
    }.groupByKey(_._1).reduceGroups { (a, b) =>
      val ba = a._2; val bb = b._2
      var i = 0
      while (i < ba.length) { ba(i) = (ba(i) | bb(i)).toByte; i += 1 }
      a
    }.map(_._2)
    // sidecar rows carry the log-relative path (the DV convention)
    val byName = files.map(f => Paths.get(f).getFileName.toString -> f).toMap
    val lookup = byName.toSeq.toDF("fn", "f")
    val sidecarDf = bitmapDs.toDF("fn", "bitmap")
      .join(broadcast(lookup), "fn").select("f", "bitmap")
    val staging = Files.createTempDirectory("graft_bloom").toString
    sidecarDf.repartition(1).write.mode("overwrite").parquet(staging)
    Files.createDirectories(Paths.get(dir, "stats"))
    val sl = Files.list(Paths.get(staging))
    try {
      val p0 = sl.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error("empty bloom staging"))
      val rel = f"stats/v$v%05d-bloom-${p0.getFileName.toString}"
      Files.move(p0, Paths.get(dir).resolve(rel),
        StandardCopyOption.ATOMIC_MOVE)
      rel
    } finally sl.close()
  }

  /** Index `column` with per-file bloom bitmaps: builds a sidecar for
    * the files not yet indexed (new appends since the last call) and
    * commits the mapping (op "bloom-stats"). Re-running after appends
    * tops up incrementally; switching columns rebuilds from scratch;
    * [[optimize]] and copy-on-write DML top up rewrite outputs
    * automatically, so the index never silently decays. Returns the
    * committed version (current version if nothing new). */
  def computeBlooms(spark: SparkSession, dir: String, column: String,
      bitsPerRow: Int = 10, maxRetries: Int = 20): Int = {
    val snap = snapshot(dir)
    val prior = if (snap.bloomCol.contains(column)) snap.blooms
                else Map.empty[String, String]
    val need = snap.files.filterNot(prior.contains)
    if (need.isEmpty) return snap.version
    val (_, v) = planNext(dir)
    val sidecarRel = stageBloomSidecar(spark, dir, snap, column, need, v,
      bitsPerRow)
    retryCommit(dir, maxRetries) { (head, vNext) =>
      // index only files still live at the head; keep the head's own
      // blooms for files it rewrote since our snapshot
      val headSet = head.files.toSet
      val base = if (head.bloomCol.contains(column)) head.blooms
                 else Map.empty[String, String]
      Some(commit(dir, head.files, expectedVersion = vNext,
        parts = head.parts, txn = head.txn, op = "bloom-stats",
        dvs = head.dvs, bloomCol = Some(column),
        blooms = base ++
          need.filter(headSet).map(_ -> sidecarRel),
        checks = head.checks, rgidx = head.rgidx,
        partCol = head.partCol,
        vecidx = head.vecidx, vecCol = head.vecCol))
    }.get
  }

  /** Driver memo of a small snapshot's bloom bitmaps — like the wide-
    * index memo, repeated point lookups against one version then plan
    * without any Spark job. Bounded: ≤512 indexed files collect at all,
    * ≥32 MB of bitmaps are not RETAINED (None marks "served once, too
    * big to keep"), 64 snapshots LRU. Big tables keep the distributed
    * probe (one boolean per file comes back, never the bitmaps). */
  private val bloomBitsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      Option[Map[String, Array[Byte]]]]()

  /** One bloom sidecar as (f, bitmap) rows, whichever name its bitmap
    * column carries (both writers put `f` first). */
  private def bloomSidecar(spark: SparkSession, dir: String,
      sidecar: String): DataFrame =
    spark.read.parquet(Paths.get(dir).resolve(sidecar).toString)
      .toDF("f", "bitmap")

  /** Driver-side read of bloom sidecars TRIMMED to the given
    * file→sidecar mapping, as (file, bitmap) rows. None = byte budget
    * exceeded or schema drift — callers fall back to the distributed
    * read. */
  private def localBloomSidecarRows(spark: SparkSession, dir: String,
      bySidecar: Seq[(String, collection.Set[String])])
      : Option[Seq[(String, Array[Byte])]] =
    try {
      val totalBytes = bySidecar.map { case (sc, _) =>
        Files.size(Paths.get(dir).resolve(sc))
      }.sum
      if (totalBytes > localSidecarMaxBytes) return None
      val conf = spark.sparkContext.hadoopConfiguration
      val acc = Seq.newBuilder[(String, Array[Byte])]
      val ok = bySidecar.forall { case (sc, want) =>
        val (rows, schema) = RowGroupScan.localParquetRows(
          Paths.get(dir).resolve(sc).toString, conf)
        // `bits`: sidecars Spark-built before both writers used `bitmap`
        val bitmapCol = Seq("bitmap", "bits").find(schema.fieldNames.contains)
        val shaped = schema.fieldNames.contains("f") && bitmapCol.isDefined
        if (shaped) {
          val fi = schema.fieldIndex("f")
          val bi = schema.fieldIndex(bitmapCol.get)
          rows.foreach { r =>
            val f = r.getString(fi)
            if (want(f)) acc += f -> r.getAs[Array[Byte]](bi)
          }
        }
        shaped
      }
      if (ok) Some(acc.result()) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  private def bloomBitsLocal(spark: SparkSession, dir: String,
      snap: Snapshot): Option[Map[String, Array[Byte]]] = {
    if (snap.blooms.isEmpty || snap.blooms.size > 512) return None
    val key = (dir, snap.version)
    Option(bloomBitsMemo.get(key)).getOrElse {
      import spark.implicits._
      val bySidecar = snap.blooms.groupBy(_._2).toSeq.sortBy(_._1)
      // zero-job driver read when the sidecars fit the byte budget (the
      // rgidx-planning posture); else the distributed read below
      val bits = localBloomSidecarRows(spark, dir,
          bySidecar.map { case (sc, m) => sc -> m.keySet })
        .map(_.toMap).getOrElse {
        val parts = bySidecar.map { case (sidecar, m) =>
          val fs = m.keySet.toSeq
          bloomSidecar(spark, dir, sidecar)
            .filter(org.apache.spark.sql.functions.col("f")
              .isin(fs: _*))
        }
        parts.reduce(_.unionByName(_))
          .as[(String, Array[Byte])].collect().toMap
      }
      val newBytes = bits.valuesIterator.map(_.length.toLong).sum
      val retained = if (newBytes <= (32L << 20)) Some(bits) else None
      // global byte budget across snapshots (64 × 32 MB would be GBs)
      val heldBytes = bloomBitsMemo.values.iterator.asScala
        .flatMap(_.iterator)
        .map(_.valuesIterator.map(_.length.toLong).sum).sum
      if (bloomBitsMemo.size > 64 ||
          heldBytes + newBytes > (64L << 20)) bloomBitsMemo.clear()
      bloomBitsMemo.put(key, retained)
      Some(bits)
    }
  }

  /** The probe's raw 64-bit hashes through Spark's OWN hash kernel —
    * the same XxHash64 EXPRESSION the build side folds (interpreted
    * eval and codegen share one XXH64 implementation), evaluated on the
    * driver so a point lookup plans without a hashing job. */
  private[graft] def probeHashesLocal(values: Seq[Any])
      : Array[Array[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit,
      XxHash64}
    values.map { v =>
      (0 until bloomK).map { i =>
        XxHash64(Seq(CLit(i), CLit(v.toString)), 42L)
          .eval(null).asInstanceOf[Long]
      }.toArray
    }.toArray
  }

  /** The bloom probe behind [[readPointLookup]]: which of the
    * snapshot's files MIGHT contain one of `values` (unindexed files
    * kept conservatively, indexed-but-no-sidecar-row = all-NULL file =
    * definitely absent). */
  private def bloomKeepFiles(spark: SparkSession, dir: String,
      snap: Snapshot, values: Seq[Any]): Seq[String] = {
    val probeHashes: Array[Array[Long]] = probeHashesLocal(values)
    // small snapshots probe DRIVER-RESIDENT bitmaps (zero jobs);
    // otherwise a distributed probe over the CURRENT mapping's sidecar
    // rows only — a sidecar row counts iff the snapshot still maps that
    // file to that sidecar (a column switch or rewrite leaves stale
    // rows behind) — returning one boolean per indexed file
    val hitByFile: Map[String, Boolean] =
      if (snap.blooms.isEmpty) Map.empty
      else bloomBitsLocal(spark, dir, snap) match {
        case Some(bits) =>
          bits.map { case (f, bytes) => f -> bloomHit(bytes, probeHashes) }
        case None =>
          import spark.implicits._
          val parts = snap.blooms.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (sidecar, m) =>
              val fs = m.keySet.toSeq
              bloomSidecar(spark, dir, sidecar)
                .filter(org.apache.spark.sql.functions.col("f")
                  .isin(fs: _*))
            }
          val ph = probeHashes
          parts.reduce(_.unionByName(_)).as[(String, Array[Byte])]
            .map { case (f, bytes) => (f, bloomHit(bytes, ph)) }
            .collect().toMap // bounded: ONE boolean per indexed file
      }
    snap.files.filter { f =>
      if (!snap.blooms.contains(f)) true // unindexed: conservative
      // indexed but no sidecar row: all-NULL file — definitely absent
      else hitByFile.getOrElse(f, false)
    }
  }

  /** Whether the bloom bitmap `bits` may hold one of the probes: every
    * one of some probe's k hashed bit positions is set. */
  private def bloomHit(bits: Array[Byte], probeHashes: Array[Array[Long]])
      : Boolean = {
    val m = bits.length.toLong * 8L
    probeHashes.exists(_.forall { h =>
      val p = (((h % m) + m) % m).toInt
      (bits(p >>> 3) & (1 << (p & 7))) != 0
    })
  }

  /** Point / IN-list lookup composing EVERY index the log carries — the
    * needle-in-100TB read path: the bloom probe prunes FILES
    * (definitely-absent), the per-row-group min/max index prunes ROW
    * GROUPS inside the kept files, and the selective scan
    * ([[RowGroupScan]]) reads only those. A clustered table answers an
    * id fetch by opening ~1 row group plus the bloom false-positive
    * tail. The caller re-applies the exact `isin` predicate. Returns
    * (frame, rgOpened, rgTotal, filesOpened, filesTotal); rgOpened /
    * rgTotal count the bloom-kept files (the honest report of what the
    * row-group stage had to work with).
    *
    * Probe values must be all integral (Long-widened zone check) or all
    * strings (UTF-8 order) — matching the bloom contract that the
    * column's cast-to-string equals `v.toString`. Files carrying
    * deletion vectors scan selectively too: the reader's row index
    * gives each row its file position, and the vectors anti-join on it
    * (as in [[readRowGroupPrunedMulti]]). `extra` composes ADDITIONAL
    * prunable conjuncts into the same scan — the keep sets intersect,
    * so a bloom-routed query with a range rider prunes on both. */
  def readPointLookup(spark: SparkSession, dir: String, column: String,
      values: Seq[Any], version: Int = -1,
      columns: Seq[String] = Nil,
      extra: Seq[RgConstraint] = Nil,
      fileSubset: Option[Seq[String]] = None)
      : (DataFrame, Long, Long, Int, Int) = {
    require(values.nonEmpty, "readPointLookup needs at least one value")
    val snap = snapshot(dir, version)
    require(snap.bloomCol.contains(column),
      s"no bloom index on $column in $dir (run computeBlooms first)")
    val longs: Option[Seq[Long]] =
      if (values.forall {
        case _: Byte | _: Short | _: Int | _: Long => true
        case _ => false
      }) Some(values.map {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case i: Int => i.toLong
        case l: Long => l
      }) else None
    require(longs.isDefined || values.forall(_.isInstanceOf[String]),
      "readPointLookup probes must be all-integral or all-string")
    val keep0 = bloomKeepFiles(spark, dir, snap, values)
    // partition-eliminated files intersect OUT of the bloom keep set
    val keep = fileSubset.fold(keep0)(fs => keep0.filter(fs.toSet))
    val eq: RgConstraint = longs match {
      case Some(ls) => NumIn(column, ls)
      case None => StrIn(column, values.map(_.asInstanceOf[String]))
    }
    prunedCore(spark, dir, snap,
      eq +: extra.filterNot(_ == eq), columns, Some(keep))
  }

  /** Compaction (OPTIMIZE): greedy bin-pack of the current version's
    * small files into ≤ `maxRows` rewritten files, committed as a NEW
    * version — readers of every prior version are untouched (their
    * files stay until [[vacuum]]), the new version reads the same rows
    * from far fewer files. Files sharing a partition tag compact only
    * with each other (the tag survives); single-file bins are kept
    * as-is, not rewritten. `clusterBy` sorts each rewritten file on the
    * given columns (the OPTIMIZE ZORDER/cluster shape) so footer min/max
    * ranges tighten and [[LakeSelect.readWhere]] skips harder. Returns
    * (newVersion, filesBefore, filesAfter); a no-op (nothing to merge)
    * commits nothing and returns the current version.
    *
    * Scale: row counts come from one distributed footer-only pass; each
    * merged bin is one distributed read+write. The greedy plan itself is
    * the [[MergeParquet.planBatches]] driver logic over (file, count)
    * pairs — bounded metadata. */
  def optimize(spark: SparkSession, dir: String,
      maxRows: Long = 10000000L,
      clusterBy: Seq[String] = Nil,
      maxRetries: Int = 20,
      quantileCluster: Boolean = false): (Int, Int, Int) = {
    val cur = currentVersion(dir)
    if (cur == 0) return (0, 0, 0) // empty table: clean no-op
    val snap = snapshot(dir, cur)
    val v = cur + 1
    if (snap.files.size <= 1 && clusterBy.isEmpty && snap.dvs.isEmpty)
      return (cur, snap.files.size, snap.files.size)
    // per-file row counts from footers only, distributed (one task/file)
    val base = dir
    val counts = footerCounts(spark, dir, snap.files)
    // work within each partition-tag group so tags stay exact
    val groups = snap.files.groupBy(f => snap.parts.get(f)).toSeq
      .sortBy(_._1.getOrElse(""))
    val kept = Seq.newBuilder[String]
    val merged = Seq.newBuilder[(String, Option[String])]
    var binIdx = 0
    def writeMerged(df: DataFrame, tag: Option[String]): Unit = {
      val staging = Files.createTempDirectory("graft_optimize").toString
      df.write.mode("overwrite").parquet(staging)
      val part = Files.list(Paths.get(staging))
      val outs =
        try part.iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally part.close()
      outs.foreach { f0 =>
        val rel = f"data/v$v%05d-opt$binIdx%04d-${f0.getFileName.toString}"
        Files.move(f0, Paths.get(base).resolve(rel),
          StandardCopyOption.ATOMIC_MOVE)
        merged += rel -> tag
        binIdx += 1
      }
    }
    groups.foreach { case (tag, fs) =>
      if (clusterBy.nonEmpty) {
        // clustering rewrite: the whole group re-sorts GLOBALLY into
        // range-disjoint ≤maxRows files — the OPTIMIZE ZORDER shape that
        // makes the row-group index skip hard (per-bin local sorts would
        // leave file ranges overlapping).
        //
        // ONE column (or any non-numeric column): lexicographic sort —
        // optimal for a single column, the only general order for
        // strings. TWO+ numeric columns: a Morton z-key over
        // min/max-scaled values ([[ZOrder.zorderEncode]]), so zone maps
        // prune on EVERY cluster column — a lexicographic multi-column
        // sort gives the 2nd+ columns full-range min/max in every file
        // and prunes on the leading column only. Uniform min/max scaling
        // is one cheap aggregate; heavily skewed columns would prefer
        // quantile cuts (range_partition_id, the Delta form) — the
        // uniform key stays CORRECT (pruning is best-effort, reads
        // re-check footers), it just prunes less on skew.
        import org.apache.spark.sql.functions.{col, greatest, least, lit,
          max => fmax, min => fmin}
        val total = fs.iterator.map(counts).sum
        val nOut = math.max(1L, (total + maxRows - 1) / maxRows).toInt
        val abs = fs.map(f => Paths.get(base).resolve(f).toString)
        // rewrites MATERIALIZE deletion vectors: the deleted rows are
        // dropped here and the outputs carry no vector
        val df0 = applyDv(spark, dir,
          RowGroupScan.readNoInfer(spark, abs), snap.dvs)
        val numeric = clusterBy.forall(c => df0.schema(c).dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case _ => false
        })
        val cols = clusterBy.map(col)
        val sortKey: Seq[org.apache.spark.sql.Column] =
          if (clusterBy.size < 2 || !numeric) cols
          else if (quantileCluster) {
            // QUANTILE-cut z-key (the Delta range_partition_id form) for
            // SKEWED cluster columns: uniform min/max scaling maps a
            // zipf column's dense mass to one z-cell (a single outlier
            // stretches the range a million-fold), collapsing pruning to
            // the other columns. Sampled quantile cuts give each column
            // an equi-POPULATED rank in [0, 255] instead; the rank rides
            // zorderEncode exactly like the uniform key. Rank evaluation
            // is a codegen'd fold over the ≤255-element cut array —
            // O(cuts) per row, amortized into the one-time rewrite sort.
            // approxQuantile is sampling-based and distributed (one pass
            // per column); pruning stays best-effort-correct (reads
            // re-check footers), so approximation cannot lose rows.
            import org.apache.spark.sql.functions.{aggregate, lit, when}
            val qBits = math.max(1, math.min(8, 62 / clusterBy.size))
            val lim = (1 << qBits) - 1
            val probs = (1 to lim).map(_.toDouble / (lim + 1)).toArray
            // ALL columns' quantiles in one multi-column call — one
            // distributed pass over the group instead of one per
            // cluster column (same sketches, identical cuts)
            val allCuts = df0.stat.approxQuantile(clusterBy.toArray,
              probs, 0.001)
            val scaled = clusterBy.zipWithIndex.map { case (c, ci) =>
              val cuts = allCuts(ci)
                .filter(d => !d.isNaN && !d.isInfinite).distinct.sorted
              if (cuts.isEmpty) lit(0L)
              else aggregate(lit(cuts), lit(0L), (acc, cut) =>
                acc + when(col(c).cast("double") >= cut, 1L).otherwise(0L))
            }
            Seq(ZOrder.zorderEncode(scaled, qBits))
          } else {
            // bits shrink with the column count so n*bits stays within
            // zorderEncode's 62-bit budget (4+ cluster columns would
            // otherwise crash mid-compaction)
            val bits = math.max(1, math.min(16, 62 / clusterBy.size))
            val lim = (1 << bits) - 1
            val aggs = clusterBy.flatMap(c =>
              Seq(fmin(col(c)).cast("double"), fmax(col(c)).cast("double")))
            val mm = df0.agg(aggs.head, aggs.tail: _*).head()
            val scaled = clusterBy.zipWithIndex.map { case (c, i) =>
              val lo = if (mm.isNullAt(2 * i)) 0.0 else mm.getDouble(2 * i)
              val hi = if (mm.isNullAt(2 * i + 1)) 1.0
                       else mm.getDouble(2 * i + 1)
              val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
              least(lit(lim.toLong), greatest(lit(0L),
                ((col(c).cast("double") - lit(lo)) / lit(span) * lit(
                  lim.toDouble)).cast("long")))
            }
            Seq(ZOrder.zorderEncode(scaled, bits))
          }
        val keyed = df0.withColumn("__graft_zsort", sortKey.head)
        val extraKeys = sortKey.tail
        writeMerged(
          keyed
            .repartitionByRange(nOut,
              (col("__graft_zsort") +: extraKeys): _*)
            .sortWithinPartitions(
              (col("__graft_zsort") +: extraKeys): _*)
            .drop("__graft_zsort"),
          tag)
      } else MergeParquet.planBatches(
        fs.sorted.map(f => f -> counts(f)), maxRows).foreach { bin =>
        // a single-file bin with a deletion vector still rewrites — the
        // point of compaction is to materialize the vector away
        if (bin.size == 1 && !snap.dvs.contains(bin.head)) kept += bin.head
        else {
          val abs = bin.map(f => Paths.get(base).resolve(f).toString)
          writeMerged(applyDv(spark, dir,
            RowGroupScan.readNoInfer(spark, abs),
            snap.dvs).coalesce(1), tag)
        }
      }
    }
    val keptFiles = kept.result()
    val mergedFiles = merged.result()
    if (mergedFiles.isEmpty) return (cur, snap.files.size, snap.files.size)
    val outputs = keptFiles ++ mergedFiles.map(_._1)
    val outputParts = keptFiles.flatMap(f =>
      snap.parts.get(f).map(f -> _)).toMap ++
      mergedFiles.collect { case (f, Some(t)) => f -> t }.toMap
    // auto-maintain the bloom index across the rewrite: one sidecar for
    // the rewritten outputs, committed atomically with them — without
    // this the index silently decays (conservative unpruned opens) until
    // a manual computeBlooms re-run
    val bloomTopUp: Map[String, String] = snap.bloomCol match {
      case Some(c) if mergedFiles.nonEmpty =>
        val rel = stageBloomSidecar(spark, dir, snap, c,
          mergedFiles.map(_._1), v, bitsPerRow = 10)
        mergedFiles.map(_._1 -> rel).toMap
      case _ => Map.empty
    }
    // likewise the persisted row-group index: index the rewrite outputs
    // in the same commit so later declarative reads still open no footer
    val rgTopUp = rgidxTopUp(spark, dir, snap, mergedFiles.map(_._1), v)
    val vecTopUp = vecidxTopUp(spark, dir, snap, mergedFiles.map(_._1), v)
    // Rebase-retrying commit: a compaction only CONFLICTS with a commit
    // that removed one of its input files (another rewrite); an append
    // that landed meanwhile is a non-conflict — reload the head, carry
    // the appended files through unchanged, and retry. This is what lets
    // a streaming writer and a compaction loop share one table with
    // guaranteed progress on both sides.
    val inputs = snap.files.toSet
    var committedFiles = 0
    val committed = retryCommit(dir, maxRetries) { (head, vNext) =>
      val gone = inputs.filterNot(head.files.toSet)
      if (gone.nonEmpty) throw new IllegalStateException(
        s"optimize conflict on $dir: input files rewritten by a " +
          s"concurrent commit (${gone.take(3).mkString(", ")}...); " +
          "re-run optimize against the new head")
      // a DV landed on an input AFTER our rewrite read it: committing
      // would resurrect those deleted rows — abort loudly
      val dvRaced = inputs.filter(f => head.dvs.get(f) != snap.dvs.get(f))
      if (dvRaced.nonEmpty) throw new IllegalStateException(
        s"optimize conflict on $dir: concurrent deletion vectors on " +
          s"(${dvRaced.take(3).mkString(", ")}); re-run optimize")
      val files = head.files.filterNot(inputs) ++ outputs
      val parts = (head.parts -- inputs) ++ outputParts
      committedFiles = files.size
      // drop bloom entries only for files actually REWRITTEN — a kept
      // (carried-through) file's bitmap is still byte-valid; add the
      // top-up sidecar for the rewrite outputs (same column only — a
      // racer that switched the indexed column wins)
      val rewritten = inputs -- keptFiles
      val blooms =
        if (head.bloomCol == snap.bloomCol)
          (head.blooms -- rewritten) ++ bloomTopUp
        else head.blooms -- rewritten
      Some(commit(dir, files, expectedVersion = vNext, parts = parts,
        txn = head.txn, op = "optimize", dvs = head.dvs -- inputs,
        bloomCol = head.bloomCol, blooms = blooms, checks = head.checks,
        rgidx = (head.rgidx -- rewritten) ++ rgTopUp,
        partCol = head.partCol,
        // rewritten files' assignments die with their files; the
        // rewrite OUTPUTS are re-assigned from the stored codebook in
        // the same commit (map-only, zero training), so persisted-IVF
        // queries stay fully sidecar-served through an OPTIMIZE
        vecidx = vecCarry(head, files) ++ vecTopUp,
        vecCol = head.vecCol))
    }
    (committed.get, snap.files.size, committedFiles)
  }

  /** DELETE FROM ... WHERE `predicate` — copy-on-write, the Delta DML
    * shape: ONE distributed scan finds the files that actually contain
    * matching rows (per-file match counts via `input_file_name`), only
    * those files are rewritten with the matches filtered out (one job
    * per touched partition-tag group, NEVER per file), untouched files
    * carry over by reference, and the swap commits atomically with the
    * same rebase-retry discipline as [[optimize]] (concurrent appends
    * carry through; a concurrent rewrite of a touched file aborts
    * loudly). Prior versions still time-travel to the pre-delete state.
    * Returns (newVersion, rowsDeleted, filesRewritten, filesTotal);
    * a predicate matching nothing commits nothing.
    *
    * Scale: cost is proportional to the TOUCHED data — pair with
    * [[optimize]]`(clusterBy = predicate column)` so the match
    * concentrates in few files. */
  def delete(spark: SparkSession, dir: String, predicate: String,
      maxRetries: Int = 20): (Int, Long, Int, Int) =
    rewriteMatched(spark, dir, predicate, maxRetries, op = "delete",
      // keep every row whose predicate is not TRUE — a NULL predicate
      // row survives a DELETE (SQL three-valued semantics)
      rewrite = (df, pred) => df.filter(org.apache.spark.sql.functions
        .not(org.apache.spark.sql.functions.coalesce(pred,
          org.apache.spark.sql.functions.lit(false)))))

  /** UPDATE ... SET col = expr WHERE `predicate` — copy-on-write like
    * [[delete]]: only files containing matching rows are rewritten, with
    * every `set` expression evaluated against the OLD row (simultaneous
    * assignment, the SQL UPDATE contract). Returns (newVersion,
    * rowsUpdated, filesRewritten, filesTotal). */
  def update(spark: SparkSession, dir: String, predicate: String,
      set: Map[String, String], maxRetries: Int = 20): (Int, Long, Int, Int) = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    rewriteMatched(spark, dir, predicate, maxRetries, op = "update",
      rewrite = (df, pred) => {
        import org.apache.spark.sql.functions.{col, expr, when}
        set.keys.foreach(c => require(df.columns.contains(c),
          s"UPDATE SET targets unknown column $c"))
        df.select(df.columns.map { c =>
          if (set.contains(c))
            // cast back to the column's ORIGINAL type (the Delta UPDATE
            // contract): a widening SET expression (v * 1.1 on a LONG)
            // would otherwise rewrite the touched files with a different
            // Parquet physical type and brick plain reads of the mixed
            // snapshot
            when(pred, expr(set(c)).cast(df.schema(c).dataType))
              .otherwise(col(c)).as(c)
          else col(c)
        }.toSeq: _*)
      })
  }

  /** Shared copy-on-write core of [[delete]]/[[update]]: find touched
    * files, rewrite them per partition-tag group via `rewrite`, commit
    * with rebase over concurrent appends. */
  private def rewriteMatched(spark: SparkSession, dir: String,
      predicate: String, maxRetries: Int, op: String,
      rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame)
      : (Int, Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    val snap = snapshot(dir)
    val pred = expr(predicate)
    val byName = snap.files.map(f =>
      Paths.get(f).getFileName.toString -> f).toMap
    require(byName.size == snap.files.size,
      s"duplicate data-file basenames in $dir") // never true by naming
    // evolved scans on BOTH copy-on-write passes: the touched files may
    // straddle an add-column or type-widening evolution (see
    // [[readEvolved]]) — without them the rewrite could resolve one
    // footer's narrower schema and silently DROP the evolved column
    // from the surviving rows, or refuse the widened type outright.
    // Deletion vectors apply FIRST: a row already DV-deleted is not
    // visible, cannot match, and never re-enters through the rewrite.
    // ONE distributed scan: which files hold matches, and how many rows
    val matchedCounts = antiDv(spark, dir,
        tagPhys(scanEvolved(spark, dir, snap, snap.files)), snap.dvs)
      .filter(pred)
      .groupBy(col("__graft_fn").as("f"))
      .agg(count(lit(1)).as("n"))
      .collect() // bounded: one row per TOUCHED file
      .map { r =>
        val base = r.getString(0)
        byName.getOrElse(base,
          sys.error(s"scanned file $base not in snapshot")) -> r.getLong(1)
      }.toMap
    if (matchedCounts.isEmpty)
      return (snap.version, 0L, 0, snap.files.size)
    val touched = matchedCounts.keySet
    val rowsMatched = matchedCounts.values.sum
    // rewrite per partition-tag group (a file holds ONE tag), one
    // distributed job per touched tag — never a per-file driver loop
    val v = snap.version + 1
    val outputs = Seq.newBuilder[(String, Option[String])]
    var grp = 0
    touched.groupBy(f => snap.parts.get(f)).foreach { case (tag, fs) =>
      val rewritten = rewrite(
        applyDv(spark, dir, scanEvolved(spark, dir, snap, fs.toSeq.sorted),
          snap.dvs), pred)
      // UPDATE writes NEW row values — they must satisfy the table's
      // CHECK constraints (a DELETE's survivors were committed valid).
      // Non-deterministic SET expressions validate the STAGED files,
      // the rows that will actually commit (see writeData).
      val postValidate = op == "update" && snap.checks.nonEmpty &&
        nonDeterministic(rewritten)
      if (op == "update" && !postValidate)
        enforceChecks(rewritten, snap.checks, s"UPDATE rewrite of $dir")
      val staging = Files.createTempDirectory("graft_cow").toString
      rewritten.write.mode("overwrite").parquet(staging)
      if (postValidate)
        enforceChecks(RowGroupScan.readNoInfer(spark, Seq(staging)),
          snap.checks,
          s"UPDATE rewrite of $dir")
      val s = Files.list(Paths.get(staging))
      try s.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach { p =>
          val rel = f"data/v$v%05d-$op$grp%04d-${p.getFileName.toString}"
          val target = Paths.get(dir).resolve(rel)
          require(!Files.exists(target), s"staged-file collision: $rel")
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          outputs += rel -> tag
        }
      finally s.close()
      grp += 1
    }
    val outs = outputs.result()
    // auto-maintain the bloom index: the touched files' bitmaps die with
    // them — index their replacements in the same commit (see optimize)
    val bloomTopUp: Map[String, String] = snap.bloomCol match {
      case Some(c) if outs.nonEmpty =>
        val rel = stageBloomSidecar(spark, dir, snap, c, outs.map(_._1), v,
          bitsPerRow = 10)
        outs.map(_._1 -> rel).toMap
      case _ => Map.empty
    }
    val rgTopUp = rgidxTopUp(spark, dir, snap, outs.map(_._1), v)
    val vecTopUp = vecidxTopUp(spark, dir, snap, outs.map(_._1), v)
    // commit with rebase over concurrent appends; abort if a TOUCHED
    // file was rewritten underneath us (same contract as optimize)
    val committed = retryCommit(dir, maxRetries) { (head, vNext) =>
      val gone = touched.filterNot(head.files.toSet)
      if (gone.nonEmpty) throw new IllegalStateException(
        s"$op conflict on $dir: touched files rewritten by a " +
          s"concurrent commit (${gone.take(3).mkString(", ")})")
      val dvRaced = touched.filter(f => head.dvs.get(f) != snap.dvs.get(f))
      if (dvRaced.nonEmpty) throw new IllegalStateException(
        s"$op conflict on $dir: concurrent deletion vectors on " +
          s"(${dvRaced.take(3).mkString(", ")})")
      val files = head.files.filterNot(touched) ++ outs.map(_._1)
      val parts = (head.parts -- touched) ++
        outs.collect { case (f, Some(t)) => f -> t }
      val blooms =
        if (head.bloomCol == snap.bloomCol)
          (head.blooms -- touched) ++ bloomTopUp
        else head.blooms -- touched
      Some(commit(dir, files, expectedVersion = vNext, parts = parts,
        txn = head.txn, op = op, dvs = head.dvs -- touched,
        bloomCol = head.bloomCol, blooms = blooms, checks = head.checks,
        rgidx = (head.rgidx -- touched) ++ rgTopUp,
        partCol = head.partCol,
        vecidx = vecCarry(head, files) ++ vecTopUp,
        vecCol = head.vecCol))
    }
    (committed.get, rowsMatched, touched.size, snap.files.size)
  }

  /** RESTORE TABLE ... TO VERSION AS OF `toVersion` (the Delta restore
    * semantics): commit the OLD version's exact file set — and its
    * partition tags — as the NEW head. History is preserved (restore is
    * a forward commit, never a rewind), the restored-over versions stay
    * time-travelable until [[vacuum]], and `txn` markers carry forward
    * so a streaming writer's exactly-once dedup survives the restore.
    * Data files are immutable and shared, so a restore moves ZERO data
    * bytes — one metadata commit. Rebase-retries like [[append]]: a
    * racing append wins its spot and the restore lands after it (the
    * restore's snapshot intent is explicit, so later-arriving appends
    * before the restore commit are superseded by design — loudly visible
    * in history). */
  def restore(dir: String, toVersion: Int, maxRetries: Int = 20): Int = {
    val old = snapshot(dir, toVersion) // loud if vacuumed/missing
    // CHECK constraints persist through a restore; the restored state
    // may RESURRECT rows deleted before the constraint was added, so it
    // revalidates (one scan) — a violating restore fails loudly with
    // nothing committed
    val headCks = headChecks(dir)
    if (headCks.nonEmpty)
      enforceChecks(readEvolved(SparkSession.active, dir, toVersion),
        headCks, s"restore of $dir to v$toVersion")
    retryCommit(dir, maxRetries) { (prev, v) =>
      require(toVersion <= prev.version,
        s"cannot restore $dir to future version $toVersion " +
          s"(head ${prev.version})")
      Some(commit(dir, old.files, expectedVersion = v,
        parts = old.parts, txn = prev.txn, op = "restore",
        dvs = old.dvs, bloomCol = old.bloomCol, blooms = old.blooms,
        checks = prev.checks, rgidx = old.rgidx,
        partCol = old.partCol,
        vecidx = old.vecidx, vecCol = old.vecCol))
    }.get
  }

  /** Default vacuum retention grace: 10 minutes. Long enough that a
    * rebasing writer's staged-but-not-yet-committed files (staged
    * seconds before their commit lands) are never swept; short enough
    * that space reclaim is still prompt. Object-store deployments with
    * long-running jobs should raise it toward the Delta-style hours. */
  val DefaultVacuumGraceMs: Long = 600000L

  /** Drop versions < `keepFrom` and delete data files no retained
    * version references. Returns the deleted file paths (relative).
    *
    * Safe under live writers via two guards: a file whose `v{N}` name
    * prefix exceeds the current version belongs to an in-flight commit
    * (writers stage data BEFORE publishing the log json) and is never
    * touched; and `graceMs` > 0 additionally spares any data file
    * modified within the last `graceMs` (the Delta retention-window
    * discipline — covers a staged file whose writer was forced to
    * rebase past its planned version). The grace is ON BY DEFAULT
    * ([[DefaultVacuumGraceMs]]); pass `graceMs = 0` only with writers
    * quiesced — a grace-less vacuum racing a rebasing writer can sweep
    * its staged files. */
  def vacuum(dir: String, keepFrom: Int,
      graceMs: Long = DefaultVacuumGraceMs): Seq[String] = {
    val cur = currentVersion(dir)
    require(keepFrom >= 1 && keepFrom <= cur,
      s"keepFrom $keepFrom out of range [1, $cur]")
    val retained = (keepFrom to cur).map(v => snapshot(dir, v))
    val referenced = retained.flatMap(_.files).toSet ++
      retained.flatMap(_.dvs.values) ++
      retained.flatMap(_.blooms.values) ++
      retained.flatMap(_.rgidx.values) ++
      retained.flatMap(_.vecidx.values)
    // \d{5,}: version prefixes print >5 digits past v99999 (%05d is a
    // minimum width) — a fixed-width group would parse "v100000-…" as
    // 10000 and mis-classify live in-flight files as ancient.
    val vPrefix = "v(\\d{5,})-.*".r
    val cutoff = System.currentTimeMillis() - graceMs
    def inFlight(p: java.nio.file.Path): Boolean = {
      val future = p.getFileName.toString match {
        case vPrefix(n) => n.toInt > cur
        case _ => false
      }
      future || (graceMs > 0L &&
        Files.getLastModifiedTime(p).toMillis >= cutoff)
    }
    def sweep(sub: String): Seq[String] = {
      val d = Paths.get(dir, sub)
      if (!Files.exists(d)) Seq.empty[String]
      else {
        val s = Files.list(d)
        try s.iterator.asScala
          .filterNot(inFlight)
          .map(p => s"$sub/" + p.getFileName.toString)
          .filterNot(referenced).toSeq
        finally s.close()
      }
    }
    val doomed = sweep("data") ++ sweep("dv") ++ sweep("stats")
    doomed.foreach(f => Files.deleteIfExists(Paths.get(dir).resolve(f)))
    // a retained DELTA entry whose base checkpoint falls below keepFrom
    // must become self-contained before that base is dropped: write a
    // rescue checkpoint (full state AT v, original op/ts preserved so
    // timestamp time travel stays exact) that snapshot() falls back to
    (keepFrom to cur).foreach { v =>
      val node = readNode(logDir(dir).resolve(vJson(v)))
      if (node.has("base") && node.get("base").asInt() < keepFrom) {
        val cp = logDir(dir).resolve(cJson(v))
        if (!Files.exists(cp)) {
          val s0 = retained(v - keepFrom)
          val tmp = Files.createTempFile(logDir(dir), s".tmp-c$v-",
            ".json")
          Files.write(tmp, entryBytes(fullEntryJson(v, s0.files,
            s0.parts, s0.txn, s0.op, s0.dvs, s0.bloomCol, s0.blooms,
            s0.checks, s0.rgidx, s0.partCol, s0.vecidx, s0.vecCol,
            s0.ts)))
          try Files.createLink(cp, tmp)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          Files.deleteIfExists(tmp)
        }
      }
    }
    (1 until keepFrom).foreach { v =>
      Files.deleteIfExists(logDir(dir).resolve(vJson(v)))
      Files.deleteIfExists(logDir(dir).resolve(cJson(v)))
    }
    doomed
  }
}

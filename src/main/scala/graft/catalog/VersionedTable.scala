package graft.catalog

import graft.config.JsonConfig
import graft.fsops.FsOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Commit-log versioned parquet table: native time travel for the lake
  * layout the engine already writes.
  *
  * The reference delegates versioning to the Delta Lake jar
  * (reference: src/main/scala/com/adidas/analytics/algo/loads/DeltaLakeLoad.scala:295-307
  * — vacuum/history calls on `DeltaTable`); this face re-derives the part
  * of that contract the engine actually needs — snapshot isolation, read
  * @version, read-as-of-timestamp, version diff, rollback, vacuum — from
  * one primitive Spark already has everywhere: readers only ever open
  * paths named by a COMMIT FILE, so a data directory that has no commit
  * file does not exist yet.
  *
  * Layout under `root`:
  * {{{
  *   root/d-5f3a9c12/…parquet      # immutable snapshot data, writer-private dir
  *   root/_commits/00001.json      # {"version":1,"ts":…,"op":"write","rows":…,"path":"d-5f3a9c12"}
  * }}}
  *
  * Commit protocol: land the snapshot in a WRITER-PRIVATE data directory
  * (unreferenced, hence invisible — and never contended: racing writers
  * each stage under their own uuid), then CREATE-EXCLUSIVE the commit
  * file that binds the next version number to that directory, through
  * [[graft.fsops.FsOps.publishExclusive]]. Of two racers for version N
  * exactly one wins. An unpinned loser retries the COMMIT ONLY under
  * N+1 — its already-landed data is not rewritten; a pinned loser (a
  * read-modify-write) fails with
  * [[java.util.ConcurrentModificationException]]. On object stores
  * without atomic rename, the log directory needs the usual external
  * coordination layer — same caveat every lakehouse format documents.
  *
  * Scale notes (100 TB):
  *  - the log holds one TINY json per commit; planning a read is an
  *    O(commits) driver-side listing of `_commits`, never of data files;
  *  - snapshots are immutable, so `readVersion` is an ordinary pruned
  *    parquet scan — all pushdown/partition machinery applies unchanged;
  *  - `diff`/`changeFeed` over a commit that RECORDED its change set
  *    ([[writeWithChanges]]/[[merge]] — the Delta-CDF `_change_data`
  *    trade) are a plain scan of delta-cardinality rows; only plain
  *    commits fall back to one full-outer join of exactly the two
  *    snapshots compared (the cost CDC-on-read costs any format
  *    without per-commit row tracking);
  *  - `vacuum` deletes whole version directories driver-side; it never
  *    lists individual data files of retained versions.
  */
object VersionedTable {

  /** One committed snapshot (parsed from its commit file). `path` is the
    * data directory name relative to the table root; `indexCol` is the
    * sort/manifest dimension when the snapshot landed via
    * [[writeIndexed]] ("x,y" with `indexKind = Some("zorder")` for
    * [[writeZIndexed]]; None for plain [[write]]s).
    */
  final case class Commit(version: Long, ts: Long, op: String, rows: Long,
      path: String, indexCol: Option[String] = None,
      indexKind: Option[String] = None,
      partTypes: Option[String] = None,
      cdcKeys: Option[String] = None,
      bucketCol: Option[String] = None,
      nBuckets: Option[Int] = None,
      bucketMap: Option[String] = None)

  private def commitsDir(root: String) = s"$root/_commits"
  private def commitFile(root: String, v: Long) =
    f"${commitsDir(root)}/$v%05d.json"
  private def dataDir(root: String, c: Commit) = s"$root/${c.path}"

  /** All committed versions, ascending BY PARSED VERSION (lexicographic
    * filename order breaks past the zero-pad width — "100000.json" sorts
    * before "99999.json"; the padding is a readability nicety, never an
    * ordering contract). Uncommitted data dirs (crashed or in-flight
    * writers) are invisible by construction, and so are in-flight commit
    * files: writers stage content under a `.…tmp` name (filtered here)
    * and publish it whole ([[FsOps.publishExclusive]]), so every `*.json`
    * this lists is complete.
    */
  def commits(fsOps: FsOps, root: String): Seq[Commit] =
    fsOps.ls(commitsDir(root)).filter(_.endsWith(".json"))
      .map(f => parseCommit(fsOps, s"${commitsDir(root)}/$f"))
      .sortBy(_.version)

  /** Unpinned commits retry a lost version race this many times, each
    * against the refreshed log; a pinned commit gets exactly one attempt.
    */
  private val MaxAttempts = 5

  private def parseCommit(fsOps: FsOps, path: String): Commit = {
    val c = JsonConfig.fromFile(fsOps, path)
    Commit(c.getLong("version"), c.getLong("ts"), c.getString("op"),
      c.getLong("rows"), c.getString("path"),
      c.getStringOpt("index_col"), c.getStringOpt("index_kind"),
      c.getStringOpt("part_types"), c.getStringOpt("cdc_keys"),
      c.getStringOpt("bucket_col"),
      c.getStringOpt("n_buckets").map(_.toInt),
      c.getStringOpt("bucket_map"))
  }

  /** O(1) single-version lookup: the commit filename is deterministic
    * from the version, so resolving one version needs ONE file read, not
    * a listing + parse of the whole log (which would make per-version
    * callers — changeFeed, catch-up folds — quadratic in table age).
    * Falls back to the full listing for logs with foreign/unpadded
    * names.
    */
  private def commitOf(fsOps: FsOps, root: String, version: Long): Commit = {
    val direct = commitFile(root, version)
    if (fsOps.exists(direct)) {
      val c = parseCommit(fsOps, direct)
      require(c.version == version,
        s"$direct names version ${c.version}, not $version — corrupt log")
      c
    } else commits(fsOps, root).find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version was never committed under $root"))
  }

  def latestVersion(fsOps: FsOps, root: String): Long = {
    val cs = commits(fsOps, root)
    require(cs.nonEmpty, s"no committed versions under $root")
    cs.last.version
  }

  /** Atomically publish `df` as the next snapshot of `root`; returns the
    * committed version number. `ts` is the commit timestamp (caller-
    * supplied epoch millis — keeps replays and tests deterministic).
    */
  def write(df: DataFrame, fsOps: FsOps, root: String, ts: Long,
      op: String = "write"): Long =
    writeLanded(df, fsOps, root, ts, op, Plain)

  /** Optimistic-concurrency [[write]]: commit ONLY if the table is still
    * at `expectedVersion` (what the writer read before computing `df`).
    * A concurrent commit in between fails this writer with
    * [[java.util.ConcurrentModificationException]] instead of silently
    * publishing a snapshot that overwrites the other writer's changes —
    * the read-modify-write safety blind [[write]] (a full-replace
    * publish) cannot give. The loser re-reads, recomputes, retries at
    * the caller's discretion; its landed data dir is cleaned up.
    */
  def writeIf(df: DataFrame, fsOps: FsOps, root: String, ts: Long,
      expectedVersion: Long, op: String = "write"): Long = {
    // cheap pre-check (the landing write is the expensive part); a
    // commit landing after it loses the pinned commit's race instead
    requireBase(root,
      commits(fsOps, root).lastOption.map(_.version).getOrElse(0L),
      expectedVersion)
    writeLanded(df, fsOps, root, ts, op, Plain, pin = Some(expectedVersion))
  }

  /** A read-modify-write's stale-base check: the table must still be at
    * the version the writer derived its content from.
    */
  private def requireBase(root: String, latest: Long, expected: Long)
      : Unit =
    if (latest != expected)
      throw new java.util.ConcurrentModificationException(
        s"$root moved to version $latest; this writer's content was " +
          s"derived from version $expected — re-read and recompute")

  /** Name of the per-commit change-set dir INSIDE the data dir: the `_`
    * prefix keeps it invisible to `spark.read.parquet(dataDir)` (plain
    * [[readVersion]] needs no special casing) and it travels/vacuums
    * with its snapshot atomically — one commit references both.
    */
  private val ChangesDir = "_changes"

  /** [[write]] with a WRITER-RECORDED change set: the exact
    * [[changeFeed]] rows between the previous version and this snapshot
    * land alongside the snapshot (inside the same data dir, bound by
    * the same commit), so `changeFeed(v−1, v)` serves the recorded set
    * as a plain pruned scan of delta-cardinality rows — never the
    * full-outer join of two complete snapshots that CDC-on-read costs.
    * This is the Delta-CDF trade (its `_change_data` dir): the writer
    * already knows its delta, so persisting it makes every downstream
    * maintenance fold O(delta) instead of O(table) per version
    * (reference: src/main/scala/com/adidas/analytics/algo/loads/DeltaLakeLoad.scala:128-146
    * — the merge semantics such change sets encode).
    *
    * `changes` must carry the snapshot's columns plus `change_type`
    * (insert / delete / update_preimage / update_postimage) — schema is
    * validated here; its CONTENT is the writer's contract (exactly the
    * v−1 → v feed; [[merge]] computes it for callers who'd rather not).
    * A wrong change set diverges every maintained view that consumes
    * it, same as any CDC log.
    */
  def writeWithChanges(df: DataFrame, changes: DataFrame, fsOps: FsOps,
      root: String, ts: Long, keys: Seq[String], op: String = "write")
      : Long =
    writeLanded(df, fsOps, root, ts, op,
      Plain.recording(changes, keys, df.columns))

  /** MERGE: publish (base \ deleteKeys) ∪ upserts as the next version,
    * WITH the change set computed and recorded at write time — the
    * write face that already knows its delta. LAYOUT-DISPATCHING: on a
    * plain table the next snapshot is ONE full base scan anti-joined
    * against the broadcast delta keys (copy-on-write; no shuffle of
    * the base, preimages from a broadcast-semi-pruned sliver); on a
    * [[writeBucketed]] chain the merge reads and rewrites ONLY the
    * buckets the delta keys hash into (commit bytes ≈ touchedBuckets ×
    * |table|/n — the bucket column must be among the merge keys), so
    * snapshot write, change feed, and every downstream fold are all
    * ∝ delta. The base is never shuffled and never joined
    * whole-against-whole on either path.
    *
    * `upserts` replace matching keys and insert new ones; `deleteKeys`
    * (key columns only) drop theirs. A key in both is ambiguous and
    * fails fast. An upsert row identical to the base row is a no-op
    * (no change row — same as [[changeFeed]]'s update test). Keys must
    * be unique per side (the writer's primary-key contract, same as
    * [[diff]]). Read-modify-write safe: the commit is PINNED to the
    * version this merge read; a concurrent commit fails it with
    * [[java.util.ConcurrentModificationException]] — re-invoke to
    * retry against the new latest.
    */
  def merge(spark: SparkSession, fsOps: FsOps, root: String,
      upserts: DataFrame, deleteKeys: DataFrame, keys: Seq[String],
      ts: Long, op: String = "merge"): Long = {
    val baseV = latestVersion(fsOps, root)
    val parent = commitOf(fsOps, root, baseV)
    val schemaRef = readVersion(spark, fsOps, root, baseV)
    require(upserts.columns.sorted.sameElements(
        schemaRef.columns.sorted),
      s"upserts carry ${upserts.columns.sorted.mkString(",")} but the " +
        s"table has ${schemaRef.columns.sorted.mkString(",")}")
    require(deleteKeys.columns.sorted.sameElements(keys.sorted),
      s"deleteKeys must carry exactly the key columns " +
        s"(${keys.sorted.mkString(",")}), got " +
        s"${deleteKeys.columns.sorted.mkString(",")}")
    val payload = schemaRef.columns.filterNot(keys.contains).sorted.toSeq
    def nullSafe(l: String, r: String): Column =
      keys.map(k => col(s"$l.`$k`") <=> col(s"$r.`$k`")).reduce(_ && _)
    val clash = upserts.select(keys.map(col): _*)
      .join(broadcast(deleteKeys), keys.map(k =>
        upserts(k) <=> deleteKeys(k)).reduce(_ && _), "left_semi")
      .limit(1).count()
    require(clash == 0L,
      "a key appears in both upserts and deleteKeys — ambiguous merge")
    // delta keys drive every base access: broadcast once, reuse thrice
    val deltaKeys = upserts.select(keys.map(col): _*)
      .unionByName(deleteKeys.select(keys.map(col): _*)).distinct()

    /** 4-type feed classified against `touched` — the delta-key sliver
      * of the base, NOT the whole base (broadcast-semi-pruned on the
      * plain layout, bucket-pruned on the bucketed one).
      */
    def classify(touched: DataFrame): DataFrame = {
      val deletes = touched.as("tb")
        .join(broadcast(deleteKeys).as("del"), nullSafe("tb", "del"),
          "left_semi")
        .withColumn("change_type", lit("delete"))
      // explicit presence flag (never key-null tests): keys may be
      // legitimately NULL and still match under <=> — changedJoin's
      // device
      val j = upserts.as("u")
        .join(touched.withColumn("b_present", lit(1)).as("tb2"),
          nullSafe("u", "tb2"), "left_outer")
      val matched = col("tb2.`b_present`").isNotNull
      val differs: Column = payload.map(c =>
        !(col(s"u.`$c`") <=> col(s"tb2.`$c`"))).reduceOption(_ || _)
        .getOrElse(lit(false))
      val uCols = keys.map(k => col(s"u.`$k`").as(k)) ++
        payload.map(c => col(s"u.`$c`").as(c))
      val bCols = keys.map(k => col(s"u.`$k`").as(k)) ++
        payload.map(c => col(s"tb2.`$c`").as(c))
      val inserts = j.filter(!matched)
        .select(uCols :+ lit("insert").as("change_type"): _*)
      val updPost = j.filter(matched && differs)
        .select(uCols :+ lit("update_postimage").as("change_type"): _*)
      val updPre = j.filter(matched && differs)
        .select(bCols :+ lit("update_preimage").as("change_type"): _*)
      deletes.select(
          (keys ++ payload).map(col) :+ col("change_type"): _*)
        .unionByName(inserts).unionByName(updPre).unionByName(updPost)
    }

    parent.bucketCol match {
      case None =>
        // copy-on-write layout: the next snapshot is ONE full base
        // scan anti-joined against the broadcast delta keys
        val base = schemaRef
        val next = base.as("b")
          .join(broadcast(deltaKeys).as("dk"), nullSafe("b", "dk"),
            "left_anti")
          .unionByName(upserts)
        val touched = base.as("b")
          .join(broadcast(deltaKeys).as("dk"), nullSafe("b", "dk"),
            "left_semi")
        writeLanded(next, fsOps, root, ts, op,
          Plain.recording(classify(touched), keys, next.columns),
          pin = Some(baseV))
      case Some(bc) =>
        // BUCKETED chain: the merge never touches the whole table —
        // only the buckets the delta keys hash into are read (pruned
        // leaf scan) and rewritten, and the recorded change set makes
        // the downstream feed O(delta) too. Commit bytes ≈
        // touchedBuckets × (|table| / n). Writing a PLAIN commit here
        // would silently break the chain (bucket-config drift on the
        // next fold) — the layout dispatch is the contract.
        require(keys.contains(bc),
          s"merge on a bucketed chain needs the bucket column ($bc) " +
            s"among the merge keys (${keys.mkString(",")}) — every " +
            "delta row's bucket must be derivable")
        val n = parent.nBuckets.get
        val touchedBuckets = deltaKeys
          .select(bucketOf(col(bc), n).as("b")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        val slice =
          if (touchedBuckets.isEmpty) schemaRef.limit(0)
          else readVersionBuckets(spark, fsOps, root, baseV,
            touchedBuckets)
        val content = slice.as("b")
          .join(broadcast(deltaKeys).as("dk"), nullSafe("b", "dk"),
            "left_anti")
          .unionByName(upserts)
        val touched = slice.as("b")
          .join(broadcast(deltaKeys).as("dk"), nullSafe("b", "dk"),
            "left_semi")
        writeBucketedDelta(spark, fsOps, root, ts, content,
          touchedBuckets, op,
          expectedParentVersion = Some(baseV),
          changes = Some((classify(touched), keys)))
    }
  }

  /** The one commit path behind every write face. `landing` lands the
    * snapshot in a WRITER-PRIVATE dir (invisible until a commit names
    * it, and never contended: racing writers each land under their own
    * uuid), then [[FsOps.publishExclusive]] binds the next version
    * number to it. The OCC rule: `pin` is the version the writer READ —
    * a pinned commit gets exactly one attempt, at `pin + 1`, and losing
    * it is a [[java.util.ConcurrentModificationException]]; an unpinned
    * commit retries a lost race up to [[MaxAttempts]] times against the
    * refreshed log, its landed data staying where it is. Any failure
    * before the commit is visible deletes the landing dir; a visible
    * commit's dir is never touched.
    */
  private[catalog] def writeLanded(df: DataFrame, fsOps: FsOps,
      root: String, ts: Long, op: String, landing: Landing,
      pin: Option[Long] = None): Long = {
    val name = "d-" + java.util.UUID.randomUUID.toString.take(8)
    val dir = s"$root/$name"
    try {
      val record = commitJson(ts, op, landing.land(df, dir), name,
        landing.extra)
      Iterator.fill(if (pin.isDefined) 1 else MaxAttempts) {
        val next = pin.getOrElse(
          commits(fsOps, root).lastOption.map(_.version).getOrElse(0L)) + 1
        if (fsOps.publishExclusive(commitFile(root, next),
            s"""{"version": $next, ${record.stripPrefix("{")}""")) Some(next)
        else None
      }.collectFirst { case Some(v) => v }.getOrElse(
        throw new java.util.ConcurrentModificationException(pin.fold(
          s"could not commit to $root after $MaxAttempts attempts " +
            "(lost every version race)")(v =>
          s"$root was committed concurrently at version ${v + 1} while " +
            s"this writer (based on version $v) was landing — re-read " +
            "and recompute")))
    } catch {
      case e: Throwable =>
        fsOps.deleteAll(dir) // not visible: no commit names this dir
        throw e
    }
  }

  /** How one layout lands a snapshot in the writer-private `dir`: the
    * commit fields that describe the layout to readers, and the write,
    * which returns the rows it landed.
    */
  private[catalog] final case class Landing(extra: Seq[(String, String)],
      land: (DataFrame, String) => Long) {

    /** This landing plus a WRITER-RECORDED change set in
      * `dir/_changes`, bound by the same commit. `changes` must carry
      * the snapshot's `columns` plus `change_type`, and the keys must
      * name snapshot columns.
      */
    def recording(changes: DataFrame, keys: Seq[String],
        columns: Seq[String]): Landing = {
      require(keys.nonEmpty && keys.forall(columns.contains),
        s"cdc keys (${keys.mkString(",")}) must name snapshot columns " +
          s"(${columns.mkString(",")})")
      val want = (columns :+ "change_type").sorted
      require(changes.columns.sorted.sameElements(want),
        s"change set carries ${changes.columns.sorted.mkString(",")} but " +
          s"this snapshot needs exactly ${want.mkString(",")}")
      Landing(extra :+ ("cdc_keys" -> keys.sorted.mkString(",")),
        (d, dir) => {
          val rows = land(d, dir)
          changes.write.parquet(s"$dir/$ChangesDir")
          rows
        })
    }
  }

  /** The plain layout: one parquet dir, nothing recorded beyond the
    * commit.
    */
  private val Plain =
    Landing(Seq.empty, observed((d, dir) => d.write.parquet(dir)))

  /** A landing whose row count rides on the write itself (`observe` =
    * one map-side CollectMetrics in the write job) instead of re-reading
    * the landed dir — the read-back was a whole extra schema-infer + scan
    * + count job per commit, pure driver+scan overhead in every
    * maintenance fold and pipeline stage. The metric equals the read-back
    * count on any successful write (task retries could in principle
    * overcount a metric, but a write's committed files come from exactly
    * one successful attempt per task and the count is informational
    * history metadata, not a correctness input). Range and z-order
    * landings do NOT use it: their RangePartitioner sampling job re-runs
    * the observer, so they count from their manifest's footer rows.
    */
  private def observed(write: (DataFrame, String) => Unit)
      : (DataFrame, String) => Long = (df, dir) => {
    val obs = new org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")), dir)
    obs.get.apply("rows") match {
      case l: java.lang.Long => l.longValue()
      case other => other.toString.toLong
    }
  }

  /** Minimal JSON string escape for caller-supplied commit fields (`op`):
    * a quote or backslash must not produce an unparsable commit file.
    */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def commitJson(ts: Long, op: String, rows: Long, name: String,
      extra: Seq[(String, String)]): String = {
    val tail = extra.map { case (k, v) =>
      s""", "$k": "${jsonEscape(v)}"""" }.mkString
    s"""{"ts": $ts, "op": "${jsonEscape(op)}", "rows": $rows,""" +
      s""" "path": "$name"$tail}"""
  }

  /** Snapshot read at an explicit version. Fails fast (naming the
    * version) when the version was never committed or its data was
    * vacuumed — never silently serves a different snapshot.
    */
  def readVersion(spark: SparkSession, fsOps: FsOps, root: String,
      version: Long): DataFrame = {
    val c = commitOf(fsOps, root, version)
    if (c.nBuckets.isDefined)
      // bucketed snapshot: union of the per-bucket leaf dirs, possibly
      // spread over several referenced data dirs (delta commits)
      return readVersionBuckets(spark, fsOps, root, version,
        0 until c.nBuckets.get)
    val dir = dataDir(root, c)
    requireReadable(fsOps, root, version, dir)
    val raw = spark.read.parquet(dir)
    // hive-layout snapshots: partition values come back as STRINGS
    // (partition type inference is disabled engine-wide — Session
    // convention), so cast them back to the types the writer recorded —
    // otherwise the snapshot's schema silently changes on read and a
    // later diff/compact against a plain-written version mis-compares
    c.partTypes.fold(raw) { spec =>
      spec.split(",").foldLeft(raw) { (df, colType) =>
        val Array(name, tpe) = colType.split(":", 2)
        df.withColumn(name, col(name).cast(tpe))
      }
    }
  }

  def readLatest(spark: SparkSession, fsOps: FsOps, root: String): DataFrame =
    readVersion(spark, fsOps, root, latestVersion(fsOps, root))

  /** Fail by name when `dir`, holding data of `version`, was vacuumed —
    * never by a missing path, never by silently serving another snapshot.
    */
  private def requireReadable(fsOps: FsOps, root: String, version: Long,
      dir: String): Unit =
    require(fsOps.exists(dir),
      s"version $version of $root was vacuumed; earliest readable is " +
        commits(fsOps, root).find(c => fsOps.exists(dataDir(root, c)))
          .fold(-1L)(_.version))

  /** Time travel by timestamp: the newest version committed at or before
    * `ts` (the usual AS OF semantics).
    */
  def versionAsOf(fsOps: FsOps, root: String, ts: Long): Long = {
    val eligible = commits(fsOps, root).filter(_.ts <= ts)
    require(eligible.nonEmpty,
      s"no version of $root committed at or before ts=$ts")
    eligible.last.version
  }

  def readAsOf(spark: SparkSession, fsOps: FsOps, root: String,
      ts: Long): DataFrame =
    readVersion(spark, fsOps, root, versionAsOf(fsOps, root, ts))

  /** Change-data-feed between two snapshots, keyed on `keys`: one row per
    * changed key with `change_type` in {insert, delete, update}. Inserts
    * and updates carry the TO-side payload, deletes the FROM-side (the
    * row that disappeared). A key present in both snapshots counts as an
    * update only when some non-key column differs.
    *
    * PRECONDITION: `keys` uniquely identify rows WITHIN each snapshot —
    * duplicate keys cross-product in the full-outer join and yield
    * inflated/misclassified change rows. Callers with unverified keys
    * pass `checkUniqueKeys = true` to fail fast (one extra aggregate
    * over each snapshot — skip it only when uniqueness is enforced
    * upstream, the usual primary-key case).
    *
    * One full-outer join of exactly the two snapshots; payloads hash-
    * compare inside the join row — no second pass, no driver collect.
    */
  def diff(spark: SparkSession, fsOps: FsOps, root: String,
      fromV: Long, toV: Long, keys: Seq[String],
      checkUniqueKeys: Boolean = false): DataFrame =
    recordedChanges(spark, fsOps, root, fromV, toV, keys) { feed =>
      // diff is the single-row-per-key projection of the 4-type feed:
      // postimage → update, preimage dropped (its payload is the
      // update's FROM side, which diff doesn't carry)
      feed.filter(col("change_type") =!= "update_preimage")
        .withColumn("change_type",
          when(col("change_type") === "update_postimage", lit("update"))
            .otherwise(col("change_type")))
    }.getOrElse(
      changedJoin(spark, fsOps, root, fromV, toV, keys, checkUniqueKeys) {
        (joined, keyCols, payload, changeType) =>
          val outPayload = payload.map(c =>
            when(col("t_present").isNull, col(s"f_$c"))
              .otherwise(col(s"t_$c")).as(c))
          joined.filter(changeType.isNotNull)
            .select((keyCols :+ changeType.as("change_type")) ++ outPayload: _*)
      })

  /** CDC feed with BOTH payload sides: like [[diff]] but an update emits
    * TWO rows — `update_preimage` (the FROM-side row being retracted) and
    * `update_postimage` (the TO-side row replacing it) — so the feed is
    * directly consumable as a ±1-weighted delta by incremental view
    * maintenance ([[graft.operators.IncrementalAgg.refreshFromChanges]]):
    * preimage/delete retract, postimage/insert add. Delta Lake's CDF
    * publishes the same four-type shape. Same single full-outer join as
    * [[diff]]; the two update rows come from exploding a 2-element
    * in-row array, never a second join or pass.
    */
  def changeFeed(spark: SparkSession, fsOps: FsOps, root: String,
      fromV: Long, toV: Long, keys: Seq[String],
      checkUniqueKeys: Boolean = false): DataFrame =
    recordedChanges(spark, fsOps, root, fromV, toV, keys)(identity)
      .getOrElse(changeFeedJoined(spark, fsOps, root, fromV, toV, keys,
        checkUniqueKeys))

  /** [[changeFeed]] forced onto the snapshot-diff path (two full
    * snapshots, one full-outer join) — the fallback for plain commits,
    * exposed so probes/specs can compare it against a recorded set.
    */
  private[graft] def changeFeedJoined(spark: SparkSession, fsOps: FsOps,
      root: String, fromV: Long, toV: Long, keys: Seq[String],
      checkUniqueKeys: Boolean = false): DataFrame =
    changedJoin(spark, fsOps, root, fromV, toV, keys, checkUniqueKeys) {
      (joined, keyCols, payload, changeType) =>
        def side(s: String, tpe: Column) = struct(
          tpe.as("change_type") +: payload.map(c => col(s"${s}_$c").as(c)): _*)
        val rows = when(changeType === "insert",
            array(side("t", lit("insert"))))
          .when(changeType === "delete", array(side("f", lit("delete"))))
          .when(changeType === "update", array(
            side("f", lit("update_preimage")),
            side("t", lit("update_postimage"))))
        val exploded = joined.filter(changeType.isNotNull)
          .select((keyCols :+ explode(rows).as("c")): _*)
        exploded.select(
          (keys.map(col) :+ col("c.change_type").as("change_type")) ++
            payload.map(c => col(s"c.$c").as(c)): _*)
    }

  /** Serve a WRITER-RECORDED change set when one covers the request:
    * the versions are adjacent, `toV`'s commit recorded a set for
    * exactly these keys, and the data survives (not vacuumed). `shape`
    * adapts the 4-type feed to the caller's face; columns come back in
    * the same order [[changedJoin]] emits (keys, change_type, sorted
    * payload). Any other request — a version RANGE, different keys, a
    * plain commit — returns None and the caller falls back to the
    * snapshot diff; both paths answer identically by the writer's
    * contract, so the choice is invisible to semantics, only to cost.
    * A recorded set is served as-is (`checkUniqueKeys` does not apply —
    * uniqueness was the writer's contract at commit time).
    */
  private def recordedChanges(spark: SparkSession, fsOps: FsOps,
      root: String, fromV: Long, toV: Long, keys: Seq[String])(
      shape: DataFrame => DataFrame): Option[DataFrame] = {
    if (toV != fromV + 1) return None
    val c = commitOf(fsOps, root, toV)
    val dir = s"${dataDir(root, c)}/$ChangesDir"
    if (!c.cdcKeys.contains(keys.sorted.mkString(","))
        || !fsOps.exists(dir)) None
    else {
      val feed = shape(spark.read.parquet(dir))
      val payload = feed.columns
        .filterNot(c => keys.contains(c) || c == "change_type")
        .sorted.toSeq
      Some(feed.select(
        (keys.map(col) :+ col("change_type")) ++ payload.map(col): _*))
    }
  }

  /** Schema evolution across versions: align the two compared snapshots
    * onto the UNION of their columns, a column absent on one side
    * appearing as typed nulls (the engine's add-missing-columns device,
    * [[graft.expr.SchemaOps.addMissingColumns]] — the semantics the
    * reference's added-column loads give old partitions,
    * reference: src/main/scala/com/adidas/analytics/util/OutputWriter.scala:151).
    * A row whose only difference is the new column going null → value
    * therefore classifies as an update (null <=> null rows stay
    * unchanged). Key columns must exist on BOTH sides, and a column
    * present on both with DIFFERENT types fails by name — a silent cast
    * would mis-compare payloads.
    */
  private def alignedSnapshots(spark: SparkSession, fsOps: FsOps,
      root: String, fromV: Long, toV: Long, keys: Seq[String])
      : (DataFrame, DataFrame) = {
    val from = readVersion(spark, fsOps, root, fromV)
    val to = readVersion(spark, fsOps, root, toV)
    keys.foreach { k =>
      require(from.columns.contains(k) && to.columns.contains(k),
        s"key column $k must exist in both compared versions " +
          s"(from=$fromV has ${from.columns.mkString(",")}; " +
          s"to=$toV has ${to.columns.mkString(",")})")
    }
    val clash = from.schema.filter(f =>
      to.schema.exists(g => g.name == f.name
        && g.dataType != f.dataType))
    require(clash.isEmpty,
      s"columns ${clash.map(_.name).mkString(",")} changed TYPE between " +
        s"version $fromV and $toV — diff across a type change needs an " +
        "explicit migration, not a silent cast")
    (graft.expr.SchemaOps.addMissingColumns(from, to.schema),
      graft.expr.SchemaOps.addMissingColumns(to, from.schema))
  }

  /** The shared one-join core of [[diff]] and [[changeFeed]]: classify
    * each key as insert/delete/update, hand the shaping to `emit`.
    */
  private def changedJoin(spark: SparkSession, fsOps: FsOps, root: String,
      fromV: Long, toV: Long, keys: Seq[String], checkUniqueKeys: Boolean)(
      emit: (DataFrame, Seq[Column], Seq[String], Column) => DataFrame)
      : DataFrame = {
    val (from, to) = alignedSnapshots(spark, fsOps, root, fromV, toV,
      keys)
    if (checkUniqueKeys)
      Seq(fromV -> from, toV -> to).foreach { case (v, df) =>
        val dups = df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
        require(dups == 0L,
          s"diff keys (${keys.mkString(",")}) are not unique in version $v")
      }
    val payload = from.columns.filterNot(keys.contains).sorted.toSeq
    def tagged(df: DataFrame, side: String): DataFrame = {
      val cols = keys.map(k => col(k).as(s"${side}_$k")) ++
        payload.map(c => col(c).as(s"${side}_$c")) :+
        lit(1).as(s"${side}_present")
      df.select(cols: _*)
    }
    val cond: Column = keys.map(k =>
      col(s"f_$k") <=> col(s"t_$k")).reduce(_ && _)
    val joined = tagged(from, "f").join(tagged(to, "t"), cond, "full_outer")
    val changed: Column = payload.map(c =>
      !(col(s"f_$c") <=> col(s"t_$c"))).reduceOption(_ || _)
      .getOrElse(lit(false))
    val changeType = when(col("f_present").isNull, lit("insert"))
      .when(col("t_present").isNull, lit("delete"))
      .when(changed, lit("update"))
    val keyCols = keys.map(k =>
      coalesce(col(s"t_$k"), col(s"f_$k")).as(k))
    emit(joined, keyCols, payload, changeType)
  }

  /** Rollback: publish snapshot `version`'s content as a NEW latest
    * version (history stays intact — the delta-style RESTORE contract).
    * Returns the new version number.
    */
  def restore(spark: SparkSession, fsOps: FsOps, root: String,
      version: Long, ts: Long): Long =
    write(readVersion(spark, fsOps, root, version), fsOps, root, ts,
      op = "restore")

  /** Name of the per-snapshot manifest dir INSIDE the data dir: the `_`
    * prefix makes it invisible to `spark.read.parquet(dataDir)`, so plain
    * [[readVersion]] of an indexed snapshot needs no special casing, and
    * the manifest travels/vacuums with its snapshot atomically (one
    * commit references both).
    */
  private val ManifestDir = "_manifest"

  /** [[write]] but the snapshot lands RANGE-SORTED on `indexCol` with a
    * per-file min/max data-skipping manifest committed alongside it
    * (built from the landed parquet footers — O(numFiles) driver work),
    * and the commit records the index dimension. [[readVersionPruned]]
    * then serves range predicates opening ONLY admitted files — the
    * lakehouse file-skipping contract, per committed snapshot.
    */
  def writeIndexed(df: DataFrame, fsOps: FsOps, root: String, ts: Long,
      indexCol: String, numFiles: Int, op: String = "write"): Long =
    writeLanded(df, fsOps, root, ts, op, ranged(indexCol, numFiles))

  /** The range layout: `numFiles` files range-sorted on `indexCol` plus
    * their min/max manifest in `dir/_manifest`; rows come from the
    * manifest's footers.
    */
  private def ranged(indexCol: String, numFiles: Int): Landing =
    Landing(Seq("index_col" -> indexCol, "index_kind" -> "range"),
      (d, dir) => graft.operators.Layout.writeSortedWithManifest(
        d.sparkSession, d, dir, indexCol, numFiles,
        s"$dir/$ManifestDir"))

  /** [[write]] with a HIVE-PARTITIONED snapshot layout: the snapshot
    * lands as `col=value/` directories, so an equality/IN filter on the
    * partition columns prunes whole directories on any plain
    * [[readVersion]] — no manifest machinery needed, Spark's partition
    * discovery does the skipping (`PartitionFilters` in the scan). The
    * commit records the layout (`index_kind = "hive"`) for
    * discoverability; manifest-pruned readers reject these snapshots by
    * kind instead of mis-pruning. This is the right layout when the
    * skip dimension is low-cardinality (source, date, language);
    * [[writeIndexed]]/[[writeZIndexed]] cover the high-cardinality
    * range-predicate cases.
    */
  def writePartitioned(df: DataFrame, fsOps: FsOps, root: String,
      ts: Long, partitionCols: Seq[String], op: String = "write"): Long = {
    require(partitionCols.nonEmpty, "at least one partition column")
    val partTypes = partitionCols.map(c =>
      c + ":" + df.schema(c).dataType.catalogString).mkString(",")
    writeLanded(df, fsOps, root, ts, op, Landing(
      Seq("index_col" -> partitionCols.mkString(","),
        "index_kind" -> "hive", "part_types" -> partTypes),
      observed((d, dir) =>
        d.write.partitionBy(partitionCols: _*).parquet(dir))))
  }

  /** Internal partition column of bucketed snapshots — never part of
    * the logical schema (derived from the bucket key, dropped on read).
    */
  private val BucketCol = "bucket_id"

  /** Deterministic bucket assignment for bucketed snapshots: recomputed
    * identically by writers and folds (Murmur3 `hash`, engine-stable).
    */
  def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(hash(c), lit(nBuckets))

  /** bucket → data dir (relative name) for a bucketed commit: an absent
    * map means every bucket lives in the commit's own dir (a FULL
    * bucketed write); a delta commit's map names `self` for rewritten
    * buckets and the INHERITED dir for untouched ones.
    */
  private def bucketDirs(c: Commit): Map[Int, String] = {
    val n = c.nBuckets.getOrElse(throw new IllegalArgumentException(
      s"commit ${c.version} is not bucketed"))
    c.bucketMap match {
      case None => (0 until n).map(_ -> c.path).toMap
      case Some(m) => m.split(",").iterator.map { e =>
        val Array(b, d) = e.split(":", 2)
        b.toInt -> (if (d == "self") c.path else d)
      }.toMap
    }
  }

  /** [[write]] with a HASH-BUCKETED snapshot layout (`nBuckets` buckets
    * on `bucketBy`): the snapshot lands as `bucket_id=K/` directories,
    * and the commit records the bucket config so later
    * [[writeBucketedDelta]] commits can rewrite ONLY the buckets a
    * delta touches while READING the rest by reference — the
    * partition-aligned derived-state layout ([[LogFold]] bucketed
    * folds). `bucket_id` is internal: derived at write, dropped on
    * read, recomputable from the key by [[bucketOf]].
    */
  def writeBucketed(df: DataFrame, fsOps: FsOps, root: String, ts: Long,
      bucketBy: String, nBuckets: Int, op: String = "write"): Long =
    writeLanded(df, fsOps, root, ts, op,
      bucketed(fsOps, bucketBy, nBuckets, delta = None))

  /** The bucketed layout: every row tagged with its [[bucketOf]] bucket
    * and each bucket co-located before the partitioned write, so it
    * lands as one `bucket_id=K/` file instead of tasks × buckets
    * fragments. A `delta` — (touched buckets, bucket map) — records its
    * map and fails in-plan on a row outside its touched buckets (it
    * would silently shadow or lose data). A FULL snapshot refuses to
    * commit with zero rows: a partitioned write of zero rows leaves no
    * files, so no parquet schema would survive to read it back — a
    * maintenance bootstrap on an empty base fails this poll and
    * self-heals once the base has rows.
    */
  private[catalog] def bucketed(fsOps: FsOps, bucketBy: String, n: Int,
      delta: Option[(Seq[Int], String)]): Landing = {
    require(n >= 1, "nBuckets must be positive")
    Landing(Seq("bucket_col" -> bucketBy, "n_buckets" -> n.toString) ++
        delta.map("bucket_map" -> _._2),
      observed { (d, dir) =>
        require(d.columns.contains(bucketBy)
            && !d.columns.contains(BucketCol),
          s"bucketed content must carry $bucketBy and not $BucketCol " +
            s"(reserved for the internal bucket layout); got " +
            d.columns.mkString(","))
        val tagged = d.withColumn(BucketCol, bucketOf(col(bucketBy), n))
        delta.fold(tagged) { case (touched, _) =>
          tagged.withColumn(BucketCol,
            when(col(BucketCol).isin(touched.map(Int.box): _*),
              col(BucketCol))
              .otherwise(raise_error(concat(
                lit("delta row lands in untouched bucket "),
                col(BucketCol),
                lit(s" (touched: ${touched.sorted.mkString(",")})")))))
        }.repartition(col(BucketCol))
          .write.partitionBy(BucketCol).parquet(dir)
        require(delta.isDefined
            || fsOps.ls(dir).exists(_.startsWith(s"$BucketCol=")),
          s"refusing to commit an EMPTY bucketed snapshot at $dir — no " +
            "parquet schema would survive to read it back; commit after " +
            "the first rows land (or use a plain write)")
      })
  }

  /** Delta commit onto a bucketed table: `touchedData` is the COMPLETE
    * new content of exactly the `touched` buckets; every other bucket
    * is carried by reference to where its data already lives (the
    * parent's bucket map — never copied, never rewritten). Bytes
    * written ∝ touched buckets, the whole point of the layout: a
    * 10-row delta against a 1e9-row derived table rewrites one bucket,
    * not the table. Rows landing OUTSIDE `touched` fail in-plan (they
    * would silently shadow or lose data). The commit is PINNED to the
    * parent version (OCC): a concurrent commit invalidates the
    * inherited map, so the loser fails with
    * [[java.util.ConcurrentModificationException]] instead of
    * publishing a stale-map snapshot. The commit's `rows` records the
    * rows WRITTEN (the touched payload), not the logical table size.
    *
    * Old data dirs stay referenced by later maps until a full rewrite
    * ([[writeBucketed]] or [[compact]], which re-anchors the chain)
    * supersedes them — [[vacuum]] honors map references and reclaims
    * only after the chain re-anchors.
    */
  def writeBucketedDelta(spark: SparkSession, fsOps: FsOps, root: String,
      ts: Long, touchedData: DataFrame, touched: Seq[Int],
      op: String = "write",
      expectedParentVersion: Option[Long] = None,
      changes: Option[(DataFrame, Seq[String])] = None): Long = {
    val parent = commits(fsOps, root).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed versions under $root — delta commits need a " +
          "bucketed parent (writeBucketed first)"))
    // `expectedParentVersion` pins the OCC check to the state the
    // CALLER derived its content from, not to whatever is latest NOW:
    // without it, a racing writer that committed in between would be
    // silently built upon (this writer's touched content came from the
    // OLDER state — publishing it on top reverts the racer's changes)
    expectedParentVersion.foreach(requireBase(root, parent.version, _))
    val bucketBy = parent.bucketCol.getOrElse(
      throw new IllegalArgumentException(
        s"latest version ${parent.version} of $root is not bucketed — " +
          "delta commits need a bucketed parent"))
    val n = parent.nBuckets.get
    // an EMPTY touched set is legal: the commit writes no data and
    // inherits every bucket — a no-change version still gets consumed
    require(touched.forall(b => b >= 0 && b < n),
      s"touched buckets ${touched.mkString(",")} out of range [0, $n)")
    val parentDirs = bucketDirs(parent)
    val touchedSet = touched.toSet
    val mapStr = (0 until n).map { b =>
      val d = if (touchedSet(b)) "self" else parentDirs(b)
      s"$b:$d"
    }.mkString(",")
    val landing = bucketed(fsOps, bucketBy, n, Some(touched -> mapStr))
    // an optional WRITER-RECORDED change set lands in the commit's own
    // dir, so changeFeed over a bucketed delta commit is the same
    // O(delta) scan plain recorded commits get
    writeLanded(touchedData, fsOps, root, ts, op,
      changes.fold(landing) { case (feed, keys) =>
        landing.recording(feed, keys, touchedData.columns) },
      pin = Some(parent.version))
  }

  /** Read ONLY the named buckets of a bucketed snapshot — the pruned
    * state access a delta fold uses (input bytes ∝ touched buckets).
    * Buckets empty at write time have no directory and contribute no
    * rows (the result is an empty frame in the snapshot's schema,
    * recovered from any nonempty bucket); a snapshot with ZERO rows in
    * every bucket has no parquet schema to recover and fails by name.
    */
  def readVersionBuckets(spark: SparkSession, fsOps: FsOps, root: String,
      version: Long, buckets: Seq[Int]): DataFrame = {
    val c = commitOf(fsOps, root, version)
    val dirs = bucketDirs(c)
    require(buckets.nonEmpty && buckets.forall(dirs.contains),
      s"buckets ${buckets.mkString(",")} not all in [0, ${c.nBuckets.get})")
    def leaf(b: Int) = s"$root/${dirs(b)}/$BucketCol=$b"
    buckets.map(dirs).distinct.foreach(d =>
      requireReadable(fsOps, root, version, s"$root/$d"))
    val paths = buckets.distinct.map(leaf)
    val present = paths.filter(fsOps.exists)
    // leaf-dir reads drop the internal bucket_id partition column: the
    // result carries exactly the logical schema
    if (present.nonEmpty) spark.read.parquet(present: _*)
    else {
      val any = (0 until c.nBuckets.get).iterator.map(leaf)
        .find(fsOps.exists)
      require(any.isDefined,
        s"version $version of $root has zero rows in every bucket — " +
          "no parquet schema to recover")
      spark.read.parquet(any.get).limit(0)
    }
  }

  /** [[writeIndexed]] in TWO dimensions: the snapshot lands z-ordered on
    * `(xCol, yCol)` with each file's bounding RECTANGLE in the committed
    * manifest, so [[readVersionPrunedRect]] skips files for predicates on
    * EITHER axis — the Delta OPTIMIZE ZORDER trade, per committed
    * snapshot. `bits` is the per-axis Morton width (callers bucketize
    * wider domains first — [[graft.operators.Layout.zValue]]).
    */
  def writeZIndexed(df: DataFrame, fsOps: FsOps, root: String, ts: Long,
      xCol: String, yCol: String, bits: Int, numFiles: Int,
      op: String = "write"): Long =
    writeLanded(df, fsOps, root, ts, op, Landing(
      Seq("index_col" -> s"$xCol,$yCol", "index_kind" -> "zorder"),
      (d, dir) => graft.operators.Layout.writeZOrderedWithManifest(
        d.sparkSession, d, dir, xCol, yCol, bits, numFiles,
        s"$dir/$ManifestDir")))

  /** Time-travel range read: prune version `version`'s files from its
    * COMMITTED manifest before opening any of them, then apply the exact
    * `[lo, hi]` predicate to the survivors. Fails fast when the snapshot
    * was not [[writeIndexed]] on `indexCol` — never silently full-scans.
    */
  def readVersionPruned(spark: SparkSession, fsOps: FsOps, root: String,
      version: Long, indexCol: String, lo: Long, hi: Long): DataFrame = {
    val dir = indexedDataDir(fsOps, root, version, indexCol, "range")
    graft.operators.Layout.readPruned(spark, dir, s"$dir/$ManifestDir",
      indexCol, lo, hi)
  }

  /** Rectangle face of [[readVersionPruned]] for [[writeZIndexed]]
    * snapshots: files whose committed bounding rectangle misses the
    * requested `[xLo,xHi] × [yLo,yHi]` box are never opened.
    */
  def readVersionPrunedRect(spark: SparkSession, fsOps: FsOps,
      root: String, version: Long, xCol: String, yCol: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val dir = indexedDataDir(fsOps, root, version, s"$xCol,$yCol",
      "zorder")
    graft.operators.Layout.readPrunedRect(spark, dir,
      s"$dir/$ManifestDir", xCol, yCol, xLo, xHi, yLo, yHi)
  }

  /** Resolve an indexed version's data dir, failing fast (by name) when
    * the version lacks the requested index dimension/kind or its data
    * was vacuumed — never a silent full scan or wrong-axis prune.
    */
  private def indexedDataDir(fsOps: FsOps, root: String, version: Long,
      indexCol: String, kind: String): String = {
    val c = commitOf(fsOps, root, version)
    require(c.indexCol.contains(indexCol)
        && c.indexKind.contains(kind),
      s"version $version of $root is not $kind-indexed on $indexCol " +
        s"(committed index: ${c.indexCol.getOrElse("none")}" +
        s"${c.indexKind.fold("")(k => s" [$k]")})")
    val dir = dataDir(root, c)
    requireReadable(fsOps, root, version, dir)
    dir
  }

  /** OPTIMIZE: republish the LATEST snapshot's content compacted into
    * `numFiles` files (optionally range-indexed on `indexCol`) as a new
    * version with `op = "compact"`. Content is identical by
    * construction; readers keep snapshot isolation (the old layout stays
    * readable until vacuumed), and the small-files problem a
    * high-frequency maintenance loop accumulates is solved WITHOUT a
    * write outage — the lakehouse OPTIMIZE contract. Returns the new
    * version.
    */
  def compact(spark: SparkSession, fsOps: FsOps, root: String, ts: Long,
      numFiles: Int, indexCol: Option[String] = None): Long = {
    // compact is a read-modify-write: pin the commit to the version it
    // read, so a concurrent ingest landing in between FAILS the
    // compaction (harmless to retry) instead of being silently
    // superseded by the stale pre-compact content — a lost update
    val base = latestVersion(fsOps, root)
    val baseCommit = commitOf(fsOps, root, base)
    val df = readVersion(spark, fsOps, root, base)
    val (content, landing) = (indexCol, baseCommit.bucketCol) match {
      case (Some(_), Some(bc)) =>
        // silently dropping the bucket metadata would kill the fold
        // loop (bucket-config drift) on the next poll
        throw new IllegalArgumentException(
          s"$root is a bucketed chain (bucket_col=$bc); compact " +
            "preserves the bucket layout — drop index_col (range-" +
            "sorting and bucket alignment are mutually exclusive " +
            "layouts)")
      case (Some(ic), None) => (df, ranged(ic, numFiles))
      // a bucketed chain compacts INTO the same bucket layout (one fresh
      // dir, all-self map): the chain re-anchors, ancestor dirs become
      // unreferenced and vacuum can reclaim them, and later delta
      // commits keep working. Files = buckets here.
      case (None, Some(bc)) =>
        (df, bucketed(fsOps, bc, baseCommit.nBuckets.get, delta = None))
      case (None, None) => (df.coalesce(numFiles), Plain)
    }
    writeLanded(content, fsOps, root, ts, "compact", landing,
      pin = Some(base))
  }

  /** Default retention grace before a superseded version's data may be
    * vacuumed — the reference's `vacuum_retention_period` default
    * (reference: src/main/scala/com/adidas/analytics/config/loads/DeltaLakeLoadConfiguration.scala:47-51
    * — 12 hours, fail-fast below the floor unless explicitly forced).
    */
  val DefaultRetentionMs: Long = 12L * 60 * 60 * 1000

  /** Drop the DATA of all but the newest `keepLast` versions; the commit
    * log keeps every entry (audit history survives, and readVersion of a
    * vacuumed version fails by name instead of by missing path). Returns
    * the versions whose data was removed.
    *
    * Retention guard: a version SUPERSEDED within the last `retentionMs`
    * (measured from its successor's commit ts — a version is only unsafe
    * to drop once something newer replaced it) survives even beyond
    * `keepLast`, so a concurrent reader that planned its scan against a
    * just-superseded snapshot is not vacuumed out from under it.
    * `retentionMs` below [[DefaultRetentionMs]] fails fast unless
    * `force = true` — the reference's guard against foot-gun retention.
    * `nowMs` is caller-suppliable for deterministic tests/replays.
    */
  def vacuum(fsOps: FsOps, root: String, keepLast: Int,
      sweepUncommitted: Boolean = false,
      retentionMs: Long = DefaultRetentionMs, force: Boolean = false,
      nowMs: Long = System.currentTimeMillis): Seq[Long] = {
    require(keepLast >= 1, "vacuum must retain at least the latest version")
    require(force || retentionMs >= DefaultRetentionMs,
      s"retentionMs=$retentionMs is below the ${DefaultRetentionMs}ms " +
        "floor; a concurrent reader of a just-superseded version could " +
        "be vacuumed mid-scan. Pass force = true to override.")
    val all = commits(fsOps, root)
    // supersededAt(i) = ts of the next commit; the latest version has no
    // successor (and is inside keepLast anyway)
    val supersededAt = all.indices.map(i =>
      if (i + 1 < all.size) Some(all(i + 1).ts) else None)
    // never delete a dir a RETAINED commit references — by its own path
    // OR through a bucketed delta commit's map (untouched buckets live
    // in ancestor dirs until a full rewrite re-anchors the chain)
    def referencedBy(c: Commit): Seq[String] =
      c.path +: (if (c.nBuckets.isDefined) bucketDirs(c).values.toSeq
        else Seq.empty)
    val retainedPaths = all.takeRight(keepLast).flatMap(referencedBy).toSet
    val drop = all.zipWithIndex.dropRight(keepLast)
      .filterNot { case (_, i) =>
        supersededAt(i).exists(ts => nowMs - ts < retentionMs) }
      .map(_._1)
      .filterNot(c => retainedPaths.contains(c.path))
      .filter(c => fsOps.exists(dataDir(root, c)))
    drop.foreach(c => fsOps.deleteAll(dataDir(root, c)))
    if (sweepUncommitted) {
      // reclaim data dirs no commit references (crashed writers). Only
      // safe when no writer is in flight — the caller's contract, same
      // as every lakehouse vacuum's retention-window caveat.
      val referenced = all.flatMap(referencedBy).toSet
      fsOps.ls(root).filter(_.startsWith("d-")).filterNot(referenced)
        .foreach(d => fsOps.deleteAll(s"$root/$d"))
    }
    drop.map(_.version)
  }

  /** Commit history as a DataFrame (the DESCRIBE HISTORY face). */
  def history(spark: SparkSession, fsOps: FsOps, root: String): DataFrame = {
    val cs = commits(fsOps, root)
    import spark.implicits._
    cs.map(c => (c.version, c.ts, c.op, c.rows,
        fsOps.exists(dataDir(root, c))))
      .toDF("version", "ts", "op", "rows", "readable")
  }
}

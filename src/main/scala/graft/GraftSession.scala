package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User entry point: a SparkSession wired for this engine — custom
  * functions/rules registered, scale-sane defaults — plus SQL-surface
  * registration of the test-lake tables so `spark.sql` works against them
  * directly.
  */
object GraftSession {

  /** The session confs graft runs under — the one place they live.
    * [[build]] applies them; the test session applies them without the
    * extensions. `shufflePartitions` should match cluster parallelism
    * (cores × executors in real deployments).
    *
    * `checkpointFileManagerClass` applies to every checkpoint path a
    * streaming query on the session writes: offset and commit logs, a
    * file sink's `_spark_metadata`, state-store checkpoints. Spark's
    * default manager renames each log entry through `FileContext.rename`,
    * which on `file:` paths without native Hadoop IO reads link status
    * through a forked `readlink`: 24 forks per one-cycle landing batch
    * (offsets, commits and sink log, each with its `.crc`), 0 under the
    * FileSystem manager. Its `renameTempFile` refuses an existing
    * destination (an `exists` check), then calls `FileSystem.rename`, so
    * a replayed batch id never overwrites its first entry. On HDFS that
    * rename also refuses an existing file (it returns false, which the
    * manager raises). On object stores rename is a copy and a delete,
    * neither atomic nor exclusive, so the check does not fence two
    * writers racing on one checkpoint. Spark's `CheckpointFileManager.create`
    * already falls back to this manager wherever `FileContext` is
    * unavailable. A session graft did not build keeps Spark's default and
    * stays correct; it opts in by setting the same conf. */
  def confs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Recommended session for this library: [[confs]] plus
    * [[plans.GraftExtensions]] (SQL functions and optimizer rules). */
  def build(master: String = "local[*]", shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new plans.GraftExtensions)
      .config(confs(shufflePartitions))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    plans.GraftExtensions.registerOn(s)
    s
  }

  /** [[build]] sized for a local run: `local[n]` and n shuffle partitions,
    * n from `SPARK_GRAFT_CPUS` (default 4). Used by every main in this
    * repo (Bench, Verify, the dev tools). */
  def buildLocal(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    build(s"local[$cpus]", cpus, appName)
  }

  /** Register every test-lake table as a temp view (plus graft functions
    * and rules on an existing session), enabling the full SQL surface —
    * `ORDER BY` included, which the [[plans.PresortBarrier]] serves:
    * {{{ spark.sql("SELECT haversine_km(...) FROM lineitem ...") }}} */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    plans.GraftExtensions.registerOn(spark)
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  /** Session-scoped memo store: one value map per LIVE SparkSession,
    * weak-keyed on the session instance itself (SparkSession does not
    * override equals, so WeakHashMap gives identity semantics). Guards the
    * two failure modes of identityHashCode-keyed string maps: a stopped,
    * GC'd session's identity hash being reused by a new session — which
    * would be handed DataFrames bound to dead (local)checkpoint blocks —
    * and entries pinning checkpointed data for the JVM lifetime. Entries
    * become unreachable with their session. */
  private val sessionMemos =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, AnyRef]]()

  /** Memoize `build` per (live session, key). A failed build records
    * nothing (the next caller retries). Builds are serialized per session
    * under a reentrant lock, so a build may itself consult the memo —
    * concurrent first callers block until the value exists, the
    * computeIfAbsent contract the former per-module maps relied on. */
  /** Test hook (RegistrySpec's memoized-plan window guard): when set,
    * [[ckpt]] hands every DataFrame's ANALYZED logical plan to the
    * auditor right before materializing it. ckpt is the repo-wide choke
    * point for memoized/iterative materialization (a source-level test
    * bans `.localCheckpoint(` elsewhere), so an auditor installed
    * here sees every plan that would otherwise hide behind a checkpoint
    * leaf — the one class the declared-plan walks cannot reach. Residual
    * blind spot, documented: builds that materialize through a WRITE or
    * a driver-side collect (fmt_roundtrip's landings, trained-codebook
    * collects) never pass a plan to ckpt. */
  @volatile private[graft] var planAuditor:
    Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Unit] = None

  /** Test hook: drop a session's memo entries so the next consumer
    * re-runs every build (under an installed [[planAuditor]], typically).
    * Already-handed-out DataFrames stay valid — their checkpoint blocks
    * are pinned by their own RDD references, not by the map. */
  private[graft] def clearMemos(s: SparkSession): Unit =
    sessionMemos.synchronized {
      val mm = sessionMemos.get(s)
      if (mm != null) mm.synchronized { mm.clear() }
    }

  def memo[A <: AnyRef](s: SparkSession, key: String)(build: => A): A = {
    val m = sessionMemos.synchronized {
      var mm = sessionMemos.get(s)
      if (mm == null) {
        mm = new java.util.HashMap[String, AnyRef]()
        sessionMemos.put(s, mm)
      }
      mm
    }
    m.synchronized {
      var v = m.get(key)
      if (v == null) { v = build; m.put(key, v) }
      v.asInstanceOf[A]
    }
  }

  /** The memo key of a per-session artifact derived from lake `tables`
    * under `dir`: `family|` + their [[contentKey]], so a table rewritten
    * in place keys a fresh build. */
  def tableKey(family: String, dir: String, tables: String*): String =
    s"$family|" + contentKey(dir, tables)

  /** [[memo]] under [[tableKey]]`(family, dir, tables)`. */
  def memoOn[A <: AnyRef](s: SparkSession, family: String, dir: String,
      tables: String*)(build: => A): A =
    memo(s, tableKey(family, dir, tables: _*))(build)

  /** Delete a file or directory tree, best effort. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Land data once per (live session, `key`): the first call creates a
    * fresh temp dir named `prefix…`, runs `write` on its path and
    * returns it; later calls return the same dir without writing. The dir
    * is deleted when the JVM exits, so a long-lived session holds one
    * landing per key however often its consumers are built. A failed
    * write deletes the dir and records nothing (the next call retries). */
  def landOnce(s: SparkSession, key: String, prefix: String)(
      write: String => Unit): String =
    memo(s, s"landing|$key") {
      val t = java.nio.file.Files.createTempDirectory(prefix).toFile
      try write(t.getAbsolutePath)
      catch { case e: Throwable => deleteRecursively(t); throw e }
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(t)))
      t.getAbsolutePath
    }

  /** Fingerprint a set of tables' parquet files (names/sizes/mtimes) so a
    * regenerated sf dir yields a different cache key — the same staleness
    * guard dppFactsPath uses. Lists through the Hadoop `FileSystem` of the
    * path (with the active session's Hadoop conf, when there is one), so
    * `file:`, `hdfs://` and `s3a://` dirs fingerprint their real files; a
    * missing table fingerprints as `name:0:0`. */
  def contentKey(dir: String, tables: Seq[String]): String = {
    val hadoopConf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val sig = tables.map { t =>
      val path = new org.apache.hadoop.fs.Path(dir, s"$t.parquet")
      val fs = path.getFileSystem(hadoopConf)
      val parts =
        if (!fs.exists(path)) Seq(s"${path.getName}:0:0")
        else fs.listStatus(path).sortBy(_.getPath.getName).toSeq.map(p =>
          s"${p.getPath.getName}:${p.getLen}:${p.getModificationTime}")
      parts.mkString("|")
    }.mkString(s"$dir||", "||", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Register `tables` as external catalog tables (prefixed by a content
    * fingerprint, so several sf dirs — or a regenerated one — coexist)
    * and compute table + column statistics, the input the cost-based
    * optimizer's join-reorder DP needs. Done once per (session, content);
    * on a real deployment this is the scheduled `ANALYZE TABLE` pass
    * after each load. The registration runs inside computeIfAbsent, so a
    * failure mid-way records nothing (the next caller retries) and a
    * concurrent second caller blocks until the tables and stats actually
    * exist. Returns the table-name prefix. */
  def ensureStats(spark: SparkSession, dir0: String,
      tables: Seq[String]): String = {
    // absolutize: CREATE TABLE ... LOCATION resolves a RELATIVE path
    // against the warehouse dir, not the CWD — a relative sf dir (the
    // round-18 scale-tier run passed `data/sf1`) would register empty
    // locations and fail with UNABLE_TO_INFER_SCHEMA
    val dir = new java.io.File(dir0).getAbsolutePath
    val key = contentKey(dir, tables)
    memo(spark, s"cbo_stats|$key") {
      val prefix = s"cbo_${key}_"
      tables.foreach { t =>
        val name = prefix + t
        spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$dir/$t.parquet'")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      prefix
    }
  }

  /** Lineage-flattening checkpoint for iterative operators (pointer-jump
    * hierarchy rounds, connected-components label propagation, PageRank).
    *
    * Default: `localCheckpoint()` — executor block storage, which keeps the
    * lineage flat but is NOT fault-tolerant: losing an executor forfeits
    * its blocks and there is no lineage left to recompute them from. Fine
    * on local[n] (one JVM — if it dies the job is gone anyway); a real
    * risk on a 1000-executor cluster where single-executor loss is routine.
    *
    * Opt-in reliable mode: set `spark.graft.checkpoint.dir` to a durable
    * store (HDFS/S3 path) and every iterative round writes a RELIABLE
    * checkpoint there instead — executor loss then costs re-reading one
    * round's files, never restarting the whole iteration. Off by default
    * because each reliable round pays a full write+read round-trip, which
    * only buys anything when executors can actually be lost.
    *
    * The SparkContext checkpoint dir is applied on FIRST use and
    * SparkContext offers no unset — a later, different
    * `spark.graft.checkpoint.dir` cannot take effect for the context's
    * lifetime, so such a mismatch is loudly warned rather than silently
    * ignored. Checkpoint files accumulate per round: long-lived sessions
    * should enable `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (files are then removed when the checkpointed RDD is GC'd) or point
    * the dir at storage with a retention/TTL policy. */
  def ckpt(df: DataFrame, eager: Boolean = true): DataFrame = {
    planAuditor.foreach(_(df.queryExecution.analyzed))
    val s = df.sparkSession
    s.conf.getOption("spark.graft.checkpoint.dir").filter(_.nonEmpty) match {
      case Some(d) =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
        // setCheckpointDir stores the path fully qualified (e.g. a file:
        // scheme prefix), so compare with that tolerance
        else if (!sc.getCheckpointDir.exists(cur =>
            cur == d || cur.stripPrefix("file:") == d || cur.endsWith(d)))
          System.err.println(
            s"[graft] WARNING: spark.graft.checkpoint.dir=$d differs from " +
              s"the context's established checkpoint dir " +
              s"${sc.getCheckpointDir.get}; SparkContext offers no reset — " +
              "reliable checkpoints keep writing to the established dir")
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
  }

  private val cboLock = new Object

  /** Run `body` with the cost-based optimizer (and its join-reorder DP)
    * enabled, restoring the previous confs after. Callers must force
    * planning (e.g. touch `queryExecution.executedPlan`) inside `body` —
    * QueryExecution phases are lazy vals, so the frozen plan keeps the
    * CBO decisions while the session confs revert for everyone else.
    * Serialized: overlapping calls would otherwise restore each other's
    * "previous" conf values and leave CBO enabled for the session. */
  def withCbo[A](spark: SparkSession)(body: => A): A = cboLock.synchronized {
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try body finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }
}

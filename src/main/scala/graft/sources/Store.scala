package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Pluggable table store — the Spark analogue of the reference's store
  * protocols (reference: src/io/pithos/store.clj:8-15 `Crudable`/
  * `Convergeable`; bucket.clj:15-19, meta.clj:16-25, blob.clj:56-67),
  * which are instantiated from config by symbol lookup
  * (config.clj:85-98). Our engine binds the same way: operators take
  * DataFrames, a `Store` decides where they come from.
  *
  * The production target for the reference's deployment shape is the
  * Cassandra Spark connector — a drop-in second implementation:
  * {{{
  * // read:  spark.read.format("org.apache.spark.sql.cassandra")
  * //             .options(Map("keyspace" -> ks, "table" -> name)).load()
  * // write: df.write.format("org.apache.spark.sql.cassandra")
  * //             .options(...).mode(SaveMode.Append).save()
  * }}}
  * Predicate pushdown of the partition-key equality and clustering-key
  * ranges (the A6 listing scan) works identically through the
  * connector's DSv2 interface — the operator layer never changes.
  */
trait Store {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, mode: SaveMode): Unit

  /** Remove a table entirely (idempotent; missing tables are a no-op).
    * Used by [[VersionedStore]]'s snapshot GC; the default is a no-op
    * so bindings without a cheap drop (generic connectors) only leak
    * retired snapshots instead of failing commits. */
  def drop(spark: SparkSession, table: String): Unit = ()
}

/** File-directory store with the [[Lake]] layout for the two big
  * tables (objects, chunks) and plain files for the small ones, over
  * any pushdown-capable columnar `format`. [[ParquetStore]] and
  * [[OrcStore]] are its two bindings — the StoreContractSpec runs the
  * same write → read → range-scan → point-fetch assertions (including
  * pushdown plan shape) against both, which is what makes the
  * connector-swap claim above executable rather than rhetorical. */
class FileStore(root: String, format: String,
    nPart: Int = Lake.DefaultParts) extends Store {

  private def path(table: String) = s"$root/$table"

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format(format).load(path(table))

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    table match {
      case "objects" => Lake.writeObjects(df, path(table), nPart, mode, format)
      case "chunks" => Lake.writeChunks(df, path(table), nPart, mode, format)
      case _ => df.write.mode(mode).format(format).save(path(table))
    }

  override def drop(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}

/** Parquet binding of the [[FileStore]] layout. */
class ParquetStore(root: String, nPart: Int = Lake.DefaultParts)
    extends FileStore(root, "parquet", nPart)

/** ORC binding — same layout, different columnar format. */
class OrcStore(root: String, nPart: Int = Lake.DefaultParts)
    extends FileStore(root, "orc", nPart)

/** Store bound to an arbitrary DataSource-V2 connector by format name
  * + per-table options — the executable form of the connector-swap
  * recipe above. The operator layer sees only [[Store]]; the connector
  * sees only its options map; predicate pushdown flows through the
  * DSv2 interface exactly as for the file stores. StoreContractSpec
  * runs the full contract against this class (bound to an in-sandbox
  * format), so [[CassandraStore]] below is a tested code path with a
  * different parameterization, not a comment. */
class ConnectorStore(format: String,
    tableOptions: String => Map[String, String]) extends Store {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format(format).options(tableOptions(table)).load()

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format(format).options(tableOptions(table)).mode(mode).save()
}

/** Cassandra binding of [[ConnectorStore]] — the reference's production
  * deployment shape (store.clj:17-43; each store section names a
  * cluster + keyspace, doc/pithos.yaml:23-38). The connector jar
  * (`com.datastax.spark:spark-cassandra-connector`) is a deploy-time
  * provided dependency — not shipped in this sandbox, which is why the
  * contract suite exercises the class through [[ConnectorStore]]'s
  * other bindings; this subclass only fixes the format name and the
  * keyspace/table option mapping documented by the connector. */
class CassandraStore(keyspace: String,
    format: String = "org.apache.spark.sql.cassandra")
  extends ConnectorStore(format,
    table => Map("keyspace" -> keyspace, "table" -> table))

/** Store bound to any JDBC database — the relational analogue of the
  * connector swap: reads/writes go through Spark's JDBC source, so
  * predicate pushdown arrives at the database as a WHERE clause (the
  * server-side filtering a Cassandra deployment gets from the
  * connector). `tableOptions` supplies per-table extras — e.g.
  * `createTableColumnTypes` to pin VARCHAR widths on engines whose
  * default string mapping (CLOB on Derby) is not comparable/indexable.
  * The contract suite runs this against embedded in-memory Derby, so
  * the seam is exercised against a REAL SQL engine with its own
  * dialect, not only against Spark-managed storage. */
class JdbcStore(url: String,
    tableOptions: String => Map[String, String] = _ => Map.empty)
  extends Store {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .load()

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(tableOptions(table))
      .mode(mode).save()

  /** Missing-table SQLStates across common dialects: Derby 42X05
    * (object does not exist) / 42Y55 (DROP on nonexistent), ANSI-ish
    * 42S02 (base table not found), Postgres 42P01 (undefined table). */
  private val MissingTableStates = Set("42X05", "42Y55", "42S02", "42P01")

  override def drop(spark: SparkSession, table: String): Unit = {
    // the name reaches a SQL statement: permit only plain identifier
    // characters (staged snapshot names are `table__s<hex>`) — quoting
    // is NOT an option here because Spark's JDBC writer emits the
    // dbtable unquoted (case-folded by the engine), so a quoted DROP
    // would name a different, case-sensitive identifier
    require(table.matches("[A-Za-z0-9_.]+"),
      s"illegal JDBC table identifier: '$table'")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table")
      catch {
        case e: java.sql.SQLException
            if !MissingTableStates.contains(e.getSQLState) =>
          // NOT missing-table (lock timeout, permissions, bad
          // credentials): surface it — swallowing leaks the retired
          // snapshot forever with no trace. Callers for whom drop is
          // best-effort (VersionedStore GC) catch and log.
          throw e
        case _: java.sql.SQLException => () // missing table: no-op
      }
      finally st.close()
    } finally conn.close()
  }
}

/** In-memory store for tests and ephemeral pipelines: tables are
  * eagerly materialized DataFrames in a concurrent map. It has no file
  * pushdown at all — predicates evaluate in-plan — so operators passing
  * the contract suite against it provably depend only on the Store
  * seam, never on a storage capability. */
class MemoryStore extends Store {

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  override def read(spark: SparkSession, table: String): DataFrame =
    Option(tables.get(table)).getOrElse(
      throw new NoSuchElementException(s"MemoryStore has no table '$table'"))

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    // localCheckpoint(true) = the write barrier: the stored snapshot
    // must not re-execute the caller's plan on every later read
    def snap(d: DataFrame) = d.localCheckpoint(true)
    mode match {
      case SaveMode.Overwrite => tables.put(table, snap(df)); ()
      case SaveMode.Append =>
        tables.compute(table, (_, prev) =>
          if (prev == null) snap(df) else snap(prev.unionByName(df)))
        ()
      case SaveMode.ErrorIfExists =>
        if (tables.containsKey(table))
          throw new IllegalStateException(s"table '$table' already exists")
        tables.put(table, snap(df)); ()
      case SaveMode.Ignore =>
        tables.computeIfAbsent(table, _ => snap(df)); ()
    }
  }

  override def drop(spark: SparkSession, table: String): Unit = {
    tables.remove(table); ()
  }
}

/** Atomic versioned-snapshot commits over ANY inner [[Store]] binding —
  * the transactional upgrade SURVEY §7.4 promised over the reference's
  * documented last-write-wins race (two concurrent metadata updates
  * interleave, reference: src/io/pithos/bucket.clj:75-87). With this
  * decorator the A4/A8 MERGE and A5/A9 DELETE pipelines become
  * read-compute-COMMIT: a reader always sees one complete committed
  * snapshot, never a mix of two writers' rows.
  *
  * Protocol (the Delta-style file-pointer shape, minimal):
  *  - data for each snapshot is STAGED in a writer-private inner table
  *    (`<table>__s<uuid>`) — invisible to readers, who only resolve
  *    tables through the commit log;
  *  - the commit log is a directory of manifest files
  *    `<logRoot>/<table>/<n>.commit`, each listing the SEGMENTS (one
  *    staged table name per line) whose union is the snapshot; a
  *    commit is ONE atomic `rename(tmp, n.commit)` — the Hadoop/POSIX
  *    rename both claims the version (rename fails if `n.commit`
  *    exists) and publishes the complete manifest. The committed
  *    snapshot is simply the highest `n` present.
  *  - `Overwrite` stages one segment and retries the claim at n+1 on
  *    conflict (last complete writer wins — each loser's snapshot was
  *    still atomic); `Append` stages ONLY the batch as a new segment
  *    and claims a manifest of head's-segments + the new one — data
  *    written per append is O(batch), NEVER a table rewrite (the
  *    pre-r14 spelling materialized head ∪ batch per fold, an O(table)
  *    copy a 100 TB daily fold cannot pay) — re-deriving just the
  *    segment LIST and retrying on conflict (serializable: no appended
  *    batch is ever lost, and the batch data is staged exactly once).
  *  - GC unlinks manifests older than the newest `keep` snapshots and
  *    drops the segments they reference that NO surviving manifest
  *    still lists (append chains share segments). `keep >= 2` leaves
  *    the previous snapshot readable for readers that resolved it just
  *    before a commit; size it to reader latency × commit rate.
  *  - After many appends a snapshot is many segments; reads union
  *    them (cheap — Spark unions scans, it does not copy), and
  *    [[compactSegments]] rewrites the head into one segment when the
  *    file fan-in warrants a maintenance pass.
  *
  * At 100 TB the log directory lives on the shared store (HDFS/object
  * store with atomic rename, e.g. ABFS/GCS; on S3 use a
  * rename-consistent layer) while data tables stay in whatever binding
  * the deployment uses — the pointer swap is metadata-only, so commit
  * cost is independent of table size. Note staged tables go through
  * the inner store's GENERIC write path (the objects/chunks lake
  * layout specialization keys on the table name, which staging
  * obscures); pipelines that need layout + transactions point the
  * inner store's layout rules at the staged prefix. */
class VersionedStore(inner: Store, logRoot: String, keep: Int = 2,
    autoCompactSegments: Int = 0) extends Store {

  // keep=1 would let a commit+GC drop the staged table a lazy reader
  // DataFrame still points at (the reader resolved the previous head
  // an instant before the commit); >= 2 is the documented floor
  require(keep >= 2, "keep must be >= 2 (the previous snapshot must " +
    "stay readable for readers that resolved it just before a commit)")

  /** Reads past this many segments log a warning — the surface that
    * keeps a sink run without a compaction valve from silently
    * building a hundreds-deep union plan (each segment is a separate
    * scan: planning cost and file-open fan-in grow linearly). */
  val WarnSegments = 64

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fs(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(logRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) =
    new org.apache.hadoop.fs.Path(logRoot, table)

  /** Parse a manifest's content into its segment list (one staged
    * table name per line; pre-r14 manifests hold a single line). */
  private def parseSegments(content: String): Seq[String] =
    content.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The segment list of manifest `name` under `dir`. IO failures
    * propagate: each caller classifies a missing or unreadable
    * manifest its own way. */
  private def manifest(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, name: String): Seq[String] = {
    val in = f.open(new org.apache.hadoop.fs.Path(dir, name))
    try parseSegments(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Highest committed `(version, segments)`, if any. Retries until
    * the listing converges: a concurrent GC may unlink an older
    * manifest between the listing and the open — never the MAX
    * manifest (GC only deletes below head), so each retry observes a
    * strictly newer head and the loop terminates as soon as one
    * list+open pair agrees. Bounded only as a corruption backstop. */
  private def committed(spark: SparkSession,
      table: String): Option[(Long, Seq[String])] = {
    val f = fs(spark)
    val dir = logDir(table)
    def once(): Option[(Long, Seq[String])] =
      if (!f.exists(dir)) None
      else {
        val versions = f.listStatus(dir).map(_.getPath.getName)
          .filter(_.endsWith(".commit"))
          .map(_.stripSuffix(".commit").toLong)
        if (versions.isEmpty) None
        else {
          val n = versions.max
          Some((n, manifest(f, dir, s"$n.commit")))
        }
      }
    var attempts = 0
    while (true) {
      try return once()
      catch {
        case e: java.io.IOException =>
          attempts += 1
          if (attempts >= 10) throw e // log corruption, not a race
      }
    }
    None // unreachable
  }

  /** A snapshot IS the union of its segments — Spark unions the scans
    * (no copy), so an appended chain reads as one plan. Past
    * [[WarnSegments]] the plan depth is a smell (an append loop
    * running without [[compactSegments]] or `autoCompactSegments`):
    * warn rather than fail — the read is correct, just degrading. */
  private def readSegments(spark: SparkSession,
      segments: Seq[String]): DataFrame = {
    if (segments.size > WarnSegments) {
      log.warn(s"snapshot union spans ${segments.size} segments " +
        s"(> $WarnSegments): run compactSegments or construct the " +
        "store with autoCompactSegments to bound read fan-in")
    }
    segments.map(inner.read(spark, _)).reduce(_ unionByName _)
  }

  /** Segments in the committed head snapshot (0 when none) — the
    * observable the auto-compact valve and its tests key on. */
  def segmentCount(spark: SparkSession, table: String): Int =
    committed(spark, table).map(_._2.size).getOrElse(0)

  override def read(spark: SparkSession, table: String): DataFrame =
    committed(spark, table) match {
      case Some((_, segments)) => readSegments(spark, segments)
      case None => throw new NoSuchElementException(
        s"VersionedStore has no committed snapshot for '$table'")
    }

  /** The table's committed version number, if any. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    committed(spark, table).map(_._1)

  /** Time travel: read snapshot `version` as committed — available
    * while the version is within the newest `keep` snapshots (older
    * ones are GC'd; size `keep` to the retention the pipeline needs,
    * exactly Delta's VACUUM-vs-time-travel trade). */
  def readVersion(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    // open directly — an exists-then-open pair races a concurrent GC
    // unlinking this manifest between the two calls
    val segments =
      try manifest(fs(spark), logDir(table), s"$version.commit")
      catch {
        case _: java.io.FileNotFoundException =>
          throw new NoSuchElementException(
            s"no snapshot v$version for '$table' (GC'd or never committed)")
      }
    readSegments(spark, segments)
  }

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val spark = df.sparkSession
    mode match {
      case SaveMode.Overwrite =>
        val seg = stageSegment(spark, table, df)
        commitManifest(spark, table, Seq(seg), exact = None); ()
      case SaveMode.Append =>
        // serializable O(batch) append: stage ONLY the batch as a new
        // segment (the data is written exactly once, regardless of
        // conflicts), then claim a manifest of head's-segments + it at
        // exactly head+1; a conflict means another commit landed first
        // — re-derive just the segment LIST from the new head and
        // retry, so no batch is ever lost and the table is never
        // rewritten
        val seg = stageSegment(spark, table, df)
        var done = false
        var chain = 1
        while (!done) {
          val head = committed(spark, table)
          val segs = head.map(_._2).getOrElse(Seq.empty) :+ seg
          chain = segs.size
          done = commitManifest(spark, table, segs,
            exact = Some(head.map(_._1 + 1L).getOrElse(1L)))
        }
        // the in-protocol compaction valve: once an append chain grows
        // past the threshold, fold the head back to one segment (an
        // atomic exact-version commit — data-invariant, conflict-safe)
        // so a long-running sink can never build an unbounded union
        // plan even when its owner forgot a compactEvery valve
        if (autoCompactSegments > 0 && chain >= autoCompactSegments) {
          compactSegments(spark, table)
          ()
        }
      case SaveMode.ErrorIfExists =>
        if (committed(spark, table).nonEmpty)
          throw new IllegalStateException(s"table '$table' already exists")
        val seg = stageSegment(spark, table, df)
        commitManifest(spark, table, Seq(seg), exact = None); ()
      case SaveMode.Ignore =>
        if (committed(spark, table).isEmpty) {
          val seg = stageSegment(spark, table, df)
          commitManifest(spark, table, Seq(seg), exact = None); ()
        }
    }
  }

  /** Rewrite the head into a SINGLE segment — segment compaction, the
    * maintenance pass that bounds read fan-in after many appends (the
    * store twin of `Models.compactBucketed`'s file compaction). The
    * compacted manifest claims EXACTLY head+1 — a plain Overwrite
    * would walk forward past a concurrently committed append and
    * silently swallow its batch (compaction must be data-invariant);
    * on conflict the staged rewrite is reclaimed and the compaction
    * re-derives from the new head. Old segments retire through normal
    * GC once `keep` newer snapshots exist. Returns the number of
    * segments the compacted snapshot held. */
  def compactSegments(spark: SparkSession, table: String): Int =
    committed(spark, table) match {
      case None => 0
      case Some((_, s0)) if s0.size <= 1 =>
        s0.size // already minimal: no table copy, no gratuitous version
      case Some((v0, s0)) =>
        var v = v0
        var segs = s0
        while (true) {
          val seg = stageSegment(spark, table, readSegments(spark, segs))
          if (commitManifest(spark, table, Seq(seg), exact = Some(v + 1L)))
            return segs.size
          // lost to a concurrent commit: reclaim the orphaned rewrite,
          // re-derive from the new head
          inner.drop(spark, seg)
          fs(spark).delete(new org.apache.hadoop.fs.Path(logDir(table),
            s"_staged_$seg"), false)
          committed(spark, table) match {
            case Some((v1, s1)) => v = v1; segs = s1
            case None => return 0
          }
        }
        0 // unreachable
    }

  /** Stage `df` as a writer-private segment table (invisible to
    * readers until a manifest lists it). The staging marker is written
    * BEFORE the data: a writer that dies mid-stage leaves marker +
    * partial table, which vacuum() reclaims; without the marker the
    * orphan would be unfindable through the generic Store seam (no
    * list-tables primitive). */
  private def stageSegment(spark: SparkSession, table: String,
      df: DataFrame): String = {
    val staged =
      s"${table}__s${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val f = fs(spark)
    f.mkdirs(logDir(table))
    f.create(new org.apache.hadoop.fs.Path(logDir(table),
      s"_staged_$staged"), true).close()
    inner.write(df, staged, SaveMode.Overwrite)
    staged
  }

  /** Claim a version by atomic no-overwrite publish of the manifest
    * ([[Generations.claim]] — rename, hard link on `file://`, or a
    * conditional put), publishing `segments`.
    * `exact = Some(n)` claims only version n (append's serializable
    * form) — returns false on conflict, leaving the staged segments
    * intact for the caller's retry; `exact = None` (overwrite) walks
    * forward to the first free slot. */
  private def commitManifest(spark: SparkSession, table: String,
      segments: Seq[String], exact: Option[Long]): Boolean = {
    val f = fs(spark)
    val dir = logDir(table)
    f.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_tmp_${java.util.UUID.randomUUID.toString.replace("-", "")}")
    val out = f.create(tmp, true)
    try out.write(segments.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    var n = exact.getOrElse(
      committed(spark, table).map(_._1 + 1L).getOrElse(1L))
    var claimed = false
    while (!claimed) {
      claimed = Generations.claim(f, tmp,
        new org.apache.hadoop.fs.Path(dir, s"$n.commit"))
      if (!claimed) {
        if (exact.isDefined) { // append lost the race: retry the LIST
          f.delete(tmp, false)
          return false
        }
        n += 1L
      }
    }
    f.delete(tmp, false) // claimed via link on local fs: tmp may remain
    gc(spark, table, n)
    true
  }

  /** Unlink manifests (first — readers resolve max only) older than
    * the newest `keep` snapshots, then drop the segments they
    * reference that NO surviving manifest still lists — append chains
    * share segments, so referenced-by-survivor segments must outlive
    * their first manifest. Idempotent under concurrent GC: deletes and
    * drops tolerate missing targets. */
  private def gc(spark: SparkSession, table: String, head: Long): Unit = {
    val f = fs(spark)
    val dir = logDir(table)
    def segsOf(n: Long): Option[Seq[String]] =
      try Some(manifest(f, dir, s"$n.commit"))
      catch { case _: java.io.IOException => None }
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
      .map(_.stripSuffix(".commit").toLong)
    val (retired, surviving) = versions.partition(_ <= head - keep)
    if (retired.isEmpty) return
    // read every retired manifest BEFORE deleting any (a shared
    // segment must be seen from each); an unreadable RETIRED manifest
    // was unlinked by a concurrent GC, which owns its segments
    val retiredSegs = retired.flatMap(n => segsOf(n).getOrElse(Nil))
      .distinct
    // the survivors' live set must be STRICT: an unreadable surviving
    // manifest (transient IO error, or a concurrent GC at a NEWER
    // head unlinking what this stale head still counts as surviving)
    // must abort the drop phase, never silently shrink the live set —
    // dropping a segment the current head's manifest still lists is
    // data loss at the committed head. The next commit's GC retries.
    val survivingSegs = surviving.map(segsOf)
    if (survivingSegs.exists(_.isEmpty)) return
    val live = survivingSegs.flatMap(_.get).toSet
    retired.foreach { n =>
      f.delete(new org.apache.hadoop.fs.Path(dir, s"$n.commit"), false)
    }
    retiredSegs.filterNot(live.contains).foreach { s =>
      // best-effort: the commit already succeeded; a transient drop
      // failure (lock timeout) must not fail the writer — log it
      // and LEAVE the _staged_ marker, which keeps the table
      // findable for a later vacuum() to reclaim
      val dropped =
        try { inner.drop(spark, s); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"GC could not drop retired segment '$s': $e")
            false
        }
      if (dropped)
        f.delete(new org.apache.hadoop.fs.Path(dir, s"_staged_$s"), false)
    }
  }

  /** Reclaim ORPHANED staged tables — left by writers that died
    * between staging and claiming (the one garbage the commit protocol
    * can produce; readers never see these, they only waste storage).
    * An orphan = a staging marker whose table is referenced by NO
    * surviving manifest and whose marker is older than `minAgeMs` —
    * the age gate keeps vacuum from destroying a LIVE writer's
    * in-flight staging (size it above the longest expected
    * stage-to-claim latency; 0 only when no writer can be active).
    * Returns the dropped staged-table names. */
  def vacuum(spark: SparkSession, table: String,
      minAgeMs: Long = 3600000L): Seq[String] = {
    val f = fs(spark)
    val dir = logDir(table)
    if (!f.exists(dir)) return Seq.empty
    val statuses = f.listStatus(dir)
    val live = statuses.map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
      .flatMap { c =>
        try manifest(f, dir, c)
        catch { case _: java.io.IOException => Seq.empty }
      }.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    statuses
      .filter(s => s.getPath.getName.startsWith("_staged_") &&
        s.getModificationTime < cutoff)
      .map(_.getPath)
      .filter(p => !live.contains(p.getName.stripPrefix("_staged_")))
      .map { p =>
        val staged = p.getName.stripPrefix("_staged_")
        inner.drop(spark, staged)
        f.delete(p, false)
        staged
      }.toSeq
  }
}

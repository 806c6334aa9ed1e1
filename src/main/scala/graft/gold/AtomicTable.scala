package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Minimal ACID table format: snapshot isolation via versioned
  * manifests and an atomic-rename commit, the mechanism the
  * reference's Gold layer gets from Iceberg v2
  * (`pipeline/spark/delta_to_iceberg.py:43-52`, `README.md:41`)
  * re-expressed engine-side.
  *
  * Layout under a table root:
  * {{{
  *   <root>/_staged/<uuid>/part-*.parquet   data files (immutable once
  *                                          referenced by a manifest)
  *   <root>/_commits/v00042.manifest        one entry per data file:
  *                                          relative path + optional
  *                                          tagged fields (partition
  *                                          value, per-file min/max
  *                                          zone-map stats)
  * }}}
  *
  * Protocol:
  *  - WRITE: stage data files (never visible to readers), then publish
  *    a manifest for version latest+1 with an ATOMIC file move. Two
  *    concurrent writers race on the same version name — the loser's
  *    move fails (target exists), it re-reads the latest version and
  *    retries one higher, so every commit lands exactly once and no
  *    files are lost (optimistic concurrency, no locks).
  *  - READ: resolve the highest committed manifest, read exactly the
  *    files it lists. Readers never see a half-written commit because
  *    the manifest appears atomically AFTER its data files are closed.
  *  - MERGE (upsert): copy-on-write — new snapshot = target rows whose
  *    key is absent from the source (anti join) ∪ source rows; on a
  *    partitioned production table the rewrite would touch only the
  *    partitions holding matched keys, the commit protocol is
  *    unchanged.
  *
  * Old versions stay readable (time travel) until a vacuum removes
  * manifests + unreferenced files. Local-fs `ATOMIC_MOVE` maps to the
  * same guarantee as an HDFS namenode rename; an object store (no
  * atomic rename) would swap this seam for a conditional-PUT or
  * metastore CAS — only [[publish]] changes.
  */
object AtomicTable {

  /** Optional phase-timing sink (name, seconds) — a diag hook in the
    * [[graft.ext.Dedup.lastMinhashDiag]] mold: `graft.tools.Profile`
    * sets it around each run to attribute merge cost to its internal
    * phases; `None` (the default) is zero-overhead. Not part of any
    * query semantics.
    */
  @volatile var phaseSink: Option[(String, Double) => Unit] = None
  /** Package-visible so maintenance drivers (EventQueries.mvMaintain)
    * report their top-level phases through the same sink without
    * re-implementing the wrapper. */
  private[graft] def phase[T](name: String)(body: => T): T = phaseSink match {
    case None => body
    case Some(f) =>
      val t0 = System.nanoTime()
      val r = body
      f(name, (System.nanoTime() - t0) / 1e9)
      r
  }

  private def commitsDir(root: String) = Paths.get(root, "_commits")

  // \d{5,}: %05d PADS to 5 digits but does not cap — version 100000
  // writes a 6-digit name, and an anchored {5} would make that commit
  // invisible to latestVersion (readers stuck on the stale snapshot,
  // every writer spinning on FileAlreadyExists forever). Versions
  // compare as parsed ints, never lexicographically, so variable
  // width is safe.
  private val ManifestRe = raw"v(\d{5,})\.manifest".r

  /** Files.list returns a DirectoryStream-backed stream that leaks a
    * file descriptor unless closed — every directory listing goes
    * through here.
    */
  private def listDir[T](dir: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => T): T = {
    val s = Files.list(dir)
    try f(scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala)
    finally s.close()
  }

  /** Highest committed version, if any. */
  def latestVersion(root: String): Option[Int] = {
    val dir = commitsDir(root)
    if (!Files.isDirectory(dir)) return None
    val best = listDir(dir)(_.foldLeft(-1) { (b, p) =>
      p.getFileName.toString match {
        case ManifestRe(v) => math.max(b, v.toInt)
        case _ => b
      }
    })
    if (best < 0) None else Some(best)
  }

  private def manifestPath(root: String, v: Int) =
    commitsDir(root).resolve(f"v$v%05d.manifest")

  /** Manifest entries of a version. An entry is TAB-separated tagged
    * fields: the relative path, then optionally `p=<urlenc dir value>`
    * (Hive partition dir suffix, from the partitioned stage) and
    * `s=<col>\t<urlenc min>\t<urlenc max>` folded as three fields
    * `sc=…`, `smin=…`, `smax=…` (per-file column stats for data
    * skipping). URL-encoding keeps arbitrary values unambiguous in a
    * line/tab format.
    */
  def files(root: String, v: Int): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(manifestPath(root, v))).asScala.toSeq.filter(_.nonEmpty)

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  // `split("\\|")` tolerance: manifests written by the earlier
  // `path|partitionValue` format parse losslessly — vacuum/readers of
  // a pre-upgrade table must never mistake the suffix for the path
  private def pathOf(e: String): String =
    e.split("\t")(0).split("\\|")(0)

  private def fieldOf(e: String, tag: String): Option[String] =
    e.split("\t").find(_.startsWith(tag + "="))
      .map(f => dec(f.substring(tag.length + 1)))

  /** Partition dir value (raw Hive dir string) of an entry, if any. */
  private def partOf(e: String): Option[String] =
    fieldOf(e, "p").orElse { // legacy `path|value` form
      val head = e.split("\t")(0)
      if (head.contains("|")) Some(head.split("\\|")(1)) else None
    }

  /** (column, orderTag, min, max) stats of an entry, if recorded.
    * orderTag is "num" or "str" — the ordering under which min/max
    * were captured; comparing under any other ordering can mis-prune.
    */
  private def statsOf(e: String): Option[(String, String, String, String)] =
    for {
      c <- fieldOf(e, "sc")
      ord <- fieldOf(e, "so")
      lo <- fieldOf(e, "smin")
      hi <- fieldOf(e, "smax")
    } yield (c, ord, lo, hi)

  /** Multi-column zone-map groups written by [[clusterBy]]: one
    * repeated `zs=` tag per column, payload
    * `enc(col),ord,enc(min),enc(max)` (URL-encoding escapes commas, so
    * the 4-way split is unambiguous). Kept separate from the legacy
    * single-column `sc=` group so pre-clustering readers parse old
    * manifests unchanged.
    */
  private def zstatsOf(e: String, column: String)
      : Option[(String, String, String)] =
    e.split("\t").filter(_.startsWith("zs=")).iterator
      .map(_.substring(3).split(",", -1))
      .collectFirst {
        case Array(c, ord, mn, mx) if dec(c) == column =>
          (ord, dec(mn), dec(mx))
      }

  /** min/max of `column` for an entry under either stats scheme. */
  private def statsFor(e: String, column: String)
      : Option[(String, String, String)] =
    statsOf(e).collect { case (c, ord, mn, mx) if c == column =>
      (ord, mn, mx)
    }.orElse(zstatsOf(e, column))

  /** Read the latest snapshot (empty schema-less read is an error —
    * callers check [[latestVersion]] for existence-dependent logic).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    readVersion(spark, root, v)
  }

  /** Time-travel read of an explicit version. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    readEntries(spark, root, files(root, v))

  /** Read a set of manifest entries. Entries with a `p=` field live
    * under Hive-style `<col>=<value>` dirs — those read with
    * `basePath` per staged dir so partition discovery restores the
    * partition column; plain entries read directly.
    *
    * SCHEMA EVOLUTION (add-column): snapshots may mix commits written
    * with different column sets — the union fills columns missing
    * from older files with NULL (per staged group, each group reads
    * with its own mergeSchema'd parquet schema). Type changes of an
    * existing column are NOT supported (same as Iceberg without a
    * migration rewrite).
    */
  private def readEntries(spark: SparkSession, root: String,
      entries: Seq[String]): DataFrame = {
    if (entries.isEmpty) return spark.emptyDataFrame
    val (parted, plain) = entries.partition(partOf(_).isDefined)
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (plain.nonEmpty)
      parts += spark.read.option("mergeSchema", "true")
        .parquet(plain.map(f => s"$root/${pathOf(f)}"): _*)
    parted.map(pathOf).groupBy(p => p.split("/").take(2).mkString("/"))
      .foreach { case (stagedDir, paths) =>
        parts += spark.read.option("basePath", s"$root/$stagedDir")
          .option("mergeSchema", "true")
          .parquet(paths.map(f => s"$root/$f").toSeq: _*)
      }
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** Stage the DataFrame as immutable parquet files, invisible to
    * readers until committed. Returns manifest entries (paths, plus
    * per-file min/max stats of `statsCol` when requested — the zone
    * maps [[scanWhere]] prunes with).
    */
  private def stage(df: DataFrame, root: String,
      statsCol: Option[String] = None): Seq[String] = {
    val id = java.util.UUID.randomUUID().toString
    val rel = s"_staged/$id"
    df.write.parquet(s"$root/$rel")
    val paths = listDir(Paths.get(root, rel)) { it =>
      it.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .map(n => s"$rel/$n").toSeq.sorted
    }
    attachStats(df.sparkSession, root, rel, paths, statsCol)
  }

  /** Append per-file min/max fields for `statsCol` to the staged
    * entries: ONE aggregation job over the staged directory grouped by
    * `input_file_name()` covers every file (not a job per file); the
    * production path would lift the same values from the parquet
    * footers the write already produced. The ordering tag ("num" for
    * numeric column types, "str" otherwise) rides along so the scan
    * compares bounds under the SAME ordering the stats were captured
    * with.
    */
  private def attachStats(spark: SparkSession, root: String, stagedRel: String,
      entries: Seq[String], statsCol: Option[String]): Seq[String] =
    statsCol match {
      case None => entries
      case Some(c) =>
        val numeric = Set("ByteType", "ShortType", "IntegerType", "LongType",
          "FloatType", "DoubleType") // DecimalType handled below
        val stats = spark.read.parquet(s"$root/$stagedRel")
          .groupBy(input_file_name().as("__f"))
          .agg(min(col(c)).cast("string").as("mn"),
            max(col(c)).cast("string").as("mx"))
          .collect()
          .flatMap { r =>
            if (r.isNullAt(1)) None
            else {
              val f = r.getString(0)
              val i = f.indexOf("_staged/")
              if (i < 0) None
              else Some(f.substring(i) -> ((r.getString(1), r.getString(2))))
            }
          }.toMap
        val dt = spark.read.parquet(s"$root/$stagedRel").schema
          .find(_.name == c).map(_.dataType)
        val ord =
          if (dt.exists(t => numeric.contains(t.toString)
              || t.toString.startsWith("DecimalType"))) "num"
          else "str"
        entries.map { e =>
          val p = pathOf(e)
          stats.get(p) match {
            case Some((mn, mx)) =>
              s"$e\tsc=${enc(c)}\tso=$ord\tsmin=${enc(mn)}\tsmax=${enc(mx)}"
            case None => e
          }
        }
    }

  /** ONE atomic publish attempt of `files` as version `v`. Returns
    * true iff this writer's manifest landed. The publish is a hard
    * LINK of the fully-written temp file onto the version name:
    * link(2) is atomic AND create-exclusive (EEXIST when a concurrent
    * writer claimed `v` first) — unlike rename(2), which silently
    * REPLACES an existing target and would lose the winner's commit.
    * Readers can never observe a partial manifest: content is complete
    * before the name exists. On HDFS the equivalent seam is
    * `create(path, overwrite = false)`; object stores need a
    * conditional PUT / metastore CAS.
    */
  private def tryPublish(root: String, v: Int, files: Seq[String]): Boolean = {
    Files.createDirectories(commitsDir(root))
    val tmp = Files.createTempFile(commitsDir(root), s"inflight-v$v-", ".tmp")
    Files.write(tmp, files.mkString("\n").getBytes("UTF-8"))
    try {
      Files.createLink(manifestPath(root, v), tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      // ONLY an existing target is a lost commit race worth retrying;
      // any other failure (unsupported links, permissions, IO) must
      // surface, or the caller's retry loop would spin forever
      case _: java.nio.file.FileAlreadyExistsException =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
        false
      case NonFatal(e) =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
        throw e
    }
  }

  /** Append: new snapshot = previous files + staged files. Optimistic
    * concurrency, lost-update safe: each attempt re-reads the CURRENT
    * latest manifest and republishes prior files + its own, so a loser
    * of the commit race picks up the winner's files before retrying —
    * no lock, no coordination, every writer's rows survive.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
      statsCol: Option[String] = None): Int = {
    val staged = stage(df, root, statsCol)
    // no rows staged → no commit: an empty first write must not create
    // a row-less table, and on an existing table appending an empty
    // file (or republishing `prev` alone) would bump the version for a
    // no-op. Row-level check, not files-level: a plain parquet write
    // of an empty frame still emits one schema-bearing part file, so
    // `staged.isEmpty` alone misses the common empty-append case.
    if (stagedRowless(spark, root, staged))
      return latestVersion(root).getOrElse(-1)
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      val prev = base.map(files(root, _)).getOrElse(Seq.empty)
      val v = base.getOrElse(-1) + 1
      if (tryPublish(root, v, prev ++ staged)) committed = v
    }
    committed
  }

  /** True when the staged write carries no rows — either no files at
    * all (partitionBy of an empty frame emits none) or only the
    * schema-bearing empty part file a plain parquet write of an empty
    * frame produces. One cheap scan over the (tiny) staged files.
    */
  private def stagedRowless(spark: SparkSession, root: String,
      staged: Seq[String]): Boolean =
    staged.isEmpty ||
      spark.read.parquet(staged.map(e => s"$root/${pathOf(e)}"): _*).isEmpty

  /** Overwrite: new snapshot = staged files only. An empty overwrite
    * of an EXISTING table is a SCHEMA-PRESERVING TRUNCATE: the commit
    * keeps the empty part file the parquet writer produced, so the
    * 0-row snapshot still reads with the incoming frame's schema —
    * never a schema-less zero-file manifest (Iceberg-faithful: a
    * truncated table remains a table; cf. the reference's
    * `delta_to_iceberg.py:43-52`, whose tables always carry schema).
    * An empty FIRST write still refuses (-1): creating a table that
    * has never seen a row is almost always a caller bug, and it keeps
    * [[append]]'s no-empty-first-commit rule uniform.
    */
  def overwrite(spark: SparkSession, df: DataFrame, root: String): Int = {
    val staged = stage(df, root)
    if (staged.isEmpty) return -1 // partitionless writer emitted nothing
    if (latestVersion(root).isEmpty && stagedRowless(spark, root, staged))
      return -1
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      val v = base.getOrElse(-1) + 1
      if (tryPublish(root, v, staged)) committed = v
    }
    committed
  }

  /** Stage with Hive-style partition layout; returns tagged manifest
    * entries (`path\tp=<urlenc dir value>` + optional stats fields),
    * one partition value per file, parsed from the directory name.
    * Partition values must be non-null and string-faithful (dates,
    * numbers, sane strings).
    */
  private def stagePartitioned(df: DataFrame, root: String,
      partitionCol: String, statsCol: Option[String] = None): Seq[String] = {
    val id = java.util.UUID.randomUUID().toString
    val rel = s"_staged/$id"
    df.write.partitionBy(partitionCol).parquet(s"$root/$rel")
    val entries = listDir(Paths.get(root, rel)) { dirs =>
      dirs.flatMap { d =>
        val dn = d.getFileName.toString
        if (!dn.startsWith(s"$partitionCol=")) Iterator.empty
        else {
          val value = dn.substring(partitionCol.length + 1)
          listDir(d) { fs =>
            fs.map(_.getFileName.toString)
              .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
              .map(n => s"$rel/$dn/$n\tp=${enc(value)}").toSeq
          }.iterator
        }
      }.toSeq.sorted
    }
    attachStats(df.sparkSession, root, rel, entries, statsCol)
  }

  /** Partitioned append: same optimistic protocol as [[append]], but
    * files carry their partition value in the manifest, enabling
    * partition-pruned merges.
    */
  def appendPartitioned(spark: SparkSession, df: DataFrame, root: String,
      partitionCol: String, statsCol: Option[String] = None): Int = {
    val staged = stagePartitioned(df, root, partitionCol, statsCol)
    // nothing staged → no commit: an empty FIRST write must not
    // create a schema-less table (see append), and on an existing
    // table republishing `prev` alone would bump the version for a
    // no-op
    if (staged.isEmpty) return latestVersion(root).getOrElse(-1)
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      val prev = base.map(files(root, _)).getOrElse(Seq.empty)
      val v = base.getOrElse(-1) + 1
      if (tryPublish(root, v, prev ++ staged)) committed = v
    }
    committed
  }

  /** Materialize version `v` as a plain Hive-layout directory of HARD
    * LINKS under `<root>/_snap/v<v>` and return its path — a
    * zero-copy, listing-readable export of one committed snapshot.
    *
    * This is the bridge to catalogs that can only point at
    * directories (the offline v1 session catalog): point the catalog
    * name at the export, swap the pointer on the next commit
    * ([[Gold.writeTable]]), and readers get snapshot isolation from a
    * directory listing — no partial writes are ever linked, and a
    * reader mid-query on an old export keeps its files (links pin the
    * inodes) until the export is pruned. File names are prefixed with
    * their staging id, so links from different commits never collide.
    * Idempotent: re-exporting an existing version is a no-op per file.
    */
  def exportSnapshot(root: String, v: Int): String = {
    val dir = Paths.get(root, "_snap", s"v$v")
    Files.createDirectories(dir)
    files(root, v).foreach { e =>
      val rel = pathOf(e) // _staged/<id>/[<col>=<val>/]part-x.parquet
      val segs = rel.split("/")
      val tail = segs.drop(2)
      val destDir =
        if (tail.length > 1) dir.resolve(tail.dropRight(1).mkString("/"))
        else dir
      Files.createDirectories(destDir)
      val dest = destDir.resolve(s"${segs(1)}-${tail.last}")
      if (!Files.exists(dest))
        try Files.createLink(dest, Paths.get(root, rel))
        catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    dir.toString
  }

  /** Partition values that round-trip to Hive dir names verbatim; any
    * value outside this set (needs escaping) disables pruning for the
    * whole merge — correctness over cleverness.
    */
  private val DirSafe = "^[A-Za-z0-9._\\-]+$".r

  /** Hive's directory name for a NULL partition value. A null renders
    * as "null" through String.valueOf but as this marker on disk, so
    * the affected-set computed from row values can never match the
    * manifest's dir value — pruning with nulls in play would carry
    * matched keys forward. Any null on either side disables pruning.
    * (A literal string equal to the marker is indistinguishable in
    * dir form; it is treated the same way — correctness over
    * cleverness, like [[DirSafe]].)
    */
  private val NullPartDir = "__HIVE_DEFAULT_PARTITION__"

  /** Partition-pruned MERGE — the production copy-on-write shape the
    * plain [[merge]] approximates: partitions that appear in the
    * source, PLUS partitions currently holding a matched key (a key
    * may move partitions between batches — both homes must rewrite or
    * the old row would survive the upsert), are read and rewritten;
    * every other partition's files are carried into the new manifest
    * UNTOUCHED (same paths, zero I/O). Finding matched-key partitions
    * costs one column-pruned (key, partition) scan of the prior
    * snapshot — cheap next to rewriting it. Merge WRITE cost therefore
    * scales with the update's partition footprint, not table size.
    *
    * Safety valves: entries without partition metadata (plain
    * [[append]] writes) always rewrite, and any partition value that
    * would need Hive path-escaping falls back to a full rewrite
    * (manifest values are dir strings; comparing escaped to unescaped
    * would silently mis-prune). Same optimistic validation as
    * [[merge]]: losing the race recomputes against the new snapshot.
    * Returns -1 when there is nothing to commit (empty source on a
    * nonexistent table).
    *
    * `partitionLocalKeys = true` DECLARES that a key value can only
    * ever live in the partition its source row carries (true whenever
    * the key embeds the partition value — q93's `mv_key` =
    * `date|type` under `event_date` — or the key is otherwise
    * functionally bound to it). Matched-key partitions are then a
    * subset of source partitions BY CONSTRUCTION, so the prior-
    * snapshot key scan is skipped entirely: one fewer Spark job per
    * merge, and the merge plans from manifest strings alone — the
    * partition-scoped MERGE shape of the production formats. The
    * declaration is the caller's contract; a key that silently moved
    * partitions would leave its old row behind, exactly as a wrong
    * partition predicate would in any partition-scoped MERGE.
    *
    * The declaration is honored only for source partition values that
    * are provably FIXED POINTS of partition discovery's
    * parse-then-print ([[discoveryStable]]): skipping the scan also
    * skips the `roundTrips` guard below, and a value discovery
    * reprints differently (`00123` → int `123`) could otherwise leave
    * a rewritten partition's old dir out of `affected` on the NEXT
    * merge — a stale duplicate key. Non-stable values silently
    * downgrade to the scanning path (correct, one extra job), so the
    * flag is always safe to pass.
    */
  /** True when partition DISCOVERY provably reprints `v` unchanged —
    * i.e. `v` is a fixed point of parse-then-print, so manifest dir
    * strings and discovered values can never diverge for it. Three
    * provably-stable classes cover real partition values: canonical
    * integers (no leading zeros/signs to normalize), ISO dates
    * (DateType reprints the same ISO string), and values whose
    * characters rule out every non-string inference (the two
    * exceptions that sneak past the charset test, `NaN`/`Infinity`,
    * parse as doubles but also reprint identically). Anything else —
    * leading-zero numerics, floats, decimals, timestamps — answers
    * false and [[mergePartitioned]] keeps the prior-snapshot scan
    * with its round-trip guard.
    */
  private[graft] def discoveryStable(v: String): Boolean = {
    val canonicalInt = v.matches("0|-?[1-9][0-9]{0,17}")
    def isoDate = v.matches("[0-9]{4}-[0-9]{2}-[0-9]{2}") &&
      scala.util.Try(java.time.LocalDate.parse(v)).isSuccess
    // any char outside numeric/temporal syntax forces StringType
    def stringOnly = v.nonEmpty && !v.matches("[0-9+\\-.:TeE ]+")
    canonicalInt || isoDate || stringOnly
  }

  def mergePartitioned(spark: SparkSession, df: DataFrame, root: String,
      key: String, partitionCol: String, statsCol: Option[String] = None,
      partitionLocalKeys: Boolean = false): Int = {
    val sourcePartRows = phase("merge.src-parts")(
      df.select(col(partitionCol)).distinct()
        .collect()) // bounded: partition cardinality
    // empty source ⇔ empty distinct-partition set (a null partition
    // value still yields a row): short-circuit the no-op like
    // [[merge]] does — without this, an idle caller would publish a
    // content-identical new version per call (untouched = everything,
    // staged = nothing), growing the history unboundedly
    if (sourcePartRows.isEmpty)
      return latestVersion(root).getOrElse(-1)
    val sourceHasNull = sourcePartRows.exists(_.isNullAt(0))
    val sourceParts = sourcePartRows.filterNot(_.isNullAt(0))
      .map(r => String.valueOf(r.get(0))).toSet
    var committed = -1
    while (committed < 0) {
      latestVersion(root) match {
        case None =>
          val staged = phase("merge.stage-initial")(
            stagePartitioned(df, root, partitionCol, statsCol))
          if (staged.isEmpty) return -1 // nothing to commit — never wedge
          if (tryPublish(root, 0, staged)) committed = 0
        case Some(v) =>
          val prior = files(root, v)
          val partedPrior = prior.filter(partOf(_).isDefined)
          val priorDirVals: Set[String] = partedPrior.flatMap(partOf)
            .filterNot(_ == NullPartDir).toSet
          val priorEntries =
            if (partedPrior.isEmpty) None
            else Some(readEntries(spark, root, partedPrior))
          val priorHasNull = partedPrior.exists(e =>
            partOf(e).contains(NullPartDir))
          // cheap structural gates first: when any of them already
          // forbids pruning (null partitions on either side, unsafe
          // source dir values), the full rewrite follows and NO scan
          // of the prior entries is needed at all
          val structuralSafe = !sourceHasNull && !priorHasNull &&
            sourceParts.forall(v => DirSafe.matches(v))
          // ONE column-pruned (key, partition) pass over the prior
          // partitioned entries serves BOTH pruning inputs: which
          // partitions hold matched keys (left join marker), and the
          // full discovered partition-value set for the round-trip
          // guard below — previously two separate jobs per merge.
          // partitionLocalKeys skips the scan only when every source
          // partition value provably survives discovery's
          // parse-then-print — see the scaladoc's stale-duplicate
          // scenario for why a reprinting value must keep the scan
          // (and with it the roundTrips guard)
          val plkSafe = partitionLocalKeys &&
            sourceParts.forall(discoveryStable)
          val partScan: Option[Array[(String, Boolean)]] =
            if (plkSafe || !structuralSafe || priorEntries.isEmpty)
              None
            else Some(phase("merge.part-scan")(priorEntries.get
              .join(df.select(col(key)).distinct()
                .withColumn("__m", lit(1)), Seq(key), "left")
              .groupBy(col(partitionCol)).agg(max(col("__m")).as("__m"))
              .collect()
              .filterNot(_.isNullAt(0))
              .map(r => (String.valueOf(r.get(0)), !r.isNullAt(1)))))
          val matchedParts: Set[String] =
            partScan.map(_.collect { case (v, true) => v }.toSet)
              .getOrElse(Set.empty)
          val affected = sourceParts ++ matchedParts
          // round-trip guard: matchedParts comes from partition
          // DISCOVERY, whose inferred type can reprint a dir value
          // differently (p=00123 discovers as int 123) — the affected
          // test below compares against manifest DIR strings, so a
          // non-round-tripping value would leave the matched entry in
          // `untouched` and the old row would survive the upsert as a
          // duplicate key. Pruning is safe only when discovery is the
          // IDENTITY on this table's dir values: discovery is
          // parse-then-print (idempotent), so discovered-set ==
          // dir-set forces every dir value to be a fixed point (set
          // equality alone rules out both reprints and two dirs
          // collapsing to one discovered value). Otherwise fall back
          // to the always-correct full rewrite, which also
          // re-canonicalizes the offending values. Free here: the
          // discovered set rides the same partScan pass.
          val roundTrips = partScan.forall(_.map(_._1).toSet == priorDirVals)
          val pruneSafe = structuralSafe &&
            affected.forall(v => DirSafe.matches(v)) && roundTrips
          val (untouched, toRewrite) =
            if (!pruneSafe) (Seq.empty[String], prior)
            else prior.partition(e =>
              partOf(e).exists(pv => !affected.contains(pv)))
          val merged =
            if (toRewrite.isEmpty) df
            else readEntries(spark, root, toRewrite)
              .join(df.select(col(key)).distinct(), Seq(key), "left_anti")
              .unionByName(df, allowMissingColumns = true)
          val staged = phase("merge.stage-upsert")(
            stagePartitioned(merged, root, partitionCol, statsCol))
          if (tryPublish(root, v + 1, untouched ++ staged)) committed = v + 1
      }
    }
    committed
  }

  /** Stats-pruned scan (zone maps / data skipping): the latest
    * snapshot restricted to files whose recorded [min, max] of
    * `column` intersects [lo, hi] — provably-outside files are
    * SKIPPED without being opened, then an exact residual filter
    * applies on the survivors. Entries without stats for `column`
    * read conservatively. Bounds compare numerically when both sides
    * parse as numbers, otherwise as strings (dates/timestamps in ISO
    * form order correctly). This is the per-file complement of
    * partition pruning: partitions cut directories, zone maps cut
    * files within them.
    */
  /** Bound comparison under the ordering the stats were captured with
    * (the "so" tag): a numeric-looking STRING column has lexicographic
    * min/max ("100" < "9"), and comparing those numerically would
    * prune files that contain matching rows. ONE definition shared by
    * [[scanWhere]] and [[statsBounds]] so scan and bounds can never
    * disagree on ordering.
    */
  private def cmpOrd(ord: String, a: String, b: String): Int =
    if (ord == "num")
      (scala.util.Try(BigDecimal(a)), scala.util.Try(BigDecimal(b))) match {
        case (scala.util.Success(x), scala.util.Success(y)) => x.compare(y)
        case _ => a.compareTo(b)
      }
    else a.compareTo(b)

  def scanWhere(spark: SparkSession, root: String, column: String,
      lo: String, hi: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val all = files(root, v)
    val kept = all.filter { e =>
      statsFor(e, column) match {
        case Some((ord, mn, mx)) =>
          !(cmpOrd(ord, mx, lo) < 0 || cmpOrd(ord, mn, hi) > 0)
        case None => true
      }
    }
    // schema survives a total prune: resolve columns from the full
    // file set, emit zero rows — callers can still .select/.as
    val pruned0 =
      if (kept.isEmpty) readEntries(spark, root, all).filter(lit(false))
      else readEntries(spark, root, kept)
    // with add-column evolution the surviving files may all PREDATE
    // the queried column (its only carriers pruned away): their rows
    // hold NULL for it, NULL never satisfies a range — correct result
    // is empty, resolved against the full-snapshot schema
    val pruned =
      if (pruned0.columns.contains(column)) pruned0
      else readEntries(spark, root, all).filter(lit(false))
    val dt = pruned.schema(column).dataType
    pruned.filter(col(column) >= lit(lo).cast(dt)
      && col(column) <= lit(hi).cast(dt))
  }

  /** Global [min, max] of `column` across the latest snapshot, served
    * ENTIRELY from manifest zone-map stats — no file opens, no scan.
    * Defined only when every entry carries stats for the column (a
    * partial answer would be silently wrong); callers fall back to an
    * aggregate scan otherwise. The canonical use is an incremental
    * loader's high-watermark: O(manifest) instead of O(table).
    */
  def statsBounds(root: String, column: String): Option[(String, String)] = {
    val v = latestVersion(root).getOrElse(return None)
    val all = files(root, v)
    // statsFor, not statsOf: entries rewritten by clusterBy carry
    // only zs= zone-map groups — parsing just the legacy sc= tag
    // would silently degrade every post-clustering high-watermark
    // lookup from O(manifest) to a full table scan
    val stats = all.map(e => statsFor(e, column))
    if (all.isEmpty || stats.exists(_.isEmpty)) return None
    val s = stats.flatten
    val ord = s.head._1
    val byOrd = Ordering.fromLessThan[String]((a, b) => cmpOrd(ord, a, b) < 0)
    Some((s.map(_._2).min(byOrd), s.map(_._3).max(byOrd)))
  }

  /** Roll the table back to the state of snapshot `v` by COMMITTING
    * that snapshot's file list as a NEW version (Iceberg-style
    * rollback: history is preserved — the bad versions stay
    * time-travelable until [[vacuum]] expires them, and concurrent
    * writers race through the same optimistic publish as any commit).
    * Zero data I/O: only a manifest is written. No-op returning the
    * current version when the table is already at `v`'s STATE (file
    * list compared, not version number — so re-running a rollback,
    * e.g. from an idempotent recovery script, never stacks redundant
    * versions).
    */
  def rollback(root: String, v: Int): Int = {
    val snapshot = files(root, v) // throws if v was never committed
    var committed = -1
    while (committed < 0) {
      val cur = latestVersion(root).getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      if (files(root, cur) == snapshot) return cur
      if (tryPublish(root, cur + 1, snapshot)) committed = cur + 1
    }
    committed
  }

  // ── Named refs (Iceberg-style tags) ──────────────────────────────

  private def refsDir(root: String) = Paths.get(root, "_refs")
  private val RefNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Pin a human name to a committed version (Iceberg tag twin:
    * `ALTER TABLE … CREATE TAG`). One file per ref under
    * `<root>/_refs/<name>.ref`; published complete-before-named via a
    * temp file + rename(2), which is atomic on POSIX — here REPLACE
    * semantics are exactly what re-tagging wants (unlike manifest
    * commits, where the link(2) create-exclusive publish guards the
    * version race). Tagged versions survive [[vacuum]] regardless of
    * `keepLast` — the tag IS the retention declaration.
    *
    * Crash hygiene: a process dying between createTempFile and the
    * atomic move leaves an `inflight-*.tmp` orphan in `_refs/`.
    * [[refs]] never reads them (only `*.ref` names resolve), and
    * [[vacuum]] reaps any older than its retention window.
    *
    * Concurrency model: tagging is a TABLE-MAINTAINER operation, same
    * single-maintainer assumption as [[vacuum]]/[[compact]] (data
    * WRITERS race safely through the manifest link(2) publish; the
    * maintenance surface does not). A tag created concurrently with an
    * in-flight vacuum can still lose its pinned version — vacuum reads
    * refs as late as possible to narrow that window, but only
    * serializing maintenance closes it.
    */
  def tag(root: String, name: String, v: Int): Unit = {
    require(RefNameRe.pattern.matcher(name).matches(),
      s"ref name must match ${RefNameRe.pattern}: $name")
    files(root, v): Unit // throws if v was never committed
    Files.createDirectories(refsDir(root))
    val tmp = Files.createTempFile(refsDir(root), s"inflight-$name-", ".tmp")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, refsDir(root).resolve(s"$name.ref"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Tag the current head. Returns the version tagged. */
  def tag(root: String, name: String): Int = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    tag(root, name, v)
    v
  }

  /** All refs as name → version. */
  def refs(root: String): Map[String, Int] = {
    val dir = refsDir(root)
    if (!Files.isDirectory(dir)) return Map.empty
    listDir(dir)(_.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.endsWith(".ref")) None
      else scala.util.Try(new String(Files.readAllBytes(p), "UTF-8")
        .trim.toInt).toOption.map(n.stripSuffix(".ref") -> _)
    }.toSeq).toMap
  }

  /** Read the snapshot a ref points at (time travel by name). */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, refs(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such ref: $name")))

  /** Drop a ref; the version it pinned becomes vacuumable again. */
  def dropRef(root: String, name: String): Boolean =
    Files.deleteIfExists(refsDir(root).resolve(s"$name.ref"))

  /** Snapshot expiry (the Iceberg `expire_snapshots` twin): drop all
    * but the newest `keepLast` manifests, then delete every staged
    * data file no surviving manifest references AND older than
    * `retentionMs` (the age gate protects a concurrent writer's
    * staged-but-uncommitted files). Deletion order is crash-safe:
    * manifests go first, so a reader can never resolve a version
    * whose files are being removed, and a crash mid-vacuum leaves
    * only harmless orphans for the next vacuum. Returns
    * (#manifests dropped, #data files deleted).
    */
  def vacuum(root: String, keepLast: Int = 1,
      retentionMs: Long = 3600000L): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val dir = commitsDir(root)
    if (!Files.isDirectory(dir)) return (0, 0)
    val versions = listDir(dir)(_.flatMap(_.getFileName.toString match {
      case ManifestRe(v) => Some(v.toInt)
      case _ => None
    }).toSeq.sorted)
    val (expired0, kept0) = versions.splitAt(math.max(0, versions.length - keepLast))
    // a named ref pins its version through expiry: the tag is the
    // retention declaration (Iceberg semantics — expire_snapshots
    // never drops a snapshot a ref can still reach). Read refs as LATE
    // as possible — just before the deletion below — so a tag that
    // landed while vacuum was listing manifests still pins (the
    // remaining window is documented on [[tag]]: maintenance ops
    // assume a single maintainer)
    val pinned = refs(root).values.toSet
    val (saved, expired) = expired0.partition(pinned)
    val kept = kept0 ++ saved
    // manifest entries carry tagged metadata fields; liveness is
    // decided on the path alone
    val keepPaths = kept.flatMap(files(root, _)).map(pathOf).toSet
    expired.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val stagedRoot = Paths.get(root, "_staged")
    var removed = 0
    if (Files.isDirectory(stagedRoot)) {
      val rootPath = Paths.get(root)
      val walk = Files.walk(stagedRoot)
      try {
        val cutoff = System.currentTimeMillis() - retentionMs
        val it = walk.iterator()
        while (it.hasNext) {
          val f = it.next()
          val n = f.getFileName.toString
          if (n.startsWith("part-") && n.endsWith(".parquet")) {
            val rel = rootPath.relativize(f).toString
            // retention window: a staged-but-not-yet-committed file of
            // a CONCURRENT writer is unreferenced too — age-gating
            // keeps vacuum from corrupting an in-flight commit
            // (Delta/Iceberg use the same guard)
            if (!keepPaths.contains(rel) &&
                Files.getLastModifiedTime(f).toMillis < cutoff) {
              Files.deleteIfExists(f)
              removed += 1
            }
          }
        }
      } finally walk.close()
      // second pass, DEEPEST-FIRST: Hadoop sidecars and emptied dirs.
      // The part-file pass above leaves .part-*.parquet.crc, _SUCCESS
      // (+ its .crc), and the emptied _staged/<uuid> dirs behind — one
      // orphan dir plus sidecars per expired commit, forever, which
      // defeats vacuum's own purpose of bounding table-root growth. A
      // .X.crc dies only once X itself is gone (kept data keeps its
      // checksum); _SUCCESS dies only in a dir with no parquet left;
      // both behind the same age gate as the data. Empty dirs then
      // unlink bottom-up (deepest-first ordering makes parents empty
      // by the time they are visited).
      val walk2 = Files.walk(stagedRoot)
      try {
        val cutoff = System.currentTimeMillis() - retentionMs
        walk2.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().forEachRemaining { f =>
            val n = f.getFileName.toString
            if (Files.isDirectory(f)) {
              if (f != stagedRoot) {
                // deleteIfExists on a non-empty dir throws — probe first
                val empty = listDir(f)(_.isEmpty)
                if (empty) { try Files.deleteIfExists(f): Unit
                  catch { case _: java.nio.file.DirectoryNotEmptyException => } }
              }
            } else {
              val aged = Files.getLastModifiedTime(f).toMillis < cutoff
              val orphanCrc = n.startsWith(".") && n.endsWith(".crc") &&
                !Files.exists(f.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
              val orphanSuccess = n == "_SUCCESS" &&
                listDir(f.getParent)(_.forall(p =>
                  !p.getFileName.toString.endsWith(".parquet")))
              if (aged && (orphanCrc || orphanSuccess))
                Files.deleteIfExists(f): Unit
            }
          }
      } finally walk2.close()
    }
    // prune _snap exports of expired versions: each export hard-links
    // every data file of its snapshot, so leaving them would pin the
    // inodes forever (vacuuming _staged would free zero bytes) and
    // grow one directory per version unboundedly. Keyed off the KEPT
    // set, so pinned (tagged) versions keep their exports; an export
    // whose manifest never existed (crash mid-export) is expired too.
    val snapRoot = Paths.get(root, "_snap")
    if (Files.isDirectory(snapRoot)) {
      val keptSet = kept.toSet
      // two guards against a CONCURRENT writer's export (the same
      // race the _staged age gate covers): (1) never touch a version
      // newer than this vacuum's manifest listing — a commit that
      // landed after the listing has an export vacuum must not see as
      // "unreferenced"; (2) age-gate the delete, so a half-built
      // export of a just-expired version (keepLast=1 under rapid
      // commits) survives until a later vacuum finds it old AND
      // still expired
      val maxListed = versions.lastOption.getOrElse(-1)
      val snapCutoff = System.currentTimeMillis() - retentionMs
      listDir(snapRoot)(_.filter { p =>
        p.getFileName.toString match {
          case SnapDirRe(v) =>
            val vi = v.toInt
            !keptSet.contains(vi) && vi <= maxListed &&
              Files.getLastModifiedTime(p).toMillis < snapCutoff
          case _ => false
        }
      }.toSeq).foreach { dir =>
        val walk = Files.walk(dir)
        try {
          // depth-first (children before parents) so dirs delete clean
          val it = walk
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator()
          while (it.hasNext) {
            val f = it.next()
            if (Files.isRegularFile(f)) removed += 1
            Files.deleteIfExists(f)
          }
        } finally walk.close()
      }
    }
    // reap inflight-*.tmp orphans (a crashed tag() or tryPublish left
    // them); the same age gate protects a concurrently-running writer
    sweepTmpOrphans(refsDir(root), retentionMs)
    sweepTmpOrphans(commitsDir(root), retentionMs)
    (expired.length, removed)
  }

  private val SnapDirRe = "^v(\\d+)$".r

  /** Delete `*.tmp` files in `dir` older than `retentionMs` — crash
    * leftovers from the temp-then-atomic-publish pattern. Never
    * matches a published name (`*.ref` / manifest), so this can only
    * remove content no reader resolves.
    */
  private def sweepTmpOrphans(dir: java.nio.file.Path, retentionMs: Long): Unit = {
    if (!Files.isDirectory(dir)) return
    val cutoff = System.currentTimeMillis() - retentionMs
    listDir(dir)(_.filter { p =>
      p.getFileName.toString.endsWith(".tmp") &&
        (scala.util.Try(Files.getLastModifiedTime(p).toMillis < cutoff)
          .getOrElse(false))
    }.toSeq).foreach(p =>
      try Files.deleteIfExists(p): Unit catch { case NonFatal(_) => })
  }

  /** Small-file compaction — Iceberg's `rewrite_data_files` twin:
    * rewrite the head snapshot into ~`targetFileBytes`-sized files and
    * commit the SAME rows as a new version listing only the compacted
    * files. Streaming/micro-batch appends accrete a read-amplification
    * tax (every reader opens every tiny file); compaction pays it down
    * without blocking readers — old versions stay readable (time
    * travel) until vacuumed.
    *
    * Returns the new version, or −1 when there is nothing to do (no
    * table, or already at/below the target file count) or the head
    * moved mid-rewrite: compaction validates against the snapshot it
    * read and NEVER retries over a concurrent writer's commit —
    * recompacting the stale snapshot would silently drop the new rows.
    * The caller simply re-runs on the new head; the abandoned staged
    * files are unreferenced and reaped by [[vacuum]].
    *
    * With `partitionCol`, rows hash-repartition ON the partition
    * column so each Hive dir gets exactly one writer → one file per
    * partition; layout and (optional) zone-map stats are regenerated
    * with the same knobs the writers use.
    */
  def compact(spark: SparkSession, root: String,
      partitionCol: Option[String] = None, statsCol: Option[String] = None,
      targetFileBytes: Long = 128L << 20): Int = {
    val v = latestVersion(root).getOrElse(return -1)
    val prior = files(root, v)
    val bytes = prior.map(e => Files.size(Paths.get(root, pathOf(e)))).sum
    val targetFiles =
      math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (prior.length <= targetFiles) return -1 // already compact
    val snapshot = readVersion(spark, root, v)
    val staged = partitionCol match {
      case Some(pc) =>
        stagePartitioned(snapshot.repartition(targetFiles, col(pc)),
          root, pc, statsCol)
      case None =>
        stage(snapshot.repartition(targetFiles), root, statsCol)
    }
    if (tryPublish(root, v + 1, staged)) v + 1 else -1
  }

  /** Incremental snapshot-diff read (the Iceberg incremental-append
    * scan twin): rows ADDED between `fromV` (exclusive; -1 = before
    * the first commit) and `toV` (inclusive), resolved purely from
    * manifests — only the added files are opened, so a consumer
    * tailing a 100 TB table pays for its delta, not the table.
    *
    * Defined only over append-only ranges. Manifests don't record an
    * operation type, so rewrites are detected STRUCTURALLY: an
    * append-only commit strictly grows the file set, while
    * merge/compact/clusterBy/overwrite drop predecessor files — any
    * dropped file in the range makes row-level "what's new" ambiguous
    * (rewritten files mix carried-over and fresh rows), and this
    * throws instead of answering wrong, exactly as Iceberg's
    * incremental scan refuses replace/overwrite snapshots.
    */
  def appendedBetween(spark: SparkSession, root: String,
      fromV: Int, toV: Int): DataFrame = {
    require(fromV >= -1 && fromV <= toV, s"bad version range $fromV..$toV")
    for (v <- math.max(fromV + 1, 1) to toV) {
      val prev = files(root, v - 1).map(pathOf).toSet
      val cur = files(root, v).map(pathOf).toSet
      if (!prev.subsetOf(cur))
        throw new IllegalStateException(
          s"version $v rewrote files (merge/compact/cluster/overwrite); " +
            "incremental append read is undefined across it")
    }
    val base: Set[String] =
      if (fromV < 0) Set.empty else files(root, fromV).map(pathOf).toSet
    val head = files(root, toV)
    val added = head.filterNot(e => base.contains(pathOf(e)))
    if (added.isEmpty) // schema survives an empty delta
      readEntries(spark, root, head).filter(lit(false))
    else readEntries(spark, root, added)
  }

  /** Z-ORDER clustering rewrite (the Delta `OPTIMIZE ZORDER BY` /
    * Iceberg `rewrite_data_files(sort_order => zorder(...))` twin):
    * rewrite the latest snapshot ordered by the interleaved-bit
    * z-value of `cols`, so rows close in EVERY clustered dimension
    * land in the same files and the per-file multi-column zone maps
    * ([[zstatsOf]]) prune on ANY of the clustered columns — a
    * lexicographic sort only ever serves its leading column.
    *
    * Mechanics: each column is rank-bucketed through its own
    * distributed approx-quantile boundaries (driver state =
    * `2^bitsPerCol - 1` doubles per column, independent of row count —
    * quantile buckets keep skewed distributions balanced where uniform
    * width_bucket ranges would collapse); bucket bits interleave into
    * one long; `repartitionByRange` + `sortWithinPartitions` on the
    * z-value lay rows out contiguously (one range shuffle + local
    * sort, the same cost shape as the built-in sort-based write).
    * Numeric columns only (rank-bucketing strings would need a global
    * dictionary); unpartitioned tables (Hive partition dirs already
    * fix file placement — cluster WITHIN a partition by calling on
    * that slice's own table). Same head-validated publish as
    * [[compact]]: losing a race to a concurrent writer returns -1 and
    * the caller re-runs against the new head; rows are never changed,
    * only laid out. Old versions stay readable (time travel).
    */
  def clusterBy(spark: SparkSession, root: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20, bitsPerCol: Int = 8): Int = {
    require(cols.nonEmpty && cols.size * bitsPerCol <= 62,
      s"${cols.size} cols x $bitsPerCol bits must fit a long")
    val v = latestVersion(root).getOrElse(return -1)
    val prior = files(root, v)
    val snapshot = readVersion(spark, root, v)
    cols.foreach { c =>
      require(snapshot.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"clusterBy needs numeric columns, $c is ${snapshot.schema(c).dataType}")
    }
    val buckets = 1 << bitsPerCol
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds: Map[String, Array[Double]] = cols.map { c =>
      c -> snapshot.select(col(c).cast("double").as(c)).na.drop()
        .stat.approxQuantile(c, probs, 0.001)
    }.toMap
    val k = cols.size
    def bucketOf(c: String): Column = {
      // quantile-rank bucket: #boundaries <= value (codegen'd filter
      // over a literal array; nulls rank 0). Duplicate boundaries
      // (heavy skew) just skip codes — ordering stays monotone.
      val b = bounds(c).distinct.sorted.toSeq
      if (b.isEmpty) lit(0L)
      else size(filter(typedlit(b), x => x <= col(c).cast("double")))
        .cast("long")
    }
    val z = cols.zipWithIndex.flatMap { case (c, j) =>
      val bc = bucketOf(c)
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(bc, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
    val bytes = prior.map(e => Files.size(Paths.get(root, pathOf(e)))).sum
    val targetFiles =
      math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val rewritten = snapshot.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val staged = stageWithZStats(rewritten, root, cols)
    if (tryPublish(root, v + 1, staged)) v + 1 else -1
  }

  /** Stage `df` and attach per-file min/max zone-map groups for EVERY
    * column in `statsCols` (repeated `zs=` manifest tags, see
    * [[zstatsOf]]). One aggregation job grouped by `input_file_name()`
    * covers all files and columns; a production writer would lift the
    * same values from the parquet footers.
    */
  private def stageWithZStats(df: DataFrame, root: String,
      statsCols: Seq[String]): Seq[String] = {
    val id = java.util.UUID.randomUUID().toString
    val rel = s"_staged/$id"
    df.write.parquet(s"$root/$rel")
    val paths = listDir(Paths.get(root, rel)) { it =>
      it.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .map(n => s"$rel/$n").toSeq.sorted
    }
    if (statsCols.isEmpty) return paths
    val spark = df.sparkSession
    val staged = spark.read.parquet(s"$root/$rel")
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    val rows = staged.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val byPath: Map[String, Seq[String]] = rows.flatMap { r =>
      val f = r.getString(0)
      val i = f.indexOf("_staged/")
      if (i < 0) None
      else {
        val tags = statsCols.zipWithIndex.flatMap { case (c, ci) =>
          val (mn, mx) = (r.get(1 + ci * 2), r.get(2 + ci * 2))
          if (mn == null || mx == null) None
          else Some(
            s"zs=${enc(c)},num,${enc(String.valueOf(mn))},${enc(String.valueOf(mx))}")
        }
        Some(f.substring(i) -> tags)
      }
    }.toMap
    paths.map(p => (p +: byPath.getOrElse(p, Seq.empty)).mkString("\t"))
  }

  /** MERGE-shaped upsert on `key`: matched target rows are replaced by
    * their source row, unmatched source rows are inserted (copy-on-
    * write rewrite). The rewrite is validated against the snapshot it
    * read: losing the commit race RECOMPUTES the merge from the new
    * latest version (a stale copy-on-write must not clobber a
    * concurrent commit). Re-running the same merge is idempotent by
    * content. Returns the committed version.
    */
  def merge(spark: SparkSession, df: DataFrame, root: String, key: String): Int = {
    var committed = -1
    while (committed < 0) {
      latestVersion(root) match {
        case None =>
          val staged = stage(df, root)
          // no rows to commit — never create a row-less table
          if (stagedRowless(spark, root, staged)) return -1
          if (tryPublish(root, 0, staged)) committed = 0
        case Some(v) =>
          // empty source: the anti-join would keep EVERY target row,
          // i.e. a full copy-on-write rewrite of the table plus a
          // content-identical version bump — short-circuit the no-op
          // (append and Gold.mergeIncremental already do)
          if (df.isEmpty) return v
          val target = readVersion(spark, root, v)
          val kept = target
            .join(df.select(col(key)).distinct(), Seq(key), "left_anti")
          val staged = stage(
            kept.unionByName(df, allowMissingColumns = true), root)
          if (tryPublish(root, v + 1, staged)) committed = v + 1
      }
    }
    committed
  }

  /** Group-replacement MERGE: delete every target row whose `groupCol`
    * value appears in `groups`, then insert ALL of `df` — the
    * "replace this document's whole chunk set" semantics a row-keyed
    * upsert cannot express: a re-ingested doc with FEWER rows leaves
    * its stale higher-keyed rows behind under [[merge]], and a doc
    * that flipped from keep to drop leaves every old row. `groups`
    * may contain keys with no rows in `df` (a pure delete), and the
    * result may legitimately be EMPTY — that commits as a
    * schema-preserving 0-row snapshot (see [[overwrite]]), not a
    * schema-less manifest. Same optimistic protocol as [[merge]]:
    * losing the commit race recomputes against the new latest
    * snapshot; replaying the same call is idempotent by content.
    * Returns the committed version, or -1 when there is nothing to
    * commit (empty source on a nonexistent table).
    */
  def replaceGroups(spark: SparkSession, df: DataFrame, root: String,
      groupCol: String, groups: DataFrame): Int = {
    val g = groups.select(col(groupCol)).distinct()
    var committed = -1
    while (committed < 0) {
      latestVersion(root) match {
        case None =>
          val staged = stage(df, root)
          if (stagedRowless(spark, root, staged)) return -1
          if (tryPublish(root, 0, staged)) committed = 0
        case Some(v) =>
          // nothing to delete AND nothing to insert: the anti-join
          // would rewrite the whole table into an identical snapshot
          // — short-circuit. (An empty df with NON-empty groups is a
          // legitimate pure delete and proceeds.)
          if (g.isEmpty && df.isEmpty) return v
          val target = readVersion(spark, root, v)
          val kept = target.join(g, Seq(groupCol), "left_anti")
          val staged = stage(
            kept.unionByName(df, allowMissingColumns = true), root)
          if (tryPublish(root, v + 1, staged)) committed = v + 1
      }
    }
    committed
  }
}

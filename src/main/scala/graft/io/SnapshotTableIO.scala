package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-isolated [[TableIO]] — an Iceberg-style table layer built from
  * scratch over plain parquet (no external dependency; the reference
  * deployment target is an Iceberg catalog, BASELINE.json north_star, and
  * this reproduces the property the engine actually needs from it:
  * readers NEVER observe a half-committed mutation).
  *
  * Why it exists: [[ParquetTableIO]] mutates tables in place — dynamic
  * partition overwrite deletes partition directories before rewriting them,
  * and `deletePartitions` removes files a concurrent reader's in-flight scan
  * may still be reading. [[graft.index.WriterLock]] serializes WRITERS, but
  * reader/writer isolation across compaction's segment swap, retention
  * expiry and the upsert's tombstone+append pair was documented as "the
  * Iceberg TableIO's job" (ADVICE r3). This is that TableIO.
  *
  * Layout under a table `path`:
  * {{{
  *   path/_manifests/v000000013.manifest   one text file per snapshot
  *   path/<part>=<val>/.../c<commit>-part-*.parquet   immutable data files
  *   path/_staging/<commit>/               transient writer scratch
  * }}}
  *
  * Manifest = schema json + partition cols + the snapshot's RELATIVE file
  * list — written either FULL or as a DELTA (`#delta <parent>` + `+file` /
  * `-file` lines), so the steady-state commit writes O(changed files), not
  * O(table files); chains are rebased to a full manifest every [[MaxChain]]
  * commits, bounding read-side folding. COMMIT is one atomic
  * `rename(tmp, v<N+1>.manifest)` — rename onto an existing path fails on
  * HDFS/local semantics, so claiming version N+1 is exclusive (the engine
  * additionally serializes writers with the writer lease). The current
  * snapshot is simply the highest committed version; there is no mutable
  * pointer file to torn-write. Manifest volume is metadata-scale: file
  * count tracks PARTITIONS (docGroup × segment), not rows, and compaction /
  * retention shrink it like any other table state.
  *
  * The four TableIO ops map to metadata-only commits:
  *  - `overwritePartitions` (dynamic): stage data files, move them into the
  *    standard `part=val/` dirs under commit-unique names (never clobbering
  *    live files), commit = old manifest minus the replaced partitions plus
  *    the new files;
  *  - `overwriteTable`: commit = the new files only;
  *  - `deletePartitions`: commit = old manifest minus matching partitions —
  *    NO filesystem deletes at all (retention/rollover becomes a pure
  *    metadata operation; physical reclaim is [[vacuum]]);
  *  - `read`: resolves the newest manifest ONCE at call time and plans over
  *    that immutable file list with the manifest's stored data schema (no
  *    schema-inference job; `basePath` keeps partition columns and
  *    partition pruning), so an open scan keeps reading ITS snapshot while
  *    later commits land. A crash between data-file moves and the manifest
  *    rename leaves orphan files that no manifest references — invisible to
  *    every reader, reclaimed by [[vacuum]].
  *
  * Isolation contract: readers are isolated from writers for as long as
  * their snapshot's files exist, i.e. until a [[vacuum]] with a retention
  * horizon that drops their snapshot. [[vacuum]] must run under the index
  * writer lease (it is a physical mutation), and its `retain` bounds how
  * long a straggling reader may keep scanning.
  *
  * Same caller-visible quirks as plain parquet, deliberately: partition
  * columns come back path-type-inferred and ordered last (callers already
  * cast — the lineage-partitionId contract), EXCEPT for an empty snapshot,
  * where the read reconstructs that shape from the stored schema instead of
  * failing like `spark.read.parquet` would on zero files.
  */
object SnapshotTableIO extends TableIO {

  private val ManifestDir = "_manifests"
  private val StagingDir = "_staging"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition-directory part of a relative file path ("" if none). */
  private def partitionPathOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Resolved snapshot: `files` is the full list after folding any delta
    * chain; `depth` = chain length back to the nearest full manifest (0 =
    * this manifest is full on disk). */
  private[io] final case class Manifest(version: Long, schemaJson: String,
      partitionCols: Seq[String], files: Seq[String], depth: Int)

  /** A delta chain longer than this is rebased: the next commit writes a
    * full manifest. Bounds read-side folding to <= MaxChain small text
    * files while keeping the steady-state commit O(changed files) — the
    * per-micro-batch O(table-files) full rewrite would otherwise become
    * the manifest-side analog of the derived-refresh cost the engine
    * already made incremental. */
  private val MaxChain = 8

  private def manifestPath(path: String, v: Long) =
    new Path(f"$path/$ManifestDir/v$v%09d.manifest")

  private def listVersions(fs: FileSystem, path: String): Seq[Long] = {
    val dir = new Path(s"$path/$ManifestDir")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".manifest").toLongOption)
      .sorted
  }

  /** Newest committed snapshot, if the table exists. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    listVersions(fsOf(spark, path), path).lastOption

  /** Observability: committed manifests currently on disk (grows with
    * commits, shrinks at vacuum) — the snapshot-debt axis the bench
    * records. */
  def manifestCount(spark: SparkSession, path: String): Int =
    listVersions(fsOf(spark, path), path).size

  /** Observability: delta-chain depth of the CURRENT snapshot (0 = full
    * manifest on disk; bounded by [[MaxChain]] by construction). */
  def chainDepth(spark: SparkSession, path: String): Int =
    current(spark, path).map(_.depth).getOrElse(0)

  private def rawLines(spark: SparkSession, path: String, v: Long): List[String] = {
    val fs = fsOf(spark, path)
    val in = fs.open(manifestPath(path, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Parent version if manifest `v` is a delta (header `#delta <parent>`). */
  private def parentOf(lines: List[String]): Option[Long] =
    lines.drop(2).headOption.filter(_.startsWith("#delta "))
      .flatMap(_.stripPrefix("#delta ").trim.toLongOption)

  /** Read manifest `v`, folding its delta chain (bounded by [[MaxChain]]).
    * Line 1: schema json; line 2: partition cols; then EITHER plain file
    * lines (full manifest) OR `#delta <parent>` followed by `+file` /
    * `-file` lines. */
  private def readManifest(spark: SparkSession, path: String,
      v: Long): Manifest = {
    val lines = rawLines(spark, path, v)
    require(lines.nonEmpty, s"empty manifest v$v at $path")
    val pcols = lines.drop(1).headOption.map(_.trim).filter(_.nonEmpty)
      .map(_.split(",", -1).toSeq).getOrElse(Seq.empty)
    val body = lines.drop(2).filter(_.nonEmpty)
    parentOf(lines) match {
      case None => Manifest(v, lines.head, pcols, body, depth = 0)
      case Some(pv) =>
        val parent = readManifest(spark, path, pv)
        val removes = body.collect { case l if l.startsWith("-") => l.tail }.toSet
        val adds = body.collect { case l if l.startsWith("+") => l.tail }
        Manifest(v, lines.head, pcols,
          (parent.files.filterNot(removes) ++ adds).sorted, parent.depth + 1)
    }
  }

  private def current(spark: SparkSession, path: String): Option[Manifest] =
    currentVersion(spark, path).map(readManifest(spark, path, _))

  /** Atomic commit of a raw manifest body: write to a temp name, rename to
    * v<N+1>. The writer lease serializes engine writers, so a failed
    * rename-no-clobber claim means a ROGUE concurrent writer — fail loudly
    * rather than retry (a retry could attach a stale parent/file list and
    * silently drop the racer's commit). */
  private def commitRaw(spark: SparkSession, path: String, body: String): Long = {
    val fs = fsOf(spark, path)
    fs.mkdirs(new Path(s"$path/$ManifestDir"))
    val next = listVersions(fs, path).lastOption.getOrElse(0L) + 1
    val tmp = new Path(s"$path/$ManifestDir/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, manifestPath(path, next))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"lost manifest claim v$next at $path " +
        "— a concurrent writer is committing outside the writer lease")
    }
    next
  }

  /** Full-manifest commit. */
  private def commit(spark: SparkSession, path: String, schemaJson: String,
      partitionCols: Seq[String], files: Seq[String]): Long =
    commitRaw(spark, path,
      (schemaJson +: partitionCols.mkString(",") +: files.sorted).mkString("\n"))

  /** Delta commit against `parent` — O(changed files) on disk — unless the
    * chain is at [[MaxChain]], in which case it rebases to a full manifest
    * (bounding read-side folding). */
  private def commitDelta(spark: SparkSession, path: String, parent: Manifest,
      schemaJson: String, partitionCols: Seq[String],
      adds: Seq[String], removes: Seq[String]): Long =
    if (parent.depth + 1 > MaxChain)
      commit(spark, path, schemaJson, partitionCols,
        (parent.files.filterNot(removes.toSet) ++ adds).sorted)
    else commitRaw(spark, path,
      (schemaJson +: partitionCols.mkString(",") +: s"#delta ${parent.version}" +:
        (removes.sorted.map("-" + _) ++ adds.sorted.map("+" + _))).mkString("\n"))

  /** Stage `df` as parquet and move its files into the table's standard
    * partition directories under commit-unique names. Returns the relative
    * file list (sorted) — nothing is visible to readers until [[commit]]. */
  private def stageFiles(df: DataFrame, path: String,
      partitionCols: Seq[String]): Seq[String] = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(s"$path/$StagingDir/$commitId")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    val stagingUri = staging.toUri.getPath
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.startsWith("part-")) Seq(st.getPath)
      else Seq.empty
    }
    val rels = walk(staging).map { f =>
      val rel = f.toUri.getPath.stripPrefix(stagingUri).stripPrefix("/")
      val i = rel.lastIndexOf('/')
      val (pdir, name) = if (i < 0) ("", rel) else (rel.substring(0, i), rel.substring(i + 1))
      val destRel = (if (pdir.isEmpty) "" else s"$pdir/") + s"c$commitId-$name"
      val dest = new Path(s"$path/$destRel")
      fs.mkdirs(dest.getParent)
      require(fs.rename(f, dest), s"staging move failed: $f -> $dest")
      destRel
    }.sorted
    fs.delete(staging, true)
    rels
  }

  override def read(spark: SparkSession, path: String): DataFrame =
    current(spark, path) match {
      case None =>
        // engine callers guard with io.exists; an unguarded read of a
        // manifest-less dir must fail loudly rather than fall back to a
        // raw-parquet read that would see orphan/stale files
        throw new IllegalStateException(
          s"SnapshotTableIO: no committed snapshot at $path")
      case Some(m) => readAt(spark, path, m)
    }

  /** Time travel: the table as of snapshot `version`. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readAt(spark, path, readManifest(spark, path, version))

  private def readAt(spark: SparkSession, path: String, m: Manifest): DataFrame = {
    val full = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val (pc, dc) = full.fields.partition(f => m.partitionCols.contains(f.name))
    if (m.files.isEmpty) {
      // zero-file snapshot: reconstruct the read-back shape (data columns
      // then partition columns) from the stored schema
      val ordered = StructType(dc ++ m.partitionCols.flatMap(c => pc.find(_.name == c)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ordered)
    } else {
      // the stored data columns stand in for schema inference (no job);
      // partition columns are still inferred from the paths
      val abs = m.files.map(f => s"$path/$f")
      spark.read.schema(StructType(dc)).option("basePath", path).parquet(abs: _*)
    }
  }

  override def exists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path).isDefined

  override def atomicOverwrites: Boolean = true

  override def drop(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  override def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val schemaJson = df.schema.json
    val files = stageFiles(df, path, partitionCols)
    current(spark, path) match {
      case Some(old) if partitionCols.nonEmpty =>
        // dynamic semantics: replace exactly the partitions present in df —
        // as a delta (adds + removed old files of the replaced partitions)
        val replaced = files.map(partitionPathOf).toSet
        val removes = old.files.filter(f => replaced.contains(partitionPathOf(f)))
        commitDelta(spark, path, old, schemaJson, partitionCols, files, removes)
      case _ => // full overwrite (unpartitioned), or fresh table
        commit(spark, path, schemaJson, partitionCols, files)
    }
    ()
  }

  override def overwriteTable(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val files = stageFiles(df, path, partitionCols)
    commit(df.sparkSession, path, df.schema.json, partitionCols, files)
    ()
  }

  /** Metadata-only: commit a manifest without the matching partitions.
    * Matching mirrors [[ParquetTableIO.deletePartitions]]: the spec's pairs
    * form a leading partition-path prefix, values are Spark path-escaped,
    * `"*"` globs one level. */
  override def deletePartitions(spark: SparkSession, path: String,
      partitionSpec: Seq[(String, String)]): Unit = {
    current(spark, path) match {
      case None => ()
      case Some(old) =>
        def esc(v: String): String = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(v)
        def matches(partPath: String): Boolean = {
          val segs = partPath.split("/", -1)
          segs.length >= partitionSpec.length && partitionSpec.zipWithIndex
            .forall { case ((c, v), i) =>
              if (v == "*") segs(i).startsWith(s"$c=")
              else segs(i) == s"$c=${esc(v)}"
            }
        }
        val removes = old.files.filter(f => matches(partitionPathOf(f)))
        if (removes.nonEmpty)
          commitDelta(spark, path, old, old.schemaJson, old.partitionCols,
            Seq.empty, removes)
        ()
    }
  }

  /** Physically reclaim files unreachable from the newest `retain`
    * snapshots, drop their manifests, and sweep crashed staging dirs.
    * MUST run under the index writer lease: a live writer's just-moved
    * (not yet committed) files would look orphaned. Readers still scanning
    * a dropped snapshot lose isolation — `retain` IS the reader horizon.
    * Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, path: String, retain: Int = 2): Long = {
    require(retain >= 1, "vacuum must retain at least the current snapshot")
    val fs = fsOf(spark, path)
    val versions = listVersions(fs, path)
    if (versions.isEmpty) return 0L
    val keptVs = versions.takeRight(retain)
    val referenced = keptVs
      .flatMap(v => readManifest(spark, path, v).files).toSet
    // a retained DELTA manifest still needs its ancestors to resolve — keep
    // every manifest on a retained version's chain (tiny text files)
    val keepManifests = scala.collection.mutable.Set[Long]()
    keptVs.foreach { v0 =>
      var v: Option[Long] = Some(v0)
      while (v.nonEmpty && keepManifests.add(v.get))
        v = parentOf(rawLines(spark, path, v.get))
    }
    val root = new Path(path)
    val rootUri = root.toUri.getPath
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory) {
        if (n == ManifestDir || n == StagingDir) Seq.empty else walk(st.getPath)
      } else if (n.endsWith(".parquet")) Seq(st.getPath)
      else Seq.empty // never touch markers/_SUCCESS residue
    }
    var deleted = 0L
    walk(root).foreach { f =>
      val rel = f.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (!referenced.contains(rel)) { fs.delete(f, false); deleted += 1 }
    }
    versions.filterNot(keepManifests).foreach(v =>
      fs.delete(manifestPath(path, v), false))
    val staging = new Path(s"$path/$StagingDir")
    if (fs.exists(staging)) fs.delete(staging, true)
    // sweep now-empty partition directories (cosmetic; globs stay clean)
    def sweepEmpty(p: Path): Boolean = { // returns "is empty after sweep"
      val kids = fs.listStatus(p)
      val emptyKids = kids.filter(st => st.isDirectory &&
        st.getPath.getName != ManifestDir && sweepEmpty(st.getPath))
      emptyKids.foreach(st => fs.delete(st.getPath, false))
      fs.listStatus(p).isEmpty
    }
    sweepEmpty(root)
    deleted
  }
}

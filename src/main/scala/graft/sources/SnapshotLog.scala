package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style snapshot log over a partitioned parquet table: an ordered
  * chain of immutable MANIFESTS (file lists) under `<root>/_snapshots/`,
  * giving the table-format semantics the north rule's nominal sink
  * provides — atomic commits, time travel, rollback, snapshot expiry —
  * without an Iceberg runtime (none ships in this container; SURVEY.md
  * §1.3). The data layer is untouched: manifests point at the SAME
  * partition-directory parquet files `PayloadSink` writes, so every
  * raw-path reader (the crawl loop's touched-bucket read-back, the c0x
  * queries) keeps working, while snapshot readers get a consistent
  * point-in-time file set. This is Iceberg's own model — metadata over
  * immutable data files — minus the catalog.
  *
  * Commit protocol (optimistic, like Iceberg's without a catalog lock):
  * the manifest is written to a temp name and ATOMICALLY CLAIMED as
  * `snap-<id>` where id = current max + 1 — link(2) on a local FS
  * (fails EEXIST; plain rename-if-absent is a TOCTOU there), atomic
  * rename-no-overwrite on HDFS-semantics filesystems. A loser of a
  * concurrent race retries with the next id on top of the re-read head.
  * Readers only ever see fully claimed manifests, so a crash mid-commit
  * leaves the table at the parent snapshot plus orphan data files —
  * which `expire` reclaims, exactly Iceberg's orphan-file story.
  *
  * Scale: a commit lists ONLY the leaf partition directories it touched
  * (O(files-per-epoch), the same flat-cost discipline as the loop's
  * touched-bucket read-back — never a full-table listing); `expire` is
  * the one O(table) maintenance operation, as in Iceberg.
  *
  * Row-level deletes (Iceberg v2 equality deletes, merge-on-read):
  * [[commitDeletes]] lands a parquet file of KEY rows under `_deletes/`
  * and commits it as a delete entry; [[read]] anti-joins data against
  * applicable delete keys at scan time. Applicability follows Iceberg's
  * sequence-number rule — every file carries the snapshot id that added
  * it (`seq`), and a delete applies only to data files with LOWER seq —
  * so a key re-inserted after the delete survives. The delete key set
  * stays a distributed parquet frame end-to-end (broadcast by AQE when
  * small, shuffled when not; never driver-collected).
  * [[materializeDeletes]] is the compaction that rewrites affected files
  * with deletes applied and drops the delete entries, after which the
  * head read is a pure scan again.
  *
  * Schema evolution (Iceberg's `ALTER TABLE ... ADD COLUMN` story):
  * the table schema is RECORDED IN THE MANIFEST (one JSON line), so a
  * snapshot read pins its snapshot's schema with `spark.read.schema` —
  * O(1), no `mergeSchema` footer sweep over every file (which is the
  * non-scalable alternative at 10^10-row tables). [[evolveSchema]]
  * commits a metadata-only schema change, validated additive (existing
  * columns keep name and type); files written before the new column
  * backfill it as null at read time, and time travel reads each
  * snapshot under the schema it had. Schema-less manifests (never
  * recorded) fall back to footer inference, the pre-evolution behavior.
  *
  * Manifest format (one text file per snapshot, hadoop-FS portable):
  * {{{
  *   id=<id> parent=<parentId> op=<operation>
  *   schema=<StructType JSON>                         (optional line 2)
  *   <bytes>\t<path relative to root>\t<seq>          (data file)
  *   D\t<bytes>\t<path relative to root>\t<seq>       (equality-delete file)
  *   ...
  * }}}
  */
class SnapshotLog(root: String, conf: Configuration) extends Serializable {

  import SnapshotLog._

  private def fs: FileSystem = graft.fs.StoreFiles.fs(conf, root)
  private def metaDir = new Path(root, "_snapshots")

  /** Atomically claim `target` with `tmp`'s content — the
    * winner-takes-the-id step. `exists(target) && rename(tmp, target)` is
    * a TOCTOU on a local FS (POSIX rename(2) silently OVERWRITES, so two
    * racers can both "succeed" and one manifest is lost — observed as a
    * parallel-suite flake); the atomic claim primitive there is link(2),
    * which fails EEXIST. On non-local Hadoop filesystems rename-without-
    * overwrite is an atomic namespace op server-side (HDFS semantics), so
    * the rename path is correct there. */
  private def claim(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        // ONLY "target already exists" means we lost the id race; any
        // other IO failure (permissions, read-only FS, disk full,
        // cross-device metaDir) must propagate — mapping it to false
        // would burn the full retry budget rebuilding manifests and then
        // mask the real error as "lost 64 consecutive id races"
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !f.exists(target) && f.rename(tmp, target)
  }

  /** All committed snapshot ids, ascending. */
  def snapshotIds(): Seq[Long] = {
    val d = metaDir
    val f = fs
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case SnapName(id) => id.toLong }.sorted
  }

  def currentId(): Option[Long] = snapshotIds().lastOption

  def manifest(id: Long): Manifest = {
    val p = new Path(metaDir, f"snap-$id%09d")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    val Header = "id=(\\d+) parent=(-?\\d+) op=(.+)".r
    val Header(i, par, op) = lines.head: @unchecked
    val (schema, fileLines) =
      if (lines.length > 1 && lines(1).startsWith("schema="))
        (Some(DataType.fromJson(lines(1).stripPrefix("schema="))
          .asInstanceOf[StructType]), lines.drop(2))
      else (None, lines.tail)
    val files = fileLines.map { l =>
      val parts = l.split('\t')
      if (parts(0) == "D")
        DataFile(parts(2), parts(1).toLong, parts(3).toLong, isDelete = true)
      else if (parts.length >= 3)
        DataFile(parts(1), parts(0).toLong, parts(2).toLong)
      else
        // legacy 2-field line (pre-seq manifests): treat the file as added
        // at this manifest — correct for added entries, conservative for
        // carried ones (no legacy manifest ever coexisted with deletes)
        DataFile(parts(1), parts(0).toLong, i.toLong)
    }.toSeq
    Manifest(i.toLong, par.toLong, op, files, schema)
  }

  /** Commit a new snapshot: carry the parent's files minus any under the
    * `replacedPartitions` prefixes (relative partition paths, e.g.
    * `host_bucket=3/crawl_epoch=2` — idempotent-replay support: a
    * dynamic-partition-overwrite re-write of an epoch supersedes exactly
    * that epoch's files), plus every data file found under the
    * `addedLeafDirs` (relative leaf partition dirs). Returns the new id. */
  def commit(op: String, addedLeafDirs: Seq[String],
      replacedPartitions: Seq[String] = Seq.empty,
      schema: Option[StructType] = None): Long = {
    val f = fs
    val added = addedLeafDirs.flatMap { leaf =>
      val dir = new Path(root, leaf)
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .map(s => DataFile(s"$leaf/${s.getPath.getName}", s.getLen))
    }
    commitFiles(op, added, replacedPartitions,
      dropCarriedUnder = addedLeafDirs, schema = schema)
  }

  /** Commit with an EXPLICIT added-file list (the rewrite path: new and
    * superseded files coexist in the same leaf dirs — old files must stay
    * in place for time travel — so dir re-listing cannot express which
    * files the new snapshot references). Carried entries under
    * `replacedPartitions` ∪ `dropCarriedUnder` prefixes, in
    * `dropExactPaths`, or (with `dropAllDeletes`) carrying delete keys are
    * dropped. Added entries with `seq < 0` are stamped with the new
    * snapshot id (Iceberg's data sequence number); a non-negative seq is
    * preserved — the rewrite paths use this so equality deletes keep
    * applying (or not) to rewritten content exactly as they did to its
    * sources. */
  def commitFiles(op: String, added: Seq[DataFile],
      replacedPartitions: Seq[String],
      dropCarriedUnder: Seq[String] = Seq.empty,
      dropExactPaths: Set[String] = Set.empty,
      dropAllDeletes: Boolean = false,
      schema: Option[StructType] = None): Long = {
    val f = fs
    var attempt = 0
    while (true) {
      val parent = currentId()
      val pm = parent.map(manifest(_))
      val carried = pm.map(_.files).getOrElse(Seq.empty)
        .filterNot(df => replacedPartitions.exists(p => df.path.startsWith(p + "/"))
          // a replayed leaf dir replaces itself: drop stale entries for
          // the added leaves too (their files were rewritten)
          || dropCarriedUnder.exists(p => df.path.startsWith(p + "/"))
          || dropExactPaths.contains(df.path)
          || (dropAllDeletes && df.isDelete))
      val id = parent.getOrElse(-1L) + 1
      val stamped = added.map(df => if (df.seq < 0) df.copy(seq = id) else df)
      // schema: explicit on this commit, else inherited from the parent
      val effSchema = schema.orElse(pm.flatMap(_.schema))
      val body = render(id, parent.getOrElse(-1L), op, carried ++ stamped, effSchema)
      f.mkdirs(metaDir)
      val tmp = new Path(metaDir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val target = new Path(metaDir, f"snap-$id%09d")
      if (claim(f, tmp, target)) return id
      f.delete(tmp, false)
      attempt += 1
      if (attempt > 64)
        throw new IllegalStateException(
          s"snapshot commit lost $attempt consecutive id races under $metaDir")
    }
    -1L // unreachable
  }

  private def render(id: Long, parent: Long, op: String,
      files: Seq[DataFile], schema: Option[StructType]): String = {
    val body = new StringBuilder().append(s"id=$id parent=$parent op=$op\n")
    schema.foreach(st => body.append(s"schema=${st.json}\n"))
    files.foreach { df =>
      if (df.isDelete) body.append(s"D\t${df.bytes}\t${df.path}\t${df.seq}\n")
      else body.append(s"${df.bytes}\t${df.path}\t${df.seq}\n")
    }
    body.toString
  }

  /** Metadata-only schema change (Iceberg's `ALTER TABLE ADD COLUMN`):
    * validated ADDITIVE against the recorded schema — every existing
    * column must keep its name and type (name-based evolution; renames
    * and drops refuse loudly rather than silently corrupting old-file
    * reads). Include partition columns in `newSchema`. Subsequent
    * commits inherit it; files written before the new columns backfill
    * them as null at read time. */
  def evolveSchema(newSchema: StructType): Long = {
    currentId().map(manifest(_)).flatMap(_.schema).foreach { old =>
      old.fields.foreach { f =>
        val nf = newSchema.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution must be additive: column '${f.name}' is missing " +
              "from the new schema (drops/renames are not supported)"))
        if (nf.dataType != f.dataType)
          throw new IllegalArgumentException(
            s"schema evolution must be additive: column '${f.name}' changes type " +
              s"${f.dataType.simpleString} -> ${nf.dataType.simpleString}")
      }
    }
    commitFiles("set-schema", Seq.empty, Seq.empty, schema = Some(newSchema))
  }

  /** Row-level delete (Iceberg v2 equality delete, merge-on-read): land
    * `keys` — a frame whose COLUMNS are the equality columns, e.g. a
    * single `image_id` column, or (`host_bucket`,`url_hash`) — as parquet
    * under `_deletes/` and commit it as a delete entry. Rows in data
    * files committed BEFORE this snapshot that match any key on all key
    * columns disappear from subsequent reads; data appended after
    * (including a re-insert of a deleted key) is untouched. O(keys)
    * write + O(1) commit — the data layer is not touched until
    * [[materializeDeletes]] or the read-side anti-join. */
  def commitDeletes(spark: SparkSession, keys: DataFrame): Long = {
    require(keys.columns.nonEmpty, "delete key frame needs at least one column")
    val rel = s"_deletes/eq-${java.util.UUID.randomUUID()}"
    keys.write.mode("error").parquet(new Path(root, rel).toString)
    val f = fs
    val entries = f.listStatus(new Path(root, rel)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => DataFile(s"$rel/${s.getPath.getName}", s.getLen, isDelete = true))
    commitFiles("delete", entries, Seq.empty)
  }

  /** Point-in-time read of exactly the snapshot's file set; partition
    * columns come back via basePath, as in any partitioned parquet read.
    * Snapshots carrying equality-delete entries are merged-on-read:
    * data anti-joined against the applicable delete keys (per the
    * sequence-number rule — see [[applyDeletes]]); with no deletes the
    * plan is the pure file scan it always was. */
  def read(spark: SparkSession, id: Long): DataFrame = {
    val m = manifest(id)
    val (dels, datas) = m.files.partition(_.isDelete)
    if (datas.isEmpty)
      // degenerate: an empty snapshot reads back as an empty frame under
      // the recorded schema; a schema-less legacy manifest can still
      // infer from files on disk, but a file-less root has nothing to
      // infer from — surface the real story, not UNABLE_TO_INFER_SCHEMA
      m.schema.map(st => spark.read.schema(st).parquet(root).limit(0))
        .getOrElse(
          try spark.read.parquet(root).limit(0)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalStateException(
                s"snapshot $id of $root is empty, records no schema, and " +
                  "the table root holds no files to infer one from — " +
                  "commit with an explicit schema to make empty snapshots " +
                  "readable", e)
          })
    else if (dels.isEmpty)
      dataReader(spark, m.schema)
        .parquet(datas.map(df => s"$root/${df.path}"): _*)
    else applyDeletes(spark, datas, dels, m.schema)
  }

  /** Data-file reader pinned to the snapshot's recorded schema (O(1) —
    * no mergeSchema footer sweep); schema-less manifests infer. */
  private def dataReader(spark: SparkSession, schema: Option[StructType]) = {
    val r = spark.read.option("basePath", root)
    schema.map(r.schema).getOrElse(r)
  }

  /** Merge-on-read: scan `datas` minus rows matching the APPLICABLE
    * equality-delete keys. A delete applies to a data file iff
    * `delete.seq > dataFile.seq` (Iceberg's sequence-number rule), so
    * data files are grouped by which deletes apply — one group per
    * interval between delete seqs — each group anti-joined against
    * exactly its applicable key union, and the groups unioned back. The
    * group count is O(delete commits at head), a small maintenance
    * number; the keys stay distributed (AQE broadcasts small sets). */
  private def applyDeletes(spark: SparkSession, datas: Seq[DataFile],
      dels: Seq[DataFile], schema: Option[StructType] = None): DataFrame = {
    val delSeqs = dels.map(_.seq).distinct.sorted
    val groups = datas.groupBy(df => delSeqs.count(_ <= df.seq)).toSeq.sortBy(_._1)
    groups.map { case (nInapplicable, files) =>
      var frame = dataReader(spark, schema)
        .parquet(files.map(df => s"$root/${df.path}"): _*)
      val applicable = delSeqs.drop(nInapplicable).toSet
      if (applicable.nonEmpty) {
        // one key frame per delete dir (a dir = one commitDeletes = one
        // key schema); same-schema dirs union into a single anti-join
        val keyFrames = dels.filter(df => applicable.contains(df.seq))
          .groupBy(df => df.path.substring(0, df.path.lastIndexOf('/')))
          .values.map(grp =>
            spark.read.parquet(grp.map(df => s"$root/${df.path}"): _*))
        keyFrames.groupBy(_.columns.toSeq).foreach { case (cols, frames) =>
          frame = frame.join(frames.reduce(_ union _), cols, "left_anti")
        }
      }
      frame
    }.reduce(_ unionByName _)
  }

  def readLatest(spark: SparkSession): DataFrame =
    read(spark, currentId().getOrElse(
      throw new IllegalStateException(s"no snapshots under $root")))

  /** Incremental append scan (Iceberg's `start-snapshot-id`/
    * `end-snapshot-id` read): exactly the data files ADDED after
    * `fromId` (exclusive) up to `toId` (inclusive) — the changelog a
    * downstream incremental consumer (e.g. an indexer catching up on
    * crawl epochs) reads instead of re-scanning the table. Unioning
    * `read(fromId)` with `changes(fromId, toId)` reproduces
    * `read(toId)` whenever no files were replaced in between (append-only
    * history); replaced partitions are surfaced by the dropped-files
    * check below rather than silently double-counted. */
  def changes(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    require(fromId <= toId, s"changes($fromId, $toId): fromId must be <= toId")
    // incremental reads are defined over APPEND chains only — a rewrite or
    // rollback in the range re-shuffles file identity without changing
    // rows, so "added files" stops meaning "appended rows". Iceberg's
    // incremental scan throws on non-append snapshots; so do we.
    snapshotIds().filter(id => id > fromId && id <= toId).foreach { id =>
      val op = manifest(id).op
      // set-schema is metadata-only (adds no files): incremental reads
      // pass through it, as through any append
      if (!op.startsWith("append") && op != "set-schema")
        throw new IllegalStateException(
          s"changes($fromId, $toId): snapshot $id is '$op', not an append — " +
            "incremental reads require an append-only range")
    }
    val to = manifest(toId)
    val before = manifest(fromId).files.map(_.path).toSet
    // op names alone can't catch a REPLAYED epoch: a crash-resume that
    // rewrites an already-consumed epoch commits another "append-epoch-N"
    // whose dynamic overwrite DROPPED the old files. If anything present
    // at fromId is gone by toId, "added files" no longer means "appended
    // rows" — fail loudly instead of double-delivering the epoch.
    val toPaths = to.files.map(_.path).toSet
    val dropped = before -- toPaths
    if (dropped.nonEmpty)
      throw new IllegalStateException(
        s"changes($fromId, $toId): ${dropped.size} file(s) present at " +
          s"$fromId were replaced by $toId (e.g. ${dropped.head}) — the " +
          "range contains a rewritten epoch; re-base with a full read")
    val added = to.files.filterNot(df => before.contains(df.path))
    if (added.isEmpty) read(spark, toId).limit(0)
    else dataReader(spark, to.schema)
      .parquet(added.map(df => s"$root/${df.path}"): _*)
  }

  /** Snapshot history as a DataFrame (the `history()` metadata table).
    * `n_files`/`n_bytes` count data entries; `n_delete_files` the
    * equality-delete entries carried at that snapshot. */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshotIds().map { id =>
      val m = manifest(id)
      val (dels, datas) = m.files.partition(_.isDelete)
      (m.id, m.parent, m.op, datas.size.toLong, datas.map(_.bytes).sum,
        dels.size.toLong)
    }.toDF("snapshot_id", "parent_id", "operation", "n_files", "n_bytes",
      "n_delete_files")
  }

  /** Roll the table back: a NEW head snapshot whose file set is snapshot
    * `toId`'s (history is append-only; nothing is deleted — Iceberg's
    * rollback semantics). */
  def rollback(toId: Long): Long = {
    val target = manifest(toId)
    val f = fs
    var attempt = 0
    while (true) {
      val parent = currentId().getOrElse(
        throw new IllegalStateException("rollback on an empty snapshot log"))
      val id = parent + 1
      // file entries keep their original seqs (deletes keep applying
      // exactly as at the rolled-back-to snapshot), and the schema rolls
      // back with the file set
      val body = render(id, parent, s"rollback-to-$toId", target.files,
        target.schema)
      val tmp = new Path(metaDir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val tgt = new Path(metaDir, f"snap-$id%09d")
      if (claim(f, tmp, tgt)) return id
      f.delete(tmp, false)
      attempt += 1
      if (attempt > 64) throw new IllegalStateException("rollback id race")
    }
    -1L
  }

  /** Small-file compaction as a snapshot commit (Iceberg's
    * `rewrite_data_files`): per leaf partition dir, if the CURRENT
    * snapshot references more than one file below `smallBytes` there,
    * rewrite that partition's full file set as `ceil(total/targetBytes)`
    * files and commit a new snapshot in which the rewritten partitions'
    * old entries are replaced. Time travel is preserved — prior
    * snapshots still reference the old files until `expire` reclaims
    * them (Iceberg's compaction story exactly).
    *
    * Scale shape: the rewrite is one distributed job per compaction
    * pass over ONLY the affected partitions' rows (partition-pruned
    * manifest read, no full-table scan); the driver handles file NAMES
    * (O(files), the same budget every commit already has), never rows.
    * Returns (partitionsRewritten, filesBefore, filesAfter). */
  def rewriteSmallFiles(spark: SparkSession, smallBytes: Long,
      targetBytes: Long): (Int, Int, Int) = {
    val head = currentId().getOrElse(
      throw new IllegalStateException(s"no snapshots under $root"))
    val cur = manifest(head)
    // bin-pack only WITHIN a (leaf, seq) group: merging files of
    // different sequence numbers would have to pick one seq for the
    // merged file, silently changing which equality deletes apply to
    // whose rows. Epoch-partitioned leaves are single-commit in
    // practice, so this costs nothing.
    val byLeafSeq = cur.files.filterNot(_.isDelete).groupBy(df =>
      (df.path.substring(0, df.path.lastIndexOf('/')), df.seq))
    val victims = byLeafSeq.filter { case (_, fs) =>
      fs.count(_.bytes < smallBytes) > 1 }
    if (victims.isEmpty) return (0, 0, 0)
    val f = fs
    val rewritten = victims.toSeq.flatMap { case ((leaf, seq), files) =>
      val total = math.max(1L, files.map(_.bytes).sum)
      val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      // rewrite into a staging dir, then move files in: readers of the
      // CURRENT snapshot are unaffected until the commit lands (they
      // read by explicit file list, and old files stay put)
      val staged = new Path(root, s"$leaf/.rewrite-${java.util.UUID.randomUUID()}")
      // head schema pinned: a post-evolution compaction materializes the
      // null backfill into the rewritten files
      dataReader(spark, cur.schema)
        .parquet(files.map(df => s"$root/${df.path}"): _*)
        // partition columns come back from basePath; drop them — the
        // rewritten files live under the same leaf dir, which re-derives
        // them on read (writing them into the file would double them)
        .drop(leaf.split('/').map(_.takeWhile(_ != '=')).toIndexedSeq: _*)
        .coalesce(n)
        .write.mode("overwrite").parquet(staged.toString)
      val moved = f.listStatus(staged).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .zipWithIndex.map { case (s, i) =>
          val name = s"compact-${java.util.UUID.randomUUID()}-$i.parquet"
          val tgt = new Path(new Path(root, leaf), name)
          if (!f.rename(s.getPath, tgt))
            throw new IllegalStateException(s"rewrite rename failed: $tgt")
          // seq preserved from the sources: a pure bin-pack must not
          // change delete applicability
          DataFile(s"$leaf/$name", s.getLen, seq)
        }
      f.delete(staged, true)
      moved
    }
    // one commit whose added set is EXACTLY the compact-* files (an
    // explicit list — old small files share the same dirs and must stay
    // on disk for time travel, so dir re-listing would double-reference)
    commitFiles("rewrite-small-files", rewritten, Seq.empty,
      dropExactPaths = victims.values.flatten.map(_.path).toSet)
    // old small files are NOT deleted here (prior snapshots reference
    // them); expire() reclaims them once those snapshots age out
    (victims.size, victims.values.map(_.size).sum, rewritten.size)
  }

  /** Materialize equality deletes (Iceberg's `rewrite_data_files` with
    * delete compaction): rewrite every data file some delete applies to,
    * with those deletes applied, and commit a head in which the delete
    * entries are gone — the head read is a pure file scan again. Prior
    * snapshots still merge-on-read their own delete set (time travel is
    * exact); `expire` reclaims superseded data and delete files.
    *
    * The rewrite is partition-local distributed work (each affected
    * leaf's files scanned once, anti-joined, rewritten); the driver
    * touches file NAMES only. Returns (partitionsRewritten,
    * deleteEntriesDropped). */
  def materializeDeletes(spark: SparkSession,
      targetBytes: Long = 512L << 20): (Int, Int) = {
    val head = currentId().getOrElse(
      throw new IllegalStateException(s"no snapshots under $root"))
    val hm = manifest(head)
    val (dels, datas) = hm.files.partition(_.isDelete)
    if (dels.isEmpty) return (0, 0)
    val affected = datas.filter(df => dels.exists(_.seq > df.seq))
    if (affected.isEmpty) {
      // deletes apply to nothing (all data newer): just drop the entries
      commitFiles("rewrite-materialize-deletes", Seq.empty, Seq.empty,
        dropAllDeletes = true)
      return (0, dels.size)
    }
    val f = fs
    val byLeaf = affected.groupBy(df =>
      df.path.substring(0, df.path.lastIndexOf('/')))
    val rewritten = byLeaf.toSeq.flatMap { case (leaf, files) =>
      val n = math.max(1, math.ceil(
        files.map(_.bytes).sum.toDouble / targetBytes).toInt)
      val staged = new Path(root, s"$leaf/.materialize-${java.util.UUID.randomUUID()}")
      applyDeletes(spark, files, dels, hm.schema)
        .drop(leaf.split('/').map(_.takeWhile(_ != '=')).toIndexedSeq: _*)
        .coalesce(n)
        .write.mode("overwrite").parquet(staged.toString)
      val moved = f.listStatus(staged).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .zipWithIndex.map { case (s, i) =>
          val name = s"purged-${java.util.UUID.randomUUID()}-$i.parquet"
          val tgt = new Path(new Path(root, leaf), name)
          if (!f.rename(s.getPath, tgt))
            throw new IllegalStateException(s"materialize rename failed: $tgt")
          // seq = -1: stamped with the commit id. Correct — every delete
          // at head is already APPLIED in this content, and `dropAllDeletes`
          // removes them from the head, so nothing re-applies.
          DataFile(s"$leaf/$name", s.getLen)
        }
      f.delete(staged, true)
      moved
    }
    commitFiles("rewrite-materialize-deletes", rewritten, Seq.empty,
      dropExactPaths = affected.map(_.path).toSet, dropAllDeletes = true)
    (byLeaf.size, dels.size)
  }

  /** Expire all but the last `keepLast` snapshots and delete data files no
    * kept snapshot references (incl. orphans from crashed commits). The
    * one O(table) maintenance pass, like Iceberg's expire_snapshots +
    * remove_orphan_files. Returns (manifestsDeleted, dataFilesDeleted). */
  def expire(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val f = fs
    val ids = snapshotIds()
    val (drop, keep) = ids.splitAt(math.max(0, ids.size - keepLast))
    val live: Set[String] = keep.flatMap(manifest(_).files.map(_.path)).toSet
    var dataDeleted = 0
    val it = f.listFiles(new Path(root), true)
    val rootUri = new Path(root).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      val inMeta = rel.startsWith("_snapshots/")
      if (st.isFile && !inMeta && !live.contains(rel)
          && !st.getPath.getName.startsWith("_")) {
        f.delete(st.getPath, false); dataDeleted += 1
      }
    }
    drop.foreach(id => f.delete(new Path(metaDir, f"snap-$id%09d"), false))
    (drop.size, dataDeleted)
  }
}

object SnapshotLog {
  /** One manifest entry. `seq` is the data sequence number — the id of
    * the snapshot that added the file (`-1` = stamp at commit); equality
    * deletes apply only to data entries with strictly lower seq.
    * `isDelete` marks an equality-delete key file under `_deletes/`. */
  final case class DataFile(path: String, bytes: Long, seq: Long = -1L,
      isDelete: Boolean = false)
  final case class Manifest(id: Long, parent: Long, op: String,
      files: Seq[DataFile], schema: Option[StructType] = None)
  private val SnapName = "snap-(\\d+)".r
}

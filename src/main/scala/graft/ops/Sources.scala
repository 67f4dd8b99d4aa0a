package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.FlowFrame

/**
 * Batch-side source semantics — SURVEY §2.1. The byte-moving plane of the
 * file/network sources maps onto Spark's native connectors
 * (`binaryFile`/`text`/`kafka`); what the engine re-expresses here is the
 * *stateful listing/synthesis logic* those processors implement.
 */
object Sources {

  /**
   * GetFile with the full filter surface (GetFile.h properties: File
   * Filter, Recurse Subdirectories, Min/Max File Size, Min/Max File Age).
   * Size/age filters are plain predicates over the binaryFile metadata
   * columns — they prune before content bytes are ever read. `asOf`
   * anchors age computation (pass a literal for deterministic tests; the
   * reference samples the wall clock per poll). Hidden files are always
   * ignored: Hadoop's file index excludes `.`/`_` prefixed paths, which
   * matches the reference's Ignore Hidden Files=true default (the
   * non-default false is not expressible through the Hadoop listing).
   * Keep Source File=false maps to `fetchFile(..., "delete")` on the
   * listed paths — deletion is a completion, not a scan option.
   */
  def getFileFiltered(spark: SparkSession, dir: String, glob: String = "*",
                      recursive: Boolean = false,
                      minSize: Long = 0L, maxSize: Long = Long.MaxValue,
                      minAgeMs: Long = 0L, maxAgeMs: Long = Long.MaxValue,
                      asOf: Column = FlowFrame.entryTime): DataFrame = {
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", recursive.toString)
      .load(dir)
    val ageMs = unix_millis(asOf) - unix_millis(col("modificationTime"))
    base
      .filter(col("length") >= minSize && col("length") <= maxSize)
      .filter(ageMs >= minAgeMs && ageMs <= maxAgeMs)
  }

  /**
   * GenerateFlowFile (GenerateFlowFile.cpp:113): synthesize N flowfiles of
   * deterministic content — `spark.range` + column synthesis (the `rate`
   * source streams the same shape).
   */
  def generateFlowFiles(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      md5(concat(lit("gen-"), col("id").cast("string"))).as("content"))
      .withColumn("content_len", length(col("content")).cast("long"))

  /** GenerateFlowFile content modes (GenerateFlowFile.h:106-113). */
  sealed trait GenerateMode
  case object UniqueText extends GenerateMode
  case object UniqueBytes extends GenerateMode
  case object NotUniqueText extends GenerateMode
  case object NotUniqueBytes extends GenerateMode
  case object CustomText extends GenerateMode
  case object EmptyContent extends GenerateMode

  /**
   * GenerateFlowFile full mode surface (GenerateFlowFile.cpp:113,
   * getMode GenerateFlowFile.h:122): `batchSize` files per trigger of
   * `fileSize` content — unique-per-file or shared (the reference
   * regenerates non-unique data once per schedule,
   * refreshNonUniqueData), text or binary, EL-evaluated Custom Text, or
   * empty. "Random" data is a deterministic md5 keystream seeded by the
   * file id (unique) or the trigger (shared) — this engine's
   * reproducibility policy (partition-order independence at scale);
   * `trigger` stands in for the reschedule that refreshes non-unique data.
   *
   * The md5-chain expansion is a plan-time-unrolled `concat` of
   * `ceil(fileSize/32)` md5 calls — pure codegen, no UDF, no shuffle.
   */
  def generateFlowFilesMode(spark: SparkSession, batchSize: Long,
                            fileSize: Int, mode: GenerateMode,
                            customText: String = "", trigger: Long = 0L): DataFrame =
    spark.range(batchSize).withColumnRenamed("id", "file_id").select(col("file_id"),
      generatedContent(fileSize, mode, customText, trigger).as("content"))

  /** One generated FlowFile's content as a column over its `file_id`: the
    * batch sweep feeds it `spark.range`, a streaming flow the rate
    * source's `value`, so both modes generate the same bytes per id. */
  def generatedContent(fileSize: Int, mode: GenerateMode,
                       customText: String = "", trigger: Long = 0L): Column = {
    import graft.el.ElCompiler
    def keystream(seed: Column, chars: Int): Column = {
      // md5 chain: block k = md5(seed || k); unrolled at plan time
      val blocks = (0 until (chars + 31) / 32).map(k =>
        md5(concat(seed, lit(":"), lit(k))))
      substring(concat(blocks: _*), 1, chars)
    }
    val uniqueSeed = concat(lit(s"gen-$trigger-"), col("file_id"))
    val sharedSeed = lit(s"gen-$trigger")
    mode match {
      case EmptyContent   => lit("")
      // null EL results render as empty content, never null
      // (GenerateFlowFileTests.cpp "CustomText evaluates to empty string")
      case CustomText     =>
        coalesce(ElCompiler.template(customText, _ => lit(null: String)), lit(""))
      case UniqueText     => keystream(uniqueSeed, fileSize)
      case NotUniqueText  => keystream(sharedSeed, fileSize)
      // byte modes: hex keystream pairs → raw bytes
      case UniqueBytes    => unhex(keystream(uniqueSeed, fileSize * 2))
      case NotUniqueBytes => unhex(keystream(sharedSeed, fileSize * 2))
    }
  }

  /**
   * ListFile / ListingStateManager (ListFile.cpp:92, extension-framework/
   * include/utils/ListingStateManager.h:50-56): emit entries newer than the
   * stored listing state, deduplicated to the latest observation per name.
   * One window on the name key; state advance = max(mtime) of the output.
   *
   * Listing state is (watermark, keys-AT-watermark), not a bare watermark:
   * `ListingState::wasObjectListedAlready` (ListingStateManager.cpp:28-31)
   * re-lists an entry whose mtime EQUALS the watermark if its key was not
   * seen — a second file stamped with the same modification time as the
   * last listed one must still be listed (ListFileTests.cpp "If a second
   * file with the same modification time shows up later"). `lastSeenKeys`
   * is that key set; it is by construction tiny (files sharing one exact
   * millisecond), so an `isin` literal, never a join.
   */
  def listNewEntries(df: DataFrame, nameCol: Column, mtimeCol: Column,
                     tieBreak: Column, lastSeen: Column,
                     lastSeenKeys: Seq[String] = Nil): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy(nameCol).orderBy(mtimeCol.desc, tieBreak.desc))
    val isNew =
      if (lastSeenKeys.isEmpty) mtimeCol >= lastSeen
      else mtimeCol > lastSeen ||
        (mtimeCol === lastSeen && !nameCol.isin(lastSeenKeys: _*))
    df.filter(isNew)
      .withColumn("listRank", rn)
      .filter(col("listRank") === 1)
      .drop("listRank")
  }

  /** One listed file with the reference ListFile's attribute set
    * (ListFile.cpp:53-86). */
  case class ListedFileEntry(filename: String, path: String,
      absolute_path: String, file_size: Long, mtime_ms: Long,
      file_last_modified_time: String, file_permissions: String,
      file_owner: String, file_group: String)

  /**
   * ListFile's listing pass with the full filter and attribute surface
   * (ListFile.cpp:40-51,53-86; filter semantics ListedFile.h:63-100):
   * `fileFilter`/`pathFilter` are FULL-match regexes on the filename and
   * the relative parent directory (which is `.` for top-level files — the
   * PathFilter pattern may match it, ListFileTests.cpp "pattern also
   * matches ."); hidden = dot-prefixed names, ignored unless opted in;
   * age/size bounds are inclusive. Attributes: `path` = relative parent
   * with a trailing separator (`./` at top level), `absolute.path` =
   * parent with trailing separator, `file.lastModifiedTime` in the
   * reference's `%Y-%m-%dT%H:%M:%SZ` rendering, POSIX rwx permission
   * string, owner and group.
   *
   * Hadoop `FileSystem.listFiles` walk, so any supported scheme (file://,
   * s3a://, gs://, abfss://) lists identically — this is the subsumption
   * claim for the reference's S3, GCS (ListGCSBucket/FetchGCSObject,
   * extensions/gcp/processors/), Azure, SFTP and SMB list+fetch
   * families. The walk is driver-side metadata
   * — the same strategy as Spark's own InMemoryFileIndex; at extreme
   * directory fan-out, split the namespace and union per-prefix listings.
   * `nowMs` anchors age computation so filters are deterministic.
   */
  def listFileEntries(spark: SparkSession, dir: String,
                      recursive: Boolean = true,
                      fileFilter: Option[String] = None,
                      pathFilter: Option[String] = None,
                      ignoreHiddenFiles: Boolean = true,
                      minAgeMs: Option[Long] = None,
                      maxAgeMs: Option[Long] = None,
                      minSize: Option[Long] = None,
                      maxSize: Option[Long] = None,
                      nowMs: Long = System.currentTimeMillis()): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(root).toUri
    val fileRe = fileFilter.map(_.r.pattern)
    val pathRe = pathFilter.map(_.r.pattern)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
    val buf = scala.collection.mutable.ArrayBuffer.empty[ListedFileEntry]
    val it = fs.listFiles(root, recursive)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val parentUri = fs.makeQualified(st.getPath.getParent).toUri
      val rel = rootUri.relativize(parentUri).getPath.stripSuffix("/")
      val relDir = if (rel.isEmpty) "." else rel
      val age = nowMs - st.getModificationTime
      val keep = (!ignoreHiddenFiles || !name.startsWith(".")) &&
        fileRe.forall(_.matcher(name).matches) &&
        pathRe.forall(_.matcher(relDir).matches) &&
        minAgeMs.forall(age >= _) && maxAgeMs.forall(age <= _) &&
        minSize.forall(st.getLen >= _) && maxSize.forall(st.getLen <= _)
      if (keep) buf += ListedFileEntry(
        name,
        if (relDir == ".") "./" else relDir + "/",
        parentUri.getPath.stripSuffix("/") + "/",
        st.getLen,
        st.getModificationTime,
        fmt.format(java.time.Instant.ofEpochMilli(st.getModificationTime)),
        st.getPermission.toString.takeRight(9),
        st.getOwner, st.getGroup)
    }
    import spark.implicits._
    buf.toSeq.toDF()
  }

  /** FetchFile per-row fetch + completion (see fetchFile). Returns
    * struct(content BINARY, relationship STRING). Marked nondeterministic:
    * the move/delete completions are side effects, and a deterministic UDF
    * may be duplicated by CollapseProject/PushDownPredicates — the second
    * evaluation would find the file already moved and route `failure`. */
  val fetchFileUdf = udf((path: String, completion: String, moveDest: String,
                          moveConflict: String) => {
    val f = new java.io.File(if (path == null) "" else path)
    if (!f.isFile) (null: Array[Byte], "failure")
    else {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      if (completion == "move") {
        val destDir = java.nio.file.Paths.get(moveDest)
        val dest = destDir.resolve(f.getName)
        val conflict = java.nio.file.Files.exists(dest)
        val strat =
          if (moveConflict == null) "replace file" else moveConflict.toLowerCase
        // Fail conflict strategy: route to failure BEFORE touching either
        // file (FetchFileTests.cpp:152-167 — source stays, dest untouched)
        if (conflict && strat == "fail") (null: Array[Byte], "failure")
        else {
          try {
            java.nio.file.Files.createDirectories(destDir)
            if (conflict && strat.startsWith("keep"))
              f.delete()  // keep existing: drop the fetched file
            else if (conflict && strat == "rename")
              java.nio.file.Files.move(f.toPath, destDir.resolve(
                java.util.UUID.randomUUID().toString + "." + f.getName))
            else
              java.nio.file.Files.move(f.toPath, dest,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } catch {
            // a completion-strategy filesystem error still succeeds the
            // fetch (FetchFileTests.cpp:258-273 "completion strategy
            // failed" is a log line, not a failure route)
            case _: java.io.IOException => ()
          }
          (bytes, "success")
        }
      } else {
        if (completion == "delete") f.delete()
        (bytes, "success")
      }
    }
  }).asNondeterministic()

  /**
   * FetchFile as its own operator (FetchFile.cpp:118,159; completion
   * strategies FetchFile.h:34-41,96-105): the PATH IS DATA — each row
   * names the file to fetch (typically from the `absolute.path` attribute
   * ListFile stamped), unlike GetFile's plan-time directory scan. Missing
   * files route to `failure`; Completion Strategy `none`/`move`/`delete`
   * runs after a successful read. Move conflicts follow the
   * MoveConflictStrategy (FetchFile.h:40-44): Replace File (default),
   * Rename (fresh random name), Keep Existing (fetched file dropped),
   * Fail (route to failure, both files untouched); a completion-move
   * that fails on filesystem grounds still succeeds the fetch.
   *
   * Scale note: the fetch is a per-row side-effecting UDF, so the
   * move/delete completions are NOT idempotent under task retry or
   * speculative execution — run completion-bearing fetches with
   * speculation off, exactly as the reference's single-attempt onTrigger
   * assumes.
   */
  def fetchFile(df: DataFrame, pathCol: Column, completion: String = "none",
                moveDestDir: String = "",
                moveConflict: String = "Replace File"): DataFrame = {
    val fetched = fetchFileUdf(pathCol, lit(completion), lit(moveDestDir),
      lit(moveConflict))
    df.withColumn("__fetch", fetched)
      .withColumn("content", col("__fetch._1"))
      .withColumn("relationship", col("__fetch._2"))
      .drop("__fetch")
  }
}

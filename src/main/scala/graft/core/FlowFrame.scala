package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim}
import org.apache.spark.sql.catalyst.expressions.CurrentTimestamp
import org.apache.spark.sql.functions._
import graft.functions.{FlowUuid, PerExecution}

/**
 * The FlowFile data model re-expressed as a DataFrame schema.
 *
 * Reference: minifi-api/include/minifi-cpp/core/FlowFile.h:38-82 — a FlowFile
 * is an attribute map (string→string) plus opaque content and lineage/queue
 * bookkeeping. Here one FlowFile = one row of a canonical DataFrame:
 *
 *   uuid         STRING        — FlowFile.h:51 identity
 *   attributes   MAP<STRING,STRING> — FlowFile.h:40 AttributeMap
 *   content      STRING/BINARY — the content claim, materialized lazily;
 *                                metadata-only operators never touch it
 *   entryDate    TIMESTAMP     — FlowFile.h:53
 *   relationship STRING        — output edge tag (§2.3 routing); null on input
 *
 * Scale note: at 100 TB the `content` column is the dominant cost. Operators
 * that only read/write `attributes` must not force a scan of `content` —
 * Parquet column pruning handles this for free as long as plans stay
 * declarative (verified via ReadSchema in .explain).
 */
object FlowFrame {
  val Uuid = "uuid"
  val Attributes = "attributes"
  val Content = "content"
  val EntryDate = "entryDate"
  val Relationship = "relationship"

  /**
   * The time of the current execution — one flow sweep or one micro-batch,
   * like `current_timestamp()` — for `entryDate` and every age or clock
   * check in flow code. Flow code uses this and [[newUuid]], never
   * `current_timestamp()` or `uuid()`: those write the run's time and the
   * uuid seed into the generated Java source, so every sweep and every
   * micro-batch compiles new classes for the same plan
   * ([[graft.functions.PerExecution]]).
   */
  def entryTime: Column = GraftColumnShim.column(PerExecution(CurrentTimestamp()))

  /** A random FlowFile uuid, fresh per execution like `uuid()`
    * ([[graft.functions.FlowUuid]]). */
  def newUuid: Column = GraftColumnShim.column(FlowUuid())

  /** Core attributes, per SpecialFlowAttribute.h:22-33. */
  object CoreAttrs {
    val Path = "path"
    val AbsolutePath = "absolute.path"
    val Filename = "filename"
    val Uuid = "uuid"
    val Priority = "priority"
    val MimeType = "mime.type"
    val FlowId = "flow.id"
  }

  /** Fragment convention added by split processors (SplitText.h:152-156). */
  object FragmentAttrs {
    val Identifier = "fragment.identifier"
    val Index = "fragment.index"
    val Count = "fragment.count"
  }

  /**
   * Wrap an arbitrary table into the FlowFile shape: every listed column
   * becomes an attribute (stringified), `contentCol` becomes content.
   * This is the bridge from the driver's parquet tables into operator
   * pipelines — a pure projection, no shuffle.
   */
  def wrap(df: DataFrame, contentCol: String, attrCols: Seq[String],
           uuidCol: Option[String] = None): DataFrame = {
    // backtick-quote every name: attribute-style columns carry dots
    // ("kafka.topic", "fragment.identifier") that bare col() would parse
    // as struct-field access
    def c0(c: String): Column = col(s"`$c`")
    val attrPairs: Seq[Column] =
      attrCols.flatMap(c => Seq(lit(c), c0(c).cast("string")))
    val id = uuidCol.map(c => c0(c).cast("string")).getOrElse(newUuid)
    df.select(
      id.as(Uuid),
      map(attrPairs: _*).as(Attributes),
      c0(contentCol).as(Content), // native type — BINARY must not be coerced
                                   // (byte-accurate ops like HashContent hash
                                   // the raw claim, HashContent.cpp:57)
      entryTime.as(EntryDate),
      // typed null: a bare lit(null) is VOID/NullType, which poisons any
      // operator that carries this schema through a row encoder (writing a
      // non-null relationship into a NullType column throws at sink time)
      lit(null).cast("string").as(Relationship))
  }

  /** Read one attribute (null when absent — EL's unmatched-attribute value). */
  def attr(name: String): Column = element_at(col(Attributes), name)

  /**
   * Set/overwrite attributes. `map_concat` fails on duplicate keys in Spark,
   * so overwrite-safe update = filter out keys being replaced, then concat.
   * Mirrors UpdateAttribute semantics (UpdateAttribute.cpp:37 — dynamic
   * properties always overwrite).
   */
  def withAttrs(df: DataFrame, updates: Seq[(String, Column)]): DataFrame =
    df.withColumn(Attributes, attrsWith(updates))

  /** The attribute map with `updates` applied, as a column ([[withAttrs]]). */
  def attrsWith(updates: Seq[(String, Column)]): Column = {
    val keys = updates.map(_._1)
    val cleaned = map_filter(col(Attributes), (k, _) => !k.isin(keys.map(lit): _*))
    val newPairs = updates.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }
    map_concat(cleaned, map(newPairs: _*))
  }

  /**
   * Merge a dynamically-keyed map column into the attribute map (overwrite
   * on collision, like [[withAttrs]]) — for operators whose attribute
   * NAMES are data-dependent (ExtractText repeating captures produce
   * `name.<k>` up to a per-row match count, ExtractText.cpp:121).
   */
  def withAttrsMap(df: DataFrame, updates: Column): DataFrame =
    df.withColumn(Attributes, map_concat(
      map_filter(col(Attributes), (k, _) => !map_contains_key(updates, k)),
      updates))

  /**
   * Split one routed frame into per-relationship frames
   * (ProcessSession::routeFlowFile, ProcessSession.cpp:804).
   *
   * Each returned frame is a separate action: WITHOUT persistence Spark
   * re-runs the upstream plan once per relationship (N relationships =
   * N scans — there is no automatic scan sharing across actions). So by
   * default the routed frame is persisted (memory-and-disk) and the N
   * filters share one materialization; call `unpersist()` on the input
   * when done, or pass `cache = false` if a single relationship will be
   * consumed. For writing all edges of a stream in ONE pass, prefer
   * `FlowRuntime.relationshipSink` — a file sink partitioned by
   * relationship is the scan-once shape at 100 TB, and it commits each
   * micro-batch exactly once.
   */
  def routed(df: DataFrame, relationships: Seq[String],
             cache: Boolean = true): Map[String, DataFrame] = {
    val base = if (cache) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
               else df
    relationships.map(r => r -> base.filter(col(Relationship) === r)).toMap
  }
}

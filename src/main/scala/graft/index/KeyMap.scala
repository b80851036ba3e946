package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** External-key → docId map sidecar beside a [[BlockIndex]], enabling
  * REPLACE-BY-KEY (Lucene's `updateDocument(term, doc)` semantics) on an
  * engine whose core structures are docId-keyed and append-only: an
  * upsert tombstones the key's old docId and appends the new version at
  * a fresh id ([[graft.streaming.StreamOps.indexUpsertBatch]]).
  *
  * The map itself is append-only `kseg-*` segments of (key, docId) rows
  * under the house commit discipline (atomic meta rewrite, idempotent by
  * marker name). Liveness is DERIVED, not stored: a row is live iff the
  * block index currently answers for its docId
  * ([[BlockIndex.liveDocIds]] — committed AND not tombstoned). See
  * [[liveRows]] for why existence, not tombstones, is the correct test,
  * and how it also closes the in-flight-batch replay window.
  *
  * The reference has no update story at all (document.go's Save is
  * append-only); this is the capability a recrawl-at-scale pipeline
  * needs — re-fetched pages replace their previous versions while the
  * index stays continuously queryable.
  */
object KeyMap {

  val MetaName = "_keymap.json"

  /** A `kseg-*` segment's declared schema (see [[TableIO]]). */
  private[graft] val SegTable = TableIO.Table("keymap",
    new org.apache.spark.sql.types.StructType().add("key", "string").add("docId", "long"))

  final case class Meta(segs: Seq[String])

  def exists(dir: String): Boolean = MetaIO.exists(s"$dir/$MetaName")

  def readMeta(dir: String): Meta =
    if (!exists(dir)) Meta(Nil)
    else {
      val s = MetaIO.readString(s"$dir/$MetaName")
      val segs = """"segs":\[([^\]]*)\]""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
      Meta(segs)
    }

  private def writeMeta(dir: String, m: Meta): Unit = {
    val arr = m.segs.map("\"" + _ + "\"").mkString("[", ",", "]")
    MetaIO.writeAtomic(s"$dir/$MetaName",
      s"""{"nonce":${System.nanoTime()},"segs":$arr}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Commit one (key, docId) segment under `marker` — idempotent by
    * name: a replayed micro-batch that already committed is a no-op.
    */
  def commit(rows: DataFrame, dir: String, marker: String): Unit = {
    val gen = s"kseg-$marker"
    val meta = readMeta(dir)
    if (meta.segs.contains(gen)) return
    TableIO.conform(rows, SegTable)
      .write.mode("overwrite").parquet(s"$dir/$gen")
    writeMeta(dir, Meta(meta.segs :+ gen))
  }

  /** Every committed (key, docId) row, including retired versions. */
  def rows(spark: SparkSession, dir: String): DataFrame =
    readMeta(dir).segs
      .map(seg => TableIO.read(spark, SegTable, s"$dir/$seg", Seq(s"$dir/$seg")))
      .reduceOption(_ union _)
      .getOrElse(TableIO.empty(spark, SegTable))

  /** Live (key, docId) rows: committed map rows whose docId the block
    * index currently ANSWERS FOR ([[BlockIndex.liveDocIds]]: present in
    * a committed segment and not tombstoned). Existence — not mere
    * not-tombstoned-ness — is the correct liveness test: compaction
    * folds deleted docs out physically and CLEARS the tombstones, which
    * would otherwise resurrect every retired row the keymap still
    * carries. Existence also closes the replay window for free: an
    * in-flight batch's kseg rows name docIds no committed segment holds
    * yet, so they stay invisible until the batch's block commit lands
    * (acting on them earlier would tombstone the batch's own versions).
    */
  def liveRows(spark: SparkSession, dir: String, blockDir: String): DataFrame =
    rows(spark, dir)
      .join(BlockIndex.liveDocIds(spark, blockDir), Seq("docId"), "left_semi")
      .select(col("key"), col("docId")) // the using-join reorders columns

  /** Live docIds for the given keys — the upsert's "what do I retire"
    * lookup and the delete-by-key resolution. `keys`: one `key` column.
    * Join order is the scale shape: the map rows are key-filtered FIRST
    * (small — the batch's keys × their version count), then the
    * existence check broadcasts that id set against the doc-length
    * metadata scan, so the big side is one docId-column metadata pass
    * and nothing wide ever shuffles.
    */
  def liveIdsForKeys(spark: SparkSession, dir: String, blockDir: String,
      keys: DataFrame): DataFrame = {
    val keyIds = rows(spark, dir)
      .join(broadcast(
        keys.select(col("key").cast("string").as("key")).distinct()),
        Seq("key"), "left_semi")
      .select(col("docId")).distinct()
    BlockIndex.liveDocIds(spark, blockDir)
      .join(broadcast(keyIds), Seq("docId"), "left_semi")
      .select(col("docId"))
  }

  /** Fold every segment into one, dropping retired rows (tombstoned in
    * the block index). Runs AFTER the block index's own compact so the
    * tombstones consulted are the full set; idempotent; readers see the
    * fold atomically via the meta rewrite. Rows above the committed
    * block maxDocId (in-flight batch) are preserved verbatim — folding
    * them away would lose the batch's map entries when its block commit
    * lands.
    */
  def compact(spark: SparkSession, dir: String, blockDir: String): Unit = {
    val meta = readMeta(dir)
    if (meta.segs.size <= 1) return
    val ceiling = BlockIndex.committedMaxDocId(spark, blockDir)
    val live = liveRows(spark, dir, blockDir)
      .union(rows(spark, dir).where(col("docId") > ceiling))
    // deterministic name (the house compact rule): a crash-then-retry
    // rewrites the same generation instead of leaking an orphan
    val gen = s"kseg-compact-$ceiling-${meta.segs.size}"
    TableIO.conform(live, SegTable).write.mode("overwrite").parquet(s"$dir/$gen")
    writeMeta(dir, Meta(Seq(gen)))
    // sweep everything the new meta doesn't reference — the folded
    // segments and any orphan a killed earlier compact left behind
    MetaIO.list(dir)
      .filter(n => n.startsWith("kseg-") && n != gen)
      .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
  }
}

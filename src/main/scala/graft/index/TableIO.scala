package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Reads of the engine's OWN parquet tables (blocks, doc lengths, vocab,
  * tombstones, keymap segments) with their declared schemas.
  *
  * An inferred read (`spark.read.parquet(p)`) launches one footer-merging
  * Spark job per call before any query work — on a segmented, tombstoned
  * index that was most of a `bm25TopK` call's jobs. These tables are
  * written by the engine itself, so their schema is known: each writer
  * conforms its output to the declared schema ([[conform]]) and every
  * read passes it to the reader, which then plans without a job.
  *
  * A declared read would silently return NULLs for a column the files
  * lack (null block bounds could prune true top-k docs), so soundness is
  * kept on the driver instead: before the first read of a (segment,
  * table), ONE parquet footer is checked against the declared schema
  * and a missing column or a type mismatch fails loudly, naming the
  * table and the column. The check is memoized per immutable segment
  * directory (`seg-*`, `tomb-*`, `kseg-*`); a root-held base segment is
  * keyed by the nonce of its `_stats.json`, which every rebuild rewrites.
  */
private[graft] object TableIO {

  /** A table: its name (for error messages), the columns its files hold,
    * and the partition columns its directory layout adds on read.
    */
  final case class Table(name: String, schema: StructType,
      partitions: StructType = new StructType())

  private val ImmutablePrefixes = Seq("seg-", "tomb-", "kseg-")
  private val checked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Long)]()
  private val CheckedCap = 100000

  /** `df` projected onto `t`'s columns, each cast to its declared type —
    * the writer side of the contract (a no-op projection when the types
    * already match; extra columns such as a partition column stay).
    */
  def conform(df: DataFrame, t: Table, keep: String*): DataFrame =
    df.select(t.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
      keep.map(col): _*)

  /** An empty relation with `t`'s file columns. */
  def empty(spark: SparkSession, t: Table): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), t.schema)

  /** Read `paths` (directories of table `t` under segment directory
    * `seg`) with the declared schema, after the footer check.
    */
  def read(spark: SparkSession, t: Table, seg: String, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    check(spark, t, seg, paths)
    val r = spark.read.schema(StructType(t.schema.fields ++ t.partitions.fields))
    basePath.fold(r)(r.option("basePath", _)).parquet(paths: _*)
  }

  /** Check one footer of `t` under `seg` against the declared schema,
    * once per memo key. A table with no data file holds no rows to read.
    */
  private def check(spark: SparkSession, t: Table, seg: String, paths: Seq[String]): Unit = {
    val key = memoKey(seg, t.name)
    if (!key.exists(checked.contains)) {
      paths.iterator.flatMap(dataFile).nextOption().foreach { f =>
        val found = footerSchema(spark, f)
        t.schema.fields.foreach { d =>
          found.fields.find(_.name == d.name) match {
            case None => throw new IllegalStateException(
              s"index table '${t.name}' in $seg: column '${d.name}' is missing " +
                s"(declared ${d.dataType.simpleString}; footer of $f)")
            case Some(x) if x.dataType != d.dataType => throw new IllegalStateException(
              s"index table '${t.name}' in $seg: column '${d.name}' is " +
                s"${x.dataType.simpleString}, declared ${d.dataType.simpleString} " +
                s"(footer of $f)")
            case _ =>
          }
        }
      }
      key.foreach { k =>
        if (checked.size > CheckedCap) checked.clear()
        checked.add(k)
      }
    }
  }

  private def memoKey(seg: String, table: String): Option[(String, String, Long)] = {
    val leaf = seg.stripSuffix("/").split('/').last
    if (ImmutablePrefixes.exists(leaf.startsWith)) Some((seg, table, 0L))
    else {
      val stats = s"$seg/${BlockIndex.StatsName}"
      if (!MetaIO.exists(stats)) None
      else """"nonce":(\d+)""".r.findFirstMatchIn(MetaIO.readString(stats))
        .map(m => (seg, table, m.group(1).toLong))
    }
  }

  /** The first (by name) parquet data file directly under `dir`. */
  private def dataFile(dir: String): Option[String] =
    MetaIO.list(dir).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith("."))
      .sorted.headOption.map(n => s"$dir/$n")

  /** The Spark schema of one parquet file, from its footer alone. */
  private def footerSchema(spark: SparkSession, file: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter().convert(reader.getFileMetaData.getSchema)
    finally reader.close()
  }
}

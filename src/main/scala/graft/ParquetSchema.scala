package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** Parquet schemas learned on the driver. `spark.read.parquet(path)`
  * infers its schema with a one-task Spark job that reads one footer; every
  * parquet path the engine owns (catalog tables, rolling-store elements,
  * books, tier markers, ledgers, signature stores) is opened here instead,
  * with `spark.read.schema(…)`, so opening one starts no job.
  *
  * The footer read is the one Spark's inference makes at its default
  * `mergeSchema = false`: a summary file (`_common_metadata`, then
  * `_metadata`) if there is one, otherwise the first data file by path,
  * with hidden `_`/`.` names excluded at every level as the file index
  * excludes them. */
object ParquetSchema {
  private val summaries = Seq("_common_metadata", "_metadata")

  /** The qualified `path` and every file under it (a file, or a directory
    * tree) that the file index would list, sorted by path. */
  private def listing(spark: SparkSession, path: String): (Path, Seq[FileStatus]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => FooterBridge.hidden(c.getPath.getName))
        .flatMap(walk)
    val root = fs.getFileStatus(p)
    (root.getPath, walk(root).sortBy(_.getPath.toString))
  }

  private def isSummary(f: FileStatus): Boolean = summaries.contains(f.getPath.getName)

  /** The file whose footer inference reads. */
  private def schemaFile(path: String, all: Seq[FileStatus]): FileStatus =
    summaries.iterator.flatMap(n => all.find(_.getPath.getName == n))
      .nextOption()
      .orElse(all.find(!isSummary(_)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path holds no parquet file to read a schema from"))

  /** The data columns of `path`: for a path without `k=v` partition
    * directories, exactly `spark.read.parquet(path).schema`. */
  def of(spark: SparkSession, path: String): StructType =
    FooterBridge.schema(spark, schemaFile(path, listing(spark, path)._2))

  /** `spark.read.parquet(path)` without the inference job: the data
    * columns of [[of]], plus every `k=v` partition column that
    * `partitionTypes` names, typed from there (the raw directory value is
    * cast, so the string route value "01" stays "01" and is never inferred
    * as the int 1). Partition columns it does not name keep Spark's
    * inference. */
  def read(spark: SparkSession, path: String,
           partitionTypes: StructType = new StructType()): DataFrame = {
    val (root, all) = listing(spark, path)
    val file = schemaFile(path, all)
    val typed = partitionCols(root, file.getPath)
      .flatMap(c => partitionTypes.find(_.name == c))
    spark.read.schema(StructType(FooterBridge.schema(spark, file).fields ++ typed))
      .parquet(path)
  }

  /** Names of the `k=v` directories between `root` and `file`, outermost
    * first (none when `root` is the file itself). */
  private def partitionCols(root: Path, file: Path): Seq[String] =
    Iterator.iterate(file)(_.getParent)
      .takeWhile(d => d != null && d != root).drop(1)
      .map(_.getName).filter(_.contains("="))
      .map(n => ExternalCatalogUtils.unescapePathName(n.takeWhile(_ != '=')))
      .toSeq.reverse

  /** Every file under `path` whose footer does not open, with its cause; a
    * path with no parquet file at all is one failure of its own. Reads
    * every footer on the driver, so a corrupt file that inference would
    * never touch (not the first by path) is still found. */
  def unreadable(spark: SparkSession, path: String): Seq[(String, Throwable)] = {
    val all = listing(spark, path)._2
    if (!all.exists(!isSummary(_)))
      Seq(path -> new IllegalArgumentException(s"$path holds no parquet data file"))
    else all.flatMap { f =>
      try { FooterBridge.schema(spark, f); None }
      catch {
        case scala.util.control.NonFatal(e) => Some(f.getPath.getName -> e)
      }
    }
  }
}

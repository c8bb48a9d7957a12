package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** One workload: its inputs, built once per set-up, and its pass. */
abstract class Workload(val name: String) {
  /** Generates the seeded inputs under `dir` and builds whatever the
    * passes read (indexes, registered standards).
    */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit

  /** Untimed work before each pass, e.g. restoring index tables. */
  def beforePass(spark: SparkSession): Unit = ()

  def pass(p: Pass): Unit

  /** (table, rows, bytes on disk) of the generated inputs. */
  val inputs: scala.collection.mutable.ArrayBuffer[(String, Long, Long)] =
    scala.collection.mutable.ArrayBuffer.empty

  /** Writes generated rows as a parquet table the library's `Tables`
    * loader reads (`<dir>/<name>.parquet`), one file per core so scans
    * are split the way a multi-file input is.
    */
  protected def write[T <: Product : TypeTag](spark: SparkSession, dir: String,
                                              table: String, rows: Seq[T]): Unit =
    writeFrame(dir, table, spark.createDataFrame(rows), rows.size)

  protected def writeFrame(dir: String, table: String, df: DataFrame, n: Long): Unit = {
    val path = s"$dir/$table.parquet"
    df.write.mode("overwrite").parquet(path)
    inputs += ((table, n, Files.bytes(path)))
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "harmonize" => new HarmonizeWorkload
    case "curate" => new CurateWorkload
    case "ingest" => new IngestWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (harmonize, curate, ingest)")
  }
}

object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) 0L
    else JFiles.walk(p).iterator.asScala.filter(JFiles.isRegularFile(_))
      .map(JFiles.size).sum
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (JFiles.exists(p))
      JFiles.walk(p).iterator.asScala.toSeq.reverse.foreach(JFiles.delete)
  }

  /** Replaces `to` with a copy of the tree at `from`. */
  def copyTree(from: String, to: String): Unit = {
    delete(to)
    val src: Path = Paths.get(from)
    val dst: Path = Paths.get(to)
    JFiles.walk(src).iterator.asScala.toSeq.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (JFiles.isDirectory(s)) JFiles.createDirectories(d) else JFiles.copy(s, d)
    }
  }
}

package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's corpus tables: `documents` as parquet, in the layout
  * of the repository's test data (`TESTDATA.md`, one file) or of
  * `graft.ScaleUp` (one file a replica). */
object Data {

  /** The sf0.1 test data's `documents` table (5,000 docs), copied into
    * the benchmark so that a run reads nothing outside its checkout. */
  def source: File = new File(sys.props("perfbench.home"), "data/documents.parquet")

  /** Every row of a `documents` table, in doc id order. */
  def readDocs(spark: SparkSession, path: String): Vector[Doc] =
    spark.read.parquet(path).select("doc_id", "text", "lang", "source")
      .collect().toVector
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.id)

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `docs` as a DataFrame of `parts` partitions, each a contiguous run
    * of `docs`. */
  def docsFrame(spark: SparkSession, docs: Seq[Doc], parts: Int = 4): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), parts),
      DocSchema)

  /** Replace `dir/documents.parquet` with `docs` in `files` files (and so
    * `files` input splits): written beside it, then swapped in by rename,
    * so a reader never sees a half-written table. */
  def writeDocs(spark: SparkSession, dir: String, docs: Seq[Doc], files: Int): Unit = {
    val target = new File(dir, "documents.parquet")
    val staged = new File(dir, "documents.parquet.next")
    docsFrame(spark, docs, files).write.mode("overwrite").parquet(staged.getPath)
    if (target.exists) deleteTree(target)
    Files.move(staged.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else {
      to.getParentFile.mkdirs()
      Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

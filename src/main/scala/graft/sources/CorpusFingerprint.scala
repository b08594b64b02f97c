package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Identity of a table's files on disk: SHA-256 over the listing under one
  * path (full path, length and modification time of every file, sorted by
  * path). A Hadoop FS listing on the driver, never a Spark job.
  *
  * Rewriting the table in place (new part files, a changed length or a
  * new mtime) moves the fingerprint, so a cache keyed on it cannot serve a
  * regenerated corpus. Take it BEFORE reading the files a cached value is
  * derived from: a write that lands between the listing and the read then
  * leaves the cache tagged with the older listing, and the next lookup
  * rebuilds — never the reverse. A missing path throws. */
object CorpusFingerprint {
  def apply(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(root, true)
    val listing = Vector.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      listing += s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
    }
    val md = MessageDigest.getInstance("SHA-256")
    listing.result().sorted.foreach(l => md.update(l.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{DocumentSource, Tables}

class SourceSpec extends SparkSuite {

  lazy val t = Tables(spark, sfDir)

  test("jsonl and csv corpus exports load identically to parquet") {
    val dir = Files.createTempDirectory("graft-src").toString
    t.documents.select(col("doc_id").as("_id"), col("text").as("description"))
      .write.json(s"$dir/jsonl")
    t.documents.select("doc_id", "text")
      .write.option("header", "true").option("escape", "\"").csv(s"$dir/csv")
    // CSV conflates empty string and null on round-trip; normalize both
    // sides (the JSONL path needs no normalization)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.na.fill("", Seq("text")).orderBy("doc_id").collect().toSeq
    val want = rows(t.documents.select("doc_id", "text"))
    assert(rows(DocumentSource.jsonl(spark, s"$dir/jsonl")) == want)
    assert(rows(DocumentSource.csv(spark, s"$dir/csv")) == want)
    // operators run unchanged on the exported corpus
    val a = operators.Pipeline
      .gopherStats(DocumentSource.jsonl(spark, s"$dir/jsonl")).collect().toSeq
    val b = operators.Pipeline.gopherStats(t.documents).collect().toSeq
    assert(a == b)
  }

  test("csvLines splittable variant restores escaped newlines") {
    val dir = Files.createTempDirectory("graft-src-lines").toString
    // a newline-free export: real newlines dumped as the 2-char \n escape
    t.documents.select(col("doc_id"),
        regexp_replace(col("text"), "\n", "\\\\n").as("text"))
      .write.option("header", "true").option("escape", "\"").csv(s"$dir/lines")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.na.fill("", Seq("text")).orderBy("doc_id").collect().toSeq
    assert(rows(DocumentSource.csvLines(spark, s"$dir/lines")) ==
      rows(t.documents.select("doc_id", "text")))
  }

  test("malformed jsonl lines are dropped, not fatal (PERMISSIVE)") {
    val dir = Files.createTempDirectory("graft-src-bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.json"),
      "{\"_id\": 1, \"description\": \"ok doc\"}\n" +
        "not json at all\n" +
        "{\"_id\": 2, \"description\": \"also ok\"}\n")
    val got = DocumentSource.jsonl(spark, s"$dir/bad.json")
    assert(got.count() == 2)
    assert(got.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("floor decision follows a corpus regenerated at the same path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-src-floor").toString
    def write(docs: Seq[(Long, String)]): Int = {
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir, spread = true).documents.rdd.getNumPartitions
    }
    // one small file: under the 64 KB floor target, no repartition
    assert(write((0L until 10L).map(i => (i, s"doc $i"))) == 1)
    // the same path regenerated as one ~400 KB file of incompressible
    // text: past the target, so the floor now fans it out to the cores
    val rnd = new scala.util.Random(7)
    val big = (0L until 4000L).map(i => (i, Seq.fill(100)(rnd.nextInt(16).toHexString).mkString))
    assert(write(big) == spark.sparkContext.defaultParallelism)
  }
}

package graft

import java.io.File

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a directory table rewritten inside the mtime resolution serves its new schema") {
    val dir = tmpDir("tables-memo")
    val path = new File(s"$dir/docs.parquet")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(path.toString)
    val tables = Tables(spark, dir)
    assert(tables.t("docs").columns.toSeq == Seq("doc_id", "text"))
    val (dirMtime, partMtime) = (path.lastModified, path.listFiles.map(_.lastModified).max)
    Seq((1L, "a", 3)).toDF("doc_id", "text", "n").write.mode("overwrite").parquet(path.toString)
    // same second as the first write: every mtime is where it was
    path.listFiles.foreach(_.setLastModified(partMtime))
    path.setLastModified(dirMtime)
    assert(tables.t("docs").columns.toSeq == Seq("doc_id", "text", "n"))
  }
}

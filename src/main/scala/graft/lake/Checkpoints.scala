package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets

/** JSON checkpoint documents, one per scope, kept doc-shape-compatible with
  * the reference (/root/reference/src/engine/database.py:181-214):
  * `{"scope_key","last_entry_id","total_scraped","checkpoint_time"}`.
  *
  * Driver-side (checkpoints are tiny); written through the Hadoop FS API so
  * the same code works against HDFS/S3 on a cluster. Resume uses an
  * ordered-ID filter (ids > last) rather than the reference's fragile
  * string-compare trim (engine.py:164-167) — see SURVEY.md §7 risks.
  */
final case class Checkpoint(
    scopeKey: String,
    lastEntryId: String,
    totalScraped: Long,
    checkpointTime: String
)

object Checkpoints {

  private def path(root: String, scope: String) = new Path(s"$root/_checkpoints/$scope.json")

  /** Atomic save: write to a tmp path, then rename into place. A crash
    * mid-write leaves at worst a stale previous checkpoint (re-scrape of one
    * batch), never a truncated doc that would poison every later resume.
    */
  def save(spark: SparkSession, root: String, cp: Checkpoint): Unit = {
    val p = path(root, cp.scopeKey)
    val tmp = new Path(p.toString + ".__tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json =
      s"""{"scope_key": ${q(cp.scopeKey)}, "last_entry_id": ${q(cp.lastEntryId)}, "total_scraped": ${cp.totalScraped}, "checkpoint_time": ${q(cp.checkpointTime)}}"""
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // Hadoop rename-over-existing returns false on most filesystems, so
    // the old doc moves ASIDE, not deleted: a crash between a delete and
    // the rename would leave NO checkpoint at all, and the cost of a
    // missing checkpoint is a full-scope re-SCRAPE (politeness-bounded wall
    // time against the live site), not the documented one-batch loss. With
    // the aside, [[load]] falls back to the previous doc — at worst a stale
    // cursor, exactly the scaladoc's contract.
    Swap.install(fs, tmp, p, new Path(p.toString + ".__prev"), "checkpoint save")
  }

  /** Load, degrading to None on a malformed/truncated doc — matching the
    * reference's JSONDecodeError/KeyError fallback (database.py:203-214):
    * a bad checkpoint means "start over", never a permanently wedged scope.
    */
  def load(spark: SparkSession, root: String, scope: String): Option[Checkpoint] = {
    val p0 = path(root, scope)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fall back to the moved-aside previous doc when a crashed save left
    // no live checkpoint — a stale cursor re-scrapes one batch (dedup-safe)
    // where a missing one re-scrapes the whole scope
    Swap.liveOrAside(fs, p0, new Path(p0.toString + ".__prev")).flatMap { p =>
      val in = fs.open(p)
      val raw =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      try
        Some(
          Checkpoint(
            scopeKey = field(raw, "scope_key"),
            lastEntryId = field(raw, "last_entry_id"),
            totalScraped = field(raw, "total_scraped").toLong,
            checkpointTime = field(raw, "checkpoint_time")
          )
        )
      catch {
        case _: IllegalArgumentException | _: NumberFormatException => None
      }
    }
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Single left-to-right pass undoing everything [[q]] emits — the
    * sequential replace() it replaces corrupted `\\"` sequences and never
    * decoded the `\uXXXX` control-char escapes, so save → load was not an
    * identity for strings containing quotes-after-backslashes or chars
    * below 0x20.
    */
  private def unq(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e =>
            sb.append(e) // \" and \\ carry the escaped char literally
            i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Minimal field extractor for the fixed checkpoint doc shape. */
  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\"\\s*:\\s*(\"((\\\\.|[^\"])*)\"|[0-9]+)").r
    m.findFirstMatchIn(json) match {
      case Some(g) =>
        val v = g.group(1)
        if (v.startsWith("\"")) unq(v.substring(1, v.length - 1))
        else v
      case None => throw new IllegalArgumentException(s"checkpoint missing $key: $json")
    }
  }
}

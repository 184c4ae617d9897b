package graft

import graft.lake.Swap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Local filesystem that refuses (returns false for) every rename whose
  * source name ends with one of the `refuse.suffixes` conf values.
  */
class RefusingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuse:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (getConf.getTrimmedStrings("refuse.suffixes").exists(src.getName.endsWith)) false
    else super.rename(src, dst)
}

class SwapSpec extends AnyFunSuite {

  private def setUp(refused: String*): (FileSystem, Path, Path, Path) = {
    val conf = new Configuration()
    conf.set("fs.refuse.impl", classOf[RefusingRenameFs].getName)
    conf.set("fs.refuse.impl.disable.cache", "true")
    conf.set("refuse.suffixes", refused.mkString(","))
    val dir = "refuse:" + java.nio.file.Files.createTempDirectory("swap")
    val fs = new Path(dir).getFileSystem(conf)
    val Seq(tmp, live, aside) = Seq("t.__tmp", "t", "t.__old").map(n => new Path(s"$dir/$n"))
    write(fs, live, "old")
    write(fs, tmp, "new")
    (fs, tmp, live, aside)
  }

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("install: a refused promote rolls the live copy back and leaves no aside") {
    val (fs, tmp, live, aside) = setUp(".__tmp")
    val e = intercept[java.io.IOException](Swap.install(fs, tmp, live, aside, "test"))
    assert(e.getMessage.contains("(rolled back)"), e.getMessage)
    assert(read(fs, live) == "old")
    assert(!fs.exists(aside))
  }

  test("install: a refused rollback names the aside, which keeps the only copy") {
    val (fs, tmp, live, aside) = setUp(".__tmp", ".__old")
    val e = intercept[java.io.IOException](Swap.install(fs, tmp, live, aside, "test"))
    assert(e.getMessage.contains("ROLLBACK FAILED") && e.getMessage.contains(aside.toString), e.getMessage)
    assert(!fs.exists(live))
    assert(read(fs, aside) == "old")
  }
}

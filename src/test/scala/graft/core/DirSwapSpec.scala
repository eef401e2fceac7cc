package graft.core

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The local file system under the `hooked:` scheme: it runs
  * `HookedFs.afterRename(src)` after every rename, so a spec can run a
  * reader between two renames of a commit.
  */
class HookedFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("hooked:///")
  override def rename(src: HPath, dst: HPath): Boolean = {
    val ok = super.rename(src, dst)
    if (ok) HookedFs.afterRename(src.toUri.getPath)
    ok
  }
}

object HookedFs {
  @volatile var afterRename: String => Unit = _ => ()
}

/** The crash-safe directory swap: a commit at every depth in use leaves
  * only the new leaves, `heal` turns every crash state back into the
  * last committed tree, and a reader's `restore` that overlaps a commit
  * never drops the commit's change silently.
  */
class DirSwapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def put(dir: Path, text: String): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-0"), text.getBytes("UTF-8"))
  }

  /** Every regular file under `root`: relative path -> content. */
  private def tree(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8")).toMap

  private def siblings(live: Path): Seq[String] =
    live.getParent.toFile.list().toSeq.filter(_.startsWith(".graft"))

  private def file(rel: String): String = if (rel.isEmpty) "part-0" else s"$rel/part-0"

  test("commit at depth 0, 1 and 2 swaps the named leaves and leaves no siblings") {
    val root = Files.createTempDirectory("swap")
    Seq(
      (0, Seq(""), None),
      (1, Seq("cell_id=1", "cell_id=2"), Some("cell_id=9")),
      (2, Seq("date=d1/hour=1", "date=d2/hour=3"), Some("date=d1/hour=9"))).foreach {
      case (depth, rels, untouched) =>
        val live = root.resolve(s"depth$depth")
        (rels ++ untouched).foreach(r => put(live.resolve(r), s"old $r"))
        val staging = Paths.get(DirSwap.staging(live.toString))
        rels.foreach(r => put(staging.resolve(r), s"new $r"))
        assert(DirSwap.leaves(spark, staging.toString, depth).sorted === rels.sorted)
        DirSwap.commit(spark, live.toString, rels)
        val want = rels.map(r => file(r) -> s"new $r") ++ untouched.map(r => file(r) -> s"old $r")
        assert(tree(live) === want.toMap, s"depth $depth")
        assert(siblings(live).isEmpty, s"depth $depth left ${siblings(live)}")
    }
  }

  test("a rel with no staged leaf removes the live leaf") {
    val live = Files.createTempDirectory("swapdel").resolve("index")
    put(live.resolve("cell_id=1"), "a")
    put(live.resolve("cell_id=2"), "b")
    put(Paths.get(DirSwap.staging(live.toString)).resolve("cell_id=1"), "a2")
    DirSwap.commit(spark, live.toString, Seq("cell_id=1", "cell_id=2"))
    assert(tree(live) === Map("cell_id=1/part-0" -> "a2"))
    assert(siblings(live).isEmpty)
  }

  test("heal: a parked leaf whose live leaf is missing is promoted; stale staging is removed") {
    val live = Files.createTempDirectory("swapheal").resolve("landing")
    put(live.resolve("date=d1/hour=1"), "kept")
    put(Paths.get(DirSwap.parked(live.toString, "date=d1/hour=2")), "parked")
    put(Paths.get(DirSwap.parked(live.toString, "date=d2/hour=0")), "parked too")
    put(Paths.get(DirSwap.staging(live.toString)).resolve("date=d1/hour=2"), "half-written")
    DirSwap.heal(spark, live.toString, 2)
    assert(tree(live) === Map(
      "date=d1/hour=1/part-0" -> "kept",
      "date=d1/hour=2/part-0" -> "parked",
      "date=d2/hour=0/part-0" -> "parked too"))
    assert(siblings(live).isEmpty)
  }

  test("heal: a parked leaf whose live leaf exists is dropped") {
    val root = Files.createTempDirectory("swapdrop")
    val live = root.resolve("index")
    put(live.resolve("cell_id=1"), "new")
    put(Paths.get(DirSwap.parked(live.toString, "cell_id=1")), "old")
    DirSwap.heal(spark, live.toString, 1)
    assert(tree(live) === Map("cell_id=1/part-0" -> "new"))
    assert(siblings(live).isEmpty)
    // the whole directory at depth 0: parked with no live copy comes back
    val store = root.resolve("counts")
    put(Paths.get(DirSwap.parked(store.toString)), "history")
    DirSwap.heal(spark, store.toString, 0)
    assert(tree(store) === Map("part-0" -> "history"))
    assert(siblings(store).isEmpty)
  }

  test("restore puts a parked leaf back and deletes nothing") {
    val live = Files.createTempDirectory("swaprestore").resolve("index")
    put(live.resolve("cell_id=1"), "new")
    put(Paths.get(DirSwap.parked(live.toString, "cell_id=1")), "old")
    put(Paths.get(DirSwap.parked(live.toString, "cell_id=2")), "parked")
    put(Paths.get(DirSwap.staging(live.toString)).resolve("cell_id=3"), "staged")
    DirSwap.restore(spark, live.toString, 1)
    assert(tree(live) === Map("cell_id=1/part-0" -> "new", "cell_id=2/part-0" -> "parked"))
    assert(tree(Paths.get(DirSwap.parked(live.toString))) === Map("cell_id=1/part-0" -> "old"))
    assert(tree(Paths.get(DirSwap.staging(live.toString))) === Map("cell_id=3/part-0" -> "staged"))
  }

  test("a restore between the staging write and the commit keeps the change") {
    val live = Files.createTempDirectory("swapstaged").resolve("landing")
    put(live.resolve("date=d1/hour=1"), "old")
    put(Paths.get(DirSwap.staging(live.toString)).resolve("date=d1/hour=1"), "new")
    DirSwap.restore(spark, live.toString, 2)
    DirSwap.commit(spark, live.toString, Seq("date=d1/hour=1"))
    assert(tree(live) === Map("date=d1/hour=1/part-0" -> "new"))
    assert(siblings(live).isEmpty)
  }

  test("commit throws when the staging is gone, and the live leaves stay") {
    val live = Files.createTempDirectory("swapnostage").resolve("index")
    put(live.resolve("cell_id=1"), "a")
    put(live.resolve("cell_id=2"), "b")
    intercept[IOException](DirSwap.commit(spark, live.toString, Seq("cell_id=1", "cell_id=2")))
    assert(tree(live) === Map("cell_id=1/part-0" -> "a", "cell_id=2/part-0" -> "b"))
    assert(siblings(live).isEmpty)
  }

  /** Runs `commit` on `live` through the `hooked:` file system, with a
    * reader's `restore` after each rename that moves the live leaf `rel`.
    */
  private def commitWithRestoreAfter(live: Path, rel: String, depth: Int, rels: Seq[String]): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.hooked.impl", classOf[HookedFs].getName)
    val leaf = live.resolve(rel).toString
    HookedFs.afterRename = src => if (src == leaf) DirSwap.restore(spark, live.toString, depth)
    try DirSwap.commit(spark, s"hooked://$live", rels)
    finally HookedFs.afterRename = _ => ()
  }

  test("a restore between a leaf's park and its promote makes commit throw; the leaf keeps its old version") {
    val live = Files.createTempDirectory("swaprace").resolve("counts")
    put(live, "old")
    put(Paths.get(DirSwap.staging(live.toString)), "new")
    intercept[IOException](commitWithRestoreAfter(live, "", 0, Seq("")))
    assert(tree(live) === Map("part-0" -> "old"))
    DirSwap.heal(spark, live.toString, 0)
    assert(tree(live) === Map("part-0" -> "old"))
    assert(siblings(live).isEmpty)
  }

  test("a restore during a commit cannot bring back a leaf the commit removes") {
    val live = Files.createTempDirectory("swapracedel").resolve("index")
    put(live.resolve("cell_id=1"), "a")
    put(live.resolve("cell_id=2"), "b")
    put(Paths.get(DirSwap.staging(live.toString)).resolve("cell_id=1"), "a2")
    commitWithRestoreAfter(live, "cell_id=2", 1, Seq("cell_id=2", "cell_id=1"))
    assert(tree(live) === Map("cell_id=1/part-0" -> "a2"))
    assert(siblings(live).isEmpty)
  }
}

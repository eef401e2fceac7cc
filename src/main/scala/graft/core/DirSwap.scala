package graft.core

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one crash-safe directory swap: every store that is
  * rewritten in place (the landing table, a persisted IVF index, a
  * gram-count store) commits through here.
  *
  * A writer stages the new version of the leaves it changes under
  * `staging(live)`, a sibling `.graft-tmp-<name>` holding the same
  * `rel` paths as `live`, then calls `commit`. Each leaf swaps by two
  * renames: the live leaf is parked at `.graft-old-<name>/<rel>`, then
  * its staged twin is promoted. A leaf is `depth` directory levels below
  * `live`: 2 for `date=/hour=` partitions, 1 for `cell_id=` cells, 0 for
  * the whole directory (`rel` is then empty).
  *
  * Every crash state heals: a crash between a leaf's two renames leaves
  * the leaf parked and missing, and a crash after them leaves a parked
  * leaf whose live leaf exists. Writers call `heal` before they touch the
  * directory: it puts the first kind back, drops the second and deletes
  * stale staging. Readers call `restore`, which only puts parked leaves
  * back and deletes nothing, so a reader never removes what a writer it
  * overlaps has staged or parked. The staging names are fixed, so two
  * writers must not commit to the same `live` at once.
  *
  * The swap is atomic per leaf, not across leaves: a reader that overlaps
  * a commit may see a mix of old and new leaves, and a leaf is missing
  * for the instant between its two renames. If the reader's `restore`
  * puts a leaf back in that instant, `commit` throws and the leaf keeps
  * its old version; a change is never dropped silently. Hadoop's rename
  * is not fail-if-exists, so that check and the promote are two steps:
  * gate readers on a quiesced writer where they may overlap.
  */
object DirSwap {

  /** Where a writer stages the next version of `live`'s leaves. */
  def staging(live: String): String = sibling(new Path(live), "tmp").toString

  /** Where `commit` parks the live leaf `rel` while it promotes its twin. */
  def parked(live: String, rel: String = ""): String =
    under(sibling(new Path(live), "old"), rel).toString

  /** The writer's heal: puts back every parked leaf whose live leaf is
    * missing, drops the others, and deletes stale staging.
    */
  def heal(spark: SparkSession, live: String, depth: Int): Unit = {
    val (fs, dir) = resolve(spark, live)
    restoreIn(fs, dir, depth)
    fs.delete(sibling(dir, "old"), true)
    fs.delete(sibling(dir, "tmp"), true)
  }

  /** The reader's heal: puts back every parked leaf whose live leaf is
    * missing and deletes nothing.
    */
  def restore(spark: SparkSession, live: String, depth: Int): Unit = {
    val (fs, dir) = resolve(spark, live)
    restoreIn(fs, dir, depth)
  }

  private def restoreIn(fs: FileSystem, dir: Path, depth: Int): Unit = {
    val old = sibling(dir, "old")
    if (fs.exists(old))
      leaves(fs, old, depth).foreach { rel =>
        val dest = under(dir, rel)
        if (!fs.exists(dest)) {
          fs.mkdirs(dest.getParent)
          rename(fs, under(old, rel), dest)
        }
      }
  }

  /** Swaps each leaf `rel` of `live` for its staged twin; a `rel` with no
    * staged twin removes the live leaf, by one rename into the staging, so
    * no `restore` can bring it back. Throws, leaving the leaves from `rel`
    * on as they were, if the staging is gone (without it every leaf would
    * read as a removal), or if a leaf's promote fails or finds the live
    * leaf put back; a failed promote rolls its leaf back. Clears the
    * parked and staging dirs on success.
    */
  def commit(spark: SparkSession, live: String, rels: Seq[String]): Unit = {
    val (fs, dir) = resolve(spark, live)
    val old       = sibling(dir, "old")
    val tmp       = sibling(dir, "tmp")
    rels.foreach { rel =>
      if (!fs.exists(tmp)) throw new IOException(s"DirSwap: staging $tmp is gone; $live keeps '$rel' and later leaves")
      val dest   = under(dir, rel)
      val staged = under(tmp, rel)
      if (!fs.exists(staged)) {
        if (fs.exists(dest)) {
          fs.mkdirs(staged.getParent)
          rename(fs, dest, staged)
        }
      } else {
        val aside = under(old, rel)
        if (fs.exists(dest)) {
          if (fs.exists(aside)) fs.delete(aside, true)
          fs.mkdirs(aside.getParent)
          rename(fs, dest, aside)
        }
        if (fs.exists(dest)) throw new IOException(s"DirSwap: $dest was put back before its promote; it keeps its old version")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(staged, dest)) {
          if (fs.exists(aside)) fs.rename(aside, dest)
          throw new IOException(s"DirSwap: cannot promote $staged to $dest")
        }
      }
    }
    fs.delete(old, true)
    fs.delete(tmp, true)
  }

  /** The `rel` path of every directory `depth` levels below `dir`
    * (`Seq("")` at depth 0); hidden (`.`, `_`) names are not leaves.
    */
  def leaves(spark: SparkSession, dir: String, depth: Int): Seq[String] = {
    val (fs, root) = resolve(spark, dir)
    leaves(fs, root, depth)
  }

  private def leaves(fs: FileSystem, root: Path, depth: Int): Seq[String] = {
    def walk(p: Path, rel: String, d: Int): Seq[String] =
      if (d == 0) Seq(rel)
      else
        fs.listStatus(p).toSeq
          .filter(s => s.isDirectory && !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
          .flatMap { s =>
            val n = s.getPath.getName
            walk(s.getPath, if (rel.isEmpty) n else s"$rel/$n", d - 1)
          }
    walk(root, "", depth)
  }

  private def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p  = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def sibling(live: Path, kind: String): Path =
    new Path(live.getParent, s".graft-$kind-${live.getName}")

  private def under(root: Path, rel: String): Path =
    if (rel.isEmpty) root else new Path(root, rel)

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"DirSwap: cannot rename $src to $dst")
}

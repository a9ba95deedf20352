package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The two storage commit protocols of every persisted table — the
  * file-system analogs of ClickHouse's inserted-block dedup and
  * `OPTIMIZE ... FINAL` (doc:953-995):
  *  - [[appendOnce]]: write the batch to `_staging/<tok>`, MOVE its files
  *    into the partition dirs as `batch-<tok>-*`, then create the
  *    `_ledger/batch-<tok>` marker — the commit point. Underscore paths
  *    are invisible to Spark's file listing.
  *  - [[swap]]: write the new tree at `tmp`, rename live→`old` and
  *    `tmp`→live; readers see the old tree or the new one, never a mix.
  * Each has an open-time recovery. Single-writer discipline, like a
  * MergeTree part set: concurrent writers of one tree are not coordinated.
  */
private[graft] object Commit {

  /** The ledger token of (namespace, batchId). `ns` keeps independent
    * writers apart: two MVs streaming into the SAME table each run their
    * own foreachBatch id sequence starting at 0, so an un-namespaced ledger
    * would drop the second writer's batch 0 as a "replay" of the first's.
    * The empty namespace yields the bare id. No '-' in a token (the
    * recovery parser splits on it).
    * MIGRATION NOTE: tables written before namespacing hold bare-id
    * markers; those dedup only writers using the same empty namespace — a
    * resumed stream whose MV now passes its name will re-ingest ids the old
    * ledger committed. Re-create the checkpoint (or the table) when
    * upgrading a live multi-writer pipeline.
    */
  def token(batchId: Long, ns: String): String = {
    val clean = ns.replaceAll("[^A-Za-z0-9_.]", "_")
    // Sanitizing can collapse distinct raw names ("mv-1" vs "mv_1") into one
    // token; a shared token would silently drop the second writer's batches
    // as replays. Disambiguate with a short hash of the RAW name whenever the
    // sanitizer changed anything (unchanged names keep their old tokens, so
    // existing ledgers stay valid).
    val tag =
      if (clean == ns) clean
      else f"$clean.h${scala.util.hashing.MurmurHash3.stringHash(ns) & 0xFFFFFFFFL}%08x"
    if (tag.isEmpty) s"$batchId" else s"$tag.$batchId"
  }

  private def marker(root: Path, tok: String) = new Path(root, s"_ledger/batch-$tok")
  private def staging(root: Path, tok: String) = new Path(root, s"_staging/$tok")

  private def partDirs(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath)

  /** The `batch-<tok>-*` data files moved into the table, with their token. */
  private def tagged(fs: FileSystem, root: Path): Seq[(String, Path)] =
    for (dir <- partDirs(fs, root); f <- fs.listStatus(dir).toSeq.map(_.getPath)
         if f.getName.startsWith("batch-"))
      yield f.getName.drop("batch-".length).takeWhile(_ != '-') -> f

  /** Exactly-once append of `rows`, partitioned by `partitionCol`, into
    * the table at `root`; false (touching nothing) when `tok` is committed.
    */
  def appendOnce(fs: FileSystem, root: Path, tok: String, partitionCol: String,
      rows: DataFrame): Boolean = {
    if (fs.exists(marker(root, tok))) return false
    clean(fs, root, tok) // a previous attempt of this token may have died mid-move
    val st = staging(root, tok)
    rows.write.mode("overwrite").partitionBy(partitionCol).parquet(st.toString)
    for (dir <- partDirs(fs, st)) {
      val target = new Path(root, dir.getName)
      fs.mkdirs(target)
      for (f <- fs.listStatus(dir).map(_.getPath)
           if !f.getName.startsWith("_") && !f.getName.startsWith("."))
        if (!fs.rename(f, new Path(target, s"batch-$tok-${f.getName}")))
          sys.error(s"exactly-once append: failed to move $f into $target")
    }
    fs.delete(st, true)
    fs.create(marker(root, tok), true).close()
    true
  }

  /** Remove every trace of an uncommitted token: its staging dir and any
    * token-tagged files already moved into partition dirs.
    */
  private def clean(fs: FileSystem, root: Path, tok: String): Unit = {
    fs.delete(staging(root, tok), true)
    if (fs.exists(root))
      for ((t, f) <- tagged(fs, root) if t == tok) fs.delete(f, false)
  }

  /** Open-time recovery for [[appendOnce]]: remove the traces of every
    * token without a marker, so the stream's retry re-ingests it.
    */
  def recoverAppends(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val st = new Path(root, "_staging")
    val staged = if (fs.exists(st)) fs.listStatus(st).toSeq.map(_.getPath.getName) else Nil
    for (tok <- (staged ++ tagged(fs, root).map(_._1)).distinct
         if !fs.exists(marker(root, tok)))
      clean(fs, root, tok)
  }

  /** Replace the tree at `live` with the one `write` produces at `tmp`,
    * carrying the `keep` artifacts (paths relative to the tree, e.g. the
    * ledger) over from the old tree. A failed swap rolls back and says
    * whether that worked; `op` names the operation in errors.
    */
  def swap(fs: FileSystem, live: Path, tmp: Path, old: Path, keep: Seq[String],
      op: String)(write: => Unit): Unit = {
    // a stale `old` may still hold keep artifacts an earlier cleanup failed
    // to move; rescue them before this swap reuses the name
    recoverSwap(fs, live, tmp, old, keep)
    write
    val staged = fs.exists(live)
    if (staged && !fs.rename(live, old)) sys.error(s"$op: failed to stage $live -> $old")
    if (!fs.rename(tmp, live)) {
      val restored = !staged || fs.rename(old, live)
      sys.error(s"$op: failed to swap $tmp -> $live" +
        (if (restored) " (rolled back)"
         else s"; ROLLBACK ALSO FAILED — tree preserved at $old, restored on next open"))
    }
    if (staged) finish(fs, live, old, keep, op)
  }

  /** Open-time recovery for [[swap]]: an `old` without a live tree moves
    * back; one beside a live tree is superseded (keep artifacts rescued,
    * then deleted). A leftover `tmp` is debris.
    */
  def recoverSwap(fs: FileSystem, live: Path, tmp: Path, old: Path,
      keep: Seq[String]): Unit = {
    if (fs.exists(old)) {
      if (!fs.exists(live)) {
        if (!fs.rename(old, live)) sys.error(s"recover: failed to restore $old -> $live")
      } else finish(fs, live, old, keep, "recover")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Move each keep artifact from `old` into `live` (unless `live` has it
    * already), then drop `old`. A FAILED move must never reach the delete:
    * the artifact lives only in `old`, left for the next open to rescue.
    */
  private def finish(fs: FileSystem, live: Path, old: Path, keep: Seq[String],
      op: String): Unit = {
    keep.find { a =>
      val src = new Path(old, a)
      val dst = new Path(live, a)
      fs.exists(src) && !fs.exists(dst) && !fs.rename(src, dst)
    }.foreach(a => sys.error(s"$op: failed to move $a from $old back into $live; " +
      s"superseded copy preserved at $old (recovered on next open)"))
    fs.delete(old, true): Unit
  }
}

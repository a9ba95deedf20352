package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame

import graft.engine.Commit

/** Crash-point fuzz of the two commit protocols: the local file system is
  * wrapped so that mutating call `k` (rename, delete, mkdirs, create) and
  * every call after it throw — the process "dies" there. For every `k` a
  * clean run reaches, recovery with the plain file system must leave
  * exactly-once content (append) or the pre- or post-swap tree with every
  * keep artifact in place (swap).
  */
class CommitSpec extends SparkSpec {
  import CommitSpec._

  private def local: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def rows(base: Long): DataFrame = {
    import spark.implicits._
    (1L to 6L).map(i => (s"p${i % 3}", base + i)).toDF("part", "v").repartition(2)
  }

  private def content(root: Path): Seq[String] =
    spark.read.parquet(root.toString).collect().map(_.toString).sorted.toSeq

  /** Run `op` against a file system that crashes at mutating call `k`;
    * true when `op` completed without reaching call `k`.
    */
  private def runUntil(k: Int)(op: FileSystem => Unit): Boolean = {
    val fs = new CrashFs(local, crashAt = k)
    try { op(fs); true } catch { case _: Crash => false }
  }

  test("appendOnce: a crash at every mutating step heals to exactly-once content, " +
      "by open-time recovery or by the retry itself") {
    for (recoverFirst <- Seq(true, false)) {
      var k = 0
      var clean = false
      while (!clean) {
        val root = new Path(tmpDir("commit-append"), "t")
        assert(Commit.appendOnce(local, root, "0", "part", rows(0)))
        val once = content(root)
        clean = runUntil(k)(fs => assert(Commit.appendOnce(fs, root, "1", "part", rows(100))))
        if (recoverFirst) {
          Commit.recoverAppends(local, root)
          // nothing of the uncommitted token may stay visible
          if (!clean) assert(content(root) == once, s"k=$k: recovery left traces")
        }
        // the stream's retry: ingests iff the crash came before the marker
        assert(Commit.appendOnce(local, root, "1", "part", rows(100)) == !clean, s"k=$k")
        val both = content(root)
        assert(both.size == 12 && both.distinct.size == 12 && once.forall(both.contains),
          s"k=$k recoverFirst=$recoverFirst: $both")
        assert(!Commit.appendOnce(local, root, "1", "part", rows(100)), s"k=$k: replay")
        assert(content(root) == both)
        assert(!local.exists(new Path(root, "_staging/1")))
        k += 1
      }
      assert(k > 8, s"the clean run made only ${k - 1} mutating calls")
    }
  }

  test("swap: a crash at every mutating step recovers to the pre- or post-swap " +
      "tree, with every keep artifact in place") {
    val keep = Seq("_ledger", ".detached")
    val post = {
      val d = new Path(tmpDir("commit-post"), "t")
      rows(100).write.partitionBy("part").parquet(d.toString)
      content(d)
    }
    // stale = a previous swap's cleanup failed: `old` still holds the ledger
    // the live tree lacks, and a half-written tmp is left behind
    for (stale <- Seq(false, true)) {
      var k = 0
      var clean = false
      while (!clean) {
        val dir = tmpDir("commit-swap")
        val (live, tmp, old) = (new Path(dir, "t"), new Path(dir, "t.x.tmp"), new Path(dir, "t.x.old"))
        rows(0).write.partitionBy("part").parquet(live.toString)
        val pre = content(live)
        local.create(new Path(live, ".detached/part=p9/f"), true).close()
        val ledger = new Path(if (stale) old else live, "_ledger/batch-0")
        local.create(ledger, true).close()
        if (stale) local.mkdirs(tmp)
        clean = runUntil(k) { fs =>
          Commit.swap(fs, live, tmp, old, keep, "fuzz") {
            rows(100).write.partitionBy("part").parquet(tmp.toString)
          }
        }
        Commit.recoverSwap(local, live, tmp, old, keep)
        val got = content(live)
        assert(if (clean) got == post else got == pre || got == post,
          s"k=$k stale=$stale: $got")
        keep.foreach(a => assert(local.exists(new Path(live, a)), s"k=$k stale=$stale: lost $a"))
        assert(local.exists(new Path(live, "_ledger/batch-0")))
        assert(!local.exists(tmp) && !local.exists(old), s"k=$k stale=$stale: debris left")
        k += 1
      }
      assert(k > 3, s"the clean run made only ${k - 1} mutating calls")
    }
  }

  test("swap: a failed rename rolls back and says so; a failed rollback says " +
      "so loudly and the next open restores the pre-swap tree") {
    for (rollbackFails <- Seq(false, true)) {
      val dir = tmpDir("commit-rollback")
      val (live, tmp, old) = (new Path(dir, "t"), new Path(dir, "t.x.tmp"), new Path(dir, "t.x.old"))
      rows(0).write.partitionBy("part").parquet(live.toString)
      val pre = content(live)
      val fs = new CrashFs(local, crashAt = Int.MaxValue,
        refuseRename = src => src == tmp || (rollbackFails && src == old))
      val e = intercept[RuntimeException] {
        Commit.swap(fs, live, tmp, old, Nil, "fuzz") {
          rows(100).write.partitionBy("part").parquet(tmp.toString)
        }
      }
      if (rollbackFails) {
        assert(e.getMessage.contains("ROLLBACK ALSO FAILED"), e.getMessage)
        assert(!local.exists(live))
        Commit.recoverSwap(local, live, tmp, old, Nil)
      } else assert(e.getMessage.contains("(rolled back)"), e.getMessage)
      assert(content(live) == pre)
      Commit.recoverSwap(local, live, tmp, old, Nil)
      assert(!local.exists(tmp) && !local.exists(old))
    }
  }
}

object CommitSpec {
  final class Crash extends RuntimeException("injected crash")

  /** The local file system with mutating call `crashAt` (0-based) and
    * every later one throwing [[Crash]], and renames whose source matches
    * `refuseRename` returning false.
    */
  final class CrashFs(inner: FileSystem, crashAt: Int,
      refuseRename: Path => Boolean = _ => false) extends FilterFileSystem(inner) {
    private var calls = 0
    private def step(): Unit = {
      if (calls >= crashAt) throw new Crash
      calls += 1
    }
    override def rename(src: Path, dst: Path): Boolean = {
      step(); !refuseRename(src) && inner.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = { step(); inner.delete(p, recursive) }
    override def mkdirs(p: Path): Boolean = { step(); inner.mkdirs(p) }
    override def mkdirs(p: Path, perm: FsPermission): Boolean = { step(); inner.mkdirs(p, perm) }
    override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      step(); inner.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}
